"""Session set-up and the measurements taken around each job: process-tree
CPU and memory from ``/proc``, and Spark job, stage, task, plan and GC
counters read from the Spark driver after the job ends."""

from __future__ import annotations

import os
import subprocess
import threading
import time
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(root: Path, work: Path, cores: int):
    """A ``local[cores]`` session with ``cores`` shuffle partitions, its
    scratch space inside ``work``, and the repository on the Python
    workers' path (``mapInPandas`` and ``pandas_udf`` workers import the
    engine by name)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    from quantms_utils_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# Process tree (main Python process + JVM + Python workers) from /proc
# ---------------------------------------------------------------------------


def _tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while scanning
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User + system CPU of the process tree, including children that have
    exited and were reaped by a member of the tree."""
    total = 0
    for pid in _tree_pids(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2 :].split()
        # fields 14-17 (utime, stime, cutime, cstime), 1-based from pid
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


def tree_hwm_mb(root_pid: int | None = None) -> float:
    """Sum of the resident-memory high-water marks (``VmHWM``) of the
    process tree's live processes."""
    kb = 0
    for pid in _tree_pids(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class PeakRss:
    """Reads the process tree's summed ``VmHWM`` every ``interval_s`` on a
    thread and keeps the maximum. The kernel keeps each process's peak, so
    a peak between two reads is not missed: the JVM's resident memory rises
    within each job and falls after the ``System.gc()`` that follows it,
    and sampling the current ``VmRSS`` instead caught or missed that peak by
    chance. Python workers come and go between jobs, so the sum is taken
    over the processes alive at each read, not over every process seen.
    On entry the high-water mark of this process is reset, so the memory
    of input generation before the run does not count."""

    def __init__(self, interval_s: float = 0.25):
        self.peak_mb = 0.0
        self._interval_s = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_hwm_mb())
            self._stop.wait(self._interval_s)

    def __enter__(self) -> "PeakRss":
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")  # reset VmHWM to the current VmRSS
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def ref_loop_s(repeats: int = 9) -> float:
    """Median time of a fixed single-threaded Python loop: the host's
    per-core speed at the moment, kept with each run because it drifts by
    ±20% over minutes on a shared host and moves every timing with it."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        x = 0
        for i in range(500_000):
            x += i * i % 7
        times.append(time.perf_counter() - t)
    return sorted(times)[repeats // 2]


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def system_gc(spark) -> None:
    spark._jvm.java.lang.System.gc()


def _drain_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_counts(spark, group: str) -> dict[str, int]:
    """Spark jobs, executed stages and completed tasks of one job group, and
    the task count of the last stage of its last Spark job."""
    _drain_listeners(spark)
    st = spark.sparkContext.statusTracker()
    jobs = sorted(st.getJobIdsForGroup(group))
    stages = tasks = final_tasks = 0
    for i, jid in enumerate(jobs):
        info = st.getJobInfo(jid)
        sids = sorted(info.stageIds) if info else []
        for sid in sids:
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
        if i == len(jobs) - 1 and sids:
            last = st.getStageInfo(sids[-1])
            final_tasks = last.numTasks if last is not None else 0
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "final_stage_tasks": final_tasks}


def sql_execution_count(spark) -> int:
    _drain_listeners(spark)
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


def plan_nodes_since(spark, first_execution: int) -> list[dict]:
    """Nodes of the final physical plans of every SQL execution from index
    ``first_execution`` on: name, description and metric values."""
    _drain_listeners(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    n = int(store.executionsCount())
    execs = store.executionsList(first_execution, max(n - first_execution, 0))
    out = []
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            mets = node.metrics()
            m = {}
            for k in range(mets.size()):
                metric = mets.apply(k)
                v = values.get(metric.accumulatorId())
                if v.isDefined():
                    m[metric.name()] = v.get()
            out.append({"execution": eid, "name": node.name().strip(), "desc": node.desc(), "metrics": m})
    return out


def metric_count(text: str | None) -> int:
    """Parse a formatted row-count metric such as ``'2,000,000'``."""
    return int(text.replace(",", "")) if text else 0


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the JVM and wait until every process this
    one started has exited."""
    import signal

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for pid in left:
            try:  # reap our own children; others are reaped by their parent
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
