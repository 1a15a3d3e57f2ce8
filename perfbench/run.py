"""Benchmark of the engine's batch jobs, run from the root of a checkout:

    python3 perfbench/run.py --workload dia_msstats --seed 1 --seconds 8 --trace 0

One Spark driver process, one client, closed loop: each job is submitted only
after the previous one has finished and its output was verified, on
``local[nproc]`` with nproc shuffle partitions. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the traced job of every workload in TRACED (the named one first) and
reports the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
sys.path[:0] = [str(HERE), str(ROOT)]

import harness  # noqa: E402
import inputs  # noqa: E402
from tracing import Tracer, check_nesting, self_time_by_name  # noqa: E402

# Workloads whose layers every traced run covers: those named in
# BENCHMARK.json. corpus_curation is run on request only (see README.md).
TRACED = ("dda_batch", "dia_msstats")
MIN_JOBS = 3  # timed steady-state jobs per run, even past --seconds
# Untimed jobs after the first. A count, not a time: the JIT warms with the
# work done, so a slow host must not cut the warm-up short.
WARMUP_JOBS = 1
DEADLINE_S = 150.0  # start no job that would end past this, from process start
T0 = time.monotonic()


class Runner:
    """Runs, times and verifies the jobs of one workload in one session."""

    def __init__(self, spark, workload, tracer: Tracer | None = None):
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.n = 0

    def job(self, traced: bool = False) -> dict:
        """One job: time it, verify its output, then clean up outside the
        timed region. Returns its wall time, CPU, GC and output counts."""
        self.n += 1
        group = f"{self.wl.name}-{self.n}"
        out = WORK / "out" / group
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        sc = self.spark.sparkContext
        first_exec = harness.sql_execution_count(self.spark)
        gc0, cpu0 = harness.jvm_gc_s(self.spark), harness.tree_cpu_s()
        sc.setJobGroup(group, group)
        rec = {"group": group, "first_exec": first_exec, "ok": False}
        self.attempted += 1
        t = time.perf_counter()
        try:
            if traced:
                self.tracer.job = group
                with self.tracer.span("job"):
                    rec["counts"] = self.wl.run_traced(out, self.tracer)
            else:
                self.wl.run(out)
            rec["wall_s"] = time.perf_counter() - t
            rec["cpu_s"] = harness.tree_cpu_s() - cpu0
            rec["gc_s"] = harness.jvm_gc_s(self.spark) - gc0
            rec.update(self.wl.verify(out))
            rec["ok"] = True
        except Exception as exc:  # a failed job is counted, and the run goes on
            rec.setdefault("wall_s", time.perf_counter() - t)
            self.failed += 1
            print(f"job {group} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        finally:
            sc.setJobGroup(None, None)
            shutil.rmtree(out, ignore_errors=True)
            harness.system_gc(self.spark)
            gc.collect()
        return rec


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_untraced(runner: Runner, session_s: float, seconds: float, rss: harness.PeakRss) -> dict:
    first = runner.job()
    warm = [runner.job()["wall_s"] for _ in range(WARMUP_JOBS)]
    timed = []
    start = time.monotonic()
    while len(timed) < MIN_JOBS or time.monotonic() - start < seconds:
        if timed and time.monotonic() - T0 + max(r["wall_s"] for r in timed) > DEADLINE_S:
            break
        timed.append(runner.job())
    ok = [r for r in timed if r["ok"]]
    wall = [r["wall_s"] for r in ok]
    metrics = {
        "setup_s": (session_s + sum(warm), "s"),
        "first_job_s": (first["wall_s"], "s"),
        "job_p50_s": (_median(wall), "s"),
        "records_per_s": (runner.wl.records * len(ok) / sum(wall) if wall else 0.0, "1/s"),
        "cpu_s_per_job": (_median([r["cpu_s"] for r in ok]), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    print(json.dumps({"timed_jobs": len(timed), "warmups": warm,
                      "wall_s": [round(x, 4) for x in wall]}), file=sys.stderr)
    return metrics


def run_traced_family(spark, wl, tracer: Tracer) -> dict:
    """Untraced warm-up, one untraced job for the counters and the
    overhead baseline, then one traced job for the per-layer times."""
    runner = Runner(spark, wl, tracer)
    runner.job()
    base = runner.job()
    nodes = harness.plan_nodes_since(spark, base["first_exec"])
    counts = harness.job_counts(spark, base["group"])
    traced = runner.job(traced=True)
    m = {}
    if base["ok"] and traced["ok"]:
        for span, t in self_time_by_name(tracer.spans, traced["group"]).items():
            if span not in UNREPORTED_SPANS:
                m[f"{span}_s"] = t
        m.update(traced["counts"])
        m.update(wl.plan_counts(nodes))
        name = wl.name
        m[f"{name}.spark.jobs"] = counts["jobs"]
        m[f"{name}.spark.stages"] = counts["stages"]
        m[f"{name}.spark.tasks"] = counts["tasks"]
        m[f"{name}.jvm.gc_s_per_job"] = base["gc_s"]
        m[f"{name}.cores_busy"] = base["cpu_s"] / base["wall_s"]
        m[f"{name}.trace.overhead_s"] = traced["wall_s"] - base["wall_s"]
        if name == "dia_msstats":
            m["spark.final_stage_tasks"] = counts["final_stage_tasks"]
        if name == "dda_batch":
            m["sinks.bytes_per_record"] = base["out_bytes"] / base["out_rows"]
    return {"metrics": m, "attempted": runner.attempted, "failed": runner.failed}


# The job's root span, and the sink spans sinks.parquet_write_s is derived
# from (the parquet write minus a noop write of the same frame).
UNREPORTED_SPANS = ("job", "sinks.noop_write", "sinks.parquet_write")
# Units of the per-layer metrics that are not times, by last name part.
UNITS = {"parse_passes": "count", "report_scans": "count", "report_rows_read_ratio": "ratio",
         "bytes_per_record": "B", "final_stage_tasks": "count", "lsh_pairs_per_doc": "ratio",
         "cc_spark_jobs": "count", "jobs": "count", "stages": "count", "tasks": "count",
         "cores_busy": "cores"}


def _unit(name: str) -> str:
    return "s" if name.endswith(("_s", "_s_per_job")) else UNITS[name.rsplit(".", 1)[1]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    args = ap.parse_args(argv)

    try:
        import quantms_utils_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    cores = harness.nproc()
    families = [args.workload] + [w for w in TRACED if args.trace and w != args.workload]
    prepared = {w: inputs.prepare(w, args.seed, args.size, WORK / "inputs")[1] for w in families}

    host = {"nproc": cores, "loadavg_before": list(os.getloadavg()),
            "steal_s_before": harness.host_steal_s(), "ref_loop_s_before": harness.ref_loop_s()}
    t = time.perf_counter()
    spark = harness.start_spark(ROOT, WORK, cores)
    session_s = time.perf_counter() - t
    import pyspark
    from quantms_utils_spark.sources.mzml import HAVE_PYOPENMS

    host.update(pyspark=pyspark.__version__, master=f"local[{cores}]",
                shuffle_partitions=cores, parser="xml", pyopenms=HAVE_PYOPENMS)
    tracer = Tracer()
    try:
        if args.trace:
            attempted = failed = 0
            metrics = {}
            for w in families:
                res = run_traced_family(spark, WORKLOADS[w](spark, prepared[w]), tracer)
                metrics.update(res["metrics"])
                attempted += res["attempted"]
                failed += res["failed"]
            problems = check_nesting(tracer.spans)
            for p in problems:
                print(f"trace: {p}", file=sys.stderr)
            failed += bool(problems)
            tracer.write(WORK / "traces" / f"{args.workload}-s{args.seed}.jsonl")
            out_metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(metrics.items())}
        else:
            runner = Runner(spark, WORKLOADS[args.workload](spark, prepared[args.workload]))
            with harness.PeakRss() as rss:
                m = run_untraced(runner, session_s, args.seconds, rss)
            attempted, failed = runner.attempted, runner.failed
            out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    finally:
        harness.stop_spark(spark)
    host["run_s"] = time.monotonic() - T0
    host["loadavg_after"] = list(os.getloadavg())
    host["steal_s_after"] = harness.host_steal_s()
    host["ref_loop_s_after"] = harness.ref_loop_s()
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": out_metrics}
    record = WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    record.parent.mkdir(parents=True, exist_ok=True)
    record.write_text(json.dumps({"args": vars(args), "host": host, "result": result}, indent=1))
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
