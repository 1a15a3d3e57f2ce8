"""Tests of the benchmark itself: output contract, span nesting and output
verification. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import inputs  # noqa: E402
from tracing import Tracer, check_nesting, self_times  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(*args: str) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--seed", "5", "--seconds", "1",
         "--size", "tiny", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def _assert_result(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", ["dda_batch", "dia_msstats", "corpus_curation"])
def test_tiny_run_prints_every_end_to_end_metric(workload):
    result, _ = _run("--workload", workload, "--trace", "0")
    _assert_result(result, SPEC["end_to_end"])
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


def test_tiny_traced_run_prints_every_per_layer_metric():
    result, stderr = _run("--workload", "dia_msstats", "--trace", "1")
    _assert_result(result, SPEC["per_layer"])
    assert "trace:" not in stderr
    spans = [json.loads(line) for line in
             (ROOT / ".perfbench_work" / "traces" / "dia_msstats-s5.jsonl").read_text().splitlines()]
    assert spans and check_nesting(spans) == []
    _assert_layer_spans(spans, SPEC["per_layer"])


LAYERS = ("sources.", "pipelines.", "functions.", "operators.", "sinks.")


def _assert_layer_spans(spans: list[dict], metrics: list[dict]) -> None:
    """Every per-layer time has a span of the same name."""
    named = {s["name"] for s in spans}
    for m in metrics:
        if m["unit"] == "s" and m["name"].startswith(LAYERS):
            assert m["name"].removesuffix("_s") in named, m["name"]


def test_tiny_traced_corpus_run_prints_the_curation_operators():
    result, _ = _run("--workload", "corpus_curation", "--trace", "1")
    curation = [{"name": n, "unit": u} for n, u in (
        ("pipelines.curate_corpus_s", "s"), ("operators.minhash_signatures_s", "s"),
        ("operators.lsh_candidate_pairs_s", "s"), ("operators.connected_components_s", "s"),
        ("operators.decontaminate_s", "s"), ("operators.mixture_sample_s", "s"),
        ("operators.lsh_pairs_per_doc", "ratio"), ("operators.cc_spark_jobs", "count"))]
    _assert_result(result, SPEC["per_layer"] + curation)
    spans = [json.loads(line) for line in
             (ROOT / ".perfbench_work" / "traces" / "corpus_curation-s5.jsonl").read_text().splitlines()]
    assert check_nesting(spans) == []
    _assert_layer_spans(spans, curation)


def test_spans_nest_and_self_time_excludes_children():
    tr = Tracer()
    tr.job = "j1"
    with tr.span("job"):
        with tr.span("a"):
            with tr.span("a.inner"):
                pass
        with tr.span("b"):
            pass
    assert check_nesting(tr.spans) == []
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["a.inner"]["parent"] == by_name["a"]["id"]
    assert by_name["a"]["parent"] == by_name["b"]["parent"] == by_name["job"]["id"]
    st = self_times(tr.spans)
    assert all(t >= 0 for t in st.values())
    a = by_name["a"]
    inner = by_name["a.inner"]
    assert st[a["id"]] == pytest.approx(
        (a["end"] - a["start"]) - (inner["end"] - inner["start"]))


def test_nesting_check_flags_bad_parents():
    spans = [
        {"id": 0, "name": "job", "parent": None, "job": "j", "start": 0.0, "end": 1.0},
        {"id": 1, "name": "x", "parent": 7, "job": "j", "start": 0.1, "end": 0.2},
        {"id": 2, "name": "y", "parent": 0, "job": "j", "start": 0.5, "end": 1.5},
    ]
    problems = check_nesting(spans)
    assert any("unknown parent" in p for p in problems)
    assert any("outside parent" in p for p in problems)


# ---------------------------------------------------------------------------
# Output verification on real job outputs
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import harness

    work = tmp_path_factory.mktemp("work")
    session = harness.start_spark(ROOT, work, 2)
    yield session
    harness.stop_spark(session)


def _workload(spark, name, tmp_path):
    from workloads import WORKLOADS

    _, expected = inputs.prepare(name, 9, "tiny", tmp_path / "inputs")
    return WORKLOADS[name](spark, expected)


def test_dia_verification_rejects_a_dropped_row(spark, tmp_path):
    from workloads import VerificationError

    wl = _workload(spark, "dia_msstats", tmp_path)
    out = tmp_path / "out"
    out.mkdir()
    wl.run(out)
    wl.verify(out)
    csv = wl._target(out)
    df = pd.read_csv(csv, dtype=str, keep_default_na=False)
    df.iloc[1:].to_csv(csv, index=False)
    with pytest.raises(VerificationError, match="rows"):
        wl.verify(out)


def test_dda_verification_rejects_a_dropped_row(spark, tmp_path):
    from workloads import VerificationError

    wl = _workload(spark, "dda_batch", tmp_path)
    out = tmp_path / "out"
    out.mkdir()
    wl.run(out)
    wl.verify(out)
    target = Path(wl._targets(out)["psm"])
    table = pq.read_table(target)
    for part in target.glob("*.parquet"):
        part.unlink()
    pq.write_table(table.slice(1), target / "part-0.parquet")
    with pytest.raises(VerificationError, match="psm rows"):
        wl.verify(out)


def test_verification_rejects_a_changed_value(spark, tmp_path):
    from workloads import VerificationError

    wl = _workload(spark, "dia_msstats", tmp_path)
    out = tmp_path / "out"
    out.mkdir()
    wl.run(out)
    csv = wl._target(out)
    df = pd.read_csv(csv, dtype=str, keep_default_na=False)
    df.loc[0, "Intensity"] = "1.5"
    df.to_csv(csv, index=False)
    with pytest.raises(VerificationError, match="hash"):
        wl.verify(out)
