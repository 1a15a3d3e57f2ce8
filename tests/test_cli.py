"""CLI smoke + end-to-end tests, mirroring the reference's test strategy
(its tests/test_commands.py parametrizes --help over every subcommand and
runs each tool end-to-end via Click's CliRunner)."""

from __future__ import annotations

import csv

import pytest
from click.testing import CliRunner
from test_pipelines import LEGACY_DESIGN, REPORT_TSV

from quantms_utils_spark.cli import cli

COMMANDS = [
    "diann2msstats",
    "openms2sample",
    "checksamplesheet",
    "dianncfg",
    "mzmlstats",
    "psmconvert",
]


@pytest.mark.parametrize("command", COMMANDS)
def test_help_exits_zero(command):
    result = CliRunner().invoke(cli, [command, "--help"])
    assert result.exit_code == 0
    assert "Usage" in result.output


def test_group_help_lists_all_commands():
    result = CliRunner().invoke(cli, ["--help"])
    assert result.exit_code == 0
    for command in COMMANDS:
        assert command in result.output


def test_dianncfg_end_to_end(tmp_path):
    result = CliRunner().invoke(
        cli,
        ["dianncfg", "-e", "Trypsin", "-f", "Carbamidomethyl (C)", "--out_dir", str(tmp_path)],
    )
    assert result.exit_code == 0, result.output
    cfg = tmp_path / "diann_config.cfg"
    assert cfg.exists()
    assert "--cut" in cfg.read_text()


def test_dianncfg_unknown_enzyme_exits_nonzero(tmp_path):
    result = CliRunner().invoke(
        cli, ["dianncfg", "-e", "NotAnEnzyme", "--out_dir", str(tmp_path)]
    )
    assert result.exit_code == 1
    assert "Unknown enzyme" in result.output


def test_diann2msstats_end_to_end(spark, tmp_path):
    report = tmp_path / "report.tsv"
    report.write_text(REPORT_TSV)
    design = tmp_path / "design.tsv"
    design.write_text(LEGACY_DESIGN)
    result = CliRunner().invoke(
        cli,
        ["diann2msstats", "--diann_report", str(report), "--exp_design", str(design),
         "--out_dir", str(tmp_path), "--master", "local[2]"],
    )
    assert result.exit_code == 0, result.output
    assert "rows=3" in result.output
    with open(tmp_path / "design_msstats_in.csv", newline="") as fh:
        rows = sorted(
            (r["ProteinName"], r["Run"], r["Condition"], r["BioReplicate"], r["PeptideSequence"])
            for r in csv.DictReader(fh)
        )
    assert rows == [
        ("P1", "run_A", "control", "1", "PEPTIDE"),
        ("P2", "run_A", "control", "1", "PEPTIDE"),
        ("P6", "run_B", "treated", "2", ".(Acetyl)EM(Oxidation)EC(Carbamidomethyl)E"),
    ]


def test_openms2sample_end_to_end(spark, tmp_path):
    design = tmp_path / "design.tsv"
    design.write_text(LEGACY_DESIGN)
    result = CliRunner().invoke(
        cli,
        ["openms2sample", "--expdesign", str(design), "--out_dir", str(tmp_path),
         "--master", "local[2]"],
    )
    assert result.exit_code == 0, result.output
    assert "rows=" in result.output


def test_mzmlstats_end_to_end(spark, tmp_path, run_files):
    result = CliRunner().invoke(
        cli,
        ["mzmlstats", "--ms_path", run_files.mzml("runA"), "--parser", "xml",
         "--out_dir", str(tmp_path), "--master", "local[2]"],
    )
    assert result.exit_code == 0, result.output
    assert (tmp_path / "runA_ms_info.parquet").exists()


@pytest.mark.parametrize("command,path_option", [("mzmlstats", "--ms_path"),
                                                  ("psmconvert", "--idxml")])
def test_parser_synthetic_is_a_usage_error(tmp_path, command, path_option):
    """The readers only parse files: no parser choice generates data."""
    result = CliRunner().invoke(
        cli,
        [command, path_option, "runA", "--parser", "synthetic",
         "--out_dir", str(tmp_path)],
    )
    assert result.exit_code == 2
    assert "Invalid value for '--parser'" in result.output
    assert not list(tmp_path.iterdir())


def test_curate_and_webingest_end_to_end(spark, tmp_path):
    """The two extension subcommands run end-to-end: webingest parses a WARC
    file into a corpus parquet, and curate runs the curation chain on it."""
    import gzip

    from click.testing import CliRunner

    from quantms_utils_spark.cli import cli

    html = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" \
        b"<html><body><p>the quick brown fox jumps over the lazy dog and keeps going</p></body></html>"
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:w1>\r\n"
        b"WARC-Target-URI: https://site.one/p\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        + f"Content-Length: {len(html)}\r\n\r\n".encode() + html + b"\r\n\r\n"
    )
    (tmp_path / "c.warc.gz").write_bytes(gzip.compress(rec))
    corpus_dir = str(tmp_path / "corpus")
    runner = CliRunner()
    res = runner.invoke(
        cli,
        ["webingest", "--input", str(tmp_path / "*.warc.gz"),
         "--out_dir", corpus_dir, "--master", "local[2]"],
    )
    assert res.exit_code == 0, res.output
    assert "rows=1" in res.output

    curated_dir = str(tmp_path / "curated")
    res = runner.invoke(
        cli,
        ["curate", "--input", corpus_dir, "--out_dir", curated_dir,
         "--token_budget", "1000000", "--master", "local[2]"],
    )
    assert res.exit_code == 0, res.output


class TestBenchEmitContract:
    """bench.py's final stdout line must parse out of the round driver's
    2000-char stdout tail — r4/r5 landed `parsed: null` when the single
    JSON line outgrew the buffer. Pins the budget against key growth."""

    def test_final_line_fits_tail_at_max_keys(self, tmp_path, monkeypatch):
        import io
        import json
        import sys

        import bench

        monkeypatch.setattr(bench, "REPO_ROOT", str(tmp_path))
        keys = [k for k, _ in bench.HEADLINE]
        # worst-case value widths: five digits + three decimals
        timings = {k: 10000.123 for k in keys}
        buf = io.StringIO()
        real = sys.stdout
        sys.stdout = buf
        try:
            bench._emit(
                {
                    "metric": "headline_suite_total",
                    "value": 1234567.123,
                    "unit": "sec",
                    "sf": 0.1,
                },
                timings,
                write_full=True,
            )
        finally:
            sys.stdout = real
        out = buf.getvalue()
        # driver model: keep the last 2000 chars, parse the last line
        tail = out[-2000:]
        parsed = json.loads(tail.strip().splitlines()[-1])
        assert parsed["metric"] == "headline_suite_total"
        assert parsed["n_queries"] == len(keys)
        assert parsed["queries"]  # summary carries a stable key prefix
        # and the full result is on disk with every key
        full = json.loads((tmp_path / "BENCH_SUITE_FULL.json").read_text())
        assert set(full["queries"]) == set(keys)

    def test_emit_never_writes_by_default_and_partial_never_clobbers(
        self, tmp_path, monkeypatch
    ):
        """Round-7 (ADVICE low + VERDICT #4): default emission is
        stdout-only (driver bench runs leave the tree clean), and a
        subset-key run under --emit-full lands in *_PARTIAL.json — the
        committed full-suite record can never be clobbered."""
        import io
        import json
        import sys

        import bench

        monkeypatch.setattr(bench, "REPO_ROOT", str(tmp_path))
        result = {"metric": "headline_suite_total", "value": 1.0,
                  "unit": "sec", "sf": 0.1}
        buf = io.StringIO()
        real = sys.stdout
        sys.stdout = buf
        try:
            bench._emit(result, {"q_chunk": 1.0})  # default: no write
            bench._emit(dict(result), {"q_chunk": 1.0}, write_full=True)
            bench._emit(
                {**result, "metric": "isolated_suite_total",
                 "mode": "isolated"},
                {"q_chunk": 1.0},
                write_full=True,
            )
        finally:
            sys.stdout = real
        names = sorted(p.name for p in tmp_path.iterdir())
        assert names == [
            "BENCH_ISOLATED_PARTIAL.json",
            "BENCH_SUITE_PARTIAL.json",
        ]
        lines = [ln for ln in buf.getvalue().splitlines() if ln.strip()]
        first_summary = json.loads(lines[1])  # part-line then summary
        assert first_summary["detail"] is None
