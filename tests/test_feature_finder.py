"""Mass-trace feature detection: implanted-signal goldens.

A synthetic run is constructed with KNOWN structure — a charge-2 isotope
pair of mass traces (spacing 1.003355/2), an isolated singleton trace, a
too-short trace, and random-ish noise peaks — and the detector must recover
exactly the implanted features with the right m/z, charge, apex and scan
membership. Also pins the boundary-straddling dedup (a trace at an integer
m/z edge must come back once, not twice or zero times).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quantms_utils_spark.pipelines.feature_finder import (
    detect_features_masstrace,
    detect_mass_traces,
)
from quantms_utils_spark.sources.mzml import SPECTRUM_SCHEMA

N_SCANS = 12
ISO = 1.003355


def _mk_run(spark, with_straddler=False):
    """12 MS1 scans at rt = 10*i. Signals:
    - trace A (mono of a z=2 pair): m/z 500.000, scans 2..8, apex scan 5
    - trace B (isotope partner):   m/z 500.5017, scans 3..8
    - trace C (singleton):         m/z 620.300, scans 4..9
    - trace D (too short):         m/z 710.000, scans 1..2
    - noise: one-off peaks far from everything
    - optional straddler:          m/z 799.9995→800.0005, scans 2..7
    """
    rows = []
    for i in range(N_SCANS):
        mz, it = [], []

        def put(m, v):
            mz.append(m)
            it.append(v)

        if 2 <= i <= 8:
            put(500.000 + 0.0001 * (i % 3), 100.0 + 50.0 * (5 - abs(i - 5)))
        if 3 <= i <= 8:
            put(500.000 + ISO / 2, 60.0 + 20.0 * (5 - abs(i - 5)))
        if 4 <= i <= 9:
            put(620.300, 200.0 + 10.0 * i)
        if 1 <= i <= 2:
            put(710.000, 400.0)
        if with_straddler and 2 <= i <= 7:
            put(799.9995 + 0.0002 * (i - 2), 300.0)
        put(900.0 + 7.0 * i, 5.0)  # wandering noise, never forms a trace

        order = sorted(range(len(mz)), key=lambda k: mz[k])
        rows.append(
            (
                "runF", i, str(i), 1, 10.0 * i,
                [mz[k] for k in order], [it[k] for k in order],
                None, None, None, None,
            )
        )
    return spark.createDataFrame(rows, SPECTRUM_SCHEMA)


class TestMassTraces:
    def test_traces_recovered(self, spark):
        traces = detect_mass_traces(_mk_run(spark), min_scans=3).collect()
        by_mz = sorted(traces, key=lambda r: r["trace_mz"])
        assert len(by_mz) == 3  # A, B, C — D too short, noise never repeats
        a, b, c = by_mz
        assert a["trace_mz"] == pytest.approx(500.0, abs=0.01)
        assert a["num_scans"] == 7
        assert a["apex_rt"] == pytest.approx(50.0)  # scan 5
        assert b["trace_mz"] == pytest.approx(500.0 + ISO / 2, abs=0.01)
        assert b["num_scans"] == 6
        assert c["trace_mz"] == pytest.approx(620.3, abs=0.01)
        assert c["scans"] == [str(i) for i in range(4, 10)]

    def test_boundary_straddler_found_once(self, spark):
        traces = detect_mass_traces(
            _mk_run(spark, with_straddler=True), min_scans=3
        ).collect()
        near_800 = [t for t in traces if abs(t["trace_mz"] - 800.0) < 0.01]
        assert len(near_800) == 1
        assert near_800[0]["num_scans"] == 6


class TestIsotopeFeatures:
    def test_features_and_charge(self, spark):
        feats = detect_features_masstrace(_mk_run(spark), min_scans=3)
        rows = sorted(feats.collect(), key=lambda r: r["feature_mz"])
        assert len(rows) == 2  # (A+B) merged; C singleton

        ab, c = rows
        # monoisotopic trace names the feature; isotope spacing 0.5017 → z=2
        assert ab["feature_mz"] == pytest.approx(500.0, abs=0.01)
        assert ab["feature_charge"] == 2
        assert ab["feature_rt"] == pytest.approx(50.0)
        assert ab["feature_num_scans"] == 7  # union of scans 2..8
        assert ab["feature_min_mz"] == pytest.approx(500.0, abs=0.01)
        assert ab["feature_max_mz"] == pytest.approx(500.0 + ISO / 2, abs=0.01)
        assert ab["feature_quality"] == pytest.approx(1.0)  # gap-free traces

        assert c["feature_mz"] == pytest.approx(620.3, abs=0.01)
        assert c["feature_charge"] == 0  # no isotope partner
        assert c["feature_num_scans"] == 6

    def test_ptic_monotone_with_rt(self, spark):
        feats = detect_features_masstrace(_mk_run(spark), min_scans=3)
        rows = sorted(feats.collect(), key=lambda r: r["feature_rt"])
        ptics = [r["feature_percentile_tic"] for r in rows]
        assert all(0.0 <= p <= 1.0 for p in ptics)
        assert ptics == sorted(ptics)

    def test_runs_on_generated_run(self, spark, run_files):
        """End-to-end over a generated run written to mzML and parsed back:
        must produce features with valid invariants (no crash, sane bounds)."""
        from quantms_utils_spark.sources.mzml import read_spectra

        spectra = read_spectra(spark, [run_files.mzml("ffrunA")], parser="xml")
        feats = detect_features_masstrace(
            spectra, mz_tol=0.5, min_scans=2, min_intensity=0.0
        )
        rows = feats.collect()
        for r in rows:
            assert r["feature_min_rt"] <= r["feature_rt"] <= r["feature_max_rt"]
            assert r["feature_min_mz"] <= r["feature_mz"] + 1e-9
            assert r["feature_num_scans"] >= 2


def _mk_stress_run(spark):
    """Overlapping-isotope / charge-ambiguity stress run. 12 MS1 scans at
    rt = 10*i; all traces span scans 2..8 (co-eluting):

    - X: z=3 ladder 700.000, +ISO/3, +2*ISO/3
    - Y: z=2 pair 700.100, +ISO/2 — INTERLEAVED with X's m/z range; the
      only edges within iso_tol are the intra-ladder ones, so the grouper
      must keep X and Y as separate features despite the overlap
    - P: two traces spaced 1.00340 — consistent with z=1 ONLY (no
      intermediate), the detector must not invent a z=2 chain
    - L: full z=2 ladder 810.000, +ISO/2, +1.00340 — the outer pair alone
      is ambiguous (also ~z=1), and the intermediate trace must resolve the
      component to z=2 via the per-trace best-charge filter
    """
    groups = [
        (700.000, [0.0, ISO / 3, 2 * ISO / 3]),
        (700.100, [0.0, ISO / 2]),
        (800.000, [0.0, 1.00340]),
        (810.000, [0.0, ISO / 2, 1.00340]),
    ]
    rows = []
    for i in range(N_SCANS):
        mz, it = [], []
        if 2 <= i <= 8:
            for base, offsets in groups:
                for k, off in enumerate(offsets):
                    mz.append(base + off)
                    it.append(100.0 + 40.0 * (5 - abs(i - 5)) + 10.0 * k)
        order = sorted(range(len(mz)), key=lambda k: mz[k])
        rows.append(
            (
                "runS", i, str(i), 1, 10.0 * i,
                [mz[k] for k in order], [it[k] for k in order],
                None, None, None, None,
            )
        )
    return spark.createDataFrame(rows, SPECTRUM_SCHEMA)


class TestStressGoldens:
    def test_overlapping_ladders_and_charge_ambiguity(self, spark):
        feats = detect_features_masstrace(_mk_stress_run(spark), min_scans=3)
        rows = sorted(feats.collect(), key=lambda r: r["feature_mz"])
        assert [round(r["feature_mz"], 3) for r in rows] == [
            700.0, 700.1, 800.0, 810.0,
        ]
        x, y, p, l = rows

        assert x["feature_charge"] == 3
        assert x["feature_max_mz"] == pytest.approx(700.0 + 2 * ISO / 3, abs=0.005)
        assert y["feature_charge"] == 2
        assert y["feature_max_mz"] == pytest.approx(700.1 + ISO / 2, abs=0.005)

        # outer spacing 1.0034 with no intermediate: z=1, not a z=2 guess
        assert p["feature_charge"] == 1
        assert p["feature_max_mz"] == pytest.approx(801.0034, abs=0.005)

        # same outer spacing WITH the intermediate: resolved to z=2
        assert l["feature_charge"] == 2
        assert l["feature_max_mz"] == pytest.approx(811.0034, abs=0.005)

        for r in rows:
            assert r["feature_rt"] == pytest.approx(50.0)  # shared apex
            assert r["feature_num_scans"] == 7
            assert r["feature_quality"] == pytest.approx(1.0)
