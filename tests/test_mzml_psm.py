"""mzmlstats + psmconvert pipeline tests over generated runs.

Each run is ``synthetic_spectra(stem)`` written to mzML, with paired
identifications of its MS2 scans written to idXML (the ``run_files``
fixture), and is read back with the ``xml`` parser. The runs are
deterministic per stem, so assertions here verify real distributed
semantics: per-run ordering, as-of precursor lookup, peak statistics,
range-join feature scans, and the PSM↔spectrum join."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import functions as F

from quantms_utils_spark.pipelines.mzml_stats import (
    compute_ms_info,
    compute_ms2_info,
    detect_features,
    write_tables,
)
from quantms_utils_spark.pipelines.psm import PSM_COLUMNS, convert_psms
from quantms_utils_spark.sources.idxml import read_identifications
from quantms_utils_spark.sources.mzml import read_spectra, resolve_ms_path

STEMS = ("runA", "runB")


@pytest.fixture(scope="module")
def runs(run_files):
    return [run_files.mzml(stem) for stem in STEMS]


@pytest.fixture(scope="module")
def spectra(spark, runs):
    return read_spectra(spark, runs, parser="xml").cache()


class TestMzmlIngest:
    def test_schema_and_partitioning(self, spectra):
        assert spectra.count() == 400
        assert spectra.select("reference_file_name").distinct().count() == 2

    def test_ms_level_pushdown(self, spark, runs):
        ms1_only = read_spectra(spark, runs, ms_levels=[1], parser="xml")
        levels = [r["ms_level"] for r in ms1_only.select("ms_level").distinct().collect()]
        assert levels == [1]

    def test_resolve_ms_path_rejects_bad_suffix(self, tmp_path):
        bad = tmp_path / "x.txt"
        bad.write_text("")
        with pytest.raises(ValueError, match="Unsupported file type"):
            resolve_ms_path(str(bad))


class TestMsInfo:
    def test_peak_stats_match_arrays(self, spectra):
        info = compute_ms_info(spectra)
        sample = (
            spectra.select(
                "reference_file_name",
                "scan",
                F.size("mz_array").alias("exp_peaks"),
                F.array_max("intensity_array").alias("exp_max"),
            )
            .join(info, ["reference_file_name", "scan"])
            .limit(50)
            .collect()
        )
        for r in sample:
            assert r["num_peaks"] == r["exp_peaks"]
            assert r["base_peak_intensity"] == pytest.approx(r["exp_max"])

    def test_asof_precursor_rt(self, spectra):
        """Each MS2's precursor_rt equals the rt of the nearest preceding MS1
        in the same run (reference mzml_statistics.py:253-260)."""
        info = compute_ms_info(spectra).collect()
        by_run: dict[str, list] = {}
        for r in sorted(info, key=lambda r: (r["reference_file_name"], r["spectrum_index"])):
            by_run.setdefault(r["reference_file_name"], []).append(r)
        checked = 0
        for rows in by_run.values():
            last_ms1_rt = None
            for r in rows:
                if r["ms_level"] == 1:
                    last_ms1_rt = r["rt"]
                else:
                    assert r["precursor_rt"] == pytest.approx(last_ms1_rt)
                    checked += 1
        assert checked > 100

    def test_ms1_rows_null_precursor(self, spectra):
        info = compute_ms_info(spectra)
        ms1 = info.filter(F.col("ms_level") == 1)
        assert ms1.filter(F.col("precursor_mz").isNotNull()).count() == 0

    def test_purity_total_bounds(self, spectra):
        """In-isolation-window total ≤ full TIC of preceding MS1 and ≥ the
        precursor's own intensity when the precursor peak came from it."""
        info = compute_ms_info(spectra)
        ms2 = info.filter(F.col("ms_level") == 2).filter(
            F.col("precursor_total_intensity").isNotNull()
        )
        bad = ms2.filter(
            F.col("precursor_total_intensity") < F.col("precursor_intensity") - 1e-6
        )
        assert bad.count() == 0

    def test_purity_ratio_bounds(self, spectra):
        """0 ≤ purity ≤ 1 wherever defined; target ≤ total."""
        info = compute_ms_info(spectra)
        ms2 = info.filter(F.col("precursor_purity").isNotNull())
        assert ms2.count() > 0
        assert (
            ms2.filter(
                (F.col("precursor_purity") < 0) | (F.col("precursor_purity") > 1 + 1e-12)
            ).count()
            == 0
        )
        assert (
            ms2.filter(
                F.col("precursor_target_intensity")
                > F.col("precursor_total_intensity") + 1e-9
            ).count()
            == 0
        )

    def test_purity_golden(self, spark):
        """Hand-computed PrecursorPurity on a two-spectrum run.

        Selected ion m/z 500.0 at charge 2 → ppm tolerance 0.05, isotope
        spacing 1.003355/2 = 0.5016775, isolation window [499.3, 500.7].
        MS1 peaks (m/z → intensity):
          500.00   → 100  in window, target (selected ion)
          500.20   → 50   in window, NOT within 0.05 of 500.0 / 500.5016775
          500.5016 → 50   in window, target (k=1 isotope, off by 7.75e-5)
          501.20   → 20   outside window
          499.00   → 10   outside window
        total = 200, target = 150 → purity 0.75
        """
        from quantms_utils_spark.sources.mzml import SPECTRUM_SCHEMA

        rows = [
            ("r", 0, "1", 1, 10.0,
             [499.0, 500.0, 500.2, 500.5016, 501.2],
             [10.0, 100.0, 50.0, 50.0, 20.0],
             None, None, None, None),
            ("r", 1, "2", 2, 11.0, [1.0], [1.0], 2, 500.0, 100.0, None),
        ]
        df = spark.createDataFrame(rows, SPECTRUM_SCHEMA)
        info = compute_ms_info(df).filter(F.col("ms_level") == 2).collect()[0]
        assert info["precursor_total_intensity"] == pytest.approx(200.0)
        assert info["precursor_target_intensity"] == pytest.approx(150.0)
        assert info["precursor_purity"] == pytest.approx(0.75)
        assert info["precursor_rt"] == pytest.approx(10.0)


class TestMs2InfoAndSinks:
    def test_ms2_info(self, spectra):
        ms2 = compute_ms2_info(spectra)
        assert ms2.count() == spectra.filter(F.col("ms_level") == 2).count()
        assert set(ms2.columns) == {
            "reference_file_name", "scan", "ms_level", "mz_array", "intensity_array",
        }

    def test_write_tables(self, spectra, tmp_path):
        # masstrace is the default (reference semantics). The generated
        # runs' peaks wander and never form traces, so implant a
        # 4-scan trace run to give the real finder something to find.
        from quantms_utils_spark.sources.mzml import SPECTRUM_SCHEMA

        spark = spectra.sparkSession
        trace_run = spark.createDataFrame(
            [
                ("traceRun", i, str(i), 1, 5.0 * i,
                 [500.0 + 0.001 * i, 700.0], [1000.0 + 10 * i, 50.0],
                 None, None, None, None)
                for i in range(4)
            ],
            SPECTRUM_SCHEMA,
        )
        outputs = write_tables(
            spectra.unionByName(trace_run), str(tmp_path), "combined",
            ms2_file=True, feature_detection=True,
            feature_options=dict(min_scans=3),
        )
        assert set(outputs) == {"ms_info", "ms2_info", "ms1_features"}
        spark = spectra.sparkSession
        for path in outputs.values():
            assert spark.read.parquet(path).count() > 0

    def test_write_tables_partitioned_by_run(self, spectra, tmp_path):
        """Hive-partitioned layout: one directory per run, and a per-run read
        prunes to that partition (PartitionFilters, not a post-scan filter)."""
        from pathlib import Path

        from pyspark.sql import functions as F

        from quantms_utils_spark.plans import explain_str

        outputs = write_tables(
            spectra, str(tmp_path), "combined", partition_by_run=True
        )
        part_dirs = sorted(
            p.name for p in Path(outputs["ms_info"]).iterdir()
            if p.name.startswith("reference_file_name=")
        )
        assert part_dirs == [
            "reference_file_name=runA", "reference_file_name=runB",
        ]
        spark = spectra.sparkSession
        df = spark.read.parquet(outputs["ms_info"]).filter(
            F.col("reference_file_name") == "runA"
        )
        plan = explain_str(df, "formatted")
        assert "PartitionFilters: [isnotnull(reference_file_name" in plan
        assert df.count() > 0


def _logged_spectra(spark, runs, log):
    """``read_spectra(runs, parser="xml")`` whose per-file parse appends the
    path to ``log``: the log then holds one line per parse of a run file."""
    from quantms_utils_spark.sources.mzml import SPECTRUM_SCHEMA, parse_mzml_file
    from quantms_utils_spark.sources.runfiles import map_run_files

    log = str(log)

    def parse(path):
        with open(log, "a") as fh:
            fh.write(path + "\n")
        return parse_mzml_file(path, "xml")

    return map_run_files(spark, runs, parse, SPECTRUM_SCHEMA, "logged_spectra")


def _parses(log) -> list[str]:
    return sorted(log.read_text().splitlines()) if log.exists() else []


def _persistent_rdds(spark) -> set[int]:
    """Ids of the persisted RDDs. Compared as ``after <= before``: older
    checkpoint blocks may be released by the JVM's cleaner meanwhile."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


class TestWriteTablesParseOnce:
    """``write_tables`` parses each run file once per call, whatever tables
    it writes, and leaves no cached data behind."""

    @pytest.mark.parametrize("method", ["seed", "masstrace"])
    def test_one_parse_per_run(self, spark, runs, tmp_path, method):
        log = tmp_path / "parses.log"
        outputs = write_tables(
            _logged_spectra(spark, runs, log), str(tmp_path / "out"), "s",
            ms2_file=True, feature_detection=True, feature_method=method,
        )
        assert set(outputs) == {"ms_info", "ms2_info", "ms1_features"}
        assert _parses(log) == sorted(runs)

    def test_no_pin_left_after_return(self, spark, runs, tmp_path):
        # The seed finder: the mass-trace finder's connected components
        # localCheckpoint, and those blocks live until the JVM collects them.
        before = _persistent_rdds(spark)
        spectra = read_spectra(spark, runs, parser="xml")
        write_tables(spectra, str(tmp_path), "s", ms2_file=True,
                     feature_detection=True, feature_method="seed")
        assert _persistent_rdds(spark) <= before
        assert spectra.storageLevel == StorageLevel.NONE

    def test_no_pin_left_after_failed_sink(self, spark, runs, tmp_path):
        plain_file = tmp_path / "not_a_dir"
        plain_file.write_text("")
        before = _persistent_rdds(spark)
        spectra = read_spectra(spark, runs, parser="xml")
        with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
            write_tables(spectra, str(plain_file), "s", ms2_file=True)
        assert _persistent_rdds(spark) <= before
        assert spectra.storageLevel == StorageLevel.NONE

    def test_no_pin_left_after_failure_past_first_write(self, spark, runs, tmp_path):
        """ms_info is written (the stored rows exist) before the feature
        step raises on an unknown option."""
        before = _persistent_rdds(spark)
        spectra = read_spectra(spark, runs, parser="xml")
        with pytest.raises(TypeError):
            write_tables(spectra, str(tmp_path), "s", feature_detection=True,
                         feature_method="seed", feature_options={"no_such": 1})
        assert (tmp_path / "s_ms_info.parquet").is_dir()
        assert _persistent_rdds(spark) <= before
        assert spectra.storageLevel == StorageLevel.NONE

    def test_callers_cache_survives(self, spark, runs, tmp_path):
        log = tmp_path / "parses.log"
        spectra = _logged_spectra(spark, runs, log).persist(StorageLevel.MEMORY_ONLY)
        try:
            n = spectra.count()
            write_tables(spectra, str(tmp_path / "out"), "s", ms2_file=True,
                         feature_detection=True, feature_method="seed")
            assert spectra.storageLevel == StorageLevel.MEMORY_ONLY
            assert spectra.count() == n
            assert _parses(log) == sorted(runs)
        finally:
            spectra.unpersist()


class TestFeatures:
    def test_feature_table(self, spectra):
        feats = detect_features(spectra, top_n_per_run=10)
        rows = feats.collect()
        assert len(rows) == 20  # 10 per run
        for r in rows:
            assert r["feature_min_rt"] <= r["feature_rt"] <= r["feature_max_rt"]
            assert r["feature_num_scans"] == len(r["feature_scans"])
            assert r["feature_num_scans"] >= 1
            assert 0.0 <= r["feature_percentile_tic"] <= 1.0

    def test_feature_scans_are_range_correct(self, spectra):
        feats = detect_features(spectra, top_n_per_run=5)
        ms1 = {
            (r["reference_file_name"], r["scan"]): r["rt"]
            for r in spectra.filter(F.col("ms_level") == 1).collect()
        }
        for f in feats.collect():
            run = f["reference_file_name"]
            expected = sorted(
                scan
                for (r, scan), rt in ms1.items()
                if r == run and f["feature_min_rt"] <= rt <= f["feature_max_rt"]
            )
            assert f["feature_scans"] == expected


class TestPsmConvert:
    def test_end_to_end_with_join(self, spark, spectra, run_files):
        ids = read_identifications(
            spark, [run_files.idxml(stem) for stem in STEMS], parser="xml"
        )
        ms2 = compute_ms2_info(spectra)
        psms = convert_psms(ids, ms2)
        assert psms.columns == PSM_COLUMNS
        rows = psms.collect()
        assert len(rows) > 50
        # every PSM scan must have found its spectrum (the identifications
        # name MS2 scans of the run with the same stem)
        assert all(r["num_peaks"] is not None and r["num_peaks"] > 0 for r in rows)
        assert all(r["is_decoy"] == 0 for r in rows)

    def test_decoy_export(self, spark, spectra, run_files):
        ids = read_identifications(spark, [run_files.idxml("runA")], parser="xml")
        ms2 = compute_ms2_info(spectra)
        with_decoys = convert_psms(ids, ms2, export_decoy_psm=True)
        assert with_decoys.filter(F.col("is_decoy") == 1).count() > 0

    def test_global_qvalue_gated_on_score_type(self, spark, run_files):
        """hit.score stands in for global_qvalue ONLY when the run is
        multi-engine AND the peptide id score type contains 'q-value'
        (reference psm_conversion.py:144-146); meta q-values always win."""
        ids = read_identifications(
            spark, [run_files.idxml(stem) for stem in STEMS], parser="xml"
        )
        # force a multi-engine shape so the gate is what decides
        ids = ids.withColumn("search_engines", F.array(F.lit("MS-GF+"), F.lit("Comet")))

        gated = convert_psms(
            ids.withColumn("score_type", F.lit("q-value")), None
        )
        # q-value score type: every hit has a global_qvalue (meta or score)
        assert gated.filter(F.col("global_qvalue").isNull()).count() == 0

        ungated = convert_psms(
            ids.withColumn("score_type", F.lit("Posterior Error Probability")), None
        )
        # non-q-value score type: hits without a meta q-value stay null
        assert ungated.filter(F.col("global_qvalue").isNull()).count() > 0
        # but meta q-values still populate regardless of the gate
        assert ungated.filter(F.col("global_qvalue").isNotNull()).count() > 0

    def test_modifications_parsed(self, spark, run_files):
        ids = read_identifications(spark, [run_files.idxml("runA")], parser="xml")
        psms = convert_psms(ids, None)
        modded = psms.filter(F.col("modifications").isNotNull()).collect()
        assert len(modded) > 0
        for r in modded:
            assert all("-Oxidation" in m for m in r["modifications"])
            assert "(Oxidation)" in r["peptidoform"]
            assert "(" not in r["sequence"]
