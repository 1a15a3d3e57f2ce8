"""Tests for the registrable `mzml` Python DataSource: per-file partitioning,
parity with read_spectra, and ms_level / rt filter pushdown (both the
pushFilters contract directly and end-to-end through the planner)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In, IsNotNull

from quantms_utils_spark.sources.mzml import read_spectra
from quantms_utils_spark.sources.mzml_datasource import (
    MzmlDataSource,
    MzmlDataSourceReader,
    register_mzml_source,
)

@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_mzml_source(spark)


@pytest.fixture(scope="module")
def runs(run_files):
    """Comma-separated paths of two written runs."""
    return ",".join(run_files.mzml(stem) for stem in ("runA", "runB"))


def _read(spark, runs):
    return spark.read.format("mzml").option("parser", "xml").option("paths", runs).load()


def _reader(runs):
    return MzmlDataSourceReader(
        MzmlDataSource({}).schema(), {"paths": runs, "parser": "xml"}
    )


def test_matches_read_spectra(spark, runs):
    via_source = _read(spark, runs)
    via_helper = read_spectra(spark, runs.split(","), parser="xml")
    a = sorted(map(tuple, via_source.drop("mz_array", "intensity_array").collect()))
    b = sorted(map(tuple, via_helper.drop("mz_array", "intensity_array").collect()))
    assert a == b
    assert via_source.schema == via_helper.schema


def test_one_partition_per_file(spark, runs):
    assert _read(spark, runs).rdd.getNumPartitions() == 2


def test_ms_level_filter_pushed_end_to_end(spark, runs):
    df = _read(spark, runs).filter(F.col("ms_level") == 1)
    levels = [r["ms_level"] for r in df.select("ms_level").distinct().collect()]
    assert levels == [1]
    # parity with the helper's reader-option pushdown
    expected = read_spectra(spark, runs.split(","), ms_levels=[1], parser="xml")
    assert df.count() == expected.count()


def test_rt_range_filter_pushed_end_to_end(spark, runs):
    df = _read(spark, runs).filter((F.col("rt") > 50.0) & (F.col("rt") <= 150.0))
    rts = df.select(F.min("rt").alias("lo"), F.max("rt").alias("hi")).first()
    assert rts["lo"] > 50.0 and rts["hi"] <= 150.0
    full = _read(spark, runs)
    assert df.count() == full.filter((F.col("rt") > 50.0) & (F.col("rt") <= 150.0)).count()


def test_push_filters_contract(runs):
    """ms_level EqualTo/In and rt bounds are claimed; others come back."""
    reader = _reader(runs)
    residual = list(
        reader.pushFilters(
            [
                EqualTo(("ms_level",), 2),
                GreaterThan(("rt",), 10.0),
                IsNotNull(("scan",)),
            ]
        )
    )
    assert reader.ms_levels == [2]
    assert reader.rt_min == (10.0, False)
    assert residual == [IsNotNull(("scan",))]

    reader2 = _reader(runs)
    assert list(reader2.pushFilters([In(("ms_level",), (1, 2))])) == []
    assert reader2.ms_levels == [1, 2]


def test_push_filters_conjunction_keeps_residual(runs):
    """Two bounds on the same column: only ONE is claimed, the other must
    come back as a residual for Spark to apply — silently swallowing it
    would leak rows violating the discarded predicate."""
    reader = _reader(runs)
    from pyspark.sql.datasource import GreaterThanOrEqual

    residual = list(
        reader.pushFilters(
            [GreaterThan(("rt",), 5.0), GreaterThanOrEqual(("rt",), 10.0),
             EqualTo(("ms_level",), 2), In(("ms_level",), (1, 2))]
        )
    )
    assert reader.rt_min == (5.0, False)
    assert reader.ms_levels == [2]
    assert residual == [GreaterThanOrEqual(("rt",), 10.0), In(("ms_level",), (1, 2))]


def test_push_filters_conjunction_end_to_end(spark, runs):
    """Conjunction of two rt lower bounds through the planner must apply
    BOTH predicates to the result."""
    df = _read(spark, runs).filter((F.col("rt") > 5.0) & (F.col("rt") >= 100.0))
    lo = df.select(F.min("rt")).first()[0]
    assert lo >= 100.0
    full = _read(spark, runs)
    assert df.count() == full.filter(F.col("rt") >= 100.0).count()


def test_stream_offsets_ignore_out_of_order_landing(tmp_path):
    """A file landing lexicographically BEFORE the committed watermark is
    ignored (never re-shifts what already-committed offsets mean)."""
    from quantms_utils_spark.sources.mzml_datasource import MzmlStreamReader

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "runB.mzML").write_text("")
    reader = MzmlStreamReader(
        MzmlDataSource({}).schema(),
        {"paths": str(landing), "parser": "xml"},
    )
    start = reader.initialOffset()
    end1 = reader.latestOffset()
    parts1 = reader.partitions(start, end1)
    assert [p.path for p in parts1] == [str(landing / "runB.mzML")]

    # late, out-of-order landing: sorts before the watermark → ignored
    (landing / "runA.mzML").write_text("")
    end2 = reader.latestOffset()
    assert end2 == end1  # watermark did not move backwards
    assert reader.partitions(end1, end2) == []

    # a properly-ordered new file advances the watermark and is picked up
    (landing / "runC.mzML").write_text("")
    end3 = reader.latestOffset()
    parts3 = reader.partitions(end1, end3)
    assert [p.path for p in parts3] == [str(landing / "runC.mzML")]


def test_reader_applies_claimed_filters(runs):
    reader = _reader(runs)
    list(reader.pushFilters([EqualTo(("ms_level",), 1)]))
    [part, _] = reader.partitions()
    batches = list(reader.read(part))
    assert batches, "no record batches yielded"
    import pyarrow as pa

    table = pa.Table.from_batches(batches)
    assert set(table["ms_level"].to_pylist()) == {1}


def test_stream_reader_incremental_files(spark, tmp_path, run_files):
    """Streaming ingest: each restart picks up only files landed since the
    committed offset; batch and streaming share the same partition reader."""
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    collected = []

    def run_once():
        stream = (
            spark.readStream.format("mzml")
            .option("parser", "xml")
            .load(str(landing))
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _id: collected.extend(
                    df.groupBy("reference_file_name").count().collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    shutil.copy(run_files.mzml("runA", 50), landing)
    run_once()
    assert [(r["reference_file_name"], r["count"]) for r in collected] == [("runA", 50)]

    shutil.copy(run_files.mzml("runB", 50), landing)
    run_once()
    got = sorted((r["reference_file_name"], r["count"]) for r in collected)
    assert got == [("runA", 50), ("runB", 50)]  # runA NOT re-ingested


def test_glob_and_missing_paths(tmp_path):
    (tmp_path / "x.mzML").write_text("")
    (tmp_path / "y.mzML").write_text("")
    reader = MzmlDataSourceReader(
        MzmlDataSource({}).schema(),
        {"paths": str(tmp_path / "*.mzML"), "parser": "xml"},
    )
    assert len(reader.partitions()) == 2
    with pytest.raises(ValueError, match="no files"):
        MzmlDataSourceReader(
            MzmlDataSource({}).schema(),
            {"paths": str(tmp_path / "none-*.mzML"), "parser": "xml"},
        )
