"""Tests for the registrable `idxml` Python DataSource: per-file
partitioning, parity with read_identifications, reference_file_name
filters left to Spark, rt-range pushdown, and the streaming reader."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In

from quantms_utils_spark.sources.idxml import PSM_ID_SCHEMA, read_identifications
from quantms_utils_spark.sources.idxml_datasource import (
    IdxmlDataSource,
    IdxmlDataSourceReader,
    register_idxml_source,
)

FIXTURE = Path(__file__).parent / "fixtures" / "tiny.idXML"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_idxml_source(spark)


def test_matches_read_identifications_xml(spark):
    via_source = (
        spark.read.format("idxml").load(str(FIXTURE)).orderBy("spectrum_reference")
    )
    via_helper = read_identifications(
        spark, [str(FIXTURE)], parser="xml"
    ).orderBy("spectrum_reference")
    assert via_source.schema == via_helper.schema
    assert [r.asDict() for r in via_source.collect()] == [
        r.asDict() for r in via_helper.collect()
    ]


def test_synthetic_parity_and_partitioning(spark):
    df = (
        spark.read.format("idxml")
        .option("parser", "synthetic")
        .option("paths", "runA.idXML,runB.idXML")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2
    stems = {r["reference_file_name"] for r in df.select("reference_file_name").distinct().collect()}
    assert stems == {"runA", "runB"}


def test_reference_file_name_filter_returned_to_spark():
    """reference_file_name comes from the spectra_data entry inside the
    file, not from the file name, so the source must not claim a filter
    on it (it used to prune files by file-name stem)."""
    reader = IdxmlDataSourceReader(
        PSM_ID_SCHEMA, {"paths": "runA.idXML,runB.idXML", "parser": "synthetic"}
    )
    eq = EqualTo(("reference_file_name",), "runB")
    isin = In(("reference_file_name",), ("runA", "runC"))
    assert list(reader.pushFilters([eq, isin])) == [eq, isin]
    assert [p.path for p in reader.partitions()] == ["runA.idXML", "runB.idXML"]


def test_reference_file_name_filter_on_renamed_file(spark, tmp_path):
    """A search-engine-suffixed file name (tiny_comet.idXML) holds run
    'tiny': filtering on that run keeps its row, filtering on an absent
    run returns no rows instead of failing the job."""
    shutil.copy(FIXTURE, tmp_path / "tiny_comet.idXML")
    df = spark.read.format("idxml").load(str(tmp_path))
    assert [r["reference_file_name"] for r in df.collect()] == ["tiny"]
    ref = F.col("reference_file_name")
    assert df.filter(ref == "tiny").count() == 1
    assert df.filter(ref == "absent").count() == 0


def test_stem_filter_pushed_end_to_end(spark):
    df = (
        spark.read.format("idxml")
        .option("parser", "synthetic")
        .option("paths", "runA.idXML,runB.idXML")
        .load()
        .filter(F.col("reference_file_name") == "runB")
    )
    rows = df.collect()
    assert rows and all(r["reference_file_name"] == "runB" for r in rows)


def test_rt_filter_contract_and_end_to_end(spark):
    reader = IdxmlDataSourceReader.__new__(IdxmlDataSourceReader)
    reader.paths = ["runA.idXML"]
    reader.stems = None
    reader.rt_min = None
    reader.rt_max = None
    residual = list(reader.pushFilters([GreaterThan(("retention_time",), 100.0)]))
    assert residual == [] and reader.rt_min == (100.0, False)

    df = (
        spark.read.format("idxml")
        .option("parser", "synthetic")
        .option("paths", "runA.idXML")
        .load()
    )
    hi = df.filter(F.col("retention_time") > 100.0)
    assert hi.count() > 0
    assert hi.agg(F.min("retention_time")).first()[0] > 100.0


def test_stream_reader_picks_up_new_files(spark, tmp_path):
    landing = tmp_path / "idxml_landing"
    landing.mkdir()
    ckpt = str(tmp_path / "idxml_ckpt")
    collected = []

    def drain():
        stream = spark.readStream.format("idxml").load(str(landing))
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _id: collected.extend(
                    r["spectrum_reference"] for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    shutil.copy(FIXTURE, landing / "run1.idXML")
    drain()
    first = len(collected)
    assert first > 0
    shutil.copy(FIXTURE, landing / "run2.idXML")
    drain()
    # second drain parsed ONLY the new file (same fixture → same row count)
    assert len(collected) == 2 * first
