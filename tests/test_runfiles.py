"""The shared run-file core (`sources/runfiles.py`): every mzML/idXML entry
point rejects an unknown parser name — ``synthetic`` included: no backend
generates data — and, under the default ``auto``, a missing file; and the
run-stem rule is defined in one place only."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from quantms_utils_spark.sources.idxml import read_identifications
from quantms_utils_spark.sources.idxml_datasource import register_idxml_source
from quantms_utils_spark.sources.mzml import read_spectra
from quantms_utils_spark.sources.mzml_datasource import register_mzml_source

FIXTURES = Path(__file__).parent / "fixtures"
PACKAGE = Path(__file__).parent.parent / "quantms_utils_spark"
FORMATS = {
    "mzml": ("tiny.mzML", read_spectra),
    "idxml": ("tiny.idXML", read_identifications),
}


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_mzml_source(spark)
    register_idxml_source(spark)


def _run(spark, fmt, entry, path, parser, tmp_path):
    if entry == "helper":
        return FORMATS[fmt][1](spark, [path], parser=parser).count()
    options = {"parser": parser}
    if entry == "datasource":
        return spark.read.format(fmt).options(**options).load(path).count()
    q = (
        spark.readStream.format(fmt)
        .options(**options)
        .load(path)
        .writeStream.foreachBatch(lambda df, _id: df.count())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()


@pytest.mark.parametrize("case", ["unknown_parser", "synthetic_parser", "missing_file_auto"])
@pytest.mark.parametrize("entry", ["helper", "datasource", "stream"])
@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_entry_points_reject_bad_parser_and_missing_file(spark, tmp_path, fmt, entry, case):
    fixture = FORMATS[fmt][0]
    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(FIXTURES / fixture, landing / fixture)
    if case in ("unknown_parser", "synthetic_parser"):
        parser = "xlm" if case == "unknown_parser" else "synthetic"
        match = "unknown parser"
        path = landing if entry == "stream" else landing / fixture
    else:
        parser, match = "auto", "typo"
        path = landing / f"typo{Path(fixture).suffix}"
    with pytest.raises(ValueError if entry == "helper" else Exception, match=match):
        _run(spark, fmt, entry, str(path), parser, tmp_path)


def test_stem_rule_defined_once():
    """Readers, pipelines and the CLI derive run names through run_stem; a
    second copy of the rule would let the spectrum and PSM sides drift."""
    hits = [
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if '.name.split(".")[0]' in p.read_text()
    ]
    assert hits == ["sources/runfiles.py"]
