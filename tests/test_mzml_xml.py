"""Pure-Python mzML / idXML XML backends: golden-value parsing of checked-in
fixtures (REAL file bytes — base64 + zlib binary arrays, CV params, unit
conversion), round-trip against the synthetic generator, parity between the
mapInPandas reader and the registered DataSource, and an end-to-end
psmconvert over XML-parsed spectra + identifications.

Mirrors the reference's e2e strategy (tests/test_commands.py:219-234: run
real files through the command surface) without requiring pyopenms.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from quantms_utils_spark.pipelines.mzml_stats import compute_ms2_info, compute_ms_info
from quantms_utils_spark.pipelines.psm import convert_psms
from quantms_utils_spark.sources.idxml import _parse_xml_idxml, read_identifications
from quantms_utils_spark.sources.mzml import read_spectra, synthetic_spectra
from quantms_utils_spark.sources.mzml_xml import parse_mzml_xml, write_mzml

FIXTURES = Path(__file__).parent / "fixtures"
TINY_MZML = str(FIXTURES / "tiny.mzML")
TINY_IDXML = str(FIXTURES / "tiny.idXML")


class TestGoldenMzml:
    """Hand-computed golden values for the checked-in tiny.mzML."""

    def test_values(self):
        pdf = parse_mzml_xml(TINY_MZML)
        assert len(pdf) == 3
        s0, s1, s2 = pdf.iloc[0], pdf.iloc[1], pdf.iloc[2]

        # spectrum 0: MS1, zlib-compressed 64-bit arrays, rt in seconds
        assert s0["scan"] == "101"
        assert s0["ms_level"] == 1
        assert s0["rt"] == pytest.approx(5.0)
        assert s0["mz_array"] == [100.0, 200.5, 300.25]
        assert s0["intensity_array"] == [10.0, 20.0, 30.0]
        assert s0["precursor_mz"] is None or pd_isna(s0["precursor_mz"])

        # spectrum 1: MS2, uncompressed 32-bit arrays, rt in MINUTES (0.11)
        assert s1["scan"] == "102"
        assert s1["ms_level"] == 2
        assert s1["rt"] == pytest.approx(0.11 * 60.0)
        assert s1["mz_array"] == [50.0, 60.0]
        assert s1["intensity_array"] == [5.5, 6.5]
        assert s1["precursor_mz"] == pytest.approx(200.5)
        assert s1["precursor_charge"] == 2
        assert s1["precursor_intensity"] == pytest.approx(20.0)

        # spectrum 2: empty arrays, rt 2 minutes -> 120 s
        assert s2["rt"] == pytest.approx(120.0)
        assert s2["mz_array"] == []
        assert s2["intensity_array"] == []

        assert (pdf["acquisition_datetime"] == "2023-05-01T10:30:00Z").all()
        assert (pdf["reference_file_name"] == "tiny").all()
        assert list(pdf["spectrum_index"]) == [0, 1, 2]

    def test_ms_level_pushdown_skips_decode(self):
        ms2 = parse_mzml_xml(TINY_MZML, ms_levels=[2])
        assert list(ms2["scan"]) == ["102"]

    def test_numpress_file_roundtrip(self, tmp_path):
        """Numpress-compressed arrays (linear m/z + slof intensity, the
        common vendor-converter pairing) ingest through the XML backend
        within the schemes' documented precision."""
        src = synthetic_spectra("runNP", 20)
        path = str(tmp_path / "runNP.mzML")
        write_mzml(path, src, compress=False, dtype="f8",
                   numpress_mz="linear", numpress_intensity="slof")
        out = parse_mzml_xml(path)
        assert len(out) == len(src)
        for i in range(len(src)):
            assert out["mz_array"][i] == pytest.approx(
                src["mz_array"][i], abs=1e-4
            )
            for got, want in zip(out["intensity_array"][i],
                                 src["intensity_array"][i]):
                assert got == pytest.approx(want, rel=5e-4, abs=1e-3)

    def test_numpress_zlib_combo_roundtrip(self, tmp_path):
        """The 'numpress followed by zlib' combined accessions decode too
        (pic intensities survive exactly — they are integral counts)."""
        src = synthetic_spectra("runNPZ", 10)
        src["intensity_array"] = [
            [float(int(v)) for v in arr] for arr in src["intensity_array"]
        ]
        path = str(tmp_path / "runNPZ.mzML")
        write_mzml(path, src, compress=True, dtype="f8",
                   numpress_mz="linear", numpress_intensity="pic")
        out = parse_mzml_xml(path)
        assert len(out) == len(src)
        for i in range(len(src)):
            assert list(out["intensity_array"][i]) == list(
                src["intensity_array"][i]
            )


def pd_isna(v):
    return pd.isna(v)


class TestRoundTrip:
    def test_synthetic_roundtrip_f8(self, tmp_path):
        """write_mzml(synthetic) then parse_mzml_xml reproduces every column
        exactly (64-bit payloads are lossless)."""
        src = synthetic_spectra("runA", 40)
        path = str(tmp_path / "runA.mzML")
        write_mzml(path, src, compress=True, dtype="f8",
                   start_time_stamp="2024-01-01T00:00:00")
        out = parse_mzml_xml(path)
        assert len(out) == len(src)
        for col in ("scan", "ms_level", "spectrum_index", "reference_file_name"):
            assert list(out[col]) == list(src[col])
        for i in range(len(src)):
            assert out["rt"][i] == pytest.approx(src["rt"][i], abs=1e-9)
            assert out["mz_array"][i] == pytest.approx(src["mz_array"][i])
            assert out["intensity_array"][i] == pytest.approx(src["intensity_array"][i])
            if not pd_isna(src["precursor_mz"][i]):
                assert out["precursor_mz"][i] == pytest.approx(src["precursor_mz"][i])
                assert out["precursor_charge"][i] == src["precursor_charge"][i]

    def test_gzip_roundtrip(self, tmp_path):
        src = synthetic_spectra("runB", 12)
        path = str(tmp_path / "runB.mzML.gz")
        write_mzml(path, src, compress=False, dtype="f8")
        out = parse_mzml_xml(path)
        assert len(out) == 12
        assert out["mz_array"][3] == pytest.approx(src["mz_array"][3])


class TestSparkXmlBackend:
    STEMS = ("xrunA", "xrunB")

    @pytest.fixture(scope="class")
    def runs(self, run_files):
        return [run_files.mzml(stem, 60) for stem in self.STEMS]

    def test_read_spectra_xml_matches_synthetic(self, spark, runs):
        """The XML backend over files WRITTEN from the synthetic frames must
        produce the frames ``synthetic_spectra`` generates."""
        via_xml = read_spectra(spark, runs, parser="xml").toPandas()
        direct = pd.concat(
            [synthetic_spectra(stem, 60) for stem in self.STEMS], ignore_index=True
        )
        key = ["reference_file_name", "spectrum_index"]
        via_xml = via_xml.sort_values(key).reset_index(drop=True)
        direct = direct.sort_values(key).reset_index(drop=True)
        assert len(via_xml) == len(direct) == 120
        assert list(via_xml["scan"]) == list(direct["scan"])
        assert list(via_xml["ms_level"]) == list(direct["ms_level"])
        for i in range(len(direct)):
            assert via_xml["rt"][i] == pytest.approx(direct["rt"][i], abs=1e-9)
            assert via_xml["mz_array"][i] == pytest.approx(direct["mz_array"][i])

    def test_auto_prefers_xml_for_real_files(self, spark, runs):
        df = read_spectra(spark, runs, parser="auto")
        assert df.count() == 120  # parsed the two 60-spectrum files

    def test_datasource_parity(self, spark, runs):
        """format('mzml') with the xml backend returns the same rows as the
        mapInPandas reader — one parse path, two APIs."""
        from quantms_utils_spark.sources.mzml_datasource import register_mzml_source

        register_mzml_source(spark)
        via_ds = (
            spark.read.format("mzml")
            .option("paths", ",".join(runs))
            .option("parser", "xml")
            .load()
            .toPandas()
        )
        via_reader = read_spectra(spark, runs, parser="xml").toPandas()
        key = ["reference_file_name", "spectrum_index"]
        via_ds = via_ds.sort_values(key).reset_index(drop=True)
        via_reader = via_reader.sort_values(key).reset_index(drop=True)
        assert len(via_ds) == len(via_reader)
        assert list(via_ds["scan"]) == list(via_reader["scan"])
        for i in range(0, len(via_ds), 17):
            assert list(via_ds["mz_array"][i]) == pytest.approx(
                list(via_reader["mz_array"][i])
            )

    def test_datasource_pushdown_on_xml(self, spark, runs):
        from quantms_utils_spark.sources.mzml_datasource import register_mzml_source

        register_mzml_source(spark)
        ms1 = (
            spark.read.format("mzml")
            .option("paths", ",".join(runs))
            .option("parser", "xml")
            .load()
            .filter("ms_level = 1")
        )
        levels = [r["ms_level"] for r in ms1.select("ms_level").distinct().collect()]
        assert levels == [1]


class TestGoldenIdxml:
    def test_values(self):
        pdf = _parse_xml_idxml(TINY_IDXML)
        assert len(pdf) == 1
        row = pdf.iloc[0]
        assert row["reference_file_name"] == "tiny"  # stem of /data/raw/tiny.mzML
        assert row["spectrum_reference"].endswith("scan=102")
        assert row["retention_time"] == pytest.approx(6.6)
        assert row["exp_mass_to_charge"] == pytest.approx(200.5)
        assert row["search_engines"] == ["MS-GF+", "Comet"]  # ConsensusID SE:*
        assert row["score_type"] == "q-value"

        h1, h2 = row["hits"]
        assert h1["peptidoform"] == "PEPTIDEK"
        assert h1["charge"] == 2
        assert h1["score"] == pytest.approx(0.001)
        assert h1["is_decoy"] == 0
        assert h1["hit_rank"] == 1
        assert h1["consensus_support"] == pytest.approx(0.95)
        assert h1["posterior_error_probability"] == pytest.approx(0.05)
        assert h1["protein_accessions"] == ["P10000", "P20000"]
        assert h1["protein_start_positions"] == [10, 20]
        assert h1["protein_end_positions"] == [17, 27]

        assert h2["is_decoy"] == 1
        assert h2["hit_rank"] == 2
        assert h2["qvalue_meta"] == pytest.approx(0.2)  # MS:1001491

    def test_written_identifications_parse_back(self, run_files):
        """The tests' idXML writer round-trips through the parser, for a
        ConsensusID run (runA) and a single-engine run (runB), so the PSM
        tests over written files exercise the frames they were built from."""
        for stem, engines in (("runA", ["MS-GF+", "Comet"]), ("runB", ["Comet"])):
            ids = run_files.identifications(stem)
            got = _parse_xml_idxml(run_files.idxml(stem))
            assert list(ids["search_engines"].iloc[0]) == engines
            assert got.to_dict("records") == ids.to_dict("records")

    def test_no_protein_ids_error(self, tmp_path):
        content = "<IdXML><IdentificationRun search_engine=\"Comet\"/></IdXML>"
        p = tmp_path / "empty.idXML"
        p.write_text(content)
        with pytest.raises(ValueError, match="No protein identification"):
            _parse_xml_idxml(str(p))


class TestEndToEndXml:
    def test_psmconvert_over_xml_files(self, spark, tmp_path):
        """Full real-format path: XML mzML spectra + XML idXML ids →
        21-column PSM table with the spectrum join landing."""
        # write an mzML whose stem matches the idXML's spectra_data stem
        src = synthetic_spectra("tiny", 8)
        mzml_path = str(tmp_path / "tiny.mzML")
        # give it a scan numbered 102 at MS2 so the fixture idXML joins
        src.loc[1, "scan"] = "102"
        src.loc[1, "ms_level"] = 2
        write_mzml(mzml_path, src, dtype="f8")

        spectra = read_spectra(spark, [mzml_path], parser="xml")
        ids = read_identifications(spark, [TINY_IDXML], parser="xml")
        psms = convert_psms(ids, compute_ms2_info(spectra))
        rows = psms.collect()
        assert len(rows) == 1  # decoy hit filtered, target hit joined
        r = rows[0]
        assert r["sequence"] == "PEPTIDEK"
        assert r["global_qvalue"] == pytest.approx(0.001)  # multi-engine q-value gate
        assert r["num_peaks"] == len(src["mz_array"][1])
        assert r["mz_array"] == pytest.approx(src["mz_array"][1])

    def test_ms_info_golden_from_tiny(self, spark):
        info = compute_ms_info(read_spectra(spark, [TINY_MZML], parser="xml"))
        rows = {r["scan"]: r for r in info.collect()}
        assert rows["101"]["num_peaks"] == 3
        assert rows["101"]["base_peak_intensity"] == pytest.approx(30.0)
        assert rows["101"]["summed_peak_intensities"] == pytest.approx(60.0)
        # MS2 spectrum carries its precursor and the as-of MS1 rt
        assert rows["102"]["precursor_rt"] == pytest.approx(5.0)
        assert rows["102"]["precursor_mz"] == pytest.approx(200.5)


class TestNumpressDataSource:
    def test_numpress_file_via_datasource(self, spark):
        """A numpress-compressed committed fixture reads through
        spark.read.format('mzml') identically to the direct reader — the
        decode path is shared, the DataSource plumbing must not care."""
        from quantms_utils_spark.sources.mzml_datasource import (
            register_mzml_source,
        )

        path = str(FIXTURES / "rich_numpress.mzML")
        register_mzml_source(spark)
        via_ds = (
            spark.read.format("mzml")
            .option("paths", path)
            .option("parser", "xml")
            .load()
            .toPandas()
            .sort_values("spectrum_index")
            .reset_index(drop=True)
        )
        via_reader = (
            read_spectra(spark, [path], parser="xml")
            .toPandas()
            .sort_values("spectrum_index")
            .reset_index(drop=True)
        )
        assert len(via_ds) == 24 == len(via_reader)
        for i in range(0, 24, 5):
            assert list(via_ds["mz_array"][i]) == pytest.approx(
                list(via_reader["mz_array"][i])
            )
            assert list(via_ds["intensity_array"][i]) == pytest.approx(
                list(via_reader["intensity_array"][i])
            )
