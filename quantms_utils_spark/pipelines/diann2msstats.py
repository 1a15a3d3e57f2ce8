"""diann2msstats: DIA-NN report × experimental design → MSstats input table.

Spark-first reimplementation of quantmsutils/diann/diann2msstats.py:24-130 —
a star join: the billion-row report is the fact side; the kilobyte design is
a validated broadcast dimension. The design is parsed, validated and merged
into its (Run[, label]) → (Condition, BioReplicate, ...) lookup in pandas on
the driver (`sources/design.py:parse_design`), and enters Spark once, as the
local relation the report joins. Plan shape:

    report scan (projected, Q.Value pushed down)
      → decoy / zero-intensity / label filters
      → sequence normalization expressions
      ⋈ broadcast(design lookup)          [m:1-validated, inner]
      → CSV sink (coalesce(1) — MSstats consumers expect a single file)

The peptidoform normalization step (reference :75-83) calls pyopenms
``AASequence.fromString(...).toString()``; pyopenms is environment-gated —
when absent, the pure-Python Unimod normalizer
(`functions/peptidoform.py`) reproduces the round-trip's visible rewrites
(accession → canonical name, N-terminal dot notation) for standard
accessions.

The inner join drops the rows of runs the design does not name (and rows
with a null key) inside the one scan of the report; the unmatched-run
warning is a separate bounded job and does not feed the output plan.
"""

from __future__ import annotations

import logging
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType

from quantms_utils_spark.functions import sanitize_sequence
from quantms_utils_spark.sinks import write_single_csv
from quantms_utils_spark.operators.joins import join_many_to_one, unmatched_keys
from quantms_utils_spark.sources.design import local_table, parse_design
from quantms_utils_spark.sources.report import read_diann_report
from quantms_utils_spark.sources.runfiles import HAVE_PYOPENMS
from quantms_utils_spark.validation import SampleSheetError

logger = logging.getLogger(__name__)

RENAME = {
    "Protein.Names": "ProteinName",
    "Modified.Sequence": "PeptideSequence",
    "Precursor.Charge": "PrecursorCharge",
    "Precursor.Quantity": "Intensity",
}


def _normalize_peptidoform(col):
    """AASequence round-trip normalization (reference :75-83) as an
    Arrow-batched pandas_udf when pyopenms is present; otherwise the
    pure-Python Unimod-name normalizer (`functions/peptidoform.py`), which
    reproduces the round-trip's two visible rewrites (accession → canonical
    name, leading mod → N-terminal dot notation) for the standard Unimod
    accessions and passes unknown accessions through unchanged."""
    if HAVE_PYOPENMS:

        @F.pandas_udf(StringType())
        def norm(seqs: pd.Series) -> pd.Series:  # pragma: no cover - needs pyopenms
            from pyopenms import AASequence

            def one(s):
                if s is None:
                    return None
                if "^" in s:
                    return "^" + AASequence.fromString(s.replace("^", "")).toString()
                return AASequence.fromString(s).toString()

            return seqs.map(one)

    else:
        from quantms_utils_spark.functions.peptidoform import normalize_peptidoform

        @F.pandas_udf(StringType())
        def norm(seqs: pd.Series) -> pd.Series:
            return seqs.map(normalize_peptidoform)

    return norm(col)


def diann_to_msstats(
    spark: SparkSession,
    report_path: str,
    design_path: str,
    qvalue_threshold: float = 0.01,
    out_dir: str | None = None,
) -> DataFrame:
    report = read_diann_report(spark, report_path, qvalue_threshold)
    samples, fractions = parse_design(spark, design_path)

    if not HAVE_PYOPENMS:
        logger.warning(
            "pyopenms is not importable: PeptideSequence values use the "
            "pure-Python Unimod-name normalizer (accession -> canonical name, "
            "N-terminal dot notation); accessions outside the embedded table "
            "pass through unresolved and may diverge from reference output."
        )

    multiplexed = (
        "Channel" in report.columns
        and report.select(F.countDistinct("Channel")).collect()[0][0] > 1
    )

    if "Decoy" in report.columns:
        report = report.filter(F.col("Decoy") != 1)

    selected = [F.col(f"`{src}`").alias(dst) for src, dst in RENAME.items()]
    selected.append(F.col("Run"))
    if multiplexed:
        selected.append(F.col("Channel").alias("IsotopeLabelType"))
    out = report.select(*selected).filter(F.col("Intensity") != 0)

    pep = sanitize_sequence(F.col("PeptideSequence"))
    out = out.withColumn("PeptideSequence", _normalize_peptidoform(pep))
    out = out.withColumn("FragmentIon", F.lit("NA")).withColumn(
        "ProductCharge", F.lit("0")
    )

    if multiplexed:
        out = out.filter(
            F.col("IsotopeLabelType").isNotNull()
            & (F.trim(F.col("IsotopeLabelType")) != "")
        )
        if "Label" not in fractions.columns:
            raise SampleSheetError(
                "multiplexed DIA-NN report (multiple Channel values) but the "
                "experimental design has no Label column to join on"
            )
        f_cols = ["Fraction", "Sample", "run", "Label"]
        merge_keys = ["Run", "IsotopeLabelType"]
    else:
        out = out.withColumn("IsotopeLabelType", F.lit("L"))
        f_cols = ["Fraction", "Sample", "run"]
        merge_keys = ["Run"]

    # The design lookup is built on the driver (null Samples match nothing,
    # as in a SQL join) and joins the report as one local relation.
    lookup = (
        samples[["Sample", "MSstats_Condition", "MSstats_BioReplicate"]]
        .merge(fractions[f_cols].dropna(subset=["Sample"]), on="Sample")
        .rename(
            columns={
                "run": "Run",
                "MSstats_BioReplicate": "BioReplicate",
                "MSstats_Condition": "Condition",
                "Label": "IsotopeLabelType",
            }
        )
        .drop(columns="Sample")
    )
    design_lookup = local_table(spark, lookup)

    joined = join_many_to_one(out, design_lookup, merge_keys, how="inner")

    unmatched = unmatched_keys(out, design_lookup, merge_keys)
    # Bounded diagnostic collect: a malformed design can mismatch every
    # distinct run — never pull an unbounded key set to the driver.
    bad_runs = [r["Run"] for r in unmatched.limit(100).collect()]
    if bad_runs:
        n_bad = unmatched.count() if len(bad_runs) == 100 else len(bad_runs)
        logger.warning(
            "%d run(s) in DIA-NN report have no match in experimental design "
            "(showing up to 100): %s. These rows will be dropped. Check that "
            "Run names (spectra file stems) match Spectra_Filepath in the "
            "design.",
            n_bad,
            bad_runs,
        )

    if out_dir is not None:
        prefix = Path(design_path).stem
        target = write_single_csv(
            joined, Path(out_dir) / f"{prefix}_msstats_in.csv"
        )
        logger.info("MSstats input written to %s", target)
    return joined
