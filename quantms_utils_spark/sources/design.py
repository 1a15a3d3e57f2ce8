"""Experimental-design sources (SURVEY §2.1 S5-S7).

Two wire formats, auto-detected by header sniff (reference
quantmsutils/diann/diann2msstats.py:149-155):

- unified flat TSV (``Filename/Fraction/Sample/Condition/BioReplicate`` +
  optional ``Label``), parsed at :158-219;
- legacy two-relations-in-one-file TSV: fraction table, blank line, sample
  table (:222-240, also sdrf/extract_sample.py:28-39).

Design files are kilobyte-scale configuration, so the blank-line split happens
driver-side (exactly like the reference); both relations come back as Spark
DataFrames because everything downstream joins them against billion-row fact
tables as broadcast dimensions.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from quantms_utils_spark.functions import file_stem
from quantms_utils_spark.validation import SampleSheetError, require_unique_mapping

UNIFIED_REQUIRED = ("Filename", "Fraction", "Sample", "Condition", "BioReplicate")

SILAC_LABELS = {"SILAC light": "L", "SILAC medium": "M", "SILAC heavy": "H"}
MTRAQ_LABELS = {"MTRAQ0": "0", "MTRAQ4": "4", "MTRAQ8": "8"}


def _read_lines(path: str) -> list[str]:
    """Read with line-ending normalization (diann2msstats.py:144). Trailing
    empty lines are dropped so a file-final newline is not mistaken for the
    legacy format's blank-line table separator."""
    raw = Path(path).read_text()
    lines = raw.replace("\r\n", "\n").replace("\r", "\n").split("\n")
    while lines and lines[-1] == "":
        lines.pop()
    return lines


def is_unified_design(path: str) -> bool:
    lines = _read_lines(path)
    header = lines[0] if lines else ""
    return all(c in header for c in ("Condition", "BioReplicate", "Filename"))


def read_experimental_design(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Parse a design file into (sample_df, fraction_df) Spark DataFrames.

    sample_df: Sample, MSstats_Condition, MSstats_BioReplicate (+ extras)
    fraction_df: Fraction, Sample, run (+ Filename/Label when present)
    """
    if is_unified_design(path):
        return _read_unified(spark, path)
    return _read_legacy(spark, path)


def _read_unified(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    df = spark.read.csv(path, sep="\t", header=True, inferSchema=False)
    missing = sorted(set(UNIFIED_REQUIRED) - set(df.columns))
    if missing:
        raise SampleSheetError(
            f"Unified design file is missing required columns: {', '.join(missing)}. "
            f"Expected: {', '.join(sorted(UNIFIED_REQUIRED))}"
        )
    df = df.withColumn("run", file_stem(F.col("Filename")))

    multiplexed = (
        "Label" in df.columns
        and df.select(F.countDistinct("Label")).collect()[0][0] > 1
    )
    if multiplexed:
        mapping = {**SILAC_LABELS, **MTRAQ_LABELS}
        label = F.col("Label")
        for src, dst in mapping.items():
            label = F.when(F.col("Label") == src, F.lit(dst)).otherwise(label)
        df = df.withColumn("Label", label)
        f_cols = ["Filename", "Fraction", "Sample", "run", "Label"]
    else:
        f_cols = ["Filename", "Fraction", "Sample", "run"]
    f_table = df.select(*f_cols)

    require_unique_mapping(
        df, "Sample", ("Condition", "BioReplicate"), "experimental design"
    )
    s_table = (
        df.select("Sample", "Condition", "BioReplicate")
        .distinct()
        .withColumnsRenamed(
            {"Condition": "MSstats_Condition", "BioReplicate": "MSstats_BioReplicate"}
        )
    )
    return s_table, f_table


def split_two_table_lines(lines: list[str], path: str) -> tuple[list[str], list[str]]:
    """Split normalized lines of a legacy design at the first blank line."""
    try:
        sep = lines.index("")
    except ValueError:
        raise SampleSheetError(
            f"Could not find blank separator row in {path}. Ensure the file "
            "contains a blank line between the file and sample tables."
        ) from None
    top = lines[:sep]
    bottom = [ln for ln in lines[sep + 1 :] if ln != ""]
    return top, bottom


def _lines_to_sdf(spark: SparkSession, lines: list[str]) -> DataFrame:
    header = lines[0].split("\t")
    rows = [ln.split("\t") for ln in lines[1:]]
    pdf = pd.DataFrame(rows, columns=header, dtype=str)
    return spark.createDataFrame(pdf)


def _read_legacy(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    lines = _read_lines(path)
    top, bottom = split_two_table_lines(lines, path)
    f_table = _lines_to_sdf(spark, top).withColumn(
        "run", file_stem(F.col("Spectra_Filepath"))
    )
    s_table = _lines_to_sdf(spark, bottom)
    return s_table, f_table
