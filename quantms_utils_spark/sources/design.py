"""Experimental-design sources (SURVEY §2.1 S5-S7).

Two wire formats, told apart by a header sniff (reference
quantmsutils/diann/diann2msstats.py:149-155):

- unified flat TSV (``Filename/Fraction/Sample/Condition/BioReplicate`` +
  optional ``Label``), parsed at :158-219;
- legacy two-relations-in-one-file TSV: fraction table, blank line, sample
  table (:222-240, also sdrf/extract_sample.py:28-39).

A design file is kilobytes of configuration, so it stays driver data, as in
the reference: both formats go through one pandas table parse
(:func:`parse_design`), and the label mapping and the Sample →
(Condition, BioReplicate) check run in pandas. The parse starts no Spark job.
The one Spark expression it uses is the run stem, ``functions.file_stem`` (the
engine's one stem rule), evaluated on a local relation that Spark folds on the
driver. Pipelines hand the tables to Spark as local relations
(:func:`local_table`) for the one broadcast join against the fact table.
"""

from __future__ import annotations

import io
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

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


def _table(lines: list[str]) -> pd.DataFrame:
    """One TSV table with the cell semantics of Spark's CSV reader: every
    cell a string, an empty cell null (None), a cell ``NA`` the string
    ``NA``."""
    pdf = pd.read_csv(
        io.StringIO("\n".join(lines)), sep="\t", dtype=str, index_col=False,
        keep_default_na=False, na_values=[""],
    )
    return pdf.astype(object).where(pdf.notna(), None)


def local_table(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """A driver-side string table as a Spark local relation: projections and
    collects over it run on the driver, without a Spark job."""
    schema = StructType([StructField(c, StringType()) for c in pdf.columns])
    return spark.createDataFrame(pdf, schema)


def read_legacy_tables(path: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The (fraction table, sample table) of a legacy design, split at the
    first blank line."""
    lines = _read_lines(path)
    try:
        sep = lines.index("")
    except ValueError:
        raise SampleSheetError(
            f"Could not find blank separator row in {path}. Ensure the file "
            "contains a blank line between the file and sample tables."
        ) from None
    return _table(lines[:sep]), _table([ln for ln in lines[sep + 1 :] if ln != ""])


def _with_run(spark: SparkSession, fractions: pd.DataFrame, path_col: str) -> pd.DataFrame:
    stems = local_table(spark, fractions[[path_col]]).select(file_stem(path_col)).collect()
    return fractions.assign(run=[r[0] for r in stems])


def parse_design(spark: SparkSession, path: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Parse a design file of either format into (samples, fractions)
    pandas frames.

    samples: Sample, MSstats_Condition, MSstats_BioReplicate (+ extras)
    fractions: Fraction, Sample, run (+ Filename/Label when present)
    """
    lines = _read_lines(path)
    header = lines[0] if lines else ""
    if not all(c in header for c in ("Condition", "BioReplicate", "Filename")):
        fractions, samples = read_legacy_tables(path)
        return samples, _with_run(spark, fractions, "Spectra_Filepath")

    df = _table(lines)
    missing = sorted(set(UNIFIED_REQUIRED) - set(df.columns))
    if missing:
        raise SampleSheetError(
            f"Unified design file is missing required columns: {', '.join(missing)}. "
            f"Expected: {', '.join(sorted(UNIFIED_REQUIRED))}"
        )
    f_cols = ["Filename", "Fraction", "Sample"]
    if "Label" in df.columns and df["Label"].nunique() > 1:
        df["Label"] = df["Label"].replace({**SILAC_LABELS, **MTRAQ_LABELS})
        f_cols.append("Label")

    require_unique_mapping(
        df, "Sample", ("Condition", "BioReplicate"), "experimental design"
    )
    samples = (
        df[["Sample", "Condition", "BioReplicate"]]
        .drop_duplicates()
        .rename(columns={"Condition": "MSstats_Condition", "BioReplicate": "MSstats_BioReplicate"})
    )
    return samples, _with_run(spark, df[f_cols], "Filename")


def read_experimental_design(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """:func:`parse_design` as (sample_df, fraction_df) Spark local
    relations."""
    samples, fractions = parse_design(spark, path)
    return local_table(spark, samples), local_table(spark, fractions)
