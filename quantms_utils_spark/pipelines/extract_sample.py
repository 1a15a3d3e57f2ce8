"""openms2sample: experimental-design file → (Spectra_Filepath, Sample) table.

Spark-first reimplementation of quantmsutils/sdrf/extract_sample.py:11-60.
The design is kilobytes of driver data: it is parsed by the design source's
legacy-table parse, and the mixture branch (reference :41-59, a per-row
O(n·m) python lookup) is one pandas left merge with the same missing-key
error. The result enters Spark as a local relation for the CSV sink.
"""

from __future__ import annotations

import logging
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from quantms_utils_spark.sinks import write_single_csv
from quantms_utils_spark.sources.design import local_table, read_legacy_tables
from quantms_utils_spark.validation import SampleSheetError

logger = logging.getLogger(__name__)


def extract_sample(
    spark: SparkSession, design_path: str, out_dir: str | None = None
) -> DataFrame:
    fractions, samples = read_legacy_tables(design_path)
    fractions = fractions.dropna()

    if "MSstats_Mixture" not in samples.columns:
        result = fractions[["Spectra_Filepath", "Sample"]]
    else:
        joined = (
            fractions.drop_duplicates("Spectra_Filepath")[["Spectra_Filepath", "Sample"]]
            .merge(samples[["Sample", "MSstats_Mixture"]], on="Sample", how="left")
        )
        missing = joined.loc[joined["MSstats_Mixture"].isna(), "Sample"]
        if len(missing):
            raise SampleSheetError(
                f"Sample '{missing.iloc[0]}' in the fraction table has no "
                "matching entry in the sample table."
            )
        result = joined[["Spectra_Filepath", "MSstats_Mixture"]].rename(
            columns={"MSstats_Mixture": "Sample"}
        )

    out = local_table(spark, result)
    if out_dir is not None:
        write_single_csv(
            out, Path(out_dir) / f"{Path(design_path).stem}_sample.csv", sep="\t"
        )
    return out
