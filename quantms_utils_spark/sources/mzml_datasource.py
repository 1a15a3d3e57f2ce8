"""`spark.read.format("mzml")` — a PySpark Python DataSource for mzML runs.

This is the "proper DataSource" stage of SURVEY §4 ("scan-level filter
pushdown … implement SupportsPushDownFilters-style handling in the Python
source"): the reference's reader-option pushdown
(PeakFileOptions.setMSLevels, ms1_feature_finder.py:51-52) becomes a real
``pushFilters`` implementation, so

    spark.read.format("mzml").load(path).filter("ms_level = 1")

evaluates the ms-level restriction INSIDE the source (the parser skips the
other spectra) instead of materializing every spectrum and filtering after
the fact. Retention-time range predicates push the same way.

Partitioning, rt pushdown, Arrow conversion and the high-water-mark stream
reader (``spark.readStream.format("mzml")``) are the shared run-file core in
``sources/runfiles.py``; the per-file parse is ``parse_mzml_file``, the same
one ``sources/mzml.py:read_spectra`` runs.
"""

from __future__ import annotations

from functools import partial

import pandas as pd
from pyspark.sql.datasource import EqualTo, Filter, In
from pyspark.sql.types import StructType

from quantms_utils_spark.sources.mzml import (
    SPECTRUM_SCHEMA,
    VALID_SUFFIXES,
    parse_mzml_file,
    resolve_ms_path,
)
from quantms_utils_spark.sources.runfiles import (
    RunFileDataSource,
    RunFileReader,
    RunFileStreamReader,
    register_source,
)


class MzmlDataSourceReader(RunFileReader):
    """Adds the ms_level slot (EqualTo or In) to the shared rt-range pushdown."""

    format_name = "mzml"
    suffixes = VALID_SUFFIXES
    rt_column = "rt"
    locate = staticmethod(resolve_ms_path)

    def __init__(self, schema: StructType, options: dict, expand: bool = True):
        super().__init__(schema, options, expand)
        self.ms_levels: list[int] | None = None

    def claim(self, f: Filter) -> bool:
        if getattr(f, "attribute", None) == ("ms_level",) and self.ms_levels is None:
            if isinstance(f, EqualTo):
                self.ms_levels = [int(f.value)]
                return True
            if isinstance(f, In):
                self.ms_levels = sorted(int(v) for v in f.value)
                return True
        return super().claim(f)

    def parse(self, path: str) -> pd.DataFrame:
        return parse_mzml_file(path, self.parser, self.ms_levels)


MzmlStreamReader = partial(RunFileStreamReader, MzmlDataSourceReader)


class MzmlDataSource(RunFileDataSource):
    """Usage::

        spark.dataSource.register(MzmlDataSource)
        df = spark.read.format("mzml").option("parser", "xml").load(path)
        stream = spark.readStream.format("mzml").load(landing_dir)
    """

    reader_class = MzmlDataSourceReader
    source_schema = SPECTRUM_SCHEMA


def register_mzml_source(spark) -> None:
    register_source(spark, MzmlDataSource)
