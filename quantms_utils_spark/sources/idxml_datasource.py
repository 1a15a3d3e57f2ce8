"""`spark.read.format("idxml")` — a PySpark Python DataSource for idXML
identification files, next to ``format("mzml")``
(`sources/mzml_datasource.py`).

Retention-time range predicates evaluate row-level inside the source;
every other predicate, ``reference_file_name`` included, goes back to
Spark. That column comes from the ``spectra_data`` entry inside the file,
not from the file name (``runA_comet.idXML`` holds run ``runA``), so it
cannot prune files. Partitioning, Arrow conversion and the high-water-mark
stream reader are the shared run-file core in ``sources/runfiles.py``; the
per-file parse is ``parse_idxml_file``, the same one
``sources/idxml.py:read_identifications`` runs.
"""

from __future__ import annotations

import pandas as pd

from quantms_utils_spark.sources.idxml import PSM_ID_SCHEMA, parse_idxml_file
from quantms_utils_spark.sources.runfiles import (
    RunFileDataSource,
    RunFileReader,
    register_source,
)


class IdxmlDataSourceReader(RunFileReader):
    format_name = "idxml"
    suffixes = (".idxml",)
    rt_column = "retention_time"

    def parse(self, path: str) -> pd.DataFrame:
        return parse_idxml_file(path, self.parser)


class IdxmlDataSource(RunFileDataSource):
    """Usage::

        spark.dataSource.register(IdxmlDataSource)
        df = spark.read.format("idxml").load(path_or_dir)
        stream = spark.readStream.format("idxml").load(landing_dir)
    """

    reader_class = IdxmlDataSourceReader
    source_schema = PSM_ID_SCHEMA


def register_idxml_source(spark) -> None:
    register_source(spark, IdxmlDataSource)
