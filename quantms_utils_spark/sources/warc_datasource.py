"""`spark.read.format("warc")` — a PySpark Python DataSource for crawl
archives, the web-ingest twin of the ``mzml`` DataSource
(`sources/mzml_datasource.py`).

Why a DataSource and not just `read_warc` (binaryFile + mapInPandas): the
format gets (1) scan-level predicate pushdown — the ubiquitous
``http_status = 200`` / ``warc_type = 'response'`` crawl filters evaluate
INSIDE the parser, so non-qualifying records never materialize into Arrow,
(2) a declared schema visible to Catalyst before any file is touched, and
(3) one ``InputPartition`` per crawl file — the archive file is the unit of
parallelism for a 100 TB crawl corpus (Common-Crawl-style layouts ship
~1 GB gzipped segments; a 1000-executor cluster maps them 1:1 to tasks).

Reads yield Arrow RecordBatches, never per-row Python tuples; the parse
path is the same pure-stdlib `sources/warc.py` kernel the mapInPandas
reader and the streaming reader use, so all three ingestion surfaces share
one set of format semantics and one test suite.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StructType

from quantms_utils_spark.sources.runfiles import expand_paths, register_source
from quantms_utils_spark.sources.warc import (
    WARC_SCHEMA,
    _gunzip_members,
    parse_warc_bytes,
    split_http_payload,
)


class WarcInputPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WarcDataSourceReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        raw = options.get("paths") or options.get("path")
        if not raw:
            raise ValueError(
                "warc source needs .load(path) or .option('paths', ...)"
            )
        self.paths = expand_paths(raw, (".warc", ".warc.gz"), "warc")
        # pushed-down predicate state (single-slot each, like the mzml
        # reader: a second filter on an occupied slot goes back to Spark)
        self.http_status: int | None = None
        self.warc_type: str | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Claim ``http_status = N`` and ``warc_type = '...'`` equality —
        the two filters every crawl-curation scan starts with; everything
        else returns to Spark for post-scan evaluation."""
        for f in filters:
            col = f.attribute[0] if getattr(f, "attribute", None) else None
            if (
                col == "http_status"
                and isinstance(f, EqualTo)
                and self.http_status is None
            ):
                self.http_status = int(f.value)
            elif (
                col == "warc_type"
                and isinstance(f, EqualTo)
                and self.warc_type is None
            ):
                self.warc_type = str(f.value)
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        return [WarcInputPartition(p) for p in self.paths]

    def read(self, partition: WarcInputPartition):
        import pyarrow as pa

        data = _gunzip_members(Path(partition.path).read_bytes())
        cols = [c.split()[0] for c in WARC_SCHEMA.split(",")]
        rows = []
        for rec in parse_warc_bytes(data):
            if (
                self.warc_type is not None
                and rec.get("warc_type") != self.warc_type
            ):
                continue
            status, ctype, entity = split_http_payload(rec["body"])
            if self.http_status is not None and status != self.http_status:
                continue
            rec = dict(rec)
            rec.update(
                http_status=status,
                http_content_type=ctype,
                body=entity,
                source_file=partition.path,
            )
            rows.append(tuple(rec.get(c) for c in cols))
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        arrays = [
            pa.array([r[i] for r in rows], type=target.field(c).type)
            for i, c in enumerate(cols)
        ]
        table = pa.Table.from_arrays(arrays, schema=target)
        yield from table.to_batches(max_chunksize=10_000)


class WarcDataSource(DataSource):
    """Usage::

        spark.dataSource.register(WarcDataSource)
        df = spark.read.format("warc").load("/crawl/segments/")
        ok = df.filter("warc_type = 'response' AND http_status = 200")
    """

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> str:
        return WARC_SCHEMA

    def reader(self, schema: StructType) -> WarcDataSourceReader:
        return WarcDataSourceReader(schema, dict(self.options))


def register_warc_source(spark) -> None:
    """Idempotently register the ``warc`` format on this session.

    Python-source filter pushdown is off by default and a reader that
    implements ``pushFilters`` FAILS outright under that default (Spark
    raises DATA_SOURCE_PUSHDOWN_DISABLED rather than silently skipping);
    ``register_source`` enables it, as for the mzml and idxml sources."""
    register_source(spark, WarcDataSource)
