"""Shared core of the run-file readers (mzML spectra, idXML identifications).

One input file is one run and one unit of parallelism. Every run-file
reader goes through this module, so each policy below exists once:

- ``run_stem``: the run name the PSM↔spectrum join keys on;
- ``resolve_parser``: the backend choice and the check that every path is
  a readable file;
- ``expand_paths``: comma lists, directories and globs to a file list;
- ``map_run_files``: the ``mapInPandas`` one-file-per-partition plumbing
  behind ``read_spectra`` / ``read_identifications``;
- ``RunFileReader`` / ``RunFileStreamReader`` / ``RunFileDataSource``: the
  registrable ``spark.read.format(...)`` and ``spark.readStream.format(...)``
  surfaces. A format subclass names its schema, suffixes, rt column and
  per-file parse; the stream reader reuses the batch ``read`` verbatim.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

try:  # pragma: no cover - environment-dependent
    import pyopenms  # noqa: F401

    HAVE_PYOPENMS = True
except Exception:  # pragma: no cover
    HAVE_PYOPENMS = False

PARSERS = ("pyopenms", "xml")


def run_stem(path: str) -> str:
    """Run name of a file: its name up to the first dot
    ('/data/run.mzML.gz' -> 'run'). ``os.path.splitext`` would keep the
    directory and strip one extension only, and the spectrum and PSM sides
    would then join on different keys."""
    return Path(path).name.split(".")[0]


def require_file(path: str) -> str:
    if not Path(path).is_file():
        raise ValueError(f"no such file: {path!r}")
    return path


def resolve_parser(
    parser: str, paths: Sequence[str], locate: Callable[[str], str] = require_file
) -> str:
    """Validate a backend choice and every path.

    ``auto`` is pyopenms when importable, else the pure-Python ``xml``
    parser. ``locate`` raises ValueError for a path the format cannot read,
    so a mistyped path fails here, on the driver."""
    if parser == "auto":
        parser = "pyopenms" if HAVE_PYOPENMS else "xml"
    if parser not in PARSERS:
        raise ValueError(f"unknown parser {parser!r}")
    if parser == "pyopenms" and not HAVE_PYOPENMS:  # pragma: no cover
        raise NotImplementedError(
            "pyopenms is not importable in this environment; use parser='xml' "
            "(pure-Python parsing)"
        )
    for p in paths:
        locate(p)
    return parser


def expand_paths(raw: str, suffixes: tuple[str, ...], what: str) -> list[str]:
    """Comma-separated files, directories (every file whose lower-cased
    name ends with one of ``suffixes``) and globs, in a stable order."""
    out: list[str] = []
    for token in raw.split(","):
        token = token.strip()
        if not token:
            continue
        p = Path(token)
        if p.is_dir():
            out.extend(
                sorted(str(c) for c in p.iterdir() if c.name.lower().endswith(suffixes))
            )
        elif any(ch in token for ch in "*?["):
            out.extend(sorted(str(c) for c in p.parent.glob(p.name)))
        else:
            out.append(token)
    if not out:
        raise ValueError(f"{what} source resolved no files from {raw!r}")
    return out


def map_run_files(
    spark: SparkSession,
    paths: Sequence[str],
    parse_file: Callable[[str], pd.DataFrame],
    schema: StructType,
    what: str,
) -> DataFrame:
    """One partition per path; ``parse_file`` runs inside ``mapInPandas``."""
    if not paths:
        raise ValueError(
            f"{what}: paths must be non-empty (an empty run list is a caller "
            "bug; repartition(0) would raise a cryptic engine error instead)"
        )
    paths_df = spark.createDataFrame(
        [(p,) for p in paths], schema="path string"
    ).repartition(len(paths), "path")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path in pdf["path"]:
                yield parse_file(path)

    return paths_df.mapInPandas(parse, schema=schema)


class RunFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class RunFileReader(DataSourceReader):
    """One partition per file; pushdown of one lower and one upper bound on
    ``rt_column``; Arrow batches built against the declared schema.

    Subclasses set ``format_name``, ``suffixes``, ``rt_column`` and
    ``locate``, implement ``parse(path)``, and may claim more filters by
    extending ``claim``."""

    format_name: str
    suffixes: tuple[str, ...]
    rt_column: str
    locate: Callable[[str], str] = staticmethod(require_file)

    def __init__(self, schema: StructType, options: dict, expand: bool = True):
        self.schema = schema
        self.raw = options.get("paths") or options.get("path")
        if not self.raw:
            raise ValueError(
                f"{self.format_name} source needs .load(path) or .option('paths', ...)"
            )
        self.paths = self.discover() if expand else []
        self.parser = resolve_parser(options.get("parser", "auto"), self.paths, self.locate)
        self.rt_min: tuple[float, bool] | None = None  # (bound, inclusive)
        self.rt_max: tuple[float, bool] | None = None

    def discover(self) -> list[str]:
        return expand_paths(self.raw, self.suffixes, self.format_name)

    def parse(self, path: str) -> pd.DataFrame:
        raise NotImplementedError

    def claim(self, f: Filter) -> bool:
        """Take over ``f`` if its slot is free. One filter per slot: in
        ``rt > 5 AND rt >= 10`` the second bound goes back to Spark, since a
        single stored bound cannot hold both."""
        if getattr(f, "attribute", None) != (self.rt_column,):
            return False
        if isinstance(f, (GreaterThan, GreaterThanOrEqual)) and self.rt_min is None:
            self.rt_min = (float(f.value), isinstance(f, GreaterThanOrEqual))
            return True
        if isinstance(f, (LessThan, LessThanOrEqual)) and self.rt_max is None:
            self.rt_max = (float(f.value), isinstance(f, LessThanOrEqual))
            return True
        return False

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if not self.claim(f):
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        return [RunFilePartition(p) for p in self.paths]

    def read(self, partition: RunFilePartition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        pdf = self.parse(partition.path)
        if self.rt_min is not None:
            bound, incl = self.rt_min
            rt = pdf[self.rt_column]
            pdf = pdf[rt >= bound if incl else rt > bound]
        if self.rt_max is not None:
            bound, incl = self.rt_max
            rt = pdf[self.rt_column]
            pdf = pdf[rt <= bound if incl else rt < bound]
        # Convert each column straight to its declared type: inference would
        # widen int32 fields and alphabetize nested struct fields, which the
        # JVM-side Arrow readers reject.
        table = pa.Table.from_pandas(
            pdf, schema=to_arrow_schema(self.schema), preserve_index=False
        )
        yield from table.to_batches(max_chunksize=10_000)


class RunFileStreamReader(DataSourceStreamReader):
    """Continuous ingestion of newly-landed run files.

    Offsets are a lexicographic HIGH-WATER MARK over file paths (files are
    immutable once landed, names monotone per producer). A positional index
    into the re-sorted list would shift when a late file sorts before
    committed ones; with the watermark such a file is deterministically
    ignored, as the file source does for out-of-order landings. Each new
    file is one partition, read by the batch reader's ``read``."""

    def __init__(self, reader_class: type[RunFileReader], schema: StructType, options: dict):
        self.reader = reader_class(schema, options, expand=False)

    def _discover(self) -> list[str]:
        try:
            return sorted(self.reader.discover())
        except ValueError:
            return []  # nothing landed yet

    def initialOffset(self) -> dict:
        return {"watermark": ""}

    def latestOffset(self) -> dict:
        files = self._discover()
        return {"watermark": files[-1] if files else ""}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["watermark"], end["watermark"]
        files = [p for p in self._discover() if lo < p <= hi]
        resolve_parser(self.reader.parser, files, self.reader.locate)
        return [RunFilePartition(p) for p in files]

    def read(self, partition: RunFilePartition):
        return self.reader.read(partition)

    def commit(self, end: dict) -> None:
        pass


class RunFileDataSource(DataSource):
    """``format(name)`` over ``reader_class`` for batch and streaming reads."""

    reader_class: type[RunFileReader]
    source_schema: StructType

    @classmethod
    def name(cls) -> str:
        return cls.reader_class.format_name

    def schema(self) -> StructType:
        return self.source_schema

    def reader(self, schema: StructType) -> RunFileReader:
        return self.reader_class(schema, dict(self.options))

    def streamReader(self, schema: StructType) -> RunFileStreamReader:
        return RunFileStreamReader(self.reader_class, schema, dict(self.options))


def register_source(spark: SparkSession, source: type[DataSource]) -> None:
    # Runtime-settable; without it Spark refuses a reader that implements
    # pushFilters on sessions not built by quantms_utils_spark.session.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(source)
