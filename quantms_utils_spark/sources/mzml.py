"""Distributed mzML spectrum ingestion (SURVEY §2.1 S1/S2, §3.1).

Architecture: one input *file/run* is the unit of parallelism (the reference
is a single-process loop over one file, mzml_statistics.py:399-400; a 100 TB
corpus is tens of thousands of runs). Paths are distributed one-per-partition
and parsed inside ``mapInPandas`` — Arrow-batched, bounded memory per task —
yielding a row-per-spectrum DataFrame with peak arrays, carrying a
monotonically increasing ``spectrum_index`` so document order (SURVEY O2)
survives distribution.

Parser backends:
- ``pyopenms``: real mzML parsing (MzMLFile/MSExperiment, C++), used when the
  library is importable. MS-level pushdown maps to PeakFileOptions
  (reference ms1_feature_finder.py:51-52).
- ``xml``: pure-Python streaming parser of the public HUPO-PSI mzML XML
  format (sources/mzml_xml.py) — parses REAL file bytes (base64 + zlib peak
  arrays) with no C++ dependency. MS-level pushdown skips binary decode.
- ``synthetic``: a deterministic generator seeded by the file stem — NOT a
  parser. It exists so the distributed plumbing (partitioning, ordering,
  as-of windows, joins against PSMs of the same stem) is fully testable
  without any input files. Clearly marked; never silently substituted.

``auto`` resolves to pyopenms when importable, else ``xml``; a path that
does not resolve to an mzML file raises ValueError on the driver
(``sources/runfiles.py`` holds the resolution, stem and plumbing shared with
the idXML reader and both DataSources).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from quantms_utils_spark.sources.runfiles import (  # noqa: F401 - HAVE_PYOPENMS re-exported
    HAVE_PYOPENMS,
    map_run_files,
    resolve_parser,
    run_stem,
    stem_seed,
)

SPECTRUM_SCHEMA = StructType(
    [
        StructField("reference_file_name", StringType(), False),
        StructField("spectrum_index", LongType(), False),
        StructField("scan", StringType(), True),
        StructField("ms_level", IntegerType(), True),
        StructField("rt", DoubleType(), True),
        StructField("mz_array", ArrayType(DoubleType()), True),
        StructField("intensity_array", ArrayType(DoubleType()), True),
        StructField("precursor_charge", IntegerType(), True),
        StructField("precursor_mz", DoubleType(), True),
        StructField("precursor_intensity", DoubleType(), True),
        StructField("acquisition_datetime", StringType(), True),
    ]
)

VALID_SUFFIXES = (".mzml", ".mzml.gz")


def resolve_ms_path(path: str) -> str:
    """File-path resolution with suffix whitelist (reference
    mzml_statistics.py:412-448,488-489): exact path, else glob on the stem."""
    p = Path(path)
    if p.exists():
        if not p.name.lower().endswith(VALID_SUFFIXES):
            raise ValueError(f"Unsupported file type: {p.name}")
        return str(p)
    candidates = [
        c
        for c in p.parent.glob(p.stem + ".*")
        if c.name.lower().endswith(VALID_SUFFIXES)
    ]
    if len(candidates) != 1:
        raise ValueError(
            f"Could not resolve a unique mzML file for {path!r}; found {candidates}"
        )
    return str(candidates[0])


def synthetic_spectra(stem: str, n_spectra: int = 200) -> pd.DataFrame:
    """Deterministic fake run: rt strictly increasing, MS1/MS2 interleaved
    (each MS2's precursor is drawn from the preceding MS1's peaks), peak
    arrays sorted ascending with values > 1.0."""
    rng = np.random.RandomState(stem_seed(stem))
    rows = []
    rt = 0.0
    last_ms1_peaks: tuple[np.ndarray, np.ndarray] | None = None
    acq = "2024-01-01T00:00:00"
    for i in range(n_spectra):
        rt += float(rng.uniform(0.5, 2.0))
        is_ms1 = i % 4 == 0 or last_ms1_peaks is None
        n_peaks = int(rng.randint(5, 60))
        mz = np.sort(rng.uniform(100.0, 1500.0, n_peaks))
        inten = rng.exponential(1e4, n_peaks) + 1.0
        if is_ms1:
            rows.append(
                (stem, i, str(1000 + i), 1, round(rt, 4), mz.tolist(),
                 inten.tolist(), None, None, None, acq)
            )
            last_ms1_peaks = (mz, inten)
        else:
            pick = int(rng.randint(0, len(last_ms1_peaks[0])))
            rows.append(
                (stem, i, str(1000 + i), 2, round(rt, 4), mz.tolist(),
                 inten.tolist(), int(rng.randint(1, 6)),
                 float(last_ms1_peaks[0][pick]),
                 float(last_ms1_peaks[1][pick]), acq)
            )
    return pd.DataFrame(rows, columns=[f.name for f in SPECTRUM_SCHEMA.fields])


def _parse_pyopenms(path: str, ms_levels: Sequence[int] | None) -> pd.DataFrame:
    """Real mzML parse (reference mzml_statistics.py:376-400); ms_levels is
    pushed into the reader options (S2)."""  # pragma: no cover - needs pyopenms
    from pyopenms import MSExperiment, MzMLFile, PeakFileOptions

    mzml = MzMLFile()
    if ms_levels:
        opts = PeakFileOptions()
        opts.setMSLevels(list(ms_levels))
        mzml.setOptions(opts)
    exp = MSExperiment()
    mzml.load(path, exp)
    stem = run_stem(path)
    acq = exp.getDateTime().get() if exp.getDateTime() else None
    rows = []
    for i, spec in enumerate(exp):
        mz, inten = spec.get_peaks()
        precursors = spec.getPrecursors()
        prec = precursors[0] if precursors else None
        rows.append(
            (
                stem,
                i,
                _scan_from_native_id(spec.getNativeID(), i),
                int(spec.getMSLevel()),
                float(spec.getRT()),
                mz.astype(float).tolist(),
                inten.astype(float).tolist(),
                int(prec.getCharge()) if prec and prec.getCharge() else None,
                float(prec.getMZ()) if prec else None,
                float(prec.getIntensity()) if prec else None,
                acq,
            )
        )
    return pd.DataFrame(rows, columns=[f.name for f in SPECTRUM_SCHEMA.fields])


def _scan_from_native_id(native_id: str, index: int) -> str:
    import re

    m = re.search(r"(?:spectrum|scan)=(\d+)", native_id or "")
    return m.group(1) if m else (native_id or str(index))


def parse_mzml_file(
    path: str,
    parser: str,
    ms_levels: Sequence[int] | None = None,
    n_synthetic: int = 200,
) -> pd.DataFrame:
    """One run as a SPECTRUM_SCHEMA frame, restricted to ``ms_levels`` when
    given; ``parser`` is a value returned by ``resolve_parser``. Shared by
    ``read_spectra`` and ``format("mzml")``."""
    if parser == "synthetic":
        out = synthetic_spectra(run_stem(path), n_synthetic)
    elif parser == "xml":
        from quantms_utils_spark.sources.mzml_xml import parse_mzml_xml

        out = parse_mzml_xml(resolve_ms_path(path), ms_levels)
    else:  # pragma: no cover - needs pyopenms
        out = _parse_pyopenms(resolve_ms_path(path), ms_levels)
    if ms_levels is not None:
        out = out[out["ms_level"].isin(ms_levels)]
    return out


def read_spectra(
    spark: SparkSession,
    paths: Sequence[str],
    ms_levels: Sequence[int] | None = None,
    parser: str = "auto",
    synthetic_spectra_per_file: int = 200,
) -> DataFrame:
    """Spectra DataFrame over many runs; one partition per file."""
    parse_file = partial(
        parse_mzml_file,
        parser=resolve_parser(parser, paths, resolve_ms_path),
        ms_levels=list(ms_levels) if ms_levels else None,
        n_synthetic=synthetic_spectra_per_file,
    )
    return map_run_files(spark, paths, parse_file, SPECTRUM_SCHEMA, "read_spectra")
