"""Pure-Python mzML parser backend (no pyopenms).

mzML is the public HUPO-PSI XML interchange format for mass spectra; this
module parses *real file bytes* with ``xml.etree.ElementTree.iterparse`` so
the engine reads its native format even where the C++ stack (pyopenms) is
unavailable. Output matches ``sources.mzml.SPECTRUM_SCHEMA`` row for row
with what ``_parse_pyopenms`` produces (reference parity target:
quantmsutils/mzml/mzml_statistics.py:376-400).

Design notes:
- **Streaming**: iterparse + element clearing → memory is bounded by one
  spectrum, not the file; a multi-GB run parses in a fixed footprint inside
  one Spark task.
- **MS-level pushdown** (SURVEY S2): spectra outside ``ms_levels`` are
  dropped *before* their binary arrays are base64-decoded — the decode is
  the dominant cost, so pushdown saves real work, exactly like
  PeakFileOptions.setMSLevels in the C++ reader.
- Binary arrays: base64 → optional zlib → IEEE float32/float64 little-endian
  per the cvParams, or MS-Numpress (linear / pic / slof, plus the
  "followed by zlib" combinations) via the pure-Python codecs in
  ``sources.numpress`` — vendor-converted real-world mzML commonly ships
  numpress-compressed arrays.
- ``.gz`` runs stream through ``gzip.open``.

CV accessions used (PSI-MS controlled vocabulary):
  MS:1000511 ms level              MS:1000016 scan start time
  MS:1000744 selected ion m/z      MS:1000041 charge state
  MS:1000042 peak intensity        MS:1000514 m/z array
  MS:1000515 intensity array       MS:1000523 64-bit float
  MS:1000521 32-bit float          MS:1000574 zlib compression
  MS:1000576 no compression        UO:0000031 minute (rt unit)
"""

from __future__ import annotations

import base64
import gzip
import zlib
from collections.abc import Sequence
from pathlib import Path
from xml.etree.ElementTree import iterparse

import numpy as np
import pandas as pd

from quantms_utils_spark.sources.runfiles import run_stem

# numpress scheme by accession: plain, and "followed by zlib" combos
_NUMPRESS_ACCESSIONS = {
    "MS:1002312": ("linear", False),
    "MS:1002313": ("pic", False),
    "MS:1002314": ("slof", False),
    "MS:1002746": ("linear", True),
    "MS:1002747": ("pic", True),
    "MS:1002748": ("slof", True),
}


def _local(tag: str) -> str:
    """Strip the XML namespace: '{http://...}spectrum' -> 'spectrum'."""
    return tag.rsplit("}", 1)[-1]


def _cv(elem) -> dict[str, tuple[str, str]]:
    """Direct-child cvParams of ``elem``: accession -> (value, unitAccession)."""
    out = {}
    for child in elem:
        if _local(child.tag) == "cvParam":
            out[child.get("accession")] = (
                child.get("value", ""),
                child.get("unitAccession", ""),
            )
    return out


def _decode_binary(bda_elem) -> tuple[str | None, np.ndarray]:
    """One <binaryDataArray> -> (kind, float64 ndarray) where kind is
    'mz' | 'intensity' | None (other array types are ignored)."""
    params: dict[str, tuple[str, str]] = {}
    b64_text = ""
    for child in bda_elem.iter():
        tag = _local(child.tag)
        if tag == "cvParam":
            params[child.get("accession")] = (
                child.get("value", ""),
                child.get("unitAccession", ""),
            )
        elif tag == "binary":
            b64_text = child.text or ""

    kind = (
        "mz"
        if "MS:1000514" in params
        else "intensity"
        if "MS:1000515" in params
        else None
    )
    if kind is None:
        return None, np.empty(0)

    raw = base64.b64decode(b64_text.encode("ascii")) if b64_text else b""
    numpress = sorted(_NUMPRESS_ACCESSIONS.keys() & params.keys())
    if numpress:
        from quantms_utils_spark.sources import numpress as np_codec

        scheme, zlib_after = _NUMPRESS_ACCESSIONS[numpress[0]]
        if zlib_after or "MS:1000574" in params:
            raw = zlib.decompress(raw)
        decode = {
            "linear": np_codec.decode_linear,
            "pic": np_codec.decode_pic,
            "slof": np_codec.decode_slof,
        }[scheme]
        return kind, decode(raw)
    if "MS:1000574" in params:  # zlib
        raw = zlib.decompress(raw)
    dtype = np.float32 if "MS:1000521" in params else np.float64
    return kind, np.frombuffer(raw, dtype="<" + np.dtype(dtype).char).astype(
        np.float64
    )


def _rt_seconds(value: str, unit_accession: str) -> float:
    rt = float(value)
    return rt * 60.0 if unit_accession == "UO:0000031" else rt


def parse_mzml_xml(
    path: str, ms_levels: Sequence[int] | None = None
) -> pd.DataFrame:
    """Parse one mzML (or mzML.gz) run into the SPECTRUM_SCHEMA frame."""
    from quantms_utils_spark.sources.mzml import (
        SPECTRUM_SCHEMA,
        _scan_from_native_id,
    )

    wanted = set(int(v) for v in ms_levels) if ms_levels else None
    stem = run_stem(path)
    opener = gzip.open if path.lower().endswith(".gz") else open
    rows = []
    acq: str | None = None

    with opener(path, "rb") as fh:
        # 'start' events are used for <run> (startTimeStamp before any
        # spectrum closes) and to capture <spectrumList>; everything else is
        # handled on element close. Round 10 review: elem.clear() empties a
        # processed spectrum, but the cleared husk stayed referenced in the
        # spectrumList's child list, so memory grew with TOTAL spectrum
        # count — clearing the captured spectrumList between spectra (the
        # iterparse ancestor-clear idiom; the parser's internal stack keeps
        # the open element alive) makes the footprint truly bounded by one
        # spectrum, as the module contract claims.
        slist = None
        for event, elem in iterparse(fh, events=("start", "end")):
            tag = _local(elem.tag)
            if event == "start":
                if tag == "spectrumList":
                    slist = elem
                elif tag == "run" and elem.get("startTimeStamp"):
                    acq = elem.get("startTimeStamp")
                continue
            if tag != "spectrum":
                continue

            params = _cv(elem)
            ms_level = (
                int(params["MS:1000511"][0]) if "MS:1000511" in params else None
            )
            if wanted is not None and ms_level not in wanted:
                elem.clear()  # skip BEFORE touching the binary payloads
                if slist is not None:
                    slist.clear()  # drop the cleared husk from the child list
                continue

            native_id = elem.get("id", "")
            index = int(elem.get("index", len(rows)))

            rt = None
            prec_mz = prec_charge = prec_inten = None
            mz_arr: np.ndarray | None = None
            inten_arr: np.ndarray | None = None
            for sub in elem.iter():
                sub_tag = _local(sub.tag)
                if sub_tag == "scan":
                    scan_params = _cv(sub)
                    if "MS:1000016" in scan_params:
                        rt = _rt_seconds(*scan_params["MS:1000016"])
                elif sub_tag == "selectedIon":
                    ion = _cv(sub)
                    if "MS:1000744" in ion:
                        prec_mz = float(ion["MS:1000744"][0])
                    if "MS:1000041" in ion and ion["MS:1000041"][0]:
                        prec_charge = int(ion["MS:1000041"][0])
                    if "MS:1000042" in ion and ion["MS:1000042"][0]:
                        prec_inten = float(ion["MS:1000042"][0])
                elif sub_tag == "binaryDataArray":
                    kind, arr = _decode_binary(sub)
                    if kind == "mz":
                        mz_arr = arr
                    elif kind == "intensity":
                        inten_arr = arr

            rows.append(
                (
                    stem,
                    index,
                    _scan_from_native_id(native_id, index),
                    ms_level,
                    float(rt) if rt is not None else None,
                    mz_arr.tolist() if mz_arr is not None else [],
                    inten_arr.tolist() if inten_arr is not None else [],
                    prec_charge,
                    prec_mz,
                    prec_inten,
                    acq,
                )
            )
            elem.clear()
            if slist is not None:
                slist.clear()  # drop the cleared husk from the child list

    return pd.DataFrame(rows, columns=[f.name for f in SPECTRUM_SCHEMA.fields])


# ---------------------------------------------------------------------------
# Minimal mzML writer — test-fixture generation only (round-trip testing and
# golden-file creation). Not a general-purpose exporter.
# ---------------------------------------------------------------------------

_NUMPRESS_PLAIN = {
    "linear": ("MS:1002312", "MS-Numpress linear prediction compression"),
    "pic": ("MS:1002313", "MS-Numpress positive integer compression"),
    "slof": ("MS:1002314", "MS-Numpress short logged float compression"),
}
_NUMPRESS_ZLIB = {
    "linear": ("MS:1002746", "MS-Numpress linear prediction compression followed by zlib compression"),
    "pic": ("MS:1002747", "MS-Numpress positive integer compression followed by zlib compression"),
    "slof": ("MS:1002748", "MS-Numpress short logged float compression followed by zlib compression"),
}


def write_mzml(
    path: str,
    spectra: pd.DataFrame,
    compress: bool = True,
    dtype: str = "f8",
    start_time_stamp: str | None = None,
    numpress_mz: str | None = None,
    numpress_intensity: str | None = None,
) -> str:
    """Write SPECTRUM_SCHEMA-shaped rows as a standards-shaped mzML file.

    ``numpress_mz`` / ``numpress_intensity`` select an MS-Numpress scheme
    ('linear' / 'pic' / 'slof') for the respective array; with ``compress``
    the "followed by zlib" combined accession is emitted."""
    import io

    from quantms_utils_spark.sources import numpress as np_codec

    def encode(arr, accession_name, numpress=None):
        a = np.asarray(arr, dtype=np.float64)
        if numpress:
            payload = {
                "linear": np_codec.encode_linear,
                "pic": np_codec.encode_pic,
                "slof": np_codec.encode_slof,
            }[numpress](a)
            if compress:
                payload = zlib.compress(payload)
                acc, name = _NUMPRESS_ZLIB[numpress]
            else:
                acc, name = _NUMPRESS_PLAIN[numpress]
            fmt = f'<cvParam cvRef="MS" accession="{acc}" name="{name}"/>'
            comp = ""
        elif dtype == "f4":
            payload = a.astype("<f4").tobytes()
            fmt = '<cvParam cvRef="MS" accession="MS:1000521" name="32-bit float"/>'
        else:
            payload = a.astype("<f8").tobytes()
            fmt = '<cvParam cvRef="MS" accession="MS:1000523" name="64-bit float"/>'
        if not numpress:
            if compress:
                payload = zlib.compress(payload)
                comp = '<cvParam cvRef="MS" accession="MS:1000574" name="zlib compression"/>'
            else:
                comp = '<cvParam cvRef="MS" accession="MS:1000576" name="no compression"/>'
        b64 = base64.b64encode(payload).decode("ascii")
        return (
            f'<binaryDataArray encodedLength="{len(b64)}">{fmt}{comp}'
            f"{accession_name}<binary>{b64}</binary></binaryDataArray>"
        )

    buf = io.StringIO()
    buf.write('<?xml version="1.0" encoding="utf-8"?>\n')
    buf.write(
        '<mzML xmlns="http://psi.hupo.org/ms/mzml" version="1.1.0">\n'
    )
    stamp = f' startTimeStamp="{start_time_stamp}"' if start_time_stamp else ""
    buf.write(f'<run id="run"{stamp}>\n')
    buf.write(f'<spectrumList count="{len(spectra)}">\n')
    for _, r in spectra.iterrows():
        scan_id = (
            f"controllerType=0 controllerNumber=1 scan={r['scan']}"
            if str(r["scan"]).isdigit()
            else r["scan"]
        )
        buf.write(
            f'<spectrum index="{int(r["spectrum_index"])}" id="{scan_id}" '
            f'defaultArrayLength="{len(r["mz_array"])}">\n'
        )
        buf.write(
            f'<cvParam cvRef="MS" accession="MS:1000511" name="ms level" '
            f'value="{int(r["ms_level"])}"/>\n'
        )
        # rt written in MINUTES to exercise unit conversion
        buf.write(
            '<scanList count="1"><scan>'
            f'<cvParam cvRef="MS" accession="MS:1000016" name="scan start time" '
            f'value="{float(r["rt"]) / 60.0!r}" unitCvRef="UO" '
            'unitAccession="UO:0000031" unitName="minute"/>'
            "</scan></scanList>\n"
        )
        if r["precursor_mz"] is not None and not pd.isna(r["precursor_mz"]):
            charge = (
                f'<cvParam cvRef="MS" accession="MS:1000041" name="charge state" '
                f'value="{int(r["precursor_charge"])}"/>'
                if r["precursor_charge"] is not None
                and not pd.isna(r["precursor_charge"])
                else ""
            )
            inten = (
                f'<cvParam cvRef="MS" accession="MS:1000042" name="peak intensity" '
                f'value="{float(r["precursor_intensity"])!r}"/>'
                if r["precursor_intensity"] is not None
                and not pd.isna(r["precursor_intensity"])
                else ""
            )
            buf.write(
                "<precursorList count=\"1\"><precursor><selectedIonList count=\"1\">"
                "<selectedIon>"
                f'<cvParam cvRef="MS" accession="MS:1000744" name="selected ion m/z" '
                f'value="{float(r["precursor_mz"])!r}"/>'
                f"{charge}{inten}"
                "</selectedIon></selectedIonList></precursor></precursorList>\n"
            )
        buf.write('<binaryDataArrayList count="2">')
        buf.write(
            encode(
                r["mz_array"],
                '<cvParam cvRef="MS" accession="MS:1000514" name="m/z array"/>',
                numpress=numpress_mz,
            )
        )
        buf.write(
            encode(
                r["intensity_array"],
                '<cvParam cvRef="MS" accession="MS:1000515" name="intensity array"/>',
                numpress=numpress_intensity,
            )
        )
        buf.write("</binaryDataArrayList>\n</spectrum>\n")
    buf.write("</spectrumList>\n</run>\n</mzML>\n")

    data = buf.getvalue().encode("utf-8")
    if str(path).lower().endswith(".gz"):
        with gzip.open(path, "wb") as fh:
            fh.write(data)
    else:
        Path(path).write_bytes(data)
    return str(path)
