"""Distributed idXML PSM ingestion (SURVEY §2.1 S3, §2.10 U4).

One idXML file (= one search run) per partition, parsed inside mapInPandas to
*nested* PSM rows: a peptide identification carries an array of hits, each
hit an array of protein evidences. The relational explode happens downstream
in pipelines/psm.py — so the parser yields data in the shape the file has,
and Catalyst handles the flattening.

Backends mirror sources/mzml.py: ``pyopenms`` (real IdXMLFile parsing,
reference psm_conversion.py:87-93) gated behind import; ``xml`` (pure-Python
parser of the public OpenMS idXML format — real file bytes, no C++).
``auto`` = pyopenms when importable, else xml; a missing file raises
ValueError on the driver. Resolution, stems and the per-file plumbing are
shared with the mzML reader (``sources/runfiles.py``).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from quantms_utils_spark.sources.runfiles import (
    map_run_files,
    resolve_parser,
    run_stem,
)

HIT_SCHEMA = StructType(
    [
        StructField("peptidoform", StringType(), True),
        StructField("charge", IntegerType(), True),
        StructField("score", DoubleType(), True),
        StructField("is_decoy", IntegerType(), True),
        StructField("hit_rank", IntegerType(), True),
        StructField("consensus_support", DoubleType(), True),
        StructField("qvalue_meta", DoubleType(), True),
        StructField("posterior_error_probability", DoubleType(), True),
        StructField("protein_accessions", ArrayType(StringType()), True),
        StructField("protein_start_positions", ArrayType(IntegerType()), True),
        StructField("protein_end_positions", ArrayType(IntegerType()), True),
    ]
)

PSM_ID_SCHEMA = StructType(
    [
        StructField("reference_file_name", StringType(), False),
        StructField("spectrum_reference", StringType(), True),
        StructField("retention_time", DoubleType(), True),
        StructField("exp_mass_to_charge", DoubleType(), True),
        StructField("search_engines", ArrayType(StringType()), True),
        StructField("score_type", StringType(), True),
        StructField("hits", ArrayType(HIT_SCHEMA), True),
    ]
)


def read_identifications(
    spark: SparkSession,
    paths: Sequence[str],
    parser: str = "auto",
) -> DataFrame:
    """Nested identifications DataFrame; one partition per idXML file."""
    parse_file = partial(parse_idxml_file, parser=resolve_parser(parser, paths))
    return map_run_files(
        spark, paths, parse_file, PSM_ID_SCHEMA, "read_identifications"
    )


def parse_idxml_file(path: str, parser: str) -> pd.DataFrame:
    """One idXML file as a PSM_ID_SCHEMA frame; ``parser`` is a value
    returned by ``resolve_parser``. Shared by ``read_identifications`` and
    ``format("idxml")``."""
    if parser == "xml":
        return _parse_xml_idxml(path)
    return _parse_pyopenms_idxml(path)  # pragma: no cover - needs pyopenms


def _parse_xml_idxml(path: str) -> pd.DataFrame:
    """Pure-Python parse of the public OpenMS idXML format.

    Produces the same nested frame as ``_parse_pyopenms_idxml`` (reference
    psm_conversion.py:87-108): engine detection from the ConsensusID
    SearchParameters SE:* user params, run stem from the spectra_data
    protein-identification param, one row per PeptideIdentification with its
    hits nested. Hit rank is the 1-based position in file order (idXML does
    not store ranks; OpenMS keeps hits sorted best-first).

    Memory profile: a full-document parse (idXML's SearchParameters come
    before the runs that reference them, and files are identification
    lists, typically MBs — not the multi-GB peak data mzML holds, which is
    why the mzML twin streams via iterparse and this one deliberately does
    not). The expat interpreter in `tests/test_independent_parity_idxml.py`
    is the producer-independent cross-check.
    """
    from xml.etree.ElementTree import parse as etree_parse

    root = etree_parse(path).getroot()

    # SearchParameters id -> set of UserParam names (for SE:* detection)
    search_params: dict[str, set[str]] = {}
    for sp in root.iter("SearchParameters"):
        search_params[sp.get("id", "")] = {
            up.get("name", "") for up in sp if up.tag == "UserParam"
        }

    prot_elems = list(root.iter("ProteinIdentification"))
    if not prot_elems:
        raise ValueError(f"No protein identification entries found in {path}")

    rows = []
    for run in root.iter("IdentificationRun"):
        engine = run.get("search_engine", "")
        params = search_params.get(run.get("search_parameters_ref", ""), set())
        if "ConsensusID" in engine:
            engines = [
                e
                for e, key in (
                    ("MS-GF+", "SE:MS-GF+"),
                    ("Comet", "SE:Comet"),
                    ("Sage", "SE:Sage"),
                )
                if key in params
            ]
        else:
            engines = [engine]

        prot = run.find("ProteinIdentification")
        if prot is None:
            continue
        # accession lookup for PeptideHit protein_refs
        accession = {
            ph.get("id", ""): ph.get("accession", "")
            for ph in prot.iter("ProteinHit")
        }
        spectra_data = None
        for up in prot.iter("UserParam"):
            if up.get("name") == "spectra_data":
                spectra_data = up.get("value", "").strip("[]").split(",")[0].strip()
        if spectra_data is None:
            raise ValueError(f"No spectra_data entry found in {path}")
        ref = run_stem(spectra_data)

        for pid in run.iter("PeptideIdentification"):
            hits = []
            for rank, hit in enumerate(pid.iter("PeptideHit"), start=1):
                meta = {
                    up.get("name"): up.get("value")
                    for up in hit.iter("UserParam")
                }
                refs = (hit.get("protein_refs") or "").split()
                starts = [int(v) for v in (hit.get("start") or "").split()]
                ends = [int(v) for v in (hit.get("end") or "").split()]
                qvalue = meta.get("MS:1001491", meta.get("q-value"))
                pep = meta.get("Posterior Error Probability_score")
                support = meta.get("consensus_support")
                hits.append(
                    {
                        "peptidoform": hit.get("sequence"),
                        "charge": int(hit.get("charge", "0")),
                        "score": float(hit.get("score", "nan")),
                        "is_decoy": 0 if meta.get("target_decoy") == "target" else 1,
                        "hit_rank": rank,
                        "consensus_support": float(support)
                        if support is not None
                        else None,
                        "qvalue_meta": float(qvalue) if qvalue is not None else None,
                        "posterior_error_probability": float(pep)
                        if pep is not None
                        else None,
                        "protein_accessions": [accession.get(r, r) for r in refs],
                        "protein_start_positions": starts,
                        "protein_end_positions": ends,
                    }
                )
            rows.append(
                (
                    ref,
                    pid.get("spectrum_reference"),
                    float(pid.get("RT", "nan")),
                    float(pid.get("MZ", "nan")),
                    engines,
                    pid.get("score_type"),
                    hits,
                )
            )
    return pd.DataFrame(rows, columns=[f.name for f in PSM_ID_SCHEMA.fields])


def _parse_pyopenms_idxml(path: str) -> pd.DataFrame:  # pragma: no cover
    """Real idXML parse (reference psm_conversion.py:87-108)."""
    import pyopenms as oms

    prot_ids = []
    pep_ids = []
    oms.IdXMLFile().load(path, prot_ids, pep_ids)
    if not prot_ids:
        raise ValueError(f"No protein identification entries found in {path}")
    params = prot_ids[0].getSearchParameters()
    if "ConsensusID" in prot_ids[0].getSearchEngine():
        engines = [
            e
            for e, key in (("MS-GF+", "SE:MS-GF+"), ("Comet", "SE:Comet"), ("Sage", "SE:Sage"))
            if params.metaValueExists(key)
        ]
    else:
        engines = [prot_ids[0].getSearchEngine()]
    spectra_path = prot_ids[0].getMetaValue("spectra_data")[0].decode("UTF-8")
    ref = run_stem(spectra_path)
    rows = []
    for pid in pep_ids:
        hits = []
        for hit in pid.getHits():
            evs = hit.getPeptideEvidences()
            hits.append(
                {
                    "peptidoform": hit.getSequence().toString(),
                    "charge": hit.getCharge(),
                    "score": float(hit.getScore()),
                    "is_decoy": 0 if hit.getMetaValue("target_decoy") == "target" else 1,
                    "hit_rank": hit.getRank(),
                    "consensus_support": hit.getMetaValue("consensus_support"),
                    "qvalue_meta": hit.getMetaValue("MS:1001491")
                    if hit.metaValueExists("MS:1001491")
                    else (hit.getMetaValue("q-value") if hit.metaValueExists("q-value") else None),
                    "posterior_error_probability": hit.getMetaValue(
                        "Posterior Error Probability_score"
                    ),
                    "protein_accessions": [e.getProteinAccession() for e in evs],
                    "protein_start_positions": [e.getStart() for e in evs],
                    "protein_end_positions": [e.getEnd() for e in evs],
                }
            )
        rows.append(
            (
                ref,
                pid.getMetaValue("spectrum_reference"),
                float(pid.getRT()),
                float(pid.getMZ()),
                engines,
                pid.getScoreType(),
                hits,
            )
        )
    return pd.DataFrame(rows, columns=[f.name for f in PSM_ID_SCHEMA.fields])
