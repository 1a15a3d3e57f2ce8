from __future__ import annotations

import sys
import zlib
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from quantms_utils_spark.session import get_spark  # noqa: E402
from quantms_utils_spark.sources.idxml import PSM_ID_SCHEMA  # noqa: E402
from quantms_utils_spark.sources.mzml import synthetic_spectra  # noqa: E402
from quantms_utils_spark.sources.mzml_xml import write_mzml  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="quantms-utils-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
            # keep bucketed-table test artifacts out of the repo tree
            "spark.sql.warehouse.dir": "/tmp/quantms-spark-test-warehouse",
        },
    )
    yield spark
    spark.stop()


def write_idxml(path: str, ids: pd.DataFrame) -> str:
    """Write one run's PSM_ID_SCHEMA frame as an OpenMS idXML file.

    Covers what ``sources/idxml.py:_parse_xml_idxml`` reads back: a
    multi-engine frame becomes a ConsensusID run with SE:* search
    parameters, ``is_decoy`` the ``target_decoy`` user param, optional
    q-values ``MS:1001491``, and hit ranks the order of the hits."""
    stem = ids["reference_file_name"].iloc[0]
    engines = list(ids["search_engines"].iloc[0])
    consensus = len(engines) > 1
    accessions = sorted(
        {a for hits in ids["hits"] for h in hits for a in h["protein_accessions"]}
    )
    ref = {a: f"PH_{i}" for i, a in enumerate(accessions)}
    se_params = "".join(
        f'<UserParam type="string" name="SE:{e}" value=""/>\n' for e in engines
    ) if consensus else ""
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>\n<IdXML version="1.5">\n'
        '<SearchParameters id="SP_0" db="db.fasta" mass_type="monoisotopic" '
        f'enzyme="trypsin" missed_cleavages="1">\n{se_params}</SearchParameters>\n'
        '<IdentificationRun date="2024-01-01T00:00:00" search_engine='
        f'"{"ConsensusID" if consensus else engines[0]}" search_parameters_ref="SP_0">\n'
        '<ProteinIdentification score_type="" higher_score_better="true" '
        'significance_threshold="0">\n',
        *(f'<ProteinHit id="{ref[a]}" accession="{a}" score="0"/>\n' for a in accessions),
        f'<UserParam type="stringList" name="spectra_data" value="[{stem}.mzML]"/>\n'
        "</ProteinIdentification>\n",
    ]
    for row in ids.itertuples(index=False):
        out.append(
            f'<PeptideIdentification score_type="{row.score_type}" '
            f'higher_score_better="false" MZ="{row.exp_mass_to_charge!r}" '
            f'RT="{row.retention_time!r}" '
            f'spectrum_reference="{row.spectrum_reference}">\n'
        )
        for h in row.hits:
            params = {
                "target_decoy": "decoy" if h["is_decoy"] else "target",
                "Posterior Error Probability_score": h["posterior_error_probability"],
                "consensus_support": h["consensus_support"],
                "MS:1001491": h["qvalue_meta"],
            }
            out.append(
                f'<PeptideHit score="{h["score"]!r}" sequence="{h["peptidoform"]}" '
                f'charge="{h["charge"]}" '
                f'start="{" ".join(map(str, h["protein_start_positions"]))}" '
                f'end="{" ".join(map(str, h["protein_end_positions"]))}" '
                f'protein_refs="{" ".join(ref[a] for a in h["protein_accessions"])}">\n'
                + "".join(
                    f'<UserParam name="{k}" value="{v}"/>\n'
                    for k, v in params.items()
                    if v is not None
                )
                + "</PeptideHit>\n"
            )
        out.append("</PeptideIdentification>\n")
    out.append("</IdentificationRun>\n</IdXML>\n")
    Path(path).write_text("".join(out))
    return path


_RESIDUES = "ACDEFGHIKLMNPQRSTVWY"


def identifications_for(spectra: pd.DataFrame) -> pd.DataFrame:
    """Deterministic identifications of one generated run, in PSM_ID_SCHEMA
    shape: up to 60, each naming an MS2 scan of ``spectra`` with its rt and
    precursor m/z. Engines and score type vary with the stem (runA is a
    two-engine ConsensusID run, runB single-engine); decoys, meta q-values
    and oxidations vary per hit."""
    stem = spectra["reference_file_name"].iloc[0]
    rng = np.random.RandomState(zlib.crc32(stem.encode()))
    engines = ["Comet"] if rng.rand() < 0.5 else ["MS-GF+", "Comet"]
    multi = len(engines) > 1
    if multi:
        score_type = "q-value" if rng.rand() < 0.7 else "Posterior Error Probability"
    else:
        score_type = "expect"
    ms2 = spectra[spectra["ms_level"] == 2]
    picked = np.sort(rng.choice(len(ms2), min(60, len(ms2)), replace=False))
    rows = []
    for scan, rt, mz in ms2.iloc[picked][["scan", "rt", "precursor_mz"]].itertuples(
        index=False
    ):
        hits = []
        for rank in range(1, int(rng.randint(1, 4)) + 1):
            seq = "".join(_RESIDUES[j] for j in rng.randint(0, 20, int(rng.randint(6, 15))))
            if rng.rand() < 0.3:
                pos = int(rng.randint(1, len(seq)))
                seq = seq[:pos] + "(Oxidation)" + seq[pos:]
            starts = [int(rng.randint(0, 500)) for _ in range(int(rng.randint(1, 3)))]
            hits.append(
                {
                    "peptidoform": seq,
                    "charge": int(rng.randint(1, 5)),
                    "score": float(rng.uniform(0, 1)),
                    "is_decoy": int(rng.rand() < 0.2),
                    "hit_rank": rank,
                    "consensus_support": float(rng.uniform(0, 1)) if multi else None,
                    "qvalue_meta": float(rng.uniform(0, 0.05)) if rng.rand() < 0.5 else None,
                    "posterior_error_probability": float(rng.uniform(0, 1)),
                    "protein_accessions": [f"P{rng.randint(10000, 99999)}" for _ in starts],
                    "protein_start_positions": starts,
                    "protein_end_positions": [s + 10 for s in starts],
                }
            )
        rows.append(
            (stem, f"controllerType=0 controllerNumber=1 scan={scan}", float(rt),
             float(mz), engines, score_type, hits)
        )
    return pd.DataFrame(rows, columns=[f.name for f in PSM_ID_SCHEMA.fields])


class RunFiles:
    """Generated runs on disk, each file written once per session.

    ``mzml(stem, n)`` writes ``synthetic_spectra(stem, n)`` to
    ``<n>/<stem>.mzML``; ``idxml(stem, n)`` writes the identifications of
    that run's MS2 scans to ``<n>/<stem>.idXML``. Both return the path, so
    readers parse real files with ``parser="xml"``."""

    def __init__(self, root: Path):
        self.root = root

    def _path(self, stem: str, n_spectra: int, suffix: str) -> Path:
        d = self.root / str(n_spectra)
        d.mkdir(exist_ok=True)
        return d / f"{stem}{suffix}"

    def identifications(self, stem: str, n_spectra: int = 200) -> pd.DataFrame:
        return identifications_for(synthetic_spectra(stem, n_spectra))

    def mzml(self, stem: str, n_spectra: int = 200) -> str:
        path = self._path(stem, n_spectra, ".mzML")
        if not path.exists():
            write_mzml(str(path), synthetic_spectra(stem, n_spectra),
                       start_time_stamp="2024-01-01T00:00:00")
        return str(path)

    def idxml(self, stem: str, n_spectra: int = 200) -> str:
        path = self._path(stem, n_spectra, ".idXML")
        if not path.exists():
            write_idxml(str(path), self.identifications(stem, n_spectra))
        return str(path)


@pytest.fixture(scope="session")
def run_files(tmp_path_factory) -> RunFiles:
    return RunFiles(tmp_path_factory.mktemp("runfiles"))
