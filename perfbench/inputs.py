"""Seeded input generators and the independent expected values each job's
output is checked against.

Every generator takes the workload seed and writes plain files (mzML, idXML,
parquet, TSV); the program under test only ever sees those files. The
expected values are computed here from the generator's own data, not by the
program, so a job that drops or alters a row fails verification.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. "tiny" is for the benchmark's own tests.
SIZES = {
    "dda_batch": {
        "full": {"runs": 4, "spectra": 250, "id_share": 0.5},
        "tiny": {"runs": 2, "spectra": 80, "id_share": 0.5},
    },
    "dia_msstats": {
        "full": {"rows": 100_000, "runs": 48, "unmatched_runs": 2},
        "tiny": {"rows": 4_000, "runs": 6, "unmatched_runs": 1},
    },
    "corpus_curation": {
        "full": {"docs": 1_000, "exact_dup_share": 0.05, "near_dup_share": 0.05},
        "tiny": {"docs": 300, "exact_dup_share": 0.05, "near_dup_share": 0.05},
    },
}


def row_hash(df: pd.DataFrame) -> str:
    """Order-insensitive content hash: the 64-bit sum of per-row hashes.

    Callers pass frames with identical column order and dtypes (strings as
    ``object``, numbers as ``float64``) on both sides of a comparison."""
    if df.empty:
        return "0"
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return str(int(h.sum(dtype=np.uint64)))


def prepare(workload: str, seed: int, size: str, cache_root: Path) -> tuple[Path, dict]:
    """Generate (or reuse, by seed and size) a workload's inputs.

    Returns the input directory and the expected-values record. The
    directory is complete only once ``expected.json`` exists, so a run that
    was killed mid-write regenerates instead of reusing partial inputs."""
    d = cache_root / f"{workload}-{size}-s{seed}"
    marker = d / "expected.json"
    if marker.exists():
        return d, json.loads(marker.read_text())
    if d.exists():
        shutil.rmtree(d)
    d.mkdir(parents=True)
    params = SIZES[workload][size]
    expected = GENERATORS[workload](d, seed, **params)
    marker.write_text(json.dumps(expected, indent=1))
    _prune(cache_root, workload, keep=d)
    return d, expected


def _prune(cache_root: Path, workload: str, keep: Path, max_sets: int = 4) -> None:
    """Keep only the most recent input sets of a workload on disk."""
    sets = sorted(
        (p for p in cache_root.glob(f"{workload}-*") if p != keep),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for old in sets[max_sets - 1 :]:
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# dda_batch: mzML runs + idXML identifications
# ---------------------------------------------------------------------------

_RESIDUES = np.array(list("ACDEFGHIKLMNPQRSTVWY"))


def _dda(d: Path, seed: int, runs: int, spectra: int, id_share: float) -> dict:
    from quantms_utils_spark.sources.mzml import synthetic_spectra
    from quantms_utils_spark.sources.mzml_xml import write_mzml

    mzml_paths, idxml_paths = [], []
    ms_keys, psm_rows = [], []
    n_ms2 = 0
    for i in range(runs):
        stem = f"s{seed}r{i:02d}"
        spec = synthetic_spectra(stem, spectra)
        mzml = d / f"{stem}.mzML"
        write_mzml(str(mzml), spec, compress=True)
        mzml_paths.append(str(mzml))
        ms_keys.append(spec[["reference_file_name", "scan", "ms_level"]])

        ms2 = spec[spec["ms_level"] == 2]
        n_ms2 += len(ms2)
        rng = np.random.default_rng([seed, i])
        chosen = ms2.iloc[np.flatnonzero(rng.random(len(ms2)) < id_share)]
        idxml = d / f"{stem}.idXML"
        psm_rows += _write_idxml(idxml, stem, chosen, rng)
        idxml_paths.append(str(idxml))

    keys = pd.concat(ms_keys, ignore_index=True)
    psms = pd.DataFrame(psm_rows, columns=list(PSM_KEY_COLUMNS))
    return {
        "mzml": mzml_paths,
        "idxml": idxml_paths,
        "records": int(len(keys)),
        "ms_info_rows": int(len(keys)),
        "ms_info_hash": row_hash(ms_info_key_frame(keys)),
        "ms2_info_rows": int(n_ms2),
        "psm_rows": int(len(psms)),
        "psm_hash": row_hash(psm_key_frame(psms)),
        "bytes_in": int(sum(Path(p).stat().st_size for p in mzml_paths)),
    }


def ms_info_key_frame(df: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "run": df["reference_file_name"].astype(str).to_numpy(dtype=object),
            "scan": df["scan"].astype(str).to_numpy(dtype=object),
            "ms_level": df["ms_level"].astype("float64").to_numpy(),
        }
    )


PSM_KEY_COLUMNS = ("reference_file_name", "scan_number", "peptidoform", "charge",
                   "hit_rank", "num_peaks")


def psm_key_frame(df: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            c: df[c].astype(str).to_numpy(dtype=object)
            if c in ("reference_file_name", "peptidoform")
            else df[c].astype("float64").to_numpy()
            for c in PSM_KEY_COLUMNS
        }
    )


def _write_idxml(path: Path, stem: str, ms2: pd.DataFrame, rng) -> list[tuple]:
    """Write one single-engine (Comet) idXML run for the chosen MS2 spectra.

    Returns the PSM rows ``convert_psms`` must produce for it: one per
    target hit (decoys are not exported), carrying the spectrum's peak
    count from the MS2 join."""
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>\n<IdXML version="1.5">\n'
        '<SearchParameters id="SP_0" db="db.fasta" mass_type="monoisotopic" '
        'enzyme="trypsin" missed_cleavages="1"/>\n'
        '<IdentificationRun date="2024-01-01T00:00:00" search_engine="Comet" '
        'search_engine_version="2023.01" search_parameters_ref="SP_0">\n'
        '<ProteinIdentification score_type="" higher_score_better="true" '
        'significance_threshold="0">\n'
    ]
    n_prot = 50
    for p in range(n_prot):
        out.append(f'<ProteinHit id="PH_{p}" accession="P{10000 + p}" score="0"/>\n')
    out.append(
        f'<UserParam type="stringList" name="spectra_data" value="[{stem}.mzML]"/>\n'
        "</ProteinIdentification>\n"
    )
    rows = []
    for scan, mz, rt, peaks in zip(
        ms2["scan"], ms2["precursor_mz"], ms2["rt"], ms2["mz_array"].map(len)
    ):
        out.append(
            f'<PeptideIdentification score_type="expect" higher_score_better="false" '
            f'MZ="{mz!r}" RT="{rt!r}" '
            f'spectrum_reference="controllerType=0 controllerNumber=1 scan={scan}">\n'
        )
        for rank in range(1, int(rng.integers(1, 4)) + 1):
            seq = "".join(rng.choice(_RESIDUES, int(rng.integers(6, 16))))
            if rng.random() < 0.3:
                pos = int(rng.integers(1, len(seq)))
                seq = seq[:pos] + "(Oxidation)" + seq[pos:]
            charge = int(rng.integers(1, 5))
            decoy = rng.random() < 0.2
            prot = int(rng.integers(0, n_prot))
            start = int(rng.integers(0, 500))
            out.append(
                f'<PeptideHit score="{rng.random()!r}" sequence="{seq}" '
                f'charge="{charge}" start="{start}" end="{start + 10}" '
                f'protein_refs="PH_{prot}">\n'
                f'<UserParam type="string" name="target_decoy" '
                f'value="{"decoy" if decoy else "target"}"/>\n'
                f'<UserParam type="float" name="Posterior Error Probability_score" '
                f'value="{rng.random()!r}"/>\n'
                "</PeptideHit>\n"
            )
            if not decoy:
                rows.append((stem, int(scan), seq, charge, rank, int(peaks)))
        out.append("</PeptideIdentification>\n")
    out.append("</IdentificationRun>\n</IdXML>\n")
    path.write_text("".join(out))
    return rows


# ---------------------------------------------------------------------------
# dia_msstats: DIA-NN parquet report + legacy experimental design
# ---------------------------------------------------------------------------

# Unimod accessions the report uses, with their canonical names. The
# expected PeptideSequence is built from this table, independently of the
# program's own normalizer.
_UNIMOD = {1: "Acetyl", 4: "Carbamidomethyl", 35: "Oxidation", 21: "Phospho"}
MSSTATS_HASH_COLUMNS = (
    "ProteinName", "PeptideSequence", "PrecursorCharge", "Intensity", "Run",
    "Condition", "BioReplicate",
)


def _peptide_pool(rng, n: int) -> tuple[list[str], list[str]]:
    """Raw DIA-NN ``Modified.Sequence`` strings and their MSstats forms."""
    raw, norm = [], []
    for _ in range(n):
        res = list(rng.choice(_RESIDUES, int(rng.integers(7, 20))))
        r_parts, n_parts = [], []
        nterm = rng.random() < 0.1
        for aa in res:
            r_parts.append(aa)
            n_parts.append(aa)
            if aa == "C":
                r_parts.append("(UniMod:4)")
                n_parts.append(f"({_UNIMOD[4]})")
            elif aa == "M" and rng.random() < 0.5:
                r_parts.append("(UniMod:35)")
                n_parts.append(f"({_UNIMOD[35]})")
            elif aa in "STY" and rng.random() < 0.1:
                r_parts.append("(UniMod:21)")
                n_parts.append(f"({_UNIMOD[21]})")
        r, s = "".join(r_parts), "".join(n_parts)
        if nterm:
            r, s = "(UniMod:1)" + r, f".({_UNIMOD[1]})" + s
        if rng.random() < 0.02:
            # the reference strips a literal (SILAC) tag before normalizing
            r = r[:3] + "(SILAC)" + r[3:]
        raw.append(r)
        norm.append(s)
    return raw, norm


def _dia(d: Path, seed: int, rows: int, runs: int, unmatched_runs: int) -> dict:
    rng = np.random.default_rng([seed, 7])
    run_names = [f"s{seed}_dia_{i:02d}" for i in range(runs)]
    raw, norm = _peptide_pool(rng, max(200, rows // 40))
    pep = rng.integers(0, len(raw), rows)
    run_idx = rng.integers(0, runs, rows)
    qval = rng.random(rows) * 0.02
    decoy = (rng.random(rows) < 0.10).astype(np.int64)
    quantity = np.round(rng.lognormal(10.0, 2.0, rows), 2)
    quantity[rng.random(rows) < 0.05] = 0.0
    charge = rng.integers(1, 5, rows)
    protein = np.array([f"PROT{k:05d}" for k in range(max(50, rows // 200))], dtype=object)
    report = pd.DataFrame(
        {
            "File.Name": np.array([f"/data/{r}.mzML" for r in run_names], dtype=object)[run_idx],
            "Run": np.array(run_names, dtype=object)[run_idx],
            "Protein.Group": protein[pep % len(protein)],
            "Protein.Names": protein[pep % len(protein)],
            "Genes": np.array([f"G{k}" for k in range(len(protein))], dtype=object)[pep % len(protein)],
            "Modified.Sequence": np.array(raw, dtype=object)[pep],
            "Stripped.Sequence": np.array(raw, dtype=object)[pep],
            "Precursor.Id": np.array(raw, dtype=object)[pep],
            "Precursor.Charge": charge,
            "Q.Value": qval,
            "PEP": rng.random(rows),
            "Global.Q.Value": qval,
            "Precursor.Quantity": quantity,
            "Precursor.Normalised": quantity,
            "RT": rng.random(rows) * 120.0,
            "Decoy": decoy,
        }
    )
    report_path = d / "report.parquet"
    pq.write_table(pa.Table.from_pandas(report, preserve_index=False), report_path,
                   row_group_size=131_072)

    # Legacy two-table design; the last ``unmatched_runs`` runs are absent,
    # so their rows exercise the warn-and-drop branch.
    designed = run_names[: runs - unmatched_runs]
    frac = ["Fraction_Group\tFraction\tSpectra_Filepath\tLabel\tSample"]
    samples = ["Sample\tMSstats_Condition\tMSstats_BioReplicate"]
    cond, biorep = {}, {}
    for k, r in enumerate(designed, start=1):
        frac.append(f"{k}\t1\t/data/{r}.mzML\t1\t{k}")
        cond[r], biorep[r] = f"cond{k % 4}", str(k)
        samples.append(f"{k}\t{cond[r]}\t{biorep[r]}")
    design_path = d / "design.tsv"
    design_path.write_text("\n".join(frac) + "\n\n" + "\n".join(samples) + "\n")

    keep = (
        (qval < 0.01) & (decoy != 1) & (quantity != 0)
        & np.isin(run_idx, np.arange(runs - unmatched_runs))
    )
    kept_runs = np.array(run_names, dtype=object)[run_idx[keep]]
    exp = pd.DataFrame(
        {
            "ProteinName": protein[pep[keep] % len(protein)],
            "PeptideSequence": np.array(norm, dtype=object)[pep[keep]],
            "PrecursorCharge": charge[keep].astype("float64"),
            "Intensity": quantity[keep],
            "Run": kept_runs,
            "Condition": pd.Series(kept_runs).map(cond).to_numpy(dtype=object),
            "BioReplicate": pd.Series(kept_runs).map(biorep).to_numpy(dtype=object),
        }
    )
    return {
        "report": str(report_path),
        "design": str(design_path),
        "records": int(rows),
        "msstats_rows": int(keep.sum()),
        "msstats_hash": row_hash(exp),
        "bytes_in": int(report_path.stat().st_size),
    }


# ---------------------------------------------------------------------------
# corpus_curation: documents corpus with exact and near duplicates
# ---------------------------------------------------------------------------

# The vocabulary, length range (10-100 tokens) and 20 equal sources follow
# the shape of the engine's documents test table.
_VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split(),
    dtype=object,
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"], dtype=object)


def _corpus(d: Path, seed: int, docs: int, exact_dup_share: float,
            near_dup_share: float) -> dict:
    rng = np.random.default_rng([seed, 11])
    texts = []
    n_exact = int(docs * exact_dup_share)
    n_near = int(docs * near_dup_share)
    n_unique = docs - n_exact - n_near
    for _ in range(n_unique):
        texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))))
    for _ in range(n_exact):
        # same content after case and whitespace normalization
        src = texts[int(rng.integers(0, n_unique))]
        texts.append(src.upper() if rng.random() < 0.5 else src.replace(" ", "  ", 3))
    for _ in range(n_near):
        words = texts[int(rng.integers(0, n_unique))].split()
        k = int(rng.integers(0, len(words)))
        words[k] = str(rng.choice(_VOCAB))
        texts.append(" ".join(words))
    order = rng.permutation(docs)
    frame = pd.DataFrame(
        {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": np.array(texts, dtype=object)[order],
            "lang": rng.choice(_LANGS, docs),
            "source": np.array([f"src{k % 20}" for k in range(docs)], dtype=object),
        }
    )
    path = d / "documents.parquet"
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
    return {
        "documents": str(path),
        "records": int(docs),
        "exact_dups": n_exact,
        "near_dups": n_near,
        "bytes_in": int(path.stat().st_size),
    }


GENERATORS = {"dda_batch": _dda, "dia_msstats": _dia, "corpus_curation": _corpus}
