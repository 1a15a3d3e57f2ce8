"""The benchmark's jobs: one untraced job per workload, the same job split
into traced calls per layer, and the check of each job's output.

Every job reads only the generated input files and writes its outputs
under ``out``; the caller deletes ``out`` between jobs.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

from inputs import MSSTATS_HASH_COLUMNS, PSM_KEY_COLUMNS, ms_info_key_frame, psm_key_frame, row_hash
from harness import metric_count

RUN = "reference_file_name"
# Feature detection in dda_batch uses the seed-based finder, the path that
# runs the feature-to-scan range join. The mass-trace finder costs about
# 11 s per job on top (about 20 s in a fresh JVM) whatever the input size,
# which does not fit a run; the traced run measures it on the same spectra.
DDA_FEATURE_METHOD = "seed"
# curate_corpus' own defaults, repeated for the operator calls of the
# traced corpus_curation job.
CURATION = {"n_hashes": 8, "band_size": 2, "shingle_n": 3, "decontam_ngram": 5,
            "token_budget": 300, "hash_family": "xxhash64"}


class VerificationError(AssertionError):
    pass


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise VerificationError(msg)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


class Workload:
    """One workload's inputs, jobs and output checks."""

    name = ""

    def __init__(self, spark, expected: dict):
        self.spark = spark
        self.expected = expected
        self.records = expected["records"]
        # Outputs the generator cannot predict are pinned to the first
        # verified job's hash.
        self.pinned: dict[str, str] = {}

    def _pin(self, key: str, value: str) -> None:
        first = self.pinned.setdefault(key, value)
        _check(first == value, f"{key} hash {value} differs from the first job's {first}")

    def run(self, out: Path) -> None:
        raise NotImplementedError

    def run_traced(self, out: Path, tracer) -> dict:
        """The job as separate, materialized calls into each layer; returns
        counts taken along the way."""
        raise NotImplementedError

    def verify(self, out: Path) -> dict:
        """Raise VerificationError unless ``out`` holds the expected output;
        return size counts of the output."""
        raise NotImplementedError

    def plan_counts(self, nodes: list[dict]) -> dict:
        """Counters read from the final physical plans of one untraced job."""
        return {}


# ---------------------------------------------------------------------------


class DdaBatch(Workload):
    name = "dda_batch"
    stem = "batch"

    def _targets(self, out: Path) -> dict[str, str]:
        return {k: str(out / f"{self.stem}_{k}.parquet")
                for k in ("ms_info", "ms2_info", "ms1_feature_info", "psm")}

    def run(self, out: Path) -> None:
        from quantms_utils_spark.pipelines.mzml_stats import write_tables
        from quantms_utils_spark.pipelines.psm import convert_psms
        from quantms_utils_spark.sources.idxml import read_identifications
        from quantms_utils_spark.sources.mzml import read_spectra

        spectra = read_spectra(self.spark, self.expected["mzml"], parser="xml")
        outs = write_tables(spectra, str(out), self.stem, ms2_file=True,
                            feature_detection=True, feature_method=DDA_FEATURE_METHOD)
        ids = read_identifications(self.spark, self.expected["idxml"], parser="xml")
        psms = convert_psms(ids, self.spark.read.parquet(outs["ms2_info"]))
        psms.write.mode("overwrite").parquet(self._targets(out)["psm"], compression="zstd")

    def run_traced(self, out: Path, tracer) -> dict:
        from quantms_utils_spark.operators.joins import range_join_binned
        from quantms_utils_spark.pipelines.feature_finder import detect_features_masstrace
        from quantms_utils_spark.pipelines.mzml_stats import (
            compute_ms2_info,
            compute_ms_info,
            detect_features,
        )
        from quantms_utils_spark.pipelines.psm import convert_psms
        from quantms_utils_spark.sources.idxml import read_identifications
        from quantms_utils_spark.sources.mzml import read_spectra

        t = self._targets(out)
        write_s = {"noop": 0.0, "parquet": 0.0}

        def sink(frame, target):
            """Parquet write of a stored frame, and a noop write of the same
            frame as the baseline sinks.parquet_write_s subtracts."""
            with tracer.span("sinks.noop_write") as s:
                _noop(frame)
            write_s["noop"] += s["end"] - s["start"]
            with tracer.span("sinks.parquet_write") as s:
                frame.write.mode("overwrite").parquet(target, compression="zstd")
            write_s["parquet"] += s["end"] - s["start"]

        with tracer.span("sources.read_spectra"):
            spectra = read_spectra(self.spark, self.expected["mzml"], parser="xml").localCheckpoint()
        with tracer.span("pipelines.compute_ms_info"):
            ms_info = compute_ms_info(spectra).localCheckpoint()
        sink(ms_info, t["ms_info"])
        with tracer.span("pipelines.compute_ms2_info"):
            ms2 = compute_ms2_info(spectra).localCheckpoint()
        sink(ms2, t["ms2_info"])
        with tracer.span("pipelines.detect_features"):
            feats = detect_features(spectra).localCheckpoint()
        sink(feats, t["ms1_feature_info"])
        with tracer.span("sources.read_identifications"):
            ids = read_identifications(self.spark, self.expected["idxml"], parser="xml").localCheckpoint()
        with tracer.span("pipelines.convert_psms"):
            psms = convert_psms(ids, self.spark.read.parquet(t["ms2_info"])).localCheckpoint()
        sink(psms, t["psm"])

        # Calls the job makes inside other functions, repeated here on the
        # same data so each has its own span: the feature-to-scan join of
        # detect_features (its default 5 s bins), and the mass-trace finder.
        with tracer.span("operators.range_join_binned"):
            scans = spectra.filter("ms_level = 1").selectExpr(
                RUN, "scan AS __scan", "rt AS __scan_rt")
            _noop(range_join_binned(
                feats.select(RUN, "feature_id", "feature_min_rt", "feature_max_rt"),
                scans, lo_col="feature_min_rt", hi_col="feature_max_rt",
                point_col="__scan_rt", bin_width=5.0, equi_keys=[RUN]))
        with tracer.span("pipelines.detect_features_masstrace"):
            _noop(detect_features_masstrace(spectra))
        return {"sinks.parquet_write_s": write_s["parquet"] - write_s["noop"]}

    def verify(self, out: Path) -> dict:
        e = self.expected
        t = self._targets(out)
        ms_info = pq.read_table(t["ms_info"], columns=[RUN, "scan", "ms_level"]).to_pandas()
        _check(len(ms_info) == e["ms_info_rows"],
               f"ms_info rows {len(ms_info)} != {e['ms_info_rows']}")
        _check(row_hash(ms_info_key_frame(ms_info)) == e["ms_info_hash"], "ms_info content hash differs")
        ms2_rows = pq.read_table(t["ms2_info"], columns=["scan"]).num_rows
        _check(ms2_rows == e["ms2_info_rows"], f"ms2_info rows {ms2_rows} != {e['ms2_info_rows']}")
        psm = pq.read_table(t["psm"], columns=list(PSM_KEY_COLUMNS)).to_pandas()
        _check(len(psm) == e["psm_rows"], f"psm rows {len(psm)} != {e['psm_rows']}")
        _check(row_hash(psm_key_frame(psm)) == e["psm_hash"], "psm content hash differs")
        feats = pq.read_table(
            t["ms1_feature_info"],
            columns=[RUN, "feature_id", "feature_mz", "feature_rt", "feature_num_scans"],
        ).to_pandas()
        _check(len(feats) > 0, "no features detected")
        self._pin("features", row_hash(pd.DataFrame({
            RUN: feats[RUN].astype(str).to_numpy(dtype=object),
            **{c: feats[c].astype("float64").to_numpy()
               for c in ("feature_id", "feature_mz", "feature_rt", "feature_num_scans")},
        })))
        rows = len(ms_info) + ms2_rows + len(psm) + len(feats)
        return {"out_rows": rows, "out_bytes": sum(_dir_bytes(Path(p)) for p in t.values())}

    def plan_counts(self, nodes: list[dict]) -> dict:
        # mzML parser passes: MapInPandas nodes producing the spectrum schema
        passes = sum(1 for n in nodes if n["name"] == "MapInPandas" and "mz_array" in n["desc"])
        return {"sources.parse_passes": passes}


# ---------------------------------------------------------------------------


class DiaMsstats(Workload):
    name = "dia_msstats"

    def _target(self, out: Path) -> Path:
        return out / f"{Path(self.expected['design']).stem}_msstats_in.csv"

    def run(self, out: Path) -> None:
        from quantms_utils_spark.pipelines.diann2msstats import diann_to_msstats

        diann_to_msstats(self.spark, self.expected["report"], self.expected["design"], out_dir=str(out))

    def run_traced(self, out: Path, tracer) -> dict:
        from pyspark.sql import functions as F
        from pyspark.sql.types import StringType

        from quantms_utils_spark.functions import sanitize_sequence
        from quantms_utils_spark.functions.peptidoform import normalize_peptidoform
        from quantms_utils_spark.operators.joins import join_many_to_one
        from quantms_utils_spark.pipelines.diann2msstats import diann_to_msstats
        from quantms_utils_spark.sinks import write_single_csv
        from quantms_utils_spark.sources.design import read_experimental_design
        from quantms_utils_spark.sources.report import read_diann_report

        e = self.expected
        with tracer.span("sources.read_experimental_design"):
            _, f_table = read_experimental_design(self.spark, e["design"])
            runs = f_table.select(F.col("run").alias("Run"), "Sample").localCheckpoint()
        with tracer.span("sources.read_diann_report"):
            report = read_diann_report(self.spark, e["report"]).localCheckpoint()

        @F.pandas_udf(StringType())
        def norm(seqs: pd.Series) -> pd.Series:
            return seqs.map(normalize_peptidoform)

        # Calls diann_to_msstats makes internally, repeated on the rows the
        # report source returns so each has its own span.
        with tracer.span("functions.normalize_peptidoform"):
            _noop(report.select(norm(sanitize_sequence(F.col("`Modified.Sequence`")))))
        with tracer.span("operators.join_many_to_one"):
            _noop(join_many_to_one(report, runs, "Run", how="left"))

        with tracer.span("pipelines.diann_to_msstats"):
            frame = diann_to_msstats(self.spark, e["report"], e["design"]).localCheckpoint()
        with tracer.span("sinks.write_single_csv"):
            write_single_csv(frame, self._target(out))
        return {}

    def verify(self, out: Path) -> dict:
        e = self.expected
        path = self._target(out)
        df = pd.read_csv(path, dtype=str, keep_default_na=False)
        _check(len(df) == e["msstats_rows"], f"msstats rows {len(df)} != {e['msstats_rows']}")
        frame = pd.DataFrame({
            c: df[c].astype("float64").to_numpy() if c in ("PrecursorCharge", "Intensity")
            else df[c].to_numpy(dtype=object)
            for c in MSSTATS_HASH_COLUMNS
        })
        _check(row_hash(frame) == e["msstats_hash"], "msstats content hash differs")
        return {"out_rows": len(df), "out_bytes": path.stat().st_size}

    def plan_counts(self, nodes: list[dict]) -> dict:
        file_rows = pq.read_metadata(self.expected["report"]).num_rows
        # report scans: the only parquet scans that read the Q.Value column
        scans = [metric_count(n["metrics"].get("number of output rows"))
                 for n in nodes if n["name"] == "Scan parquet" and "Q.Value" in n["desc"]]
        return {"sources.report_scans": len(scans),
                "sources.report_rows_read_ratio": sum(scans) / (len(scans) * file_rows)}


# ---------------------------------------------------------------------------


class CorpusCuration(Workload):
    name = "corpus_curation"

    def _target(self, out: Path) -> str:
        return str(out / "curated.parquet")

    def _docs(self):
        return self.spark.read.parquet(self.expected["documents"])

    def run(self, out: Path) -> None:
        from quantms_utils_spark.pipelines.curation import curate_corpus

        curate_corpus(self._docs(), hash_family=CURATION["hash_family"]) \
            .write.mode("overwrite").parquet(self._target(out))

    def run_traced(self, out: Path, tracer) -> dict:
        from quantms_utils_spark.operators.dedup import (
            connected_components,
            lsh_candidate_pairs,
            minhash_signatures,
        )
        from quantms_utils_spark.operators.text import decontaminate, mixture_sample
        from quantms_utils_spark.pipelines.curation import curate_corpus, split_pct

        c = CURATION
        sc = self.spark.sparkContext
        with tracer.span("pipelines.curate_corpus"):
            frame = curate_corpus(self._docs(), hash_family=c["hash_family"]).localCheckpoint()
        with tracer.span("sinks.parquet_write"):
            frame.write.mode("overwrite").parquet(self._target(out))

        # The operators curate_corpus chains, called one by one on the
        # corpus so each has its own span.
        docs = self._docs().localCheckpoint()
        with tracer.span("operators.minhash_signatures"):
            sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=c["n_hashes"],
                                      shingle_n=c["shingle_n"], hash_family=c["hash_family"]).localCheckpoint()
        with tracer.span("operators.lsh_candidate_pairs"):
            pairs = lsh_candidate_pairs(sigs, "doc_id", n_hashes=c["n_hashes"],
                                        band_size=c["band_size"]).localCheckpoint()
        n_pairs = pairs.count()
        group = f"{tracer.job}-cc"
        sc.setJobGroup(group, group)
        try:
            with tracer.span("operators.connected_components"):
                connected_components(pairs, src="doc_a", dst="doc_b").localCheckpoint()
        finally:
            sc.setJobGroup(tracer.job, tracer.job)
        pct = split_pct()
        with tracer.span("operators.decontaminate"):
            _noop(decontaminate(docs.where(pct < 80), docs.where(pct >= 90), "doc_id", "text",
                                ngram_n=c["decontam_ngram"]))
        with tracer.span("operators.mixture_sample"):
            _noop(mixture_sample(docs, "source", "doc_id", "text", c["token_budget"]))
        cc_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return {"operators.lsh_pairs_per_doc": n_pairs / self.records,
                "operators.cc_spark_jobs": cc_jobs}

    def verify(self, out: Path) -> dict:
        t = pq.read_table(self._target(out)).to_pandas()
        _check(len(t) > 0, "curated corpus is empty")
        _check(t["doc_id"].is_unique, "curated corpus repeats a doc_id")
        _check(bool(t["doc_id"].between(0, self.records - 1).all()), "unknown doc_id in output")
        self._pin("curated", row_hash(pd.DataFrame({
            "doc_id": t["doc_id"].astype("float64").to_numpy(),
            "source": t["source"].astype(str).to_numpy(dtype=object),
            "doc_tokens": t["doc_tokens"].astype("float64").to_numpy(),
            "keep_rate": t["keep_rate"].astype("float64").to_numpy(),
        })))
        return {"out_rows": len(t), "out_bytes": _dir_bytes(Path(self._target(out)))}


WORKLOADS = {w.name: w for w in (DdaBatch, DiaMsstats, CorpusCuration)}
