"""Distributed MS1 feature detection: mass traces + isotope grouping.

A Spark-native analog of the reference's FeatureFinderMultiplex delegation
(quantmsutils/mzml/ms1_feature_finder.py:276-282, an opaque per-run C++
kernel): peaks → mass traces → isotope-pattern features, entirely as
DataFrame expressions. This replaces the top-N-base-peak *seeding* stand-in
(pipelines/mzml_stats.py:detect_features) with the real algorithm shape:

1. **Explode** MS1 peak arrays to (run, scan, rt, mz, intensity) rows — the
   honest cost of feature finding; partitioned by (run, 1-Th m/z bin), so a
   100 TB corpus fans out across runs × m/z, not one task per run like the
   reference's per-file loop.
2. **m/z clustering**: within (run, bin), peaks sorted by m/z are
   gap-sessionized — a gap > ``mz_tol`` starts a new cluster. Peaks within
   ``mz_tol`` of a bin edge are DUPLICATED into the neighbor bin, so a trace
   straddling an integer boundary is complete in at least one bin; the
   duplicate instance is dropped afterwards by the home-bin rule
   (floor(weighted-mean m/z) must equal the bin that built the trace).
3. **Trace detection**: within a cluster (one peak per scan — strongest
   shoulder wins), scans sorted by spectrum index are gap-sessionized with
   ``max_scan_gap`` tolerance; surviving runs of ≥ ``min_scans`` scans are
   mass traces.
4. **Isotope grouping**: traces of the same run whose rt spans overlap and
   whose m/z spacing matches 1.003355/z for z ∈ {1..max_charge} (within
   ``iso_tol``) are linked; per-trace only its best-fitting charge's edges
   survive, and connected components (large-star/small-star — the scale
   path) merge chains into features. The monoisotopic (minimum-m/z) trace
   names the feature; unlinked traces become charge-0 singleton features.

Output schema matches the reference's feature list
(ms1_feature_finder.py:188-204): feature_mz, feature_intensity, feature_rt,
feature_charge, feature_percentile_tic, feature_quality, feature_id,
feature_min_rt/mz, feature_max_rt/mz, feature_num_scans, feature_scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from quantms_utils_spark.operators.dedup import connected_components_star
from quantms_utils_spark.pipelines.mzml_stats import ms1_ptic

RUN = "reference_file_name"

ISO_SPACING = 1.003355


def explode_ms1_peaks(
    spectra: DataFrame, min_mz: float = 1.0, min_intensity: float = 0.0
) -> DataFrame:
    """MS1 peak rows (run, spectrum_index, scan, rt, mz, intensity)."""
    ms1 = spectra.filter(F.col("ms_level") == 1).filter(
        F.array_min("mz_array") > min_mz
    )
    peaks = ms1.select(
        RUN,
        "spectrum_index",
        "scan",
        "rt",
        F.explode(F.arrays_zip("mz_array", "intensity_array")).alias("p"),
    ).select(
        RUN,
        "spectrum_index",
        "scan",
        "rt",
        F.col("p.mz_array").alias("mz"),
        F.col("p.intensity_array").alias("intensity"),
    )
    if min_intensity > 0:
        peaks = peaks.filter(F.col("intensity") >= min_intensity)
    return peaks


def detect_mass_traces(
    spectra: DataFrame,
    mz_tol: float = 0.01,
    max_scan_gap: int = 1,
    min_scans: int = 3,
    min_mz: float = 1.0,
    min_intensity: float = 0.0,
    coarse_bin: float = 1.0,
) -> DataFrame:
    """Mass traces per run: contiguous-in-rt runs of peaks at stable m/z.

    Returns one row per trace with aggregate statistics and the member scan
    list; trace_key is unique within the output.
    """
    peaks = explode_ms1_peaks(spectra, min_mz=min_mz, min_intensity=min_intensity)

    home_bin = F.floor(F.col("mz") / coarse_bin)
    binned = peaks.withColumn("bin", home_bin)
    # duplicate edge peaks into the neighbor bin so straddling traces are
    # complete somewhere; the home-bin rule dedups afterwards
    lo_dup = binned.filter(
        (F.col("mz") - F.col("bin") * coarse_bin) < mz_tol
    ).withColumn("bin", F.col("bin") - 1)
    hi_dup = binned.filter(
        ((F.col("bin") + 1) * coarse_bin - F.col("mz")) < mz_tol
    ).withColumn("bin", F.col("bin") + 1)
    binned = binned.unionByName(lo_dup).unionByName(hi_dup)

    # --- m/z clustering: gap-sessionize along the m/z axis ------------------
    w_mz = Window.partitionBy(RUN, "bin").orderBy("mz", "spectrum_index")
    new_cluster = (
        F.col("mz") - F.lag("mz").over(w_mz) > mz_tol
    ).cast("int")
    clustered = binned.withColumn(
        "cluster",
        F.sum(F.coalesce(new_cluster, F.lit(0))).over(
            w_mz.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )

    # one peak per (cluster, scan): strongest shoulder wins
    w_scan = Window.partitionBy(RUN, "bin", "cluster", "spectrum_index").orderBy(
        F.col("intensity").desc(), F.col("mz")
    )
    best = clustered.withColumn("r", F.row_number().over(w_scan)).filter(
        F.col("r") == 1
    )

    # --- trace detection: gap-sessionize along the scan axis ----------------
    w_rt = Window.partitionBy(RUN, "bin", "cluster").orderBy("spectrum_index")
    new_trace = (
        F.col("spectrum_index") - F.lag("spectrum_index").over(w_rt)
        > max_scan_gap + 1
    ).cast("int")
    traced = best.withColumn(
        "trace",
        F.sum(F.coalesce(new_trace, F.lit(0))).over(
            w_rt.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )

    traces = (
        traced.groupBy(RUN, "bin", "cluster", "trace")
        .agg(
            (F.sum(F.col("mz") * F.col("intensity")) / F.sum("intensity")).alias(
                "trace_mz"
            ),
            F.sum("intensity").alias("trace_intensity"),
            F.max_by("rt", "intensity").alias("apex_rt"),
            F.max_by("scan", "intensity").alias("apex_scan"),
            F.max("intensity").alias("apex_intensity"),
            F.min("rt").alias("min_rt"),
            F.max("rt").alias("max_rt"),
            F.min("mz").alias("min_mz"),
            F.max("mz").alias("max_mz"),
            F.min("spectrum_index").alias("min_idx"),
            F.max("spectrum_index").alias("max_idx"),
            F.count(F.lit(1)).alias("num_scans"),
            F.sort_array(F.collect_list("scan")).alias("scans"),
        )
        .filter(F.col("num_scans") >= min_scans)
        # home-bin rule: drop the duplicate instance built in a neighbor bin
        .filter(F.floor(F.col("trace_mz") / coarse_bin) == F.col("bin"))
        .withColumn(
            "trace_key",
            F.xxhash64(F.col(RUN), F.col("bin"), F.col("cluster"), F.col("trace")),
        )
    )
    return traces


def group_isotope_features(
    traces: DataFrame,
    max_charge: int = 4,
    iso_tol: float = 0.01,
) -> DataFrame:
    """Link co-eluting traces spaced by 1.003355/z into charge-z features.

    Edge generation joins traces on (run, coarse bin) with the neighbor bin
    on the right side — isotope spacing never exceeds ~1.1 Th, so candidate
    partners live in at most two bins; there is no all-pairs join.
    """
    t = traces.select(
        "trace_key",
        F.col(RUN),
        F.col("bin"),
        "trace_mz",
        "trace_intensity",
        "min_rt",
        "max_rt",
    )
    right = t.select(
        F.col("trace_key").alias("r_key"),
        F.col(RUN).alias("__run_r"),
        F.explode(F.array(F.col("bin"), F.col("bin") - 1)).alias("bin"),
        F.col("trace_mz").alias("r_mz"),
        F.col("min_rt").alias("r_min_rt"),
        F.col("max_rt").alias("r_max_rt"),
    )
    cand = (
        t.join(
            right,
            (t[RUN] == right["__run_r"])
            & (t["bin"] == right["bin"])
            & (t["trace_key"] < right["r_key"]),
        )
        .filter(
            (F.col("r_min_rt") <= F.col("max_rt"))
            & (F.col("r_max_rt") >= F.col("min_rt"))
        )
        .withColumn("dmz", F.abs(F.col("r_mz") - F.col("trace_mz")))
    )
    # best charge per candidate pair
    err = None
    best_z = None
    for z in range(1, max_charge + 1):
        e_z = F.abs(F.col("dmz") - F.lit(ISO_SPACING / z))
        if err is None:
            err, best_z = e_z, F.lit(z)
        else:
            best_z = F.when(e_z < err, F.lit(z)).otherwise(best_z)
            err = F.least(err, e_z)
    edges = cand.select(
        "trace_key",
        F.col("r_key"),
        best_z.alias("z"),
        err.alias("err"),
    ).filter(F.col("err") <= iso_tol)

    # per-trace best charge: keep only edges matching the charge that fits
    # each trace best (min error), so one trace cannot stitch incompatible
    # chains together
    both = edges.select("trace_key", "z", "err").unionByName(
        edges.select(F.col("r_key").alias("trace_key"), "z", "err")
    )
    # z tie-break (round 10 review): equal-error charges would make
    # row_number nondeterministic across runs and flake the goldens
    w_best = Window.partitionBy("trace_key").orderBy("err", "z")
    trace_z = (
        both.withColumn("r", F.row_number().over(w_best))
        .filter(F.col("r") == 1)
        .select("trace_key", F.col("z").alias("best_z"))
    )
    kept = (
        edges.join(trace_z, "trace_key")
        .filter(F.col("z") == F.col("best_z"))
        .drop("best_z")
        .join(
            trace_z.select(
                F.col("trace_key").alias("r_key"), F.col("best_z")
            ),
            "r_key",
        )
        .filter(F.col("z") == F.col("best_z"))
        .select("trace_key", "r_key", "z")
    )

    cc = connected_components_star(kept, "trace_key", "r_key")
    membership = cc.select(F.col("v").alias("trace_key"), F.col("label").alias("fid"))
    # deterministic mode (round 10 review): F.mode picks arbitrarily on
    # tied counts — count per (fid, z), then keep the most frequent z with
    # a smallest-z tie-break, so reruns and goldens cannot flake
    charges = (
        kept.select(F.col("trace_key"), "z")
        .unionByName(kept.select(F.col("r_key").alias("trace_key"), "z"))
        .join(membership, "trace_key")
        .groupBy("fid", "z")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("fid")
        .agg(
            F.min_by(
                "z", F.struct((-F.col("_n")).alias("nn"), F.col("z").alias("z"))
            ).alias("charge")
        )
    )

    labeled = traces.join(membership, "trace_key", "left").withColumn(
        "fid", F.coalesce(F.col("fid"), F.col("trace_key"))
    )
    charged = labeled.join(charges, "fid", "left").withColumn(
        "charge", F.coalesce(F.col("charge"), F.lit(0))
    )

    density = F.col("num_scans") / (F.col("max_idx") - F.col("min_idx") + 1)
    return (
        charged.groupBy(RUN, "fid")
        .agg(
            # monoisotopic trace (minimum m/z) names the feature
            F.min("trace_mz").alias("feature_mz"),
            F.sum("trace_intensity").alias("feature_intensity"),
            F.max_by("apex_rt", "apex_intensity").alias("feature_rt"),
            F.max_by("apex_scan", "apex_intensity").alias("apex_scan"),
            F.min("charge").alias("feature_charge"),
            # quality: mean scan-density of the member traces (1.0 = no
            # missing scans inside any trace span)
            F.round(F.avg(density), 4).alias("feature_quality"),
            F.min("min_rt").alias("feature_min_rt"),
            F.max("max_rt").alias("feature_max_rt"),
            F.min("min_mz").alias("feature_min_mz"),
            F.max("max_mz").alias("feature_max_mz"),
            F.array_sort(F.flatten(F.collect_list("scans"))).alias("_all_scans"),
            F.count(F.lit(1)).alias("n_traces"),
        )
        .withColumn("feature_scans", F.array_distinct("_all_scans"))
        .withColumn("feature_num_scans", F.size("feature_scans"))
        .drop("_all_scans")
    )


def detect_features_masstrace(
    spectra: DataFrame,
    mz_tol: float = 0.01,
    max_scan_gap: int = 1,
    min_scans: int = 3,
    max_charge: int = 4,
    iso_tol: float = 0.01,
    min_mz: float = 1.0,
    min_intensity: float = 0.0,
) -> DataFrame:
    """Full mass-trace feature table in the reference's output schema."""
    ptic = ms1_ptic(spectra, min_mz).select(RUN, F.col("scan").alias("apex_scan"), "ptic")

    traces = detect_mass_traces(
        spectra,
        mz_tol=mz_tol,
        max_scan_gap=max_scan_gap,
        min_scans=min_scans,
        min_mz=min_mz,
        min_intensity=min_intensity,
    )
    feats = group_isotope_features(traces, max_charge=max_charge, iso_tol=iso_tol)
    # pTIC at the feature apex: exact per-scan value (W1); the W2
    # interpolation composite applies when apex rt falls between scans.
    feats = feats.join(ptic, [RUN, "apex_scan"], "left")
    return feats.select(
        RUN,
        F.round("feature_mz", 4).alias("feature_mz"),
        "feature_intensity",
        F.round("feature_rt", 4).alias("feature_rt"),
        "feature_charge",
        F.round(F.coalesce(F.col("ptic"), F.lit(0.0)), 4).alias(
            "feature_percentile_tic"
        ),
        "feature_quality",
        F.col("fid").alias("feature_id"),
        F.round("feature_min_rt", 4).alias("feature_min_rt"),
        F.round("feature_min_mz", 4).alias("feature_min_mz"),
        F.round("feature_max_rt", 4).alias("feature_max_rt"),
        F.round("feature_max_mz", 4).alias("feature_max_mz"),
        "feature_num_scans",
        "feature_scans",
    )
