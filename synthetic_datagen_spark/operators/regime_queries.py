"""Regime-stack catalog entries (SURVEY §2.11 M5/M6, §2.10 G6/G7) —
rows-only (EM/MLE fits are not SQL-expressible; invariants live in
tests/test_regime.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import memo
from ..functions.execution import arrow_frame
from ..regime import RegimeModel, RegimeGenerator, fit_garch_grid, regime_features
from ..sources import Catalog
from .base import pinned_parquet_oracle, register


# Session memo of the fitted regime model and its GARCH grid: g7/g8/m9
# all consume the SAME HMM fit (n_regimes=3, seed=42); the reference's
# own flow is fit -> save -> generate, never refit per consumer.
_MODEL_CACHE: dict = {}


def _click_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        Catalog(spark, sf_dir)
        .table("events")
        .filter(F.col("event_type") == "click")
        .select("ts", "event_id", "value")
    )


# Version of the fit procedure, part of the artifact key: bump it when
# the fit's output changes for the same input, so a model written by an
# older fit is never served warm.
_FIT_VERSION = "kmeans-init-1"


def _fitted_model(
    spark: SparkSession, sf_dir: str, n_regimes: int = 3, seed: int = 42
) -> RegimeModel:
    """The fitted model, once per session; across sessions its params
    (model.json) and labeled stream (labeled.parquet) are an artifact,
    and a warm start is bit-identical to the session that wrote them
    (tests/test_regime.py pins the round trip)."""

    def build() -> RegimeModel:
        adir = memo.artifact_dir(
            "regime", sf_dir, "events", n_regimes, seed, _FIT_VERSION
        )
        if adir is not None:
            model_json = os.path.join(adir, "model.json")
            labeled_pq = os.path.join(adir, "labeled.parquet")
            params = memo.read_json(model_json)
            if params is not None and os.path.exists(
                os.path.join(labeled_pq, "_SUCCESS")
            ):
                model = RegimeModel.from_dict(params)
                model.labeled = spark.read.parquet(labeled_pq)
                return model
        feats = regime_features(
            _click_series(spark, sf_dir), "value", [], ["ts", "event_id"]
        ).withColumn("series", F.lit(0)).persist()
        model = RegimeModel(n_regimes=n_regimes, seed=seed).fit(feats, ["series"])
        feats.unpersist()
        if adir is not None:
            # labeled.parquet first: model.json is the artifact's commit
            # mark. Later consumers (garch grid, hybrid block pools,
            # per-regime GAN) scan the parquet instead of the EM lineage.
            model.labeled.write.mode("overwrite").parquet(labeled_pq)
            memo.write_json(model_json, model.to_dict())
            persisted = model.labeled
            model.labeled = spark.read.parquet(labeled_pq)
            persisted.unpersist()
        return model

    return memo.app_scoped_memo(_MODEL_CACHE, spark, (sf_dir, n_regimes, seed), build)


def _fitted_garch(
    spark: SparkSession, sf_dir: str, model: RegimeModel, n_regimes: int = 3, seed: int = 42
) -> dict[int, dict]:
    """M6 fit with the same two-level cache as the model (the grid MLE is
    deterministic given the labeled stream, so it persists beside it)."""

    def build() -> dict[int, dict]:
        adir = memo.artifact_dir(
            "regime", sf_dir, "events", n_regimes, seed, _FIT_VERSION
        )
        gpath = adir and os.path.join(adir, "garch.json")
        garch = gpath and memo.read_json(gpath)
        if garch is None:
            garch = fit_garch_grid(spark, model.regime_returns())
            if gpath:
                memo.write_json(gpath, {str(k): v for k, v in garch.items()})
            return garch
        return {int(k): v for k, v in garch.items()}

    return memo.app_scoped_memo(
        _MODEL_CACHE, spark, (sf_dir, n_regimes, seed, "garch"), build
    )


@register(
    "g7_regime_garch_generate",
    # Parquet-captured pin at sf0.01 (tools/pin_oracles.py
    # --parquet): the HMM/GARCH fits are numpy EM over a
    # driver-ordered series and generation is a per-series seeded
    # grouped-map. Validated
    # bit-identical across independent processes AND across the
    # builder (32 shuffle partitions) vs plain-gate (200) layouts,
    # each run with an ISOLATED artifact cache so the cross-session
    # fit memo could not mask layout sensitivity in the fit itself.
    oracle=pinned_parquet_oracle("g7_regime_garch_generate"),
    pinned_sf="0.01",
    doc="Full regime pipeline: features (W1+W4+W5) → k-means-initialized "
    "Gaussian HMM (Baum-Welch + Viterbi) regime labels (M5) → A8 "
    "per-regime stats + A7 transition "
    "matrix → Spark-parallel GARCH(1,1) grid MLE (M6) → per-series "
    "applyInPandas AR(1)+GARCH generation (G6/G7, W16).",
)
def g7_regime_garch_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    ev = _click_series(spark, sf_dir)
    # p0 (first click price) is independent of the fit chain — overlap
    # its small sort-limit job with the model/GARCH fits (guide §2.6)
    with ThreadPoolExecutor(max_workers=1) as pool:
        p0_f = pool.submit(
            lambda: ev.orderBy("ts", "event_id").select("value").first()[0]
        )
        model = _fitted_model(spark, sf_dir)
        garch = _fitted_garch(spark, sf_dir, model)
        p0 = p0_f.result()
    gen = RegimeGenerator(model, garch, p0=p0)
    return gen.generate(spark, seed=42, n_samples=150, n_series=3)


@register(
    "g8_regime_hybrid_generate",
    # Parquet-captured pin at sf0.01 (tools/pin_oracles.py
    # --parquet): the hybrid block pool derives from the
    # deterministic fit and stitching is per-series seeded. Validated
    # bit-identical across independent processes AND across the
    # builder (32 shuffle partitions) vs plain-gate (200) layouts,
    # each run with an ISOLATED artifact cache so the cross-session
    # fit memo could not mask layout sensitivity in the fit itself.
    oracle=pinned_parquet_oracle("g8_regime_hybrid_generate"),
    pinned_sf="0.01",
    doc="G8/G9 regime-segmented block bootstrap: HMM Viterbi regime labels → "
    "gaps-and-islands per-regime block pools (distributed, capped) → "
    "per-series applyInPandas walk with Markov regime path, block "
    "sampling, and W12 boundary blending (reference: "
    "regime_bootstrap_hybrid.py:49-191).",
)
def g8_regime_hybrid_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..regime.hybrid import RegimeBootstrapHybrid

    model = _fitted_model(spark, sf_dir)
    hyb = RegimeBootstrapHybrid(model, min_block=4, lam=0.3).fit(["series"])
    return hyb.generate(spark, seed=42, n_samples=150, n_series=3)


_PIN_M14_GA_BLOCK_SEARCH = """
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(0.109239 AS DOUBLE), CAST(0.507282 AS DOUBLE), CAST(0.109239 AS DOUBLE)),
  (CAST(1 AS BIGINT), CAST(0.139917 AS DOUBLE), CAST(0.322552 AS DOUBLE), CAST(0.109239 AS DOUBLE)),
  (CAST(2 AS BIGINT), CAST(0.228668 AS DOUBLE), CAST(0.321756 AS DOUBLE), CAST(0.109239 AS DOUBLE))
) AS t("gen", "gen_best", "gen_mean", "overall_best")
"""


@register(
    "m14_ga_block_search",
    oracle=_PIN_M14_GA_BLOCK_SEARCH,  # r11 pinned VALUES at sf0.01 (tools/pin_oracles.py):
    # deterministic seeded computation, verified bit-identical across
    # independent processes AND under the plain-session gate layout
    pinned_sf="0.01",
    doc="M14 GA hyperparameter search (pop 8 × 3 gens, tournament-3, "
    "two-point crossover, elitism): GA loop on the driver, each "
    "generation's fitness evaluated as ONE Spark grouped-map stage "
    "(reference: ga_optimizer.py:232-513; subprocess isolation replaced "
    "by Spark task retry). Emits the per-generation convergence trace.",
)
def m14_ga_block_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions import timeseries as TS
    from ..optimize import GAOptimizer, Gene, moment_match_fitness

    ev = (
        Catalog(spark, sf_dir)
        .table("events")
        .filter(F.col("event_type") == "click")
        .select("ts", "event_id", "value")
    )
    rets_df = TS.log_returns(ev, "value", [], ["ts", "event_id"])
    panel = rets_df.agg(
        F.mean("log_ret").alias("mean"), F.stddev_pop("log_ret").alias("std")
    ).first()
    ac1 = TS.lag_autocorr(rets_df, "log_ret", 1, [], ["ts", "event_id"]).first()[0]
    pool = np.array(
        [r[0] for r in rets_df.select("log_ret").dropna().orderBy("ts", "event_id").limit(4000).collect()]
    )
    fitness = moment_match_fitness(
        pool,
        {"mean": panel["mean"], "std": panel["std"], "ac1": float(ac1 or 0.0)},
        n_samples=256,
        n_seeds=2,
    )
    ga = GAOptimizer(
        genes=[Gene("block_size", 4, 48, "int"), Gene("lam", 0.0, 1.0)],
        fitness=fitness,
        pop_size=8,
        n_gens=3,
        seed=42,
    )
    res = ga.optimize(spark)
    rows = [
        (h["gen"], round(h["best"], 6), round(h["mean"], 6), round(res["score"], 6))
        for h in res["history"]
    ]
    return arrow_frame(
        spark, rows, "gen INT, gen_best DOUBLE, gen_mean DOUBLE, overall_best DOUBLE"
    )


@register(
    "m7_m8_segment_clusters",
    # The r11 cross-layout check first REJECTED this pin: MLlib KMeans
    # is layout-sensitive even when seeded (k-means|| init samples per
    # partition; centroid updates merge float partials in task order),
    # and the 32- vs 200-shuffle-partition runs disagreed. FIXED at the
    # kernel: clustering now runs segmentation.deterministic_kmeans
    # (exact-percentile init, decimal-sum centroid updates, tie-broken
    # assignment) and the segment features use exact decimal moment
    # sums (functions.stats.dmean_dstd) — the whole pipeline is a pure
    # function of the input set. Re-validated cross-layout, then
    # pinned (parquet capture at sf0.01).
    oracle=pinned_parquet_oracle("m7_m8_segment_clusters"),
    pinned_sf="0.01",
    doc="M7+M8+J3 segmentation pipeline: per-series change-point "
    "detection (binary segmentation on |log-return| mean shift, one "
    "grouped-map task per series — PELT-lite; reference uses ruptures "
    "PELT, regime_gan.py:36-69), per-segment feature aggregation "
    "(exact decimal moments), deterministic distributed Lloyd k-means "
    "segment clustering (M8 scale path for sklearn Ward; "
    "layout-independent by construction), and the J3 segment×label "
    "equi-join.",
)
def m7_m8_segment_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..regime.segmentation import cluster_segments, detect_changepoints

    ev = Catalog(spark, sf_dir).table("events").select("event_type", "ts", "event_id", "value")
    cps = detect_changepoints(ev, "value", ["event_type"], ["ts", "event_id"], min_size=50)
    out = cluster_segments(
        ev, cps, "value", ["event_type"], ["ts", "event_id"], k=3
    )
    return out.select(
        "event_type",
        "seg_id",
        "n",
        F.round("mean_v", 6).alias("mean_v"),
        F.round("std_v", 6).alias("std_v"),
        "cluster",
    )


_PIN_PELT_WARD = """
SELECT * FROM (VALUES
  ('click', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(115 AS BIGINT)),
  ('click', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(95 AS BIGINT)),
  ('click', CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(55 AS BIGINT)),
  ('click', CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(95 AS BIGINT)),
  ('click', CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(195 AS BIGINT)),
  ('click', CAST(5 AS BIGINT), CAST(0 AS BIGINT), CAST(125 AS BIGINT)),
  ('click', CAST(6 AS BIGINT), CAST(3 AS BIGINT), CAST(410 AS BIGINT)),
  ('click', CAST(7 AS BIGINT), CAST(0 AS BIGINT), CAST(80 AS BIGINT)),
  ('click', CAST(8 AS BIGINT), CAST(2 AS BIGINT), CAST(90 AS BIGINT)),
  ('click', CAST(9 AS BIGINT), CAST(0 AS BIGINT), CAST(90 AS BIGINT)),
  ('click', CAST(10 AS BIGINT), CAST(2 AS BIGINT), CAST(50 AS BIGINT)),
  ('click', CAST(11 AS BIGINT), CAST(3 AS BIGINT), CAST(195 AS BIGINT)),
  ('click', CAST(12 AS BIGINT), CAST(1 AS BIGINT), CAST(60 AS BIGINT)),
  ('click', CAST(13 AS BIGINT), CAST(0 AS BIGINT), CAST(65 AS BIGINT)),
  ('click', CAST(14 AS BIGINT), CAST(2 AS BIGINT), CAST(60 AS BIGINT)),
  ('click', CAST(15 AS BIGINT), CAST(2 AS BIGINT), CAST(55 AS BIGINT)),
  ('click', CAST(16 AS BIGINT), CAST(2 AS BIGINT), CAST(60 AS BIGINT)),
  ('click', CAST(17 AS BIGINT), CAST(1 AS BIGINT), CAST(50 AS BIGINT)),
  ('click', CAST(18 AS BIGINT), CAST(2 AS BIGINT), CAST(60 AS BIGINT)),
  ('error', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(90 AS BIGINT)),
  ('error', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(50 AS BIGINT)),
  ('error', CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(90 AS BIGINT)),
  ('error', CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(50 AS BIGINT)),
  ('error', CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(110 AS BIGINT)),
  ('error', CAST(5 AS BIGINT), CAST(2 AS BIGINT), CAST(285 AS BIGINT)),
  ('error', CAST(6 AS BIGINT), CAST(1 AS BIGINT), CAST(90 AS BIGINT)),
  ('error', CAST(7 AS BIGINT), CAST(0 AS BIGINT), CAST(120 AS BIGINT)),
  ('error', CAST(8 AS BIGINT), CAST(1 AS BIGINT), CAST(50 AS BIGINT)),
  ('error', CAST(9 AS BIGINT), CAST(0 AS BIGINT), CAST(50 AS BIGINT)),
  ('error', CAST(10 AS BIGINT), CAST(0 AS BIGINT), CAST(140 AS BIGINT)),
  ('error', CAST(11 AS BIGINT), CAST(3 AS BIGINT), CAST(50 AS BIGINT)),
  ('error', CAST(12 AS BIGINT), CAST(0 AS BIGINT), CAST(60 AS BIGINT)),
  ('error', CAST(13 AS BIGINT), CAST(3 AS BIGINT), CAST(65 AS BIGINT)),
  ('error', CAST(14 AS BIGINT), CAST(0 AS BIGINT), CAST(65 AS BIGINT)),
  ('error', CAST(15 AS BIGINT), CAST(3 AS BIGINT), CAST(105 AS BIGINT)),
  ('error', CAST(16 AS BIGINT), CAST(0 AS BIGINT), CAST(65 AS BIGINT)),
  ('error', CAST(17 AS BIGINT), CAST(1 AS BIGINT), CAST(50 AS BIGINT)),
  ('error', CAST(18 AS BIGINT), CAST(0 AS BIGINT), CAST(210 AS BIGINT)),
  ('error', CAST(19 AS BIGINT), CAST(2 AS BIGINT), CAST(218 AS BIGINT)),
  ('purchase', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(115 AS BIGINT)),
  ('purchase', CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(50 AS BIGINT)),
  ('purchase', CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(65 AS BIGINT)),
  ('purchase', CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(120 AS BIGINT)),
  ('purchase', CAST(4 AS BIGINT), CAST(2 AS BIGINT), CAST(50 AS BIGINT)),
  ('purchase', CAST(5 AS BIGINT), CAST(0 AS BIGINT), CAST(140 AS BIGINT)),
  ('purchase', CAST(6 AS BIGINT), CAST(3 AS BIGINT), CAST(60 AS BIGINT)),
  ('purchase', CAST(7 AS BIGINT), CAST(2 AS BIGINT), CAST(60 AS BIGINT)),
  ('purchase', CAST(8 AS BIGINT), CAST(0 AS BIGINT), CAST(70 AS BIGINT)),
  ('purchase', CAST(9 AS BIGINT), CAST(1 AS BIGINT), CAST(50 AS BIGINT)),
  ('purchase', CAST(10 AS BIGINT), CAST(0 AS BIGINT), CAST(185 AS BIGINT)),
  ('purchase', CAST(11 AS BIGINT), CAST(1 AS BIGINT), CAST(65 AS BIGINT)),
  ('purchase', CAST(12 AS BIGINT), CAST(0 AS BIGINT), CAST(50 AS BIGINT)),
  ('purchase', CAST(13 AS BIGINT), CAST(2 AS BIGINT), CAST(55 AS BIGINT)),
  ('purchase', CAST(14 AS BIGINT), CAST(3 AS BIGINT), CAST(50 AS BIGINT)),
  ('purchase', CAST(15 AS BIGINT), CAST(0 AS BIGINT), CAST(170 AS BIGINT)),
  ('purchase', CAST(16 AS BIGINT), CAST(1 AS BIGINT), CAST(55 AS BIGINT)),
  ('purchase', CAST(17 AS BIGINT), CAST(0 AS BIGINT), CAST(130 AS BIGINT)),
  ('purchase', CAST(18 AS BIGINT), CAST(1 AS BIGINT), CAST(65 AS BIGINT)),
  ('purchase', CAST(19 AS BIGINT), CAST(0 AS BIGINT), CAST(90 AS BIGINT)),
  ('purchase', CAST(20 AS BIGINT), CAST(2 AS BIGINT), CAST(50 AS BIGINT)),
  ('purchase', CAST(21 AS BIGINT), CAST(1 AS BIGINT), CAST(55 AS BIGINT)),
  ('purchase', CAST(22 AS BIGINT), CAST(2 AS BIGINT), CAST(55 AS BIGINT)),
  ('purchase', CAST(23 AS BIGINT), CAST(3 AS BIGINT), CAST(50 AS BIGINT)),
  ('purchase', CAST(24 AS BIGINT), CAST(0 AS BIGINT), CAST(75 AS BIGINT)),
  ('signup', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(120 AS BIGINT)),
  ('signup', CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(165 AS BIGINT)),
  ('signup', CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(65 AS BIGINT)),
  ('signup', CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(50 AS BIGINT)),
  ('signup', CAST(4 AS BIGINT), CAST(1 AS BIGINT), CAST(50 AS BIGINT)),
  ('signup', CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(65 AS BIGINT)),
  ('signup', CAST(6 AS BIGINT), CAST(0 AS BIGINT), CAST(95 AS BIGINT)),
  ('signup', CAST(7 AS BIGINT), CAST(1 AS BIGINT), CAST(100 AS BIGINT)),
  ('signup', CAST(8 AS BIGINT), CAST(0 AS BIGINT), CAST(130 AS BIGINT)),
  ('signup', CAST(9 AS BIGINT), CAST(3 AS BIGINT), CAST(80 AS BIGINT)),
  ('signup', CAST(10 AS BIGINT), CAST(0 AS BIGINT), CAST(155 AS BIGINT)),
  ('signup', CAST(11 AS BIGINT), CAST(1 AS BIGINT), CAST(50 AS BIGINT)),
  ('signup', CAST(12 AS BIGINT), CAST(3 AS BIGINT), CAST(70 AS BIGINT)),
  ('signup', CAST(13 AS BIGINT), CAST(1 AS BIGINT), CAST(50 AS BIGINT)),
  ('signup', CAST(14 AS BIGINT), CAST(2 AS BIGINT), CAST(50 AS BIGINT)),
  ('signup', CAST(15 AS BIGINT), CAST(0 AS BIGINT), CAST(290 AS BIGINT)),
  ('signup', CAST(16 AS BIGINT), CAST(3 AS BIGINT), CAST(55 AS BIGINT)),
  ('signup', CAST(17 AS BIGINT), CAST(1 AS BIGINT), CAST(85 AS BIGINT)),
  ('signup', CAST(18 AS BIGINT), CAST(3 AS BIGINT), CAST(60 AS BIGINT)),
  ('signup', CAST(19 AS BIGINT), CAST(1 AS BIGINT), CAST(50 AS BIGINT)),
  ('signup', CAST(20 AS BIGINT), CAST(0 AS BIGINT), CAST(110 AS BIGINT)),
  ('signup', CAST(21 AS BIGINT), CAST(0 AS BIGINT), CAST(71 AS BIGINT)),
  ('view', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(105 AS BIGINT)),
  ('view', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(65 AS BIGINT)),
  ('view', CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(55 AS BIGINT)),
  ('view', CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(110 AS BIGINT)),
  ('view', CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(65 AS BIGINT)),
  ('view', CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(65 AS BIGINT)),
  ('view', CAST(6 AS BIGINT), CAST(0 AS BIGINT), CAST(215 AS BIGINT)),
  ('view', CAST(7 AS BIGINT), CAST(2 AS BIGINT), CAST(60 AS BIGINT)),
  ('view', CAST(8 AS BIGINT), CAST(2 AS BIGINT), CAST(145 AS BIGINT)),
  ('view', CAST(9 AS BIGINT), CAST(2 AS BIGINT), CAST(70 AS BIGINT)),
  ('view', CAST(10 AS BIGINT), CAST(2 AS BIGINT), CAST(80 AS BIGINT)),
  ('view', CAST(11 AS BIGINT), CAST(2 AS BIGINT), CAST(80 AS BIGINT)),
  ('view', CAST(12 AS BIGINT), CAST(2 AS BIGINT), CAST(85 AS BIGINT)),
  ('view', CAST(13 AS BIGINT), CAST(0 AS BIGINT), CAST(100 AS BIGINT)),
  ('view', CAST(14 AS BIGINT), CAST(0 AS BIGINT), CAST(60 AS BIGINT)),
  ('view', CAST(15 AS BIGINT), CAST(2 AS BIGINT), CAST(65 AS BIGINT)),
  ('view', CAST(16 AS BIGINT), CAST(2 AS BIGINT), CAST(60 AS BIGINT)),
  ('view', CAST(17 AS BIGINT), CAST(1 AS BIGINT), CAST(60 AS BIGINT)),
  ('view', CAST(18 AS BIGINT), CAST(2 AS BIGINT), CAST(70 AS BIGINT)),
  ('view', CAST(19 AS BIGINT), CAST(1 AS BIGINT), CAST(50 AS BIGINT)),
  ('view', CAST(20 AS BIGINT), CAST(0 AS BIGINT), CAST(316 AS BIGINT))
) AS t("event_type", "seg_id", "regime", "n")
"""


@register(
    "m7_pelt_ward_regimes",
    oracle=_PIN_PELT_WARD,  # r11 pinned VALUES at sf0.01: PELT DP + exact
    # Ward clustering are deterministic numpy over a fixed per-series
    # order, and the output panel is integer-only — bit-deterministic,
    # verified across independent processes (tools/pin_oracles.py)
    pinned_sf="0.01",
    doc="Reference-faithful M7+M8 regime detection (regime_gan.py:25-110 "
    "detect_regimes): per-series PELT change-point DP (Gaussian "
    "mean+variance cost, jump grid, pruning; penalty halved once when "
    "under-segmented) then exact Ward agglomerative clustering of the "
    "reference's 5-feature segment matrix (mean/std/skew/autocorr/"
    "log-duration, z-normalized). One grouped-map task per series — "
    "thousands of series parallelize across the cluster while each DP "
    "stays a tight numpy loop. Complements m7_m8_segment_clusters "
    "(the distributed-KMeans scale path).",
)
def m7_pelt_ward_regimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..regime.segmentation import pelt_regime_labels

    ev = Catalog(spark, sf_dir).table("events").select("event_type", "ts", "event_id", "value")
    labels = pelt_regime_labels(
        ev, "value", ["event_type"], ["ts", "event_id"], n_regimes=4, min_size=50
    )
    return (
        labels.groupBy("event_type", "seg_id", "regime")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "seg_id")
    )


_PIN_M16_RANDOM_SWEEP = """
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(0.169684 AS DOUBLE), CAST(12 AS BIGINT), CAST(0.117365 AS DOUBLE)),
  (CAST(1 AS BIGINT), CAST(0.117365 AS DOUBLE), CAST(12 AS BIGINT), CAST(0.117365 AS DOUBLE))
) AS t("batch", "batch_best", "n_evaluated", "overall_best")
"""


@register(
    "m16_random_sweep",
    oracle=_PIN_M16_RANDOM_SWEEP,  # r11 pinned VALUES at sf0.01 (tools/pin_oracles.py):
    # deterministic seeded computation, verified bit-identical across
    # independent processes AND under the plain-session gate layout
    pinned_sf="0.01",
    doc="M16 random hyperparameter sweep with early-stop margin: "
    "seed-deterministic config sampling, batched Spark grouped-map "
    "fitness evaluation, driver-side early stop between batches "
    "(reference: optimize_generator.py:17-50).",
)
def m16_random_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions import timeseries as TS
    from ..optimize import Gene, moment_match_fitness
    from ..optimize.sweep import random_sweep

    ev = (
        Catalog(spark, sf_dir)
        .table("events")
        .filter(F.col("event_type") == "view")
        .select("ts", "event_id", "value")
    )
    rets_df = TS.log_returns(ev, "value", [], ["ts", "event_id"])
    panel = rets_df.agg(
        F.mean("log_ret").alias("mean"), F.stddev_pop("log_ret").alias("std")
    ).first()
    ac1 = TS.lag_autocorr(rets_df, "log_ret", 1, [], ["ts", "event_id"]).first()[0]
    pool = np.array(
        [r[0] for r in rets_df.select("log_ret").dropna().orderBy("ts", "event_id").limit(4000).collect()]
    )
    fitness = moment_match_fitness(
        pool,
        {"mean": panel["mean"], "std": panel["std"], "ac1": float(ac1 or 0.0)},
        n_samples=256,
        n_seeds=2,
    )
    res = random_sweep(
        spark,
        [Gene("block_size", 4, 48, "int"), Gene("lam", 0.0, 1.0)],
        fitness,
        n_configs=12,
        batch=6,
        seed=42,
    )
    rows = [
        (h["batch"], round(h["best"], 6), res["evaluated"], round(res["score"], 6))
        for h in res["history"]
    ]
    return arrow_frame(
        spark, rows, "batch INT, batch_best DOUBLE, n_evaluated INT, overall_best DOUBLE"
    )


@register(
    "m9_regime_gan_generate",
    # Parquet-captured pin at sf0.01 (tools/pin_oracles.py
    # --parquet): the per-regime GAN trains in seeded numpy
    # over the deterministic labeled stream. Validated
    # bit-identical across independent processes AND across the
    # builder (32 shuffle partitions) vs plain-gate (200) layouts,
    # each run with an ISOLATED artifact cache so the cross-session
    # fit memo could not mask layout sensitivity in the fit itself.
    # r14: prices quantize to 6 significant digits at the output
    # boundary (pin-hardening, r13 VERDICT item 2; see
    # g1_g3_latent_decode_generate).
    oracle=pinned_parquet_oracle("m9_regime_gan_generate"),
    pinned_sf="0.01",
    doc="M9/G10 per-regime generator training + regime-chained sampling: "
    "HMM Viterbi labels (the g7 fit) partition the return stream; ONE "
    "grouped-map Spark task "
    "per regime trains that regime's adversarial linear VAE (numpy SGD "
    "— the no-torch substitute for the reference's per-regime GAN, "
    "regime_gan.py:128-218) on its own windows; sparse regimes return "
    "no weights and fall back to parametric N(mu_k, sigma_k) exactly "
    "like the reference's None-generator slot (:339-380). Generation "
    "walks the transition chain per series in parallel.",
)
def m9_regime_gan_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from ..regime import RegimeGanTrainer, regime_gan_generate

    ev = _click_series(spark, sf_dir)
    # p0 overlaps the HMM + per-regime GAN fits (guide §2.6, as in g7)
    with ThreadPoolExecutor(max_workers=1) as pool:
        p0_f = pool.submit(
            lambda: ev.orderBy("ts", "event_id").select("value").first()[0]
        )
        model = _fitted_model(spark, sf_dir)
        gan = RegimeGanTrainer(model, seq_len=32, latent_dim=8, epochs=20, seed=42).fit()
        p0 = p0_f.result()
    return regime_gan_generate(
        gan, spark, seed=42, n_samples=160, n_series=3, p0=p0, quantize_sig=6
    )


_PIN_M15_STAGED_OPTIMIZER = """
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), 'broad', CAST(0.1227 AS DOUBLE), CAST(0.1227 AS DOUBLE), CAST(16 AS BIGINT), ''),
  (CAST(1 AS BIGINT), 'ac-focus', CAST(0.275074 AS DOUBLE), CAST(0.1227 AS DOUBLE), CAST(12 AS BIGINT), ''),
  (CAST(2 AS BIGINT), 'polish', CAST(0.132131 AS DOUBLE), CAST(0.1227 AS DOUBLE), CAST(12 AS BIGINT), 'block_size')
) AS t("stage", "name", "stage_best", "global_best", "n_evals", "frozen")
"""


@register(
    "m15_staged_optimizer",
    oracle=_PIN_M15_STAGED_OPTIMIZER,  # r11 pinned VALUES at sf0.01 (tools/pin_oracles.py):
    # deterministic seeded computation, verified bit-identical across
    # independent processes AND under the plain-session gate layout
    pinned_sf="0.01",
    doc="M15 elite staged optimizer over the M14 GA (reference: "
    "optimize_staged.py:55-383): three stages with shrinking mutation "
    "scale, elite carry-over, stage-specific fitness weights, and a "
    "final stage that FREEZES the settled block_size gene at the global "
    "best (bounds collapse, so crossover/mutation respect the freeze). "
    "Each generation of each stage is one Spark grouped-map fitness "
    "job. Emits the per-stage summary (stage best, global best, evals, "
    "frozen genes).",
)
def m15_staged_optimizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions import timeseries as TS
    from ..optimize import Gene, Stage, StagedOptimizer, moment_match_fitness

    ev = (
        Catalog(spark, sf_dir)
        .table("events")
        .filter(F.col("event_type") == "click")
        .select("ts", "event_id", "value")
    )
    rets_df = TS.log_returns(ev, "value", [], ["ts", "event_id"])
    panel = rets_df.agg(
        F.mean("log_ret").alias("mean"), F.stddev_pop("log_ret").alias("std")
    ).first()
    ac1 = TS.lag_autocorr(rets_df, "log_ret", 1, [], ["ts", "event_id"]).first()[0]
    pool = np.array(
        [r[0] for r in rets_df.select("log_ret").dropna().orderBy("ts", "event_id").limit(4000).collect()]
    )
    stats = {"mean": panel["mean"], "std": panel["std"], "ac1": float(ac1 or 0.0)}

    def factory(weights):
        return moment_match_fitness(
            pool, stats, n_samples=256, n_seeds=2, weights=weights
        )

    opt = StagedOptimizer(
        genes=[Gene("block_size", 4, 48, "int"), Gene("lam", 0.0, 1.0)],
        fitness_factory=factory,
        stages=[
            Stage("broad", pop_size=8, n_gens=2, mut_sigma=0.3),
            Stage("ac-focus", pop_size=6, n_gens=2, mut_sigma=0.15,
                  weights={"ac1": 4.0, "std": 1.0, "mean": 5.0}),
            Stage("polish", pop_size=6, n_gens=2, mut_sigma=0.05,
                  freeze=("block_size",)),
        ],
        seed=42,
    )
    res = opt.optimize(spark)
    rows = [
        (s["stage"], s["name"], round(s["stage_best"], 6),
         round(s["global_best"], 6), s["n_evals"], s["frozen"])
        for s in res["stages"]
    ]
    return arrow_frame(
        spark,
        rows,
        "stage INT, name STRING, stage_best DOUBLE, global_best DOUBLE, "
        "n_evals INT, frozen STRING",
    )


@register(
    "g9_stitch_variants",
    # Parquet-captured pin at sf0.01 (tools/pin_oracles.py
    # --parquet): all four stitch variants derive from the same
    # deterministic fit + per-series seeded walks. Validated
    # bit-identical across independent processes AND across the
    # builder (32 shuffle partitions) vs plain-gate (200) layouts,
    # each run with an ISOLATED artifact cache so the cross-session
    # fit memo could not mask layout sensitivity in the fit itself.
    oracle=pinned_parquet_oracle("g9_stitch_variants"),
    pinned_sf="0.01",
    # seam invariants — shared regime path across variants, none==blend@lam0,
    # crossfade/bridge reduce boundary roughness — are pinned in
    # tests/test_regime.py
    doc="W13/W14 block-boundary stitch variants side-by-side (reference "
    "optimize_generator_v3.py:87-258): ONE fitted regime-hybrid "
    "generator (pools fit once, gaps-and-islands) generates the same "
    "seeded series under smoothing = none / blend (W12) / crossfade "
    "(W13) / ar_bridge (W14); all four walks share the identical "
    "regime path and block draws, so differences are attributable to "
    "the stitch alone. Emits per-variant roughness stats: mean|Δr| and "
    "max|Δr| of consecutive log-return differences plus return "
    "moments — the boundary-smoothness panel the reference's v3 "
    "optimizer scores stitches with.",
)
def _stitch_variant_rets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared scaffold of the g9 family: one fitted regime-hybrid
    generator, the same seeded series under all four stitch variants,
    with per-row log returns and consecutive-return differences.

    Session-memoized (r14, guide §2.4 — the kNN-panel discipline): the
    frame is deterministic in (corpus, seed) and BOTH g9 queries ran
    the whole fit + 4-variant generate + window chain from scratch; one
    checkpointed build per session serves both, and a memo hit returns
    the SAME checkpointed frame (identical rows, identical order)."""
    from ..functions.memo import session_frame
    from ..regime.hybrid import RegimeBootstrapHybrid

    def build() -> DataFrame:
        model = _fitted_model(spark, sf_dir)
        hyb = RegimeBootstrapHybrid(model, min_block=4, lam=0.3, overlap=3).fit(["series"])
        outs = []
        for variant in ("none", "blend", "crossfade", "ar_bridge"):
            hyb.smoothing = variant
            outs.append(
                hyb.generate(spark, seed=42, n_samples=150, n_series=3)
                .withColumn("variant", F.lit(variant))
            )
        allv = outs[0]
        for o in outs[1:]:
            allv = allv.unionByName(o)
        w = Window.partitionBy("variant", "series_id").orderBy("t")
        return (
            allv.withColumn("log_ret", F.log("price") - F.log(F.lag("price").over(w)))
            .withColumn("ddiff", F.abs(F.col("log_ret") - F.lag("log_ret").over(w)))
            .filter(F.col("log_ret").isNotNull())
        )

    return session_frame(spark, ("gen_walk", "g9_stitch", sf_dir), build)


def g9_stitch_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    rets = _stitch_variant_rets(spark, sf_dir)
    return (
        rets.groupBy("variant")
        .agg(
            F.countDistinct("series_id").alias("n_series"),
            F.count("*").alias("n_rets"),
            F.round(F.mean("log_ret"), 6).alias("mean_ret"),
            F.round(F.stddev_pop("log_ret"), 6).alias("std_ret"),
            F.round(F.mean("ddiff"), 6).alias("mean_abs_ddiff"),
            F.round(F.max("ddiff"), 6).alias("max_abs_ddiff"),
        )
        .orderBy("variant")
    )


# Pinned literal-VALUES oracle captured at sf0.01 by tools/pin_oracles.py
# (r9 VERDICT task 5); order-free aggregates only — see g9_stitch_summary doc.
_PIN_G9_SUMMARY = """
SELECT * FROM (VALUES
  ('ar_bridge', CAST(3 AS BIGINT), CAST(447 AS BIGINT), CAST(17.057343069 AS DOUBLE), CAST(677.393681185 AS DOUBLE), CAST(5.346553458 AS DOUBLE)),
  ('blend', CAST(3 AS BIGINT), CAST(447 AS BIGINT), CAST(27.041535066 AS DOUBLE), CAST(742.810675719 AS DOUBLE), CAST(5.352072889 AS DOUBLE)),
  ('crossfade', CAST(3 AS BIGINT), CAST(447 AS BIGINT), CAST(9.850951968 AS DOUBLE), CAST(516.152157699 AS DOUBLE), CAST(4.684938119 AS DOUBLE)),
  ('none', CAST(3 AS BIGINT), CAST(447 AS BIGINT), CAST(17.963935346 AS DOUBLE), CAST(991.798748043 AS DOUBLE), CAST(9.011135523 AS DOUBLE))
) AS t("variant", "n_series", "n_rets", "sum_ret", "sum_abs_ddiff", "max_abs_ddiff")
"""


@register(
    "g9_stitch_summary",
    oracle=_PIN_G9_SUMMARY,  # pinned values, sf0.01
    pinned_sf="0.01",
    doc="Value-oracled twin of g9_stitch_variants (r9 VERDICT task 5): "
    "the same four seeded stitch-variant walks reduced to ORDER-FREE "
    "aggregates only — counts, max (order-free by algebra), and "
    "return mass summed as ROUND(·, 9) DECIMAL(18,9) (exact, "
    "associative) — so the panel is bit-deterministic under any "
    "shuffle-merge order and its literal values pin at the sf0.01 "
    "gate scale. The float mean/std panel stays in the rows-only "
    "sibling (their double-sum merge order is the exact flake risk "
    "r9 documented).",
)
def g9_stitch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    rets = _stitch_variant_rets(spark, sf_dir)
    dec = lambda c: F.round(F.col(c), 9).cast("decimal(18,9)")  # noqa: E731
    return (
        rets.groupBy("variant")
        .agg(
            F.countDistinct("series_id").alias("n_series"),
            F.count("*").alias("n_rets"),
            F.sum(dec("log_ret")).cast("double").alias("sum_ret"),
            F.sum(dec("ddiff")).cast("double").alias("sum_abs_ddiff"),
            F.round(F.max("ddiff"), 9).alias("max_abs_ddiff"),
        )
        .orderBy("variant")
    )
