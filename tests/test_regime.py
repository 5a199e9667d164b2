"""Regime-stack invariants: transition matrix row-stochastic, GARCH
params stationary, generation deterministic (reference contracts from
regime_hmm_garch / test_regime_generator, SURVEY §5)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from synthetic_datagen_spark.regime import (
    RegimeGenerator,
    RegimeModel,
    fit_garch_grid,
    regime_features,
)
from synthetic_datagen_spark.sources import Catalog


@pytest.fixture(scope="module")
def fitted(spark, sf_smoke):
    ev = (
        Catalog(spark, sf_smoke)
        .table("events")
        .filter(F.col("event_type") == "click")
        .select("ts", "event_id", "value")
    )
    feats = regime_features(ev, "value", [], ["ts", "event_id"]).withColumn(
        "series", F.lit(0)
    ).persist()
    model = RegimeModel(n_regimes=3, seed=42).fit(feats, ["series"])
    garch = fit_garch_grid(spark, model.regime_returns())
    return ev, model, garch


def test_transition_matrix_row_stochastic(fitted):
    _, model, _ = fitted
    assert model.trans.shape == (3, 3)
    np.testing.assert_allclose(model.trans.sum(axis=1), 1.0, rtol=1e-9)
    assert (model.trans >= 0).all()
    np.testing.assert_allclose(model.start.sum(), 1.0, rtol=1e-9)


def test_per_regime_stats_complete(fitted):
    _, model, _ = fitted
    for r in range(3):
        s = model.stats[r]
        assert s["sigma"] > 0
        assert -0.99 <= s["ar1"] <= 0.99


def test_garch_params_stationary(fitted):
    _, _, garch = fitted
    assert garch, "grid fit returned nothing"
    for p in garch.values():
        assert p["alpha"] + p["beta"] < 1.0
        assert p["omega"] > 0
        assert np.isfinite(p["loglik"])


def test_regime_generation_deterministic(spark, fitted):
    ev, model, garch = fitted
    gen = RegimeGenerator(model, garch, p0=100.0)
    a = sorted(
        (r.series_id, r.t, r.regime, round(r.price, 9))
        for r in gen.generate(spark, 42, 100, n_series=2).collect()
    )
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        b = sorted(
            (r.series_id, r.t, r.regime, round(r.price, 9))
            for r in gen.generate(spark, 42, 100, n_series=2).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert a == b
    c = sorted(
        (r.series_id, r.t, r.regime, round(r.price, 9))
        for r in gen.generate(spark, 7, 100, n_series=2).collect()
    )
    assert a != c
    raw = gen.generate(spark, 42, 100, n_series=2).collect()
    assert all(r.price > 0 for r in raw)
    assert all(0 <= r.regime < 3 for r in raw)


def test_hmm_labels_match_numpy_replica(spark):
    """The distributed Baum-Welch + Viterbi path must produce the SAME
    labels as the single-sequence numpy replica run from the same init
    on a pinned-seed random-walk fixture (the reference's test data
    shape: 1.3 + cumsum(randn*0.0005), test_plugins.py:11-21)."""
    import numpy as np
    import pandas as pd

    from synthetic_datagen_spark.regime.hmm import (
        _viterbi,
        baum_welch,
        fit_hmm_numpy,
        viterbi_label,
    )

    rng = np.random.default_rng(42)
    n = 600
    prices = 1.3 + np.cumsum(rng.normal(0, 0.0005, n))
    lr = np.diff(np.log(prices))
    vol = pd.Series(lr).rolling(24, min_periods=1).std().bfill().to_numpy()
    X = np.column_stack([lr, vol, np.abs(lr)])
    X = (X - X.mean(axis=0)) / (X.std(axis=0) + 1e-10)

    K, d = 3, 3
    # deterministic quantile init shared by both paths
    qs = np.quantile(X[:, 0], [0.2, 0.5, 0.8])
    means0 = np.column_stack([qs, np.zeros(K), np.zeros(K)])
    covs0 = np.array([np.eye(d) for _ in range(K)])
    trans0 = np.full((K, K), 0.1) + 0.7 * np.eye(K)
    trans0 /= trans0.sum(axis=1, keepdims=True)
    start0 = np.full(K, 1.0 / K)

    t_np, s_np, m_np, c_np, _ = fit_hmm_numpy(
        X, trans0.copy(), start0.copy(), means0.copy(), covs0.copy(), n_iter=5
    )
    want = _viterbi(X, t_np, s_np, m_np, c_np)

    rows = [
        ("s", int(i), float(a), float(b), float(c))
        for i, (a, b, c) in enumerate(X)
    ]
    df = spark.createDataFrame(rows, "series STRING, idx INT, f1 DOUBLE, f2 DOUBLE, f3 DOUBLE")
    t_sp, s_sp, m_sp, c_sp, _ = baum_welch(
        df, ["f1", "f2", "f3"], ["series"], "idx",
        trans0.copy(), start0.copy(), means0.copy(), covs0.copy(),
        n_iter=5, tol=0.0,
    )
    labeled = viterbi_label(
        df, ["f1", "f2", "f3"], ["series"], "idx", t_sp, s_sp, m_sp, c_sp
    )
    got = np.array(
        [r["regime"] for r in labeled.orderBy("idx").select("regime").collect()]
    )
    assert np.array_equal(got, want), (got[:20], want[:20])
    assert np.allclose(t_sp, t_np, atol=1e-10)
    assert len(np.unique(got)) > 1  # regimes actually separate


def test_regime_gan_deterministic_and_fallback(spark, sf_smoke):
    """M9: per-regime training is a pure function of (labels, seed);
    generation deterministic per seed; sparse regimes take the
    parametric fallback path (reference's None-generator slot)."""
    import numpy as np
    from pyspark.sql import functions as F

    from synthetic_datagen_spark.regime import (
        RegimeGanTrainer,
        RegimeModel,
        regime_features,
        regime_gan_generate,
    )
    from synthetic_datagen_spark.sources import Catalog

    ev = (
        Catalog(spark, sf_smoke)
        .table("events")
        .filter(F.col("event_type") == "click")
        .select("ts", "event_id", "value")
    )
    feats = regime_features(ev, "value", [], ["ts", "event_id"]).withColumn(
        "series", F.lit(0)
    ).persist()
    model = RegimeModel(n_regimes=3, seed=42, hmm_iter=3).fit(feats, ["series"])
    gan = RegimeGanTrainer(model, seq_len=16, latent_dim=4, epochs=10, seed=7).fit()
    gan2 = RegimeGanTrainer(model, seq_len=16, latent_dim=4, epochs=10, seed=7).fit()
    assert set(gan.decoders) == set(gan2.decoders)
    for k in gan.decoders:
        assert np.array_equal(gan.decoders[k]["w"], gan2.decoders[k]["w"])

    a = regime_gan_generate(gan, spark, seed=3, n_samples=64, n_series=2).orderBy(
        "series_id", "t"
    ).collect()
    b = regime_gan_generate(gan, spark, seed=3, n_samples=64, n_series=2).orderBy(
        "series_id", "t"
    ).collect()
    c = regime_gan_generate(gan, spark, seed=4, n_samples=64, n_series=2).orderBy(
        "series_id", "t"
    ).collect()
    assert [r.price for r in a] == [r.price for r in b]
    assert [r.price for r in a] != [r.price for r in c]
    assert all(np.isfinite(r.price) and r.price > 0 for r in a)
    assert len(a) == 128

    # force the fallback path: a model whose decoders are all absent
    gan.decoders = {}
    d = regime_gan_generate(gan, spark, seed=3, n_samples=64, n_series=1).collect()
    assert len(d) == 64 and all(np.isfinite(r.price) for r in d)
    feats.unpersist()


def test_regime_gan_moment_match(spark, sf_smoke):
    """Trained-regime segments reproduce their regime's return scale
    within tolerance (the per-regime moment-match contract)."""
    import numpy as np
    from pyspark.sql import functions as F

    from synthetic_datagen_spark.regime import (
        RegimeGanTrainer,
        RegimeModel,
        regime_features,
        regime_gan_generate,
    )
    from synthetic_datagen_spark.sources import Catalog

    ev = (
        Catalog(spark, sf_smoke)
        .table("events")
        .filter(F.col("event_type") == "view")
        .select("ts", "event_id", "value")
    )
    feats = regime_features(ev, "value", [], ["ts", "event_id"]).withColumn(
        "series", F.lit(0)
    ).persist()
    model = RegimeModel(n_regimes=2, seed=42, hmm_iter=3).fit(feats, ["series"])
    gan = RegimeGanTrainer(model, seq_len=16, latent_dim=4, epochs=25, seed=7).fit()
    out = regime_gan_generate(gan, spark, seed=11, n_samples=512, n_series=4)
    pdf = out.orderBy("series_id", "t").toPandas()
    pdf["ret"] = np.log(pdf["price"]).groupby(pdf["series_id"]).diff()
    for k, dec in gan.decoders.items():
        seg = pdf[(pdf["regime"] == k) & pdf["ret"].notna()]["ret"]
        if len(seg) < 50:
            continue
        want = model.stats[k]["sigma"]
        assert 0.2 * want < seg.std() < 5.0 * want, (k, seg.std(), want)
    feats.unpersist()


def test_regime_artifact_cache_warm_equals_cold(spark, sf_smoke, tmp_path, monkeypatch):
    """S5/S6 cross-session cache: a warm g7 run served from the on-disk
    artifact (model.json + labeled.parquet + garch.json) produces
    bit-identical output to the cold fit that wrote it."""
    from synthetic_datagen_spark.functions import memo as M
    from synthetic_datagen_spark.operators import regime_queries as RQ

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    RQ._MODEL_CACHE.clear()
    cold = (
        RQ.g7_regime_garch_generate(spark, sf_smoke)
        .orderBy("series_id", "t")
        .collect()
    )
    adir = M.artifact_dir("regime", sf_smoke, "events", 3, 42, RQ._FIT_VERSION)
    import os

    assert os.path.exists(os.path.join(adir, "model.json"))
    assert os.path.exists(os.path.join(adir, "garch.json"))
    assert os.path.exists(os.path.join(adir, "labeled.parquet", "_SUCCESS"))

    RQ._MODEL_CACHE.clear()  # force the disk path
    warm = (
        RQ.g7_regime_garch_generate(spark, sf_smoke)
        .orderBy("series_id", "t")
        .collect()
    )
    assert [tuple(r) for r in cold] == [tuple(r) for r in warm]
    RQ._MODEL_CACHE.clear()


def test_hmm_golden_fixture_recovers_generating_model(spark):
    """Golden-file parity for the distributed Baum-Welch (reference
    regime_hmm_garch.py:85-93 fits hmmlearn GaussianHMM and labels with
    Viterbi). hmmlearn itself is not installable in this environment,
    so the strongest available oracle is checked in instead: a pinned
    fixture SIMULATED from a known 3-state Gaussian HMM
    (tests/golden/hmm_golden.npz — observations, generating states,
    generating transition matrix). Any correct EM+Viterbi — hmmlearn
    included — recovers the generating labels on this well-separated
    fixture up to state permutation; asserting ≥97% label agreement,
    transition-matrix recovery, and mean recovery pins the distributed
    implementation to the same answer hmmlearn would give."""
    import itertools
    import os

    import numpy as np

    from synthetic_datagen_spark.regime.hmm import baum_welch, viterbi_label

    g = np.load(os.path.join(os.path.dirname(__file__), "golden", "hmm_golden.npz"))
    X, want, trans_true, means_true = g["X"], g["states"], g["trans"], g["means"]
    T, d = X.shape
    K = 3

    # deterministic quantile init (same convention as the replica test)
    qs = np.quantile(X[:, 0], [0.2, 0.5, 0.8])
    means0 = np.column_stack([qs, np.zeros(K)])
    covs0 = np.array([np.eye(d) for _ in range(K)])
    trans0 = np.full((K, K), 0.1) + 0.7 * np.eye(K)
    trans0 /= trans0.sum(axis=1, keepdims=True)
    start0 = np.full(K, 1.0 / K)

    rows = [("s", int(i), float(a), float(b)) for i, (a, b) in enumerate(X)]
    df = spark.createDataFrame(rows, "series STRING, idx INT, f1 DOUBLE, f2 DOUBLE")
    t_sp, s_sp, m_sp, c_sp, _ = baum_welch(
        df, ["f1", "f2"], ["series"], "idx",
        trans0.copy(), start0.copy(), means0.copy(), covs0.copy(),
        n_iter=20, tol=1e-2,
    )
    labeled = viterbi_label(df, ["f1", "f2"], ["series"], "idx", t_sp, s_sp, m_sp, c_sp)
    got = np.array([r["regime"] for r in labeled.orderBy("idx").select("regime").collect()])

    # best label permutation (EM recovers states up to relabeling)
    best_perm, best_acc = None, -1.0
    for perm in itertools.permutations(range(K)):
        acc = float(np.mean(np.array([perm[s] for s in got]) == want))
        if acc > best_acc:
            best_acc, best_perm = acc, perm
    assert best_acc >= 0.97, f"golden label agreement {best_acc:.3f} < 0.97"

    # generating parameters recovered under the same permutation:
    # inv[j] = fitted state that plays generating state j
    inv = np.argsort(best_perm)
    t_aligned = t_sp[np.ix_(inv, inv)]
    assert np.allclose(t_aligned, trans_true, atol=0.08), (t_aligned, trans_true)
    m_aligned = m_sp[inv]
    assert np.allclose(m_aligned, means_true, atol=0.3), (m_aligned, means_true)


def test_deterministic_kmeans_layout_independent_and_separates(spark):
    """regime.segmentation.deterministic_kmeans — the r11 replacement
    for MLlib KMeans in the segment-cluster path (MLlib is
    layout-sensitive even when seeded). Checks: (1) labels are
    bit-identical across partition layouts, (2) an obviously separable
    fixture is separated, (3) ties/empty clusters don't crash."""
    from synthetic_datagen_spark.regime.segmentation import deterministic_kmeans

    rows = []
    for i in range(60):  # three well-separated blobs in (mean_v, std_v)
        c = i % 3
        rows.append((i, 10.0 * c + (i % 7) * 0.01, 5.0 * c + (i % 5) * 0.01))
    df = spark.createDataFrame(rows, "seg INT, mean_v DOUBLE, std_v DOUBLE")

    out1 = {
        r["seg"]: r["_cluster"]
        for r in deterministic_kmeans(df, ["mean_v", "std_v"], k=3).collect()
    }
    out2 = {
        r["seg"]: r["_cluster"]
        for r in deterministic_kmeans(
            df.repartition(23), ["mean_v", "std_v"], k=3
        ).collect()
    }
    assert out1 == out2, "labels drifted across partition layouts"
    # blob members share a label; distinct blobs get distinct labels
    blob_labels = {c: {out1[s] for s in out1 if s % 3 == c} for c in range(3)}
    assert all(len(v) == 1 for v in blob_labels.values()), blob_labels
    assert len({next(iter(v)) for v in blob_labels.values()}) == 3


def test_deterministic_kmeans_empty_input(spark):
    """Empty feature frame: no percentiles to init from — the kernel
    must return an empty labeled frame, not crash on a NULL qrow."""
    from synthetic_datagen_spark.regime.segmentation import deterministic_kmeans

    df = spark.createDataFrame([], "seg INT, mean_v DOUBLE, std_v DOUBLE")
    out = deterministic_kmeans(df, ["mean_v", "std_v"], k=3)
    assert out.count() == 0
    assert "_cluster" in out.columns


def test_lloyd_driver_matches_distributed_bit_for_bit(spark, monkeypatch):
    """r13 optimization: deterministic_kmeans runs its Lloyd updates
    driver-side when the frame is small (the per-iteration cost at
    bench scale is plan compilation, not data). The driver loop
    replicates the distributed plan's arithmetic bit-for-bit —
    assignment fold order, DECIMAL(38,12) quantized sums, correctly
    rounded double casts, python-side division — so converged
    centroids and labels must be IDENTICAL on a fixture awkward enough
    to exercise ties, empty clusters, and >1 iteration."""
    from synthetic_datagen_spark.regime.segmentation import deterministic_kmeans

    rows = []
    for i in range(257):  # irregular blobs + duplicated points for ties
        c = i % 5
        rows.append(
            (i, 3.1 * c + (i % 11) * 0.037, 1.7 * c + (i % 13) * 0.051)
        )
    rows += [(1000 + j, 3.1, 1.7) for j in range(7)]  # exact duplicates
    df = spark.createDataFrame(rows, "seg INT, mean_v DOUBLE, std_v DOUBLE")

    def run():
        out, cents = deterministic_kmeans(
            df, ["mean_v", "std_v"], k=9, return_centroids=True
        )
        labels = {r["seg"]: r["_cluster"] for r in out.collect()}
        return labels, cents

    monkeypatch.setenv("SPARK_GRAFT_KMEANS_DRIVER_MAX", "0")  # force distributed
    lab_dist, cents_dist = run()
    monkeypatch.setenv("SPARK_GRAFT_KMEANS_DRIVER_MAX", "2000000")  # driver path
    lab_drv, cents_drv = run()
    assert cents_drv == cents_dist, "converged centroids drifted"
    assert lab_drv == lab_dist, "labels drifted"


def test_baum_welch_driver_twin_bit_identical(spark, monkeypatch):
    """r14: the bounded single-sequence driver loop must reproduce the
    distributed Baum-Welch EXACTLY (same _estep_rows kernel, identity
    aggregation over one sequence, same _mstep) — and a MULTI-sequence
    frame must stay on the distributed path even when tiny."""
    import numpy as np

    from synthetic_datagen_spark.regime.hmm import baum_welch

    rng = np.random.default_rng(7)
    n = 400
    prices = 1.3 + np.cumsum(rng.normal(0, 0.0005, n))
    lr = np.diff(np.log(prices))
    import pandas as pd

    vol = pd.Series(lr).rolling(24, min_periods=1).std().bfill().to_numpy()
    X = np.column_stack([lr, vol, np.abs(lr)])
    X = (X - X.mean(axis=0)) / (X.std(axis=0) + 1e-10)
    K, d = 3, 3
    qs = np.quantile(X[:, 0], [0.2, 0.5, 0.8])
    means0 = np.column_stack([qs, np.zeros(K), np.zeros(K)])
    covs0 = np.array([np.eye(d) for _ in range(K)])
    trans0 = np.full((K, K), 0.1) + 0.7 * np.eye(K)
    trans0 /= trans0.sum(axis=1, keepdims=True)
    start0 = np.full(K, 1.0 / K)

    rows = [
        ("s", int(i), float(a), float(b), float(c))
        for i, (a, b, c) in enumerate(X)
    ]
    df = spark.createDataFrame(
        rows, "series STRING, idx INT, f1 DOUBLE, f2 DOUBLE, f3 DOUBLE"
    )

    def run(max_values: str):
        monkeypatch.setenv("SPARK_GRAFT_HMM_DRIVER_MAX", max_values)
        return baum_welch(
            df, ["f1", "f2", "f3"], ["series"], "idx",
            trans0.copy(), start0.copy(), means0.copy(), covs0.copy(),
            n_iter=4, tol=0.0,
        )

    dist = run("0")          # force the distributed loop
    drv = run("2000000")     # bounded driver loop (one sequence, tiny)
    for a, b in zip(dist, drv):
        assert np.array_equal(np.asarray(a), np.asarray(b)), (a, b)

    # two sequences: the driver path must decline (float partials would
    # merge in Spark's order); both calls run distributed and agree
    rows2 = rows + [("t", int(i), float(a), float(b), float(c))
                    for i, (a, b, c) in enumerate(X[::-1])]
    df2 = spark.createDataFrame(
        rows2, "series STRING, idx INT, f1 DOUBLE, f2 DOUBLE, f3 DOUBLE"
    )

    def run2(max_values: str):
        monkeypatch.setenv("SPARK_GRAFT_HMM_DRIVER_MAX", max_values)
        return baum_welch(
            df2, ["f1", "f2", "f3"], ["series"], "idx",
            trans0.copy(), start0.copy(), means0.copy(), covs0.copy(),
            n_iter=2, tol=0.0,
        )

    d2a = run2("0")
    d2b = run2("2000000")
    for a, b in zip(d2a, d2b):
        assert np.allclose(np.asarray(a), np.asarray(b), atol=0, rtol=0), (a, b)


def test_regime_fit_driver_twin_bit_identical(spark, sf_smoke, monkeypatch):
    """The whole fit has two paths at the SPARK_GRAFT_HMM_DRIVER_MAX
    cutoff: one driver-sized sequence is collected once (k-means init,
    Baum-Welch and Viterbi on the driver), anything else runs the
    distributed Baum-Welch and grouped-map Viterbi. Both must give the
    same parameters, stats and labeled rows, schema included."""
    from synthetic_datagen_spark.regime import hmm

    ev = (
        Catalog(spark, sf_smoke)
        .table("events")
        .filter(F.col("event_type") == "click")
        .select("ts", "event_id", "value")
    )
    feats = regime_features(ev, "value", [], ["ts", "event_id"]).withColumn(
        "series", F.lit(0)
    ).persist()
    calls = {"n": 0}
    real_label = hmm.viterbi_label

    def counting_label(*a, **kw):
        calls["n"] += 1
        return real_label(*a, **kw)

    monkeypatch.setattr(hmm, "viterbi_label", counting_label)

    def fit(max_values: str):
        monkeypatch.setenv("SPARK_GRAFT_HMM_DRIVER_MAX", max_values)
        m = RegimeModel(n_regimes=3, seed=42).fit(feats, ["series"])
        return m, m.labeled.orderBy("idx").collect()

    dist, dist_rows = fit("0")
    assert calls["n"] == 1
    drv, drv_rows = fit("2000000")
    assert calls["n"] == 1, "the driver-sized fit must not run the grouped-map Viterbi"
    feats.unpersist()
    assert np.array_equal(dist.trans, drv.trans)
    assert np.array_equal(dist.start, drv.start)
    assert dist.stats == drv.stats
    assert dist.labeled.schema == drv.labeled.schema
    assert [tuple(r) for r in dist_rows] == [tuple(r) for r in drv_rows]
    assert {r.regime for r in drv_rows} == {0, 1, 2}


def test_kmeans_init_recovers_separated_clusters():
    """kmeans_init: deterministic in its input, and on three separated
    blobs the means land on the blob centers with per-blob covariances
    and weights. The blobs are ordered alike on both features, the
    layout a per-feature quantile-grid start reaches (low/mid/high
    volatility regimes are)."""
    from synthetic_datagen_spark.regime.hmm import kmeans_init

    rng = np.random.default_rng(5)
    centers = np.array([[-4.0, -2.0], [0.0, 1.0], [5.0, 3.0]])
    sizes = (300, 200, 100)
    X = np.concatenate(
        [c + 0.3 * rng.standard_normal((n, 2)) for c, n in zip(centers, sizes)]
    )
    rng.shuffle(X)
    trans0, start0, means0, covs0 = kmeans_init(X, 3)
    again = kmeans_init(X.copy(), 3)
    for a, b in zip((trans0, start0, means0, covs0), again):
        assert np.array_equal(a, b)
    order = np.argsort(means0[:, 0])
    assert np.allclose(means0[order], centers, atol=0.1)
    assert np.allclose(start0[order], np.array(sizes) / sum(sizes))
    for j in order:
        assert np.allclose(covs0[j], 0.09 * np.eye(2), atol=0.03)
    np.testing.assert_allclose(trans0.sum(axis=1), 1.0)


def test_regime_artifact_from_older_fit_is_not_read(spark, sf_smoke, tmp_path, monkeypatch):
    """The artifact key carries the fit version: a model written under
    the key an older fit used (no version tag) is never served warm."""
    import hashlib
    import json
    import os

    from synthetic_datagen_spark.functions import memo as M
    from synthetic_datagen_spark.operators import regime_queries as RQ

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    st = os.stat(os.path.join(sf_smoke, "events.parquet"))
    fp = f"{st.st_mtime_ns}:{st.st_size}"
    old_key = hashlib.md5(
        f"{os.path.abspath(sf_smoke)}|3|42|{fp}".encode()
    ).hexdigest()[:16]
    old_dir = tmp_path / f"regime_{old_key}"
    new_dir = M.artifact_dir("regime", sf_smoke, "events", 3, 42, RQ._FIT_VERSION)
    assert new_dir != str(old_dir)

    stale = {"n": 7, "mu": 9.0, "sigma": 9.0, "skew": 0.0, "ar1": 0.0}
    old_dir.mkdir()
    with open(old_dir / "model.json", "w") as f:
        json.dump(
            {
                "n_regimes": 3, "seed": 42, "min_points": 10,
                "trans": np.eye(3).tolist(), "start": [1.0, 0.0, 0.0],
                "stats": {str(k): stale for k in range(3)},
            },
            f,
        )
    spark.createDataFrame([(0, 0)], "regime INT, idx INT").write.parquet(
        str(old_dir / "labeled.parquet")
    )
    RQ._MODEL_CACHE.clear()
    try:
        model = RQ._fitted_model(spark, sf_smoke)
        assert not np.array_equal(model.trans, np.eye(3))
        assert model.stats[0] != stale
        assert os.path.exists(
            os.path.join(new_dir, "model.json")
        )
    finally:
        RQ._MODEL_CACHE.clear()
