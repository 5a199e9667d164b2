"""ML decode chain (G1-G3), trainer stubs (M1/M4), ADF panel (D4),
CSV round-trip (S1-S3), stateful streaming running stats."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from synthetic_datagen_spark.evaluators.stationarity import adf_panel
from synthetic_datagen_spark.ml import LinearDecoder, TimeGanTrainer, VaeGanTrainer
from synthetic_datagen_spark.sources import Catalog
from synthetic_datagen_spark.sources.csv_io import (
    SchemaError,
    load_csv,
    load_multiple_csv,
    save_csv,
)

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- G1-G3 --
def test_decoder_generate_deterministic(spark):
    pool = np.linspace(50.0, 150.0, 100)
    dec = LinearDecoder(latent_dim=8, window_rows=16, model_seed=7)
    a = dec.generate(spark, pool, seed=3, n_samples=64, n_series=2).orderBy("series_id", "t").collect()
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        b = dec.generate(spark, pool, seed=3, n_samples=64, n_series=2).orderBy("series_id", "t").collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    c = dec.generate(spark, pool, seed=4, n_samples=64, n_series=2).orderBy("series_id", "t").collect()
    assert [r.price for r in a] == [r.price for r in b]
    assert [r.price for r in a] != [r.price for r in c]
    assert len(a) == 128
    assert all(r.price > 0 and np.isfinite(r.price) for r in a)


def test_timegan_trainer_fit_generate(spark):
    """M4 contract: prepare → 3-phase fit → distributed generate; seed
    determinism mirrors the M1/M2 contract (reference
    tests/test_plugins.py:24-86)."""
    ev = Catalog(spark, SF).table("events").filter(F.col("event_type") == "click")
    src = ev.select(F.col("ts"), F.col("value"))
    trainer = TimeGanTrainer(
        window_rows=16, latent_dim=4, hidden_dim=8, epochs=6, epochs_joint=4,
        train_seed=42, max_windows=256,
    )
    w = trainer.prepare([src], "value", "ts")
    assert w.columns == ["window_id", "window_vec"]
    assert len(w.first()["window_vec"]) == 16
    tg = trainer.fit()
    # decoded windows denormalize into the data range seen in training
    z = np.random.default_rng(0).standard_normal((5, 16, 4))
    x = tg.decode(z)
    assert x.shape == (5, 16)
    assert np.all(np.isfinite(x))
    pool = np.linspace(50.0, 150.0, 50)
    a = tg.generate(spark, pool, seed=3, n_samples=48, n_series=2).orderBy("series_id", "t").collect()
    b = tg.generate(spark, pool, seed=3, n_samples=48, n_series=2).orderBy("series_id", "t").collect()
    c = tg.generate(spark, pool, seed=4, n_samples=48, n_series=2).orderBy("series_id", "t").collect()
    assert [r.price for r in a] == [r.price for r in b]
    assert [r.price for r in a] != [r.price for r in c]
    assert len(a) == 96
    assert all(r.price > 0 and np.isfinite(r.price) for r in a)


def test_timegan_retrain_deterministic(spark):
    """Training is a pure function of (data, seed): refitting yields
    identical weights (windows sorted before collection, single rng)."""
    ev = Catalog(spark, SF).table("events").filter(F.col("event_type") == "click")
    src = ev.select(F.col("ts"), F.col("value"))

    def train():
        tr = TimeGanTrainer(
            window_rows=16, latent_dim=4, hidden_dim=8, epochs=4, epochs_joint=3,
            train_seed=7, max_windows=128,
        )
        tr.prepare([src], "value", "ts")
        return tr.fit()

    t1, t2 = train(), train()
    for k in t1.p:
        assert np.array_equal(t1.p[k], t2.p[k]), k


def test_vae_trainer_fit_generate_determinism(spark):
    """M1/M2 contract (reference tests/test_plugins.py:24-86): prepare →
    fit → generate; same seed ⇒ identical output, different seed ⇒
    different; training itself is partition-invariant (windows sorted
    before SGD)."""
    ev = Catalog(spark, SF).table("events").filter(F.col("event_type") == "click")
    src = ev.select(F.col("ts"), F.col("value"))
    tr = VaeGanTrainer(window_rows=16, latent_dim=8, epochs=8, train_seed=42)
    tr.prepare([src], "value", "ts")
    dec = tr.fit()
    # loss went down and the fit actually beats the untrained decoder
    assert tr.vae.loss_history[-1] < tr.vae.loss_history[0]
    pool = np.linspace(50.0, 150.0, 100)
    a = dec.generate(spark, pool, seed=3, n_samples=48).orderBy("series_id", "t").collect()
    b = dec.generate(spark, pool, seed=3, n_samples=48).orderBy("series_id", "t").collect()
    c = dec.generate(spark, pool, seed=9, n_samples=48).orderBy("series_id", "t").collect()
    assert [r.price for r in a] == [r.price for r in b]
    assert [r.price for r in a] != [r.price for r in c]
    assert all(np.isfinite(r.price) and r.price > 0 for r in a)

    # retrain on a repartitioned prep frame: identical decoder weights
    tr2 = VaeGanTrainer(window_rows=16, latent_dim=8, epochs=8, train_seed=42)
    tr2.prepare([src.repartition(7)], "value", "ts")
    dec2 = tr2.fit()
    assert np.array_equal(dec.flat_weights(), dec2.flat_weights())


def test_gan_trainer_fit_generate_determinism(spark):
    """M3 (reference gan_trainer.py:31-108 + tests/test_plugins.py
    trainer-by-name): standalone pure-GAN trainer resolves from the
    plugin registry, fits deterministically (partition-invariant), and
    its generator drives the shared generate plan."""
    from synthetic_datagen_spark import plugins

    cls = plugins.load_plugin("sdg.trainer", "gan")
    ev = Catalog(spark, SF).table("events").filter(F.col("event_type") == "click")
    src = ev.select(F.col("ts"), F.col("value"))
    tr = cls(window_rows=16, latent_dim=8, epochs=8, train_seed=42)
    tr.prepare([src], "value", "ts")
    dec = tr.fit()
    # both adversaries actually moved: histories populated and finite
    assert len(tr.vae.d_loss_history) == 8 and len(tr.vae.g_loss_history) == 8
    assert all(np.isfinite(v) for v in tr.vae.d_loss_history + tr.vae.g_loss_history)
    pool = np.linspace(50.0, 150.0, 100)
    a = dec.generate(spark, pool, seed=3, n_samples=48).orderBy("series_id", "t").collect()
    b = dec.generate(spark, pool, seed=3, n_samples=48).orderBy("series_id", "t").collect()
    c = dec.generate(spark, pool, seed=9, n_samples=48).orderBy("series_id", "t").collect()
    assert [r.price for r in a] == [r.price for r in b]
    assert [r.price for r in a] != [r.price for r in c]
    assert all(np.isfinite(r.price) and r.price > 0 for r in a)

    tr2 = cls(window_rows=16, latent_dim=8, epochs=8, train_seed=42)
    tr2.prepare([src.repartition(7)], "value", "ts")
    dec2 = tr2.fit()
    assert np.array_equal(dec.flat_weights(), dec2.flat_weights())


def test_gan_learns_scale():
    """The GAN generator's output spread moves toward the data's spread
    (the one distribution property a linear GAN can reliably learn)."""
    from synthetic_datagen_spark.ml.gan import LinearGan

    rng = np.random.default_rng(7)
    X = rng.normal(0.0, 2.5, (512, 8))
    gan = LinearGan(window_rows=8, latent_dim=4, epochs=30, train_seed=1).fit(X)
    w, b = gan.generator_weights()
    z = np.random.default_rng(2).standard_normal((2048, 4))
    fake = z @ w + b
    # untrained init has tiny spread; fitted should land near data std
    assert 1.0 < fake.std() < 5.0


def test_vae_pure_trainer_reconstructs(spark):
    """M2: the fitted VAE reconstructs structured windows better than an
    untrained decoder of the same shape (sanity that SGD learned)."""
    from synthetic_datagen_spark.ml import LinearVaeTrainer

    rng = np.random.default_rng(0)
    t = np.arange(3000)
    vals = 100.0 + np.cumsum(rng.normal(0, 0.1, len(t))) + 3 * np.sin(t / 10)
    src = spark.createDataFrame(
        [(int(i), float(v)) for i, v in zip(t, vals)], "ts BIGINT, value DOUBLE"
    )
    tr = LinearVaeTrainer(window_rows=16, latent_dim=8, epochs=15, train_seed=1)
    tr.prepare([src], "value", "ts")
    tr.fit()
    X = tr._collect_windows()
    fitted = tr.vae.reconstruction_mse(X)
    assert fitted < np.var(X)  # beats predicting the mean
    assert tr.vae.loss_history[-1] < tr.vae.loss_history[0] * 0.9


# --------------------------------------------------------------- D4 --
def test_adf_stationary_vs_random_walk(spark):
    rng = np.random.default_rng(42)
    n = 2000
    stationary = rng.normal(0, 1, n)  # white noise: strongly stationary
    walk = np.cumsum(rng.normal(0, 1, n))  # unit root
    rows = [("s", i, float(stationary[i])) for i in range(n)] + [
        ("w", i, float(walk[i])) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "series STRING, idx LONG, y DOUBLE")
    out = {r["series"]: r for r in adf_panel(df, "y", ["series"], ["idx"])}
    assert out["s"]["adf_stat"] < -10  # white noise rejects unit root hard
    assert out["s"]["p_value"] <= 0.01
    assert out["w"]["adf_stat"] > -3.0  # random walk fails to reject
    assert out["w"]["p_value"] > 0.05


def test_adf_short_series_sentinel(spark):
    df = spark.createDataFrame([("s", i, float(i)) for i in range(5)], "series STRING, idx LONG, y DOUBLE")
    out = adf_panel(df, "y", ["series"], ["idx"])
    assert out[0]["adf_stat"] == -1.0 and out[0]["p_value"] == -1.0


# ------------------------------------------------------------ S1-S3 --
def test_csv_roundtrip_union_dedup(spark, tmp_path):
    ev = (
        Catalog(spark, SF)
        .table("events")
        .select("event_id", "event_type", "value")
        .limit(200)
    )
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    save_csv(ev.filter(F.col("event_id") % 2 == 0), a)
    save_csv(ev, b)  # full overlap with half of a
    back = load_multiple_csv(spark, [a, b], schema=schema, ts_col="event_id")
    assert back.count() == ev.count()
    # keep-first: rows present in `a` must carry a's values (same here),
    # and every original id survives exactly once
    assert back.select("event_id").distinct().count() == ev.count()


def test_csv_schema_validation(spark, tmp_path):
    import pyspark.sql.types as T

    p = str(tmp_path / "x")
    save_csv(
        Catalog(spark, SF).table("events").select("event_id").limit(5), p
    )
    with pytest.raises(SchemaError):
        load_csv(
            spark,
            p,
            schema=T.StructType([T.StructField("event_id", T.LongType())]),
            required=["missing_col"],
        )


# -------------------------------------------------- stateful stream --
def test_stream_running_stats(spark, tmp_path):
    from synthetic_datagen_spark.streaming import read_events_stream
    from synthetic_datagen_spark.streaming.stateful import stream_running_stats

    src = str(tmp_path / "stream_src")
    ev = Catalog(spark, SF).table("events").limit(500)
    ev.write.mode("overwrite").parquet(src)
    stream = read_events_stream(spark, src)
    q = (
        stream_running_stats(stream)
        .writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r.event_type: r for r in spark.sql("SELECT * FROM running_stats").collect()}
    truth = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.avg("value").alias("mean"), F.stddev_samp("value").alias("std"))
        .collect()
    }
    assert set(out) == set(truth)
    for t, row in truth.items():
        assert out[t].n == row.n
        assert abs(out[t].mean - row.mean) < 1e-9
        assert abs(out[t].std - (row.std or 0.0)) < 1e-9


# ---------------------------------------------------------- S9/M12 --
def test_external_pipe_roundtrip(spark):
    import sys

    import pyspark.sql.types as T

    from synthetic_datagen_spark.sources.external import pipe_through_process

    ev = Catalog(spark, SF).table("events").select("event_id", "value").limit(100)
    script = (
        "import sys, pandas as pd; d = pd.read_csv(sys.stdin); "
        "d['value'] = d['value'] + 1; d.to_csv(sys.stdout, index=False)"
    )
    out = pipe_through_process(
        ev,
        [sys.executable, "-c", script],
        T.StructType(
            [T.StructField("event_id", T.LongType()), T.StructField("value", T.DoubleType())]
        ),
    )
    got = {r.event_id: r.value for r in out.collect()}
    want = {r.event_id: r.value + 1 for r in ev.collect()}
    assert got == want


def test_json_memo_computes_once(tmp_path):
    from synthetic_datagen_spark.evaluators.memo import json_memo

    calls = []

    def compute():
        calls.append(1)
        return {"mae": 0.25}

    p = str(tmp_path / "memo.json")
    assert json_memo(p, "baseline|w=12", compute) == {"mae": 0.25}
    assert json_memo(p, "baseline|w=12", compute) == {"mae": 0.25}
    assert len(calls) == 1  # second call served from the memo
    assert json_memo(p, "other-key", compute) == {"mae": 0.25}
    assert len(calls) == 2

    # an unwritable path (its parent is a file) is the artifact store's
    # policy: the computed value comes back, nothing is cached
    (tmp_path / "not_a_dir").write_text("")
    bad = str(tmp_path / "not_a_dir" / "memo.json")
    assert json_memo(bad, "baseline|w=12", compute) == {"mae": 0.25}
    assert json_memo(bad, "baseline|w=12", compute) == {"mae": 0.25}
    assert len(calls) == 4

    # a file that holds JSON but not an object reads as an empty memo
    odd = tmp_path / "list.json"
    odd.write_text("[1, 2]")
    assert json_memo(str(odd), "baseline|w=12", compute) == {"mae": 0.25}
    assert json_memo(str(odd), "baseline|w=12", compute) == {"mae": 0.25}
    assert len(calls) == 5


def test_timegan_save_load_roundtrip(spark, tmp_path):
    """S5 artifact contract for the TimeGAN: save -> load -> identical
    decode (reference layout: per-network files + meta.json)."""
    from synthetic_datagen_spark.ml.timegan import save_timegan, load_timegan

    ev = Catalog(spark, SF).table("events").filter(F.col("event_type") == "click")
    tr = TimeGanTrainer(
        window_rows=16, latent_dim=4, hidden_dim=8, epochs=3, epochs_joint=2,
        train_seed=11, max_windows=128,
    )
    tr.prepare([ev.select("ts", "value")], "value", "ts")
    tg = tr.fit()
    path = str(tmp_path / "tg_model")
    save_timegan(tg, path)
    tg2 = load_timegan(path)
    z = np.random.default_rng(5).standard_normal((3, 16, 4))
    assert np.array_equal(tg.decode(z), tg2.decode(z))


def test_timegan_gru_gradients_match_numerical():
    """The GRU-stack BPTT gradients (ml/timegan.py) are exact: every
    phase objective (autoencoder L1, supervised L1, generator step
    BCE + 100·moment + 10·sup, discriminator BCE) matches central
    differences. L1/moment kinks are avoided by a generic random
    configuration and a small relative-error floor."""
    from synthetic_datagen_spark.ml.timegan import NumpyTimeGan

    tg = NumpyTimeGan(seq_len=6, hidden_dim=3, latent_dim=2, n_layers=2, seed=3)
    p = tg._init_params(np.random.default_rng(5))
    for k in p:
        # zlib.crc32, not hash(): str hashing is salted per interpreter
        # run, which would perturb to a DIFFERENT random point each CI
        # run — a kink-adjacent draw would be an unreproducible flake
        import zlib

        p[k] = p[k] + np.random.default_rng(
            zlib.crc32(k.encode()) % 2**31
        ).normal(0, 0.2, p[k].shape)
    x = np.random.default_rng(9).standard_normal((8, 6)) * 0.5 + 0.5
    z = np.random.default_rng(11).standard_normal((8, 6, 2))

    cases = [
        ("ae", lambda q: tg.ae_loss(q, x), lambda q: tg.ae_grads(q, x)),
        ("sup", lambda q: tg.sup_loss(q, x), lambda q: tg.sup_grads(q, x)),
        ("gen", lambda q: tg.gen_step_loss(q, x, z), lambda q: tg.gen_step_grads(q, x, z)),
        ("disc", lambda q: tg.disc_loss(q, x, z), lambda q: tg.disc_grads(q, x, z)),
    ]
    eps = 1e-5
    for label, loss_fn, grads_fn in cases:
        g = grads_fn(p)
        assert g, label
        rs = np.random.default_rng(13)
        for k in g:
            flat = p[k].reshape(-1)
            for idx in rs.choice(flat.size, size=min(4, flat.size), replace=False):
                orig = flat[idx]
                flat[idx] = orig + eps
                lp = loss_fn(p)
                flat[idx] = orig - eps
                lm = loss_fn(p)
                flat[idx] = orig
                num = (lp - lm) / (2 * eps)
                ana = g[k].reshape(-1)[idx]
                denom = max(1e-4, abs(num), abs(ana))
                assert abs(num - ana) / denom < 1e-3, (label, k, num, ana)


def test_timegan_embedder_is_recurrent():
    """Real GRUs, not the former per-timestep special case: perturbing
    x at t=0 must change the embedder latent at the LAST timestep
    (state carries forward through the recurrent weights)."""
    from synthetic_datagen_spark.ml.timegan import NumpyTimeGan

    tg = NumpyTimeGan(seq_len=8, hidden_dim=4, latent_dim=2, n_layers=1, seed=0)
    p = tg._init_params(np.random.default_rng(1))
    x = np.random.default_rng(2).standard_normal((2, 8))
    h0, _ = tg._embed(p, x)
    x2 = x.copy()
    x2[:, 0] += 1.0
    h1, _ = tg._embed(p, x2)
    assert np.abs(h0[:, -1, :] - h1[:, -1, :]).max() > 1e-9


def test_timegan_legacy_v1_artifact_loads(tmp_path):
    """format_version 1 artifacts (per-timestep nets under bare We/Wr/…
    keys) load as the n_layers=0 degenerate case and decode by the
    exact legacy formula R(S(G(z))) with per-timestep Dense nets."""
    import json
    import os

    from synthetic_datagen_spark.ml.timegan import _sigmoid, load_timegan

    H, L, Tn = 5, 3, 7
    rng = np.random.default_rng(21)
    legacy = {
        "We": rng.normal(0, 0.1, H), "be": rng.normal(0, 0.1, H),
        "Wr": rng.normal(0, 0.1, H), "br": np.asarray(rng.normal()),
        "Wg": rng.normal(0, 0.1, (L, H)), "bg": rng.normal(0, 0.1, H),
        "Ws": rng.normal(0, 0.1, (H, H)), "bs": rng.normal(0, 0.1, H),
        "Wd": rng.normal(0, 0.1, H), "bd": np.asarray(rng.normal()),
    }
    path = str(tmp_path / "tg_v1")
    os.makedirs(path)
    np.savez(os.path.join(path, "weights.npz"), **legacy)
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(
            {"seq_len": Tn, "hidden_dim": H, "latent_dim": L,
             "data_min": -0.2, "data_range": 0.4, "format_version": 1},
            f,
        )
    tg = load_timegan(path)
    assert tg.n_layers == 0
    z = np.random.default_rng(33).standard_normal((4, Tn, L))
    got = tg.decode(z)
    e = _sigmoid(z @ legacy["Wg"] + legacy["bg"])
    h = _sigmoid(e @ legacy["Ws"] + legacy["bs"])
    want = (h @ legacy["Wr"] + legacy["br"]) * 0.4 + (-0.2)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)


def test_catalog_normalizes_timestamp_ntz(spark):
    """Round-2 regression pin: with NTZ inference on (the plain driver
    session's default view of tz-less parquet timestamp[us]), the
    catalog must still hand downstream operators a TIMESTAMP_LTZ ts —
    unix_micros/cast(double) on TIMESTAMP_NTZ throw AnalysisException
    and took down 4 queries, pytest, and the round-2 bench."""
    prev_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    prev_ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", None)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        ev = Catalog(spark, SF).table("events")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        # the three expression families the NTZ breakage killed
        row = ev.select(
            F.unix_micros("ts").alias("us"),
            F.unix_seconds("ts").alias("s"),
            F.col("ts").cast("double").alias("d"),
        ).first()
        assert row["us"] is not None and row["d"] is not None
        assert row["us"] // 1_000_000 == row["s"]
    finally:
        if prev_nanos is not None:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev_nanos)
        if prev_ntz is not None:
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prev_ntz)


# ---------------------------------------------------------------------------
# data-processor parity — the reference pins these invariants in its own
# tests/test_data_processor.py; same behaviors, Spark-frame form.
# ---------------------------------------------------------------------------
def test_returns_roundtrip_reference_parity(spark):
    """prices→returns→prices recovers the input to 1e-12
    (test_returns_roundtrip; data_processor.py prices_to_returns /
    returns_to_prices = W1 + W2 here)."""
    from synthetic_datagen_spark.functions import timeseries as TS

    prices = [1.0, 1.01, 1.005, 1.02, 0.99]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(prices)], "t LONG, value DOUBLE"
    )
    r = TS.log_returns(df, "value", [], ["t"]).withColumn("p0", F.lit(prices[0]))
    back = TS.reconstruct_prices(r, "log_ret", "p0", [], ["t"]).orderBy("t").collect()
    np.testing.assert_allclose([row["price"] for row in back], prices, rtol=1e-12)


def test_sliding_windows_reference_shape(spark):
    """create_windows parity (test_create_windows): N=10, W=3 → 8 full
    windows, first [0,1,2], last [7,8,9]; and prepare_training_windows
    with use_returns loses exactly one row → N-1-W+1 windows
    (test_prepare_training_data)."""
    from synthetic_datagen_spark.functions import timeseries as TS
    from synthetic_datagen_spark.ml.prep import prepare_training_windows

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "t LONG, value DOUBLE"
    )
    w = TS.sliding_windows(df, "value", 3, [], ["t"]).orderBy("window_id").collect()
    assert len(w) == 8
    assert w[0]["window_vec"] == [0.0, 1.0, 2.0]
    assert w[-1]["window_vec"] == [7.0, 8.0, 9.0]

    n, W = 200, 10
    prices = spark.createDataFrame(
        [(i, float(1.3 + 0.001 * np.sin(i))) for i in range(n)],
        "ts LONG, value DOUBLE",
    )
    wins = prepare_training_windows([prices], "value", "ts", W, use_returns=True)
    assert wins.count() == n - 1 - W + 1


def test_trainer_raises_on_too_short_series(spark):
    """create_windows raises ValueError when the series is shorter than
    one window (test_create_windows_too_short); the trainer surfaces the
    same clear error instead of a numpy shape failure."""
    prices = spark.createDataFrame(
        [(i, 1.3 + 0.001 * i) for i in range(5)], "ts LONG, value DOUBLE"
    )
    tr = VaeGanTrainer(window_rows=32, epochs=1, max_windows=64)
    tr.prepare([prices], "value", "ts")
    with pytest.raises(ValueError, match="too short"):
        tr.fit()


class TestPythonDataSource:
    def test_sdg_ticks_exact_parity_and_partitioning(self, spark):
        """The custom DataSource's distributed output must be BIT-equal
        to a local recomputation of the counter-based kernel for every
        series (pure function of (seed, series, step)), and planning
        must create one partition per series."""
        import numpy as np

        from synthetic_datagen_spark.sources.pyds import (
            register_sdg_ticks,
            series_ticks,
        )

        register_sdg_ticks(spark)
        df = (
            spark.read.format("sdg_ticks")
            .option("seed", 7)
            .option("n_series", 4)
            .option("n_ticks", 256)
            .load()
        )
        assert df.rdd.getNumPartitions() == 4
        got = df.toPandas().sort_values(["series_id", "step"])
        for sid in range(4):
            _, want = series_ticks(7, sid, 256)
            have = got[got.series_id == sid]["value"].to_numpy()
            assert np.array_equal(have, want), sid

    def test_sdg_ticks_seed_sensitivity(self, spark):
        from synthetic_datagen_spark.sources.pyds import register_sdg_ticks

        register_sdg_ticks(spark)

        def head(seed):
            return (
                spark.read.format("sdg_ticks")
                .option("seed", seed)
                .option("n_series", 1)
                .option("n_ticks", 8)
                .load()
                .toPandas()["value"]
                .tolist()
            )

        assert head(1) != head(2)

    def test_sdg_ticks_streaming_reader_bit_equal(self, spark):
        """The streaming half (SimpleDataSourceStreamReader, offset =
        step counter) must emit rows bit-equal to the batch kernel for
        the same step range — exactly-once by determinism."""
        import uuid

        import numpy as np

        from synthetic_datagen_spark.sources.pyds import (
            register_sdg_ticks,
            series_ticks,
        )

        register_sdg_ticks(spark)
        name = f"ticks_{uuid.uuid4().hex[:8]}"
        st = (
            spark.readStream.format("sdg_ticks")
            .option("seed", 11)
            .option("n_series", 3)
            .option("batch_ticks", 50)
            .load()
        )
        q = (
            st.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(once=True)
            .start()
        )
        q.awaitTermination(120)
        pdf = spark.table(name).toPandas().sort_values(["series_id", "step"])
        assert len(pdf) == 150 and pdf["step"].max() == 49
        for sid in range(3):
            _, want = series_ticks(11, sid, 50)
            assert np.array_equal(
                pdf[pdf.series_id == sid]["value"].to_numpy(), want
            ), sid

    def test_sdg_ticks_filter_pushdown_prunes_partitions(self, spark):
        """series_id equality/IN filters are consumed by pushFilters
        and planning skips the pruned partitions entirely; residual
        predicates still evaluate post-scan."""
        import pyspark.sql.functions as F

        from synthetic_datagen_spark.sources.pyds import register_sdg_ticks

        register_sdg_ticks(spark)

        def load():
            return (
                spark.read.format("sdg_ticks")
                .option("seed", 5)
                .option("n_series", 8)
                .option("n_ticks", 100)
                .load()
            )

        eq = load().filter(F.col("series_id") == 3)
        assert eq.rdd.getNumPartitions() == 1 and eq.count() == 100
        isin = load().filter(F.col("series_id").isin(1, 4, 6))
        assert isin.rdd.getNumPartitions() == 3 and isin.count() == 300
        # residual (non-pushable) predicate still correct
        resid = load().filter((F.col("series_id") == 2) & (F.col("step") < 10))
        assert resid.count() == 10

    def test_sdg_metrics_writer_two_phase_commit(self, spark, tmp_path):
        """The custom writer stages per-partition JSONL parts and
        promotes them atomically with a _SUCCESS manifest; content
        round-trips exactly."""
        import json

        from synthetic_datagen_spark.sources.pyds import register_sdg_metrics

        register_sdg_metrics(spark)
        path = str(tmp_path / "metrics")
        (tmp_path / "metrics").mkdir()
        df = spark.range(64).selectExpr("id", "id * id as sq")
        df.repartition(4).write.format("sdg_metrics").option("path", path).mode(
            "append"
        ).save()
        man = json.load(open(f"{path}/_SUCCESS"))
        assert man["total_rows"] == 64 and len(man["parts"]) == 4
        rows = [
            json.loads(line)
            for p in man["parts"]
            for line in open(f"{path}/{p}")
        ]
        assert sorted(r["id"] for r in rows) == list(range(64))
        assert all(r["sq"] == r["id"] ** 2 for r in rows)
        import os

        assert not os.path.exists(f"{path}/_staging") or not os.listdir(
            f"{path}/_staging"
        )


def test_arrow_frame_matches_list_frame(spark):
    """execution.arrow_frame builds the frame createDataFrame(list)
    builds for the same rows and schema: None stays null in int and
    string columns, a DDL or StructType schema is kept as given, and a
    dict of columns builds the same frame as the rows."""
    from synthetic_datagen_spark.functions.execution import arrow_frame

    ddl = "k INT, name STRING, x DOUBLE, big BIGINT"
    rows = [(1, "a", 0.5, 2**40), (None, None, None, None), (3, "c", -0.0, -1)]
    want = spark.createDataFrame(rows, ddl)
    for got in (
        arrow_frame(spark, rows, ddl),
        arrow_frame(spark, rows, want.schema),
        arrow_frame(spark, dict(zip(want.columns, zip(*rows))), ddl),
    ):
        assert got.schema == want.schema
        assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    assert arrow_frame(spark, [], ddl).schema == want.schema
    assert arrow_frame(spark, [], ddl).count() == 0
