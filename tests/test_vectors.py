"""Vector-operator tests: LSH recall vs brute force, cosine sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from synthetic_datagen_spark.functions import memo as M, vectors as V
from synthetic_datagen_spark.sources import Catalog


def test_lsh_recall_vs_brute_force(spark, sf_smoke):
    emb = Catalog(spark, sf_smoke).table("embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    bf = V.brute_force_knn(q, emb, 5).select("query_id", "neighbor_id")
    lsh = V.lsh_bucketed_knn(q, emb, 5, dim=64, n_tables=8, n_planes=5, seed=42)
    hits = bf.join(lsh.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]).count()
    recall = hits / bf.count()
    assert recall >= 0.4, f"LSH recall {recall} too low"


def test_near_dup_lsh_recall_vs_brute_force(spark, sf_smoke):
    """The registered near-dup operator is LSH-pruned; brute force is
    the demoted exactness oracle. Recall floor at the boundary-heavy
    test threshold (pairs sit at cos .35-.6 where per-plane collision
    p ≈ .63); at real near-dup thresholds (cos ≥ .9) the same config
    gives ≈99.9% recall. Precision is exact (candidates are rescored
    with the true cosine)."""
    emb = Catalog(spark, sf_smoke).table("embeddings")
    bf = V.embedding_near_dups(emb, 0.35).select("id_a", "id_b")
    lsh = V.lsh_near_dup_pairs(emb, 0.35, dim=64).select("id_a", "id_b", "cos_sim")
    n_bf = bf.count()
    hits = bf.join(lsh, ["id_a", "id_b"]).count()
    assert hits / n_bf >= 0.5, f"near-dup recall {hits / n_bf} too low"
    # no false positives: every emitted pair truly clears the threshold
    assert lsh.filter(F.col("cos_sim") < 0.35).count() == 0
    assert lsh.count() == hits  # LSH output ⊆ brute-force output


def test_lsh_deterministic_across_partitioning(spark, sf_smoke):
    emb = Catalog(spark, sf_smoke).table("embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    a = V.lsh_bucketed_knn(q, emb, 5, dim=64).collect()
    b = V.lsh_bucketed_knn(q.repartition(7), emb.repartition(13), 5, dim=64).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_cosine_self_similarity(spark, sf_smoke):
    emb = Catalog(spark, sf_smoke).table("embeddings").limit(20)
    d = emb.select(
        V.cosine(
            F.transform("embedding", lambda x: x.cast("double")),
            F.transform("embedding", lambda x: x.cast("double")),
        ).alias("c")
    )
    bad = d.filter(F.abs(F.col("c") - 1.0) > 1e-12).count()
    assert bad == 0


def test_ivf_recall_vs_brute_force(spark, sf_smoke):
    emb = Catalog(spark, sf_smoke).table("embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    bf = V.brute_force_knn(q, emb, 5).select("query_id", "neighbor_id")
    ivf = V.ivf_knn(q, emb, 5, n_lists=8, n_probe=3, seed=42)
    hits = bf.join(ivf.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]).count()
    recall = hits / bf.count()
    assert recall >= 0.5, f"IVF recall {recall} too low"
    # every query still returns a full (or near-full) top-k
    assert ivf.groupBy("query_id").count().agg(F.min("count")).first()[0] >= 3


def test_ivf_deterministic_same_layout(spark, sf_smoke):
    """Same input layout + seed ⇒ identical index and results. (Across
    DIFFERENT partitionings the k-means|| init — like FAISS training —
    may pick different centroids: real IVF indexes are built once and
    persisted, not rebuilt per query; vectors.py documents this.)"""
    emb = Catalog(spark, sf_smoke).table("embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    a = V.ivf_knn(q, emb, 5, seed=42).collect()
    b = V.ivf_knn(q, emb, 5, seed=42).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_embedding_dedup_clusters_invariants(spark, sf_smoke):
    """Semantic dedup clustering: labels are the component minimum,
    exactly one keep=true per cluster (the minimum itself), and both
    endpoints of every near-dup pair land in the same cluster."""
    from synthetic_datagen_spark.operators.vector_queries import (
        embedding_dedup_clusters,
    )

    emb = Catalog(spark, sf_smoke).table("embeddings")
    cl = embedding_dedup_clusters(spark, sf_smoke).collect()
    by_id = {r["vec_id"]: r for r in cl}
    clusters: dict[int, list] = {}
    for r in cl:
        clusters.setdefault(r["cluster_id"], []).append(r)
    for cid, members in clusters.items():
        ids = [m["vec_id"] for m in members]
        assert cid == min(ids), (cid, ids)
        keeps = [m for m in members if m["keep"]]
        assert len(keeps) == 1 and keeps[0]["vec_id"] == cid

    pairs = V.lsh_near_dup_pairs(
        emb, 0.35, dim=64, n_tables=8, n_planes=4, seed=42
    ).collect()
    for p in pairs:
        assert by_id[p["id_a"]]["cluster_id"] == by_id[p["id_b"]]["cluster_id"], p


def test_ivf_index_save_load_query_parity(spark, sf_smoke, tmp_path):
    """FAISS-style IVF lifecycle: build → save → load → query gives the
    exact same results as querying the freshly built index (centroids
    round-trip through JSON, lists through partitioned parquet)."""
    emb = Catalog(spark, sf_smoke).table("embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    idx = V.IvfIndex.build(emb, n_lists=8, seed=42)
    fresh = idx.query(q, 5, n_probe=3).collect()
    path = str(tmp_path / "ivf_index")
    idx.save(path)
    import os

    assert os.path.exists(os.path.join(path, "centroids.json"))
    assert os.path.exists(os.path.join(path, "lists.parquet", "_SUCCESS"))
    loaded = V.IvfIndex.load(spark, path)
    assert loaded.centroids == idx.centroids
    back = loaded.query(q, 5, n_probe=3).collect()
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, back))


def test_strict_dedup_planted_corpus_recall_and_threshold(spark, sf_smoke):
    """Production-threshold (cos ≥ 0.9) semantic dedup: on the planted
    corpus (every 10th vector gets a first-coordinate-negated variant),
    the 12×6 LSH config must find EVERY brute-force pair at ≥0.9
    (recall ≈99.8% theoretical; the fixture's ~50 pairs should all
    survive), and the threshold must genuinely discriminate — some
    planted pairs fall below 0.9 and are rejected."""
    from synthetic_datagen_spark.operators.vector_queries import _planted_corpus

    corpus = _planted_corpus(spark, sf_smoke)
    bf = V.embedding_near_dups(corpus, 0.9).select("id_a", "id_b")
    lsh = V.lsh_near_dup_pairs(
        corpus, 0.9, dim=64, n_tables=12, n_planes=6, seed=42
    ).select("id_a", "id_b", "cos_sim")
    n_bf = bf.count()
    assert n_bf > 0, "planted corpus must contain pairs above 0.9"
    hits = bf.join(lsh, ["id_a", "id_b"]).count()
    assert hits == n_bf, f"strict-dedup recall {hits}/{n_bf} — LSH missed pairs"
    assert lsh.count() == hits  # precision exact: LSH ⊆ brute force
    assert lsh.filter(F.col("cos_sim") < 0.9).count() == 0
    # the threshold discriminates: at least one planted pair is BELOW 0.9
    all_planted = V.embedding_near_dups(corpus, 0.0).filter(
        F.col("id_b") == F.col("id_a") + 1000000
    )
    assert all_planted.filter(F.col("cos_sim") < 0.9).count() > 0


def test_scaled_lsh_params_and_recall(spark, sf_smoke):
    """scaled_lsh_params grows planes with log2(n) so random-collision
    candidates stay ~linear in corpus size; tables are set for >=99%
    pair recall at the threshold. On the fixture, the pair build the
    scaled query runs (_cached_pairs with the scaled config) must find
    every brute-force pair at >= 0.9."""
    from synthetic_datagen_spark.functions.vectors import scaled_lsh_params
    from synthetic_datagen_spark.operators import vector_queries as VQ

    # monotone plane growth, bounded candidate rate
    prev_b = 0
    for n in (500, 5_000, 50_000, 5_000_000):
        b, L = scaled_lsh_params(n, 0.9)
        assert b >= prev_b
        assert L * n / 2.0**b <= 100.0  # <= 2*cands_per_vec
        prev_b = b

    corpus = VQ._planted_corpus(spark, sf_smoke)
    b, L = scaled_lsh_params(corpus.count(), 0.9)
    bf = V.embedding_near_dups(corpus, 0.9).select("id_a", "id_b")
    sc = VQ._cached_pairs(
        spark, sf_smoke, 0.9, L, b, VQ._planted_corpus, arrow=True
    ).select("id_a", "id_b")
    nb = bf.count()
    assert nb > 0
    hits = bf.join(sc, ["id_a", "id_b"]).count()
    assert hits == nb, f"scaled-LSH recall {hits}/{nb}"


def test_scaled_dedup_query_matches_fixed_config_clusters(spark, sf_smoke):
    """embedding_dedup_clusters_scaled (runtime-sized LSH, rows-only)
    must produce the IDENTICAL clustering as the SQL-oracled
    fixed-config sibling: at 100% pair recall both configs see the same
    ≥0.9 pair set, so the connected components are equal."""
    from synthetic_datagen_spark.operators.base import REGISTRY

    a = REGISTRY["embedding_dedup_clusters_strict"].build(spark, sf_smoke)
    b = REGISTRY["embedding_dedup_clusters_scaled"].build(spark, sf_smoke)
    ra = [(r.vec_id, r.cluster_id, r.keep) for r in a.collect()]
    rb = [(r.vec_id, r.cluster_id, r.keep) for r in b.collect()]
    assert ra == rb and len(ra) > 0


def test_sign_buckets_no_overflow_beyond_31_planes(spark, sf_smoke):
    """scaled_lsh_params can choose >31 planes at extreme corpus sizes;
    the bucket fold must accumulate in a LONG (ADVICE r5) — 40 planes
    would raise ArithmeticException under ANSI mode with an int
    accumulator. Buckets must also stay non-negative and distinct-ish."""
    emb = Catalog(spark, sf_smoke).table("embeddings").limit(50)
    b = V._with_sign_buckets(
        emb, "vid", "v", "vec_id", "embedding",
        dim=64, n_tables=2, n_planes=40, seed=42,
    )
    rows = b.select("tbl", "bucket").collect()  # would throw on overflow
    assert len(rows) == 100
    assert all(r.bucket >= 0 for r in rows)
    # 40-bit bucket space over 50 vectors: collisions ~0
    assert len({(r.tbl, r.bucket) for r in rows}) > 90
    # scalar twin folds identically
    planes = V.random_hyperplanes(64, 40, seed=43)
    one = emb.limit(1).select(
        V.sign_bucket(F.col("embedding"), planes).alias("bkt")
    ).first()
    assert one.bkt >= 0


def test_pq_knn_recall_and_determinism(spark, sf_smoke):
    """PQ/ADC kNN: aggressive 4-bit x 8-subspace quantization must
    still recover most exact neighbors after the top-C exact rescore,
    and the (sample, seed)-trained codebooks make results partition-
    layout independent."""
    emb = Catalog(spark, sf_smoke).table("embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    bf = {(r.query_id, r.neighbor_id)
          for r in V.brute_force_knn(q, emb, 5).collect()}
    a = V.pq_knn(q, emb, 5, m=8, n_cent=16, top_c=50, seed=42).collect()
    pq = {(r.query_id, r.neighbor_id) for r in a}
    assert len(bf & pq) / len(bf) >= 0.5  # coarse codes + exact rescore
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        b = V.pq_knn(q, emb, 5, m=8, n_cent=16, top_c=50, seed=42).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pq_codebooks_shape_and_determinism():
    import numpy as np

    rng = np.random.default_rng(9)
    x = rng.normal(size=(500, 64))
    b1 = V.fit_pq_codebooks(x, m=8, k=16, seed=3)
    b2 = V.fit_pq_codebooks(x, m=8, k=16, seed=3)
    b3 = V.fit_pq_codebooks(x, m=8, k=16, seed=4)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2) and not np.array_equal(b1, b3)
    # quantization error shrinks vs a 1-centroid (mean) baseline
    ds = 8
    err_pq = 0.0
    err_mean = 0.0
    for s in range(8):
        xs = x[:, s * ds:(s + 1) * ds]
        d2 = ((xs * xs).sum(1, keepdims=True) - 2 * xs @ b1[s].T
              + (b1[s] ** 2).sum(1))
        err_pq += d2.min(1).mean()
        err_mean += ((xs - xs.mean(0)) ** 2).sum(1).mean()
    # isotropic Gaussian is PQ's worst case: rate ~ k^(-2/ds) = 16^-0.25
    # ≈ 0.5 per subspace; assert meaningfully below the 1-centroid baseline
    assert err_pq < 0.7 * err_mean


def test_pq_index_save_load_query_parity(spark, sf_smoke, tmp_path):
    """PqIndex mirrors the FAISS IndexPQ lifecycle: build once, save
    (codebooks.json + 4-bit codes.parquet — the codes ARE the stored
    corpus), load in a fresh handle, query. Loaded results must equal
    built results exactly, in BOTH modes: pure-ADC (approximate score,
    codes only) and exact-rescore (refine against original vectors)."""
    emb = Catalog(spark, sf_smoke).table("embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    idx = V.PqIndex.build(emb, m=8, n_cent=16, seed=7)
    path = str(tmp_path / "pq_index")
    idx.save(path)
    idx2 = V.PqIndex.load(spark, path)

    import numpy as np
    assert np.array_equal(idx.books, idx2.books)

    adc1 = sorted(map(tuple, idx.query(q, 5).collect()))
    adc2 = sorted(map(tuple, idx2.query(q, 5).collect()))
    assert adc1 == adc2 and len(adc1) == 25

    ex1 = sorted(map(tuple, idx.query(q, 5, rescore=emb).collect()))
    ex2 = sorted(map(tuple, idx2.query(q, 5, rescore=emb).collect()))
    assert ex1 == ex2
    # rescored mode agrees with the one-shot pq_knn at the same config
    one = sorted(map(tuple, V.pq_knn(q, emb, 5, m=8, n_cent=16, seed=7).collect()))
    assert {(r[0], r[1]) for r in ex1} == {(r[0], r[1]) for r in one}


def test_ivfpq_index_lifecycle_and_recall(spark, sf_smoke, tmp_path):
    """IVFPQ (FAISS IndexIVFPQ shape): build -> save -> load -> query
    parity in both ADC and rescored modes; probing half the lists with
    residual-PQ codes + exact top-50 rescore keeps most true neighbors."""
    import numpy as np

    emb = Catalog(spark, sf_smoke).table("embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    idx = V.IvfPqIndex.build(emb, n_lists=8, m=8, n_cent=16, seed=42)
    bf = {(r.query_id, r.neighbor_id)
          for r in V.brute_force_knn(q, emb, 5).collect()}
    got_rows = idx.query(q, 5, n_probe=4, rescore=emb).collect()
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    assert len(bf & got) / len(bf) >= 0.4  # half the lists probed

    path = str(tmp_path / "ivfpq")
    idx.save(path)
    idx2 = V.IvfPqIndex.load(spark, path)
    assert np.array_equal(idx.centroids, idx2.centroids)
    assert np.array_equal(idx.books, idx2.books)
    a = sorted(map(tuple, got_rows))
    b = sorted(map(tuple, idx2.query(q, 5, n_probe=4, rescore=emb).collect()))
    assert a == b
    adc1 = sorted(map(tuple, idx.query(q, 5, n_probe=4).collect()))
    adc2 = sorted(map(tuple, idx2.query(q, 5, n_probe=4).collect()))
    assert adc1 == adc2 and len(adc1) == 40
    # probing MORE lists can only improve (or keep) recall
    more = {(r.query_id, r.neighbor_id)
            for r in idx.query(q, 5, n_probe=8, rescore=emb).collect()}
    assert len(bf & more) >= len(bf & got)


def test_knn_recall_eval_panel(spark):
    """The catalog recall evaluator reports the production configs:
    both index families must clear 0.4 recall@5 at sf0.01, and
    true_positives must be consistent with the recall column."""
    from synthetic_datagen_spark.operators import REGISTRY

    pdf = REGISTRY["knn_recall_eval"].build(spark, "/root/testdata/sf0.01").toPandas()
    assert set(pdf["method"]) == {"lsh_8x5", "ivf_16_4"}
    assert (pdf["recall_at_5"] >= 0.4).all()
    assert (pdf["true_positives"] == (pdf["recall_at_5"] * 50).round()).all()


def test_lsh_scale_guard_swaps_fixed_config_above_cutoff(spark, sf_smoke, monkeypatch):
    """r9 VERDICT task 2: past _fixed_config_max_rows the near-dup
    entry points must derive (n_planes, n_tables) from the corpus count
    (fixed configs are a proven 100× scale-killer, SCALE_SWEEP_r9 OOM);
    below it the requested config passes through verbatim (the
    literal-hyperplane oracles depend on it). Resolution is
    idempotent."""
    from synthetic_datagen_spark.functions.vectors import scaled_lsh_params
    from synthetic_datagen_spark.operators import vector_queries as VQ

    df = VQ._emb(spark, sf_smoke)
    n = df.count()
    kind = "_emb"
    # below cutoff (default 10k >> sf0.001): request kept verbatim,
    # guard NOT engaged
    assert VQ._scale_guarded_config(
        spark, sf_smoke, 0.9, 12, 6, kind, df
    ) == (12, 6, False)
    # force the guard on the small fixture (0.9 is feasible at any n)
    monkeypatch.setenv("SPARK_GRAFT_LSH_FIXED_MAX", str(n - 1))
    b, L = scaled_lsh_params(n, 0.9)
    resolved = VQ._scale_guarded_config(spark, sf_smoke, 0.9, 12, 6, kind, df)
    assert resolved == (L, b, True) and resolved[:2] != (12, 6)
    # idempotent in the CONFIG — and the engaged flag still reports
    # True on the second hop (a resolved==requested comparison could
    # never see it; that blindness was the r10 ADVICE medium defect:
    # _dedup_clusters pre-resolved, _cached_pairs then missed the
    # arrow flip and rebuilt the pair set under a different memo key)
    assert VQ._scale_guarded_config(
        spark, sf_smoke, 0.9, L, b, kind, df
    ) == (L, b, True)


def test_lsh_scale_guard_end_to_end_strict_dedup(spark, sf_smoke, monkeypatch):
    """With the guard forced on, the DEFAULT strict entry point runs
    the scaled config and keeps its semantics: planted near-dup pairs
    (cos ≥ 0.9) still land in shared clusters with no false merges —
    precision comes from the exact rescore, recall from the
    target_recall-sized table count."""
    import numpy as np

    from synthetic_datagen_spark.operators import vector_queries as VQ

    monkeypatch.setenv("SPARK_GRAFT_LSH_FIXED_MAX", "100")
    rows = VQ._planted_corpus(spark, sf_smoke).collect()
    ids = [r.vec_id for r in rows]
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    truth = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if S[i, j] >= 0.9
    }
    assert truth, "planted corpus lost its near-dup pairs"
    labels = {
        r.vec_id: r.cluster_id
        for r in VQ.embedding_dedup_clusters_strict(spark, sf_smoke).collect()
    }
    got = {
        (a, b)
        for a in labels
        for b in labels
        if a < b and labels[a] == labels[b]
    }
    # exact rescore => no pair outside the transitive closure of truth;
    # on this fixture the planted pairs are isolated 2-cliques so the
    # cluster pair set IS the pair set
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, recall
    assert got <= truth, f"false merges: {sorted(got - truth)[:5]}"


def test_strict_and_scaled_share_memos_above_cutoff(spark, sf_smoke, monkeypatch):
    """r10 ADVICE (medium): above _fixed_config_max_rows,
    embedding_dedup_clusters_strict and embedding_dedup_clusters_scaled
    must resolve to the SAME pair-memo and CC-memo entries — one
    bucket-join, one label pass. The r10 code resolved the guard in
    _dedup_clusters first, so _cached_pairs saw resolved==requested,
    never flipped arrow=True, and rebuilt the pair set under a second
    memo key with the ~10× slower JVM fold; the scaled twin also used
    a different CC key prefix, so labels were never shared either."""
    from synthetic_datagen_spark.functions import graph as G
    from synthetic_datagen_spark.operators import vector_queries as VQ

    monkeypatch.setenv("SPARK_GRAFT_LSH_FIXED_MAX", "100")
    app_id = spark.sparkContext.applicationId
    n = VQ._corpus_count(
        spark, sf_smoke, "_planted_corpus", VQ._planted_corpus(spark, sf_smoke)
    )
    b, L = V.scaled_lsh_params(n, 0.9)
    strict = {
        r.vec_id: r.cluster_id
        for r in VQ.embedding_dedup_clusters_strict(spark, sf_smoke).collect()
    }
    # strict's build above the cutoff lands under the resolved-config
    # ARROW pair key and the unified (prefix-free) CC key — the exact
    # keys the scaled twin uses
    pair_key = (
        app_id,
        ("lsh_pairs", sf_smoke, 0.9, L, b, "_planted_corpus", True),
    )
    cc_key = (app_id, (f"emb_lsh_cc_0.9_{L}x{b}__planted_corpus", sf_smoke))
    assert pair_key in M._FRAMES, sorted(M._FRAMES)
    assert cc_key in G._CC_CACHE, sorted(G._CC_CACHE)
    pair_keys = set(M._FRAMES)
    cc_keys = set(G._CC_CACHE)
    scaled = {
        r.vec_id: r.cluster_id
        for r in VQ.embedding_dedup_clusters_scaled(spark, sf_smoke).collect()
    }
    # scaled added NO new memo entries: both levels shared
    assert set(M._FRAMES) == pair_keys
    assert set(G._CC_CACHE) == cc_keys
    assert scaled == strict


def test_lsh_scale_guard_rejects_bulk_threshold(spark, sf_smoke, monkeypatch):
    """A threshold inside the random-cosine bulk (0.35 on the diffuse
    64-dim corpus) must fail FAST above the cutoff — warn that the
    answer is quadratic, then raise (no config reaches the recall
    target without thousands of tables) — instead of OOMing at ~n²/2
    candidates like the r9 100× probe did."""
    import pytest

    from synthetic_datagen_spark.operators import vector_queries as VQ

    monkeypatch.setenv("SPARK_GRAFT_LSH_FIXED_MAX", "100")
    df = VQ._emb(spark, sf_smoke)
    with pytest.warns(UserWarning, match="bulk-cosine floor"):
        with pytest.raises(ValueError, match="threshold_floor"):
            VQ._scale_guarded_config(spark, sf_smoke, 0.35, 8, 4, "_emb", df)


def test_threshold_floor_separates_clustered_from_diffuse(spark):
    """threshold_floor (r9 VERDICT task 3): on a CLUSTERED corpus the
    bulk-cosine quantile rises toward 1 (even 0.9 sits inside the
    bulk → the guard warns); on a diffuse corpus the floor stays near
    the N(0, 1/√d) tail (~0.4 at d=64) and 0.9 is safely above it."""
    import numpy as np

    from synthetic_datagen_spark.functions.vectors import threshold_floor

    rng = np.random.default_rng(7)
    d = 64
    base = rng.normal(size=d)
    clustered = base + 0.05 * rng.normal(size=(400, d))
    diffuse = rng.normal(size=(400, d))

    def frame(M):
        return spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(M)],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )

    fc = threshold_floor(frame(clustered), sample_n=400)
    fd = threshold_floor(frame(diffuse), sample_n=400)
    assert fc > 0.9, fc       # clustered: 0.9 is INSIDE the bulk
    assert 0.2 < fd < 0.7, fd  # diffuse: tail of N(0, 1/sqrt(64))
    assert fd < 0.9            # 0.9 is safe on diffuse geometry


def test_semdedup_panel_invariants(spark, sf_smoke):
    """SemDeDup accounting must close: members partition into
    kept/dropped, every planted pair above threshold inside a cluster
    forces ≥1 drop (the dominance rule's guarantee), and the corpus
    total matches the planted corpus size."""
    from synthetic_datagen_spark.operators import REGISTRY
    from synthetic_datagen_spark.operators import vector_queries as VQ

    rows = REGISTRY["embedding_semdedup_clusters"].build(spark, sf_smoke).collect()
    n_corpus = VQ._planted_corpus(spark, sf_smoke).count()
    assert sum(r["n_members"] for r in rows) == n_corpus
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_members"]
        assert r["n_planted_sim"] <= r["n_planted_coloc"]
        assert r["n_dup_pairs"] >= r["n_planted_sim"]
        assert r["n_dropped"] >= min(r["n_planted_sim"], 1) if r["n_planted_sim"] else True
        assert r["n_dropped"] <= r["n_dup_pairs"]  # each drop needs a dominating pair


def test_semdedup_warm_start_interchangeable(spark, sf_smoke):
    """A persisted-centroid warm start must produce the bit-identical
    panel a fresh Lloyd fit produces (the regime-model artifact
    contract, applied to SemDeDup's k-means)."""
    import os

    from synthetic_datagen_spark.operators import REGISTRY
    from synthetic_datagen_spark.operators import vector_queries as VQ

    n = VQ._corpus_count(
        spark, sf_smoke, "_planted_corpus", VQ._planted_corpus(spark, sf_smoke)
    )
    import math

    k = max(4, math.isqrt(n))
    path = os.path.join(
        M.artifact_dir(
            "semdedup", sf_smoke, "embeddings", k,
            VQ._SEMDEDUP_CLUSTER_DIMS, VQ._SEMDEDUP_MAX_ITER,
        ),
        "cents.json",
    )
    if os.path.exists(path):
        os.remove(path)
    VQ._SEMDEDUP_CACHE.clear()
    fresh = REGISTRY["embedding_semdedup_clusters"].build(spark, sf_smoke).collect()
    assert os.path.exists(path)  # the fit persisted its centroids
    VQ._SEMDEDUP_CACHE.clear()  # force the artifact-load path
    warm = REGISTRY["embedding_semdedup_clusters"].build(spark, sf_smoke).collect()
    assert fresh == warm


def test_semdedup_keep_list_consistent_with_panel(spark, sf_smoke):
    """The apply step and the audit panel must tell one story: keep
    counts per cluster match, rank 1 is always kept (the
    centroid-nearest anchor cannot be dominated), and the keep list
    covers the corpus exactly once."""
    from synthetic_datagen_spark.operators import REGISTRY

    panel = {
        r["cluster_id"]: r
        for r in REGISTRY["embedding_semdedup_clusters"].build(spark, sf_smoke).collect()
    }
    keep = REGISTRY["embedding_semdedup_keep"].build(spark, sf_smoke).collect()
    assert len(keep) == sum(r["n_members"] for r in panel.values())
    assert len({r["vec_id"] for r in keep}) == len(keep)
    from collections import defaultdict

    kept = defaultdict(int)
    for r in keep:
        if r["keep"]:
            kept[r["cluster_id"]] += 1
        if r["rnk"] == 1:
            assert r["keep"]  # the anchor is never dominated
    assert kept == {c: r["n_kept"] for c, r in panel.items() if r["n_kept"]}


def test_knn_panel_memo_matches_fresh_build(spark, sf_smoke):
    """The session-memoized kNN panels (truth / lsh_8x5 / ivf_16_4) must
    be row-identical to a fresh un-memoized build — the contract that
    lets knn_brute_force / knn_lsh_bucketed / knn_ivf / knn_recall_eval
    share one checkpointed frame per panel."""
    from synthetic_datagen_spark.operators.vector_queries import (
        _K,
        _NQ,
        _knn_ivf_16_4,
        _knn_lsh_8x5,
        _knn_truth,
    )

    emb = Catalog(spark, sf_smoke).table("embeddings")
    q = emb.filter(F.col("vec_id") < _NQ)
    fresh = {
        "truth": V.brute_force_knn(q, emb, _K),
        "lsh": V.lsh_bucketed_knn(q, emb, _K, dim=64, n_tables=8, n_planes=5, seed=42),
        "ivf": V.ivf_knn(q, emb, _K, n_lists=16, n_probe=4, seed=42),
    }
    memo = {
        "truth": _knn_truth(spark, sf_smoke),
        "lsh": _knn_lsh_8x5(spark, sf_smoke),
        "ivf": _knn_ivf_16_4(spark, sf_smoke),
    }
    for name in fresh:
        cols = ["query_id", "rank"]
        a = sorted(map(tuple, fresh[name].orderBy(*cols).collect()))
        b = sorted(map(tuple, memo[name].orderBy(*cols).collect()))
        assert a == b, f"{name}: memoized panel differs from fresh build"


def _pair_bits(df) -> list:
    import struct

    return sorted(
        (r.id_a, r.id_b, struct.pack("<d", r.cos_sim)) for r in df.collect()
    )


def _tracking_local_build(monkeypatch) -> list:
    """Record each driver pair build _cached_pairs tries: True when it
    built the pairs, False when it handed the build back."""
    ran = []
    real = V.lsh_near_dup_pairs_local

    def tracking(*a, **kw):
        out = real(*a, **kw)
        ran.append(out is not None)
        return out

    monkeypatch.setattr(V, "lsh_near_dup_pairs_local", tracking)
    return ran


def test_lsh_driver_pair_build_matches_distributed_at_cutoff(
    spark, sf_smoke, monkeypatch
):
    """An arrow-bucket pair build at or under SPARK_GRAFT_LSH_TINY_ROWS
    runs on the driver, one vector over it runs the distributed plan.
    With the cutoff at n and n-1 on the planted corpus's scaled config,
    both sides give the same pair rows (cos_sim compared bit for bit),
    the same schema including nullability, and the same
    embedding_dedup_clusters_scaled output."""
    from synthetic_datagen_spark.functions import graph as G
    from synthetic_datagen_spark.operators import vector_queries as VQ

    n = VQ._corpus_count(
        spark, sf_smoke, "_planted_corpus", VQ._planted_corpus(spark, sf_smoke)
    )
    b, L = V.scaled_lsh_params(n, 0.9)
    ran = _tracking_local_build(monkeypatch)
    out = {}
    for side, cutoff in (("driver", n), ("distributed", n - 1)):
        monkeypatch.setenv("SPARK_GRAFT_LSH_TINY_ROWS", str(cutoff))
        M._FRAMES.clear()
        G._CC_CACHE.clear()
        ran.clear()
        pairs = VQ._cached_pairs(
            spark, sf_smoke, 0.9, L, b, VQ._planted_corpus, arrow=True
        )
        clusters = VQ.embedding_dedup_clusters_scaled(spark, sf_smoke)
        assert ran == ([True] if side == "driver" else []), side
        out[side] = (
            pairs.schema,
            _pair_bits(pairs),
            clusters.schema,
            [tuple(r) for r in clusters.collect()],
        )
    M._FRAMES.clear()
    G._CC_CACHE.clear()
    assert out["driver"][1], "no planted pair found: the twin compares nothing"
    assert out["driver"] == out["distributed"]


def test_lsh_driver_pair_build_over_budget_takes_distributed_path(
    spark, monkeypatch
):
    """A corpus of repeated vectors puts 150 rows in each bucket of
    every table: its raw candidate count is far over the budget, so the
    driver build refuses it before materialising a pair and
    _cached_pairs returns the distributed plan's rows. Given the budget,
    the driver build gives the same rows."""
    import numpy as np

    from synthetic_datagen_spark.operators import vector_queries as VQ

    base = np.random.default_rng(7).standard_normal((2, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i % 2]]) for i in range(300)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )

    def repeated(spark, sf_dir):
        return df

    b, L = V.scaled_lsh_params(300, 0.9)
    want = _pair_bits(
        V.lsh_near_dup_pairs(
            df, 0.9, 64, n_tables=L, n_planes=b, seed=42, arrow_buckets=True
        )
    )
    assert len(want) == 2 * 150 * 149 // 2
    ran = _tracking_local_build(monkeypatch)
    got = VQ._cached_pairs(spark, "repeated", 0.9, L, b, repeated, arrow=True)
    assert ran == [False]
    assert _pair_bits(got) == want
    monkeypatch.setattr(V, "_LOCAL_CAND_BUDGET", 4 * 10_000)
    roomy = V.lsh_near_dup_pairs_local(df, 0.9, 64, n_tables=L, n_planes=b)
    assert _pair_bits(roomy) == want
    app_id = spark.sparkContext.applicationId
    for key in [k for k in M._FRAMES if k[0] == app_id and "repeated" in k[1]]:
        del M._FRAMES[key]
