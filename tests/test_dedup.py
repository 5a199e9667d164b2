"""Dedup-operator semantics: MinHash-LSH candidates must cover the true
near-duplicate pairs found by exact shingle Jaccard."""

from __future__ import annotations

from synthetic_datagen_spark.operators import REGISTRY


def test_minhash_candidates_cover_true_near_dups(spark, sf_smoke):
    true_pairs = {
        (r.id_a, r.id_b)
        for r in REGISTRY["dedup_shingle_jaccard"].build(spark, sf_smoke).collect()
    }
    cand_pairs = {
        (r.id_a, r.id_b)
        for r in REGISTRY["dedup_minhash_lsh"].build(spark, sf_smoke).collect()
    }
    assert true_pairs, "fixture should contain near-duplicate documents"
    missed = true_pairs - cand_pairs
    assert not missed, f"LSH missed true near-dups: {missed}"


def test_exact_dedup_groups_consistent(spark, sf_smoke):
    fp = REGISTRY["dedup_exact_fingerprint"].build(spark, sf_smoke).collect()
    total = sum(r.n_copies for r in fp)
    from synthetic_datagen_spark.sources import Catalog

    assert total == Catalog(spark, sf_smoke).table("documents").count()
    for r in fp:
        assert r.n_copies >= 1


def test_simhash_near_dups_have_small_hamming(spark, sf_smoke):
    sim = {r.doc_id: r.simhash for r in REGISTRY["dedup_simhash"].build(spark, sf_smoke).collect()}
    true_pairs = [
        (r.id_a, r.id_b, r.jaccard)
        for r in REGISTRY["dedup_shingle_jaccard"].build(spark, sf_smoke).collect()
    ]
    close = [p for p in true_pairs if p[2] >= 0.95 and p[0] in sim and p[1] in sim]
    for a, b, _ in close:
        ham = bin(sim[a] ^ sim[b]).count("1")
        assert ham <= 10, f"docs {a},{b} jaccard>=0.95 but hamming {ham}"


def test_connected_components_match_union_find(spark):
    """Distributed label propagation must equal driver union-find on
    the same LSH pair graph."""
    from synthetic_datagen_spark.operators.text_queries import _lsh_candidates
    from synthetic_datagen_spark.operators import REGISTRY

    sf = "/root/testdata/sf0.001"
    pairs = [(r.id_a, r.id_b) for r in _lsh_candidates(spark, sf).collect()]
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    got = {
        r.doc_id: r.cluster_id
        for r in REGISTRY["dedup_connected_components"].build(spark, sf).collect()
    }
    assert got == want


def test_curation_pipeline_funnel_monotone(spark):
    from synthetic_datagen_spark.operators import REGISTRY

    rows = REGISTRY["corpus_curation_pipeline"].build(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r.total >= r.quality_pass >= r.exact_kept >= r.final_kept >= 0
    assert sum(r.final_kept for r in rows) > 0


def test_approx_distinct_within_tolerance(spark):
    from synthetic_datagen_spark.operators import REGISTRY
    from synthetic_datagen_spark.sources import Catalog
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.01"
    approx = {
        r.event_type: r
        for r in REGISTRY["approx_distinct_scale_path"].build(spark, sf).collect()
    }
    exact = {
        r.event_type: r
        for r in Catalog(spark, sf)
        .table("events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("u"),
            F.countDistinct("event_id").alias("e"),
        )
        .collect()
    }
    for t, ex in exact.items():
        assert abs(approx[t].approx_users - ex.u) / ex.u < 0.1
        assert abs(approx[t].approx_events - ex.e) / ex.e < 0.1


def test_cc_labels_cached_per_session(spark):
    """The converged CC label frame is memoized per (session, sf_dir):
    the second consumer (e.g. the curation funnel composing the same
    stage) must NOT re-run the iterative rounds."""
    from synthetic_datagen_spark.functions import graph as G
    from synthetic_datagen_spark.operators import REGISTRY

    sf = "/root/testdata/sf0.001"
    calls = {"n": 0}
    real_min, real_lss = G.min_label_components, G.large_small_star_components
    real_uf = G.union_find_components

    def counting_min(*a, **kw):
        calls["n"] += 1
        return real_min(*a, **kw)

    def counting_lss(*a, **kw):
        calls["n"] += 1
        return real_lss(*a, **kw)

    def counting_uf(*a, **kw):
        calls["n"] += 1
        return real_uf(*a, **kw)

    G._CC_CACHE.clear()
    # count invocations of ANY kernel — which one runs is the graph-size
    # dispatch (the driver union-find under the tiny-edge cutoff, as
    # here) or else the call site's pinned kernel / session default
    G.min_label_components = counting_min
    G.large_small_star_components = counting_lss
    G.union_find_components = counting_uf
    try:
        first = REGISTRY["dedup_connected_components"].build(spark, sf).collect()
        assert calls["n"] == 1
        again = REGISTRY["dedup_connected_components"].build(spark, sf).collect()
        # funnel composes the same CC stage — must hit the cache too
        # (the memo key deliberately ignores the kernel choice)
        REGISTRY["corpus_curation_pipeline"].build(spark, sf).collect()
        assert calls["n"] == 1
        assert again == first
        # different input family (embedding pairs) gets its own entry
        REGISTRY["embedding_dedup_clusters"].build(spark, sf).collect()
        assert calls["n"] == 2
    finally:
        G.min_label_components = real_min
        G.large_small_star_components = real_lss
        G.union_find_components = real_uf


def test_simhash_pairs_pigeonhole_complete(spark, sf_smoke):
    """Manku pigeonhole guarantee: hamming(a,b) <= 3 over 60 bits means
    at least one of the four 15-bit blocks matches exactly (4 blocks,
    <= 3 differing bits), so the block-join candidate set must contain
    EVERY such pair — verified against the brute-force all-pairs
    hamming scan of the signatures."""
    from itertools import combinations

    from synthetic_datagen_spark.operators import REGISTRY
    from synthetic_datagen_spark.operators.text_queries import simhash60_signatures

    sigs = {
        r.doc_id: r.simhash
        for r in simhash60_signatures(spark, sf_smoke).collect()
    }
    expect = {
        (a, b)
        for a, b in combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got_rows = REGISTRY["dedup_simhash_pairs"].build(spark, sf_smoke).collect()
    got = {(r.id_a, r.id_b) for r in got_rows}
    assert got == expect  # complete AND exact (no false positives)
    for r in got_rows:
        assert r.hamming == bin(sigs[r.id_a] ^ sigs[r.id_b]).count("1")


def test_global_shuffle_shards_partition_complete(spark):
    """Every doc lands in exactly one shard; shard sizes are hash-
    balanced (no shard more than 3x the mean at n=500)."""
    from synthetic_datagen_spark.operators import REGISTRY

    pdf = REGISTRY["global_shuffle_shards"].build(spark, "/root/testdata/sf0.01").toPandas()
    n_docs = int(pdf["n_docs"].sum())
    import duckdb

    truth = duckdb.sql(
        "select count(*) from '/root/testdata/sf0.01/documents.parquet'"
    ).fetchone()[0]
    assert n_docs == truth
    assert set(pdf["shard"]) <= set(range(16))
    mean = n_docs / len(pdf)
    assert pdf["n_docs"].max() <= 3 * mean


def test_corpus_snapshot_diff_counts_match_modulus_math(spark):
    """added/removed/changed totals equal the closed-form counts the
    B-side derivation implies (17-drop wins over 13-revise on overlap)."""
    from synthetic_datagen_spark.operators import REGISTRY

    pdf = REGISTRY["corpus_snapshot_diff"].build(spark, "/root/testdata/sf0.01").toPandas()
    import duckdb

    ids = [r[0] for r in duckdb.sql(
        "select doc_id from '/root/testdata/sf0.01/documents.parquet'"
    ).fetchall()]
    exp_removed = sum(1 for i in ids if i % 17 == 0)
    exp_added = sum(1 for i in ids if i % 19 == 0)
    exp_changed = sum(1 for i in ids if i % 13 == 0 and i % 17 != 0)
    by = pdf.groupby("status")["n_docs"].sum().to_dict()
    assert by.get("removed", 0) == exp_removed
    assert by.get("added", 0) == exp_added
    assert by.get("changed", 0) == exp_changed
    assert by.get("unchanged", 0) == len(ids) - exp_removed - exp_changed


def test_pigeonhole_pairs_complete_vs_brute_force(spark):
    """The shared bit-signature kernel (functions/bitsig.py) must find
    EXACTLY the brute-force hamming<=7 pair set on random 63-bit
    signatures — completeness is the pigeonhole guarantee, precision
    is the bit_count verify."""
    import random

    from synthetic_datagen_spark.functions.bitsig import pigeonhole_pairs

    rng = random.Random(1234)
    # cluster some signatures so qualifying pairs actually exist
    base = [rng.getrandbits(63) for _ in range(40)]
    sigs = []
    for i, b in enumerate(base):
        sigs.append((i * 10, b))
        for j in range(2):  # two perturbed variants within hamming 7
            flipped = b
            for bit in rng.sample(range(63), rng.randint(0, 7)):
                flipped ^= 1 << bit
            sigs.append((i * 10 + j + 1, flipped))
    truth = {
        (a_id, b_id)
        for i, (a_id, a) in enumerate(sigs)
        for b_id, b in sigs[i + 1 :]
        if bin(a ^ b).count("1") <= 7
        for a_id, b_id in [(min(a_id, b_id), max(a_id, b_id))]
    }
    df = spark.createDataFrame(sigs, ["sid", "sig"])
    got = {
        (r.id_a, r.id_b)
        for r in pigeonhole_pairs(df, "sid", "sig", max_hamming=7).collect()
    }
    assert got == truth and len(truth) >= 80  # every planted variant pairs


def test_pigeonhole_rejects_incomplete_config():
    import pytest as _pytest

    from synthetic_datagen_spark.functions.bitsig import pigeonhole_pairs

    with _pytest.raises(ValueError):
        pigeonhole_pairs(None, "id", "sig", n_blocks=4, max_hamming=4)


def test_pigeonhole_combo_complete_vs_brute_force(spark):
    """The combination-key scale kernel (r11: C(p,c) tables, exact for
    hamming <= p - c) must find EXACTLY the brute-force pair set for
    every feasible ladder config — same truth set as the classic
    single-block kernel. Includes adversarial worst-spread pairs
    (errors spread one-per-piece, the pigeonhole bound's tight case)."""
    import random

    from synthetic_datagen_spark.functions.bitsig import (
        _piece_sizes,
        pigeonhole_pairs_combo,
    )

    rng = random.Random(99)
    base = [rng.getrandbits(63) for _ in range(30)]
    sigs = []
    for i, b in enumerate(base):
        sigs.append((i * 10, b))
        flipped = b
        for bit in rng.sample(range(63), rng.randint(0, 7)):
            flipped ^= 1 << bit
        sigs.append((i * 10 + 1, flipped))
    # adversarial: exactly h errors, one per piece of the p=10 split —
    # touches max_hamming pieces, leaving exactly combo_size clean
    sizes = _piece_sizes(63, 10)
    offs = [sum(sizes[:i]) for i in range(10)]
    adv = base[0]
    for k in range(7):
        adv ^= 1 << offs[k]  # flip the low bit of pieces 0..6
    sigs.append((9001, adv))
    truth = {
        (min(a_id, b_id), max(a_id, b_id))
        for i, (a_id, a) in enumerate(sigs)
        for b_id, b in sigs[i + 1 :]
        if bin(a ^ b).count("1") <= 7
    }
    assert any(9001 in p for p in truth)  # the adversarial pair is real
    df = spark.createDataFrame(sigs, ["sid", "sig"])
    for p, c in ((8, 1), (9, 2), (10, 3), (11, 4)):
        got = {
            (r.id_a, r.id_b)
            for r in pigeonhole_pairs_combo(
                df, "sid", "sig", max_hamming=7, n_pieces=p, combo_size=c
            ).collect()
        }
        assert got == truth, f"config p{p}c{c}: {got ^ truth}"


def test_pigeonhole_combo_rejects_incomplete_config():
    import pytest as _pytest

    from synthetic_datagen_spark.functions.bitsig import pigeonhole_pairs_combo

    with _pytest.raises(ValueError, match="completeness"):
        pigeonhole_pairs_combo(
            None, "id", "sig", max_hamming=7, n_pieces=8, combo_size=2
        )


def test_scaled_pigeonhole_params_ladder():
    """The chooser climbs the combo ladder as the corpus grows (more
    key bits per table), never returns an incomplete config, and its
    measured-sample mode reacts to skew: a degenerate sample (everyone
    shares low pieces) pushes the choice to a larger combo_size than
    the uniform model would pick at the same n."""
    import random

    from synthetic_datagen_spark.functions.bitsig import scaled_pigeonhole_params

    rng = random.Random(5)
    uni = [rng.getrandbits(63) for _ in range(1500)]
    p_small, c_small, _ = scaled_pigeonhole_params(600, 7, uni)
    p_big, c_big, est_big = scaled_pigeonhole_params(600_000, 7, uni)
    assert 7 <= p_small - c_small and 7 <= p_big - c_big
    assert c_big >= c_small and c_big >= 3
    assert est_big > 0
    # correlated sample (the measured media-signature geometry: bulk
    # hamming well below the 31.5 of random bits): every bit flips a
    # common pattern with prob 0.15, so single pieces collide ~10% of
    # pairs and only multi-piece keys separate them — the measured
    # rate must push the chooser at least as high as the uniform pick
    common = rng.getrandbits(63)
    corr = []
    for _ in range(1500):
        s = common
        for bit in range(63):
            if rng.random() < 0.15:
                s ^= 1 << bit
        corr.append(s)
    p_u, c_u, _ = scaled_pigeonhole_params(5000, 7, None)
    p_s, c_s, _ = scaled_pigeonhole_params(5000, 7, corr)
    assert c_s >= c_u


class TestBPE:
    def test_merge_table_matches_independent_reference(self, spark):
        """Re-derive the merge sequence with an independent Counter-
        based implementation over the same DuckDB-computed frequency
        table; the Spark query's table must match exactly."""
        import collections
        import re

        import duckdb

        from synthetic_datagen_spark.operators import REGISTRY

        texts = [
            r[0]
            for r in duckdb.sql(
                "select text from '/root/testdata/sf0.01/documents.parquet'"
            ).fetchall()
        ]
        wf = collections.Counter()
        for t in texts:
            for w in re.split(r"\s+", t.lower().strip()):
                if w:
                    wf[w] += 1

        def reference_merges(freq, n):
            vocab = collections.Counter()
            for w, c in freq.items():
                vocab[tuple(w) + ("</w>",)] += c
            res = []
            for _ in range(n):
                pc = collections.Counter()
                for sym, c in vocab.items():
                    for p in zip(sym, sym[1:]):
                        pc[p] += c
                if not pc:
                    break
                (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
                if cnt < 2:
                    break
                res.append((a, b, cnt))
                nv = collections.Counter()
                for sym, c in vocab.items():
                    out, i = [], 0
                    while i < len(sym):
                        if i + 1 < len(sym) and (sym[i], sym[i + 1]) == (a, b):
                            out.append(a + b)
                            i += 2
                        else:
                            out.append(sym[i])
                            i += 1
                    nv[tuple(out)] += c
                vocab = nv
            return res

        want = reference_merges(wf, 40)
        got = [
            (r.left, r.right, r.pair_count)
            for r in REGISTRY["bpe_train_merges"]
            .build(spark, "/root/testdata/sf0.01")
            .collect()
        ]
        assert got == want and len(got) == 40

    def test_tokenize_stats_invariants(self, spark):
        """BPE tokens/word must sit strictly between 1 and chars/word+1
        (the char-level count incl. end marker), and compression < 1."""
        from synthetic_datagen_spark.operators import REGISTRY

        pdf = (
            REGISTRY["bpe_tokenize_stats"]
            .build(spark, "/root/testdata/sf0.01")
            .toPandas()
        )
        assert len(pdf) == 5
        assert (pdf["tokens_per_word"] > 1.0).all()
        assert (pdf["tokens_per_word"] < pdf["chars_per_word"] + 1.0).all()
        assert (pdf["compression_vs_chars"] < 1.0).all()

    def test_apply_bpe_roundtrip_identity(self):
        """Tokenization never loses characters: concatenating tokens
        (end marker stripped) reproduces the word."""
        from synthetic_datagen_spark.functions.bpe import apply_bpe, train_bpe

        merges = train_bpe({"window": 10, "widow": 7, "win": 5, "order": 9}, 20)
        for w in ("window", "widow", "win", "order", "wisdom"):
            toks = apply_bpe(w, merges)
            assert "".join(toks).replace("</w>", "") == w


def _cc_labels(df) -> dict:
    return {r.node_id: r.cluster_id for r in df.collect()}


def test_large_small_star_matches_min_label_on_all_dedup_families(spark):
    """The large-star/small-star kernel must produce EXACTLY the same
    (node -> component-min) labeling as the min-label kernel on the
    real candidate graphs of all three dedup families (text MinHash-LSH,
    embedding sign-LSH, image pHash) — they are interchangeable behind
    cached_min_label_components."""
    import synthetic_datagen_spark.functions.graph as G
    from synthetic_datagen_spark.operators import REGISTRY
    from synthetic_datagen_spark.operators.text_queries import _lsh_candidates
    from synthetic_datagen_spark.operators.vector_queries import _cached_pairs, _emb

    sf = "/root/testdata/sf0.001"
    families = {
        "text": _lsh_candidates(spark, sf).select("id_a", "id_b"),
        "embedding": _cached_pairs(spark, sf, 0.35, 8, 4, _emb).select(
            "id_a", "id_b"
        ),
        "image": REGISTRY["multimodal_phash_neardup"]
        .build(spark, sf)
        .select("id_a", "id_b"),
    }
    for name, pairs in families.items():
        want = _cc_labels(G.min_label_components(pairs))
        got = _cc_labels(G.large_small_star_components(pairs))
        assert want, f"{name}: empty pair graph defeats the test"
        assert got == want, f"{name}: kernels disagree"


def test_cc_dispatch_union_find_matches_kernels_at_cutoff(spark, sf_smoke, monkeypatch):
    """cached_min_label_components labels a pair graph at or under
    SPARK_GRAFT_CC_TINY_EDGES pairs with the driver union-find, and a
    bigger one with the selected kernel. On the real candidate graphs of
    all three dedup families, with the cutoff forced to each side of
    the graph's size, the two must give the same rows and schema."""
    import synthetic_datagen_spark.functions.graph as G
    from synthetic_datagen_spark.operators import REGISTRY
    from synthetic_datagen_spark.operators.text_queries import _lsh_candidates
    from synthetic_datagen_spark.operators.vector_queries import _cached_pairs, _emb

    sf = sf_smoke
    families = {
        "text": _lsh_candidates(spark, sf).select("id_a", "id_b"),
        "embedding": _cached_pairs(spark, sf, 0.35, 8, 4, _emb).select(
            "id_a", "id_b"
        ),
        "image": REGISTRY["multimodal_phash_neardup"]
        .build(spark, sf)
        .select("id_a", "id_b"),
    }
    ran = []
    real_uf = G.union_find_components

    def tracking_uf(*a, **kw):
        ran.append("uf")
        return real_uf(*a, **kw)

    monkeypatch.setattr(G, "union_find_components", tracking_uf)
    for name, pairs in families.items():
        n = pairs.count()
        assert n, f"{name}: empty pair graph defeats the test"
        out = {}
        for algo in ("largestar", "minlabel"):
            for side, cutoff in (("driver", n), ("kernel", n - 1)):
                monkeypatch.setenv("SPARK_GRAFT_CC_TINY_EDGES", str(cutoff))
                ran.clear()
                out[algo, side] = G.cached_min_label_components(
                    spark, ("cc_cutoff_twin", name, algo, side), lambda: pairs,
                    algorithm=algo,
                )
                assert ran == (["uf"] if side == "driver" else []), (name, side)
        want = out["largestar", "kernel"]
        for key, df in out.items():
            assert df.schema == want.schema, (name, key)
            assert _cc_labels(df) == _cc_labels(want), (name, key)
    G._CC_CACHE.clear()


def test_union_find_components_self_pairs_strings_and_nulls(spark):
    """The driver union-find keeps the kernels' contract on the edge
    cases: a node whose only pair is a self-pair is labeled with itself,
    string ids order naturally, and a null id is a lone null-labeled
    node."""
    import synthetic_datagen_spark.functions.graph as G

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y"), ("zz", "zz"), ("q", None)],
        "id_a STRING, id_b STRING",
    )
    got = _cc_labels(G.union_find_components(pairs))
    assert got == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "zz": "zz",
        "q": "q", None: None,
    }
    assert got == _cc_labels(G.large_small_star_components(pairs))


def test_large_small_star_bounded_rounds_on_chain_and_hub(spark):
    """The large-star/small-star round count must not depend on graph
    DIAMETER (a 511-edge chain) or on hub skew (one node with 400
    neighbors) — the two adversaries of plain label propagation."""
    import math

    import synthetic_datagen_spark.functions.graph as G

    n = 512
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a LONG, id_b LONG"
    )
    lbl = G.large_small_star_components(chain)
    d = _cc_labels(lbl)
    assert len(d) == n and set(d.values()) == {0}
    assert lbl.lss_rounds <= 2 * int(math.log2(n)) + 2, lbl.lss_rounds

    # hub 999999 <-> {0..399}, with a short tail 399-400-401 hanging off
    hub = spark.createDataFrame(
        [(999_999, i) for i in range(400)] + [(399, 400), (400, 401)],
        "id_a LONG, id_b LONG",
    )
    lbl2 = G.large_small_star_components(hub)
    d2 = _cc_labels(lbl2)
    assert len(d2) == 403 and set(d2.values()) == {0}
    assert lbl2.lss_rounds <= 6, lbl2.lss_rounds


def test_large_small_star_random_graph_matches_union_find(spark):
    """Randomized cross-check: on seeded sparse random graphs the
    large-star/small-star labeling equals a driver union-find."""
    import random

    import synthetic_datagen_spark.functions.graph as G

    rng = random.Random(73)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(90 + 40 * trial)
        ]
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        nodes = set()
        for a, b in edges:
            nodes.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in nodes}
        got = _cc_labels(
            G.large_small_star_components(
                spark.createDataFrame(edges, "id_a LONG, id_b LONG")
            )
        )
        assert got == want, f"trial {trial}"


def test_pair_and_cc_memos_use_reliable_checkpoint_when_dir_set(spark, tmp_path):
    """With spark.sparkContext.setCheckpointDir configured (the normal
    cluster posture), the pair and CC label memos must anchor on
    RELIABLE checkpoint storage — files under the dir — so executor
    loss cannot orphan the session memo; without one they fall back to
    localCheckpoint (covered implicitly by every other memo test)."""
    import os

    import synthetic_datagen_spark.functions.graph as G
    from synthetic_datagen_spark.functions.memo import session_frame

    sc = spark.sparkContext
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        pairs_df = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a LONG, id_b LONG"
        )
        out = session_frame(
            spark, ("reliable_ck_test", "x"), lambda: pairs_df
        )
        assert out.count() == 3
        lbl = G.cached_min_label_components(
            spark, ("reliable_ck_cc_test", "x"), lambda: pairs_df
        )
        assert {r.node_id: r.cluster_id for r in lbl.collect()} == {
            1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
        }
        found = []
        for root, _dirs, files in os.walk(ckdir):
            found += [os.path.join(root, f) for f in files]
        assert found, "no reliable checkpoint files written under the dir"
    finally:
        # don't leak a checkpoint dir into the rest of the session: the
        # other memo tests assert localCheckpoint behavior ($eq needs
        # getattr — '$' is not valid Python attribute syntax)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )


def test_large_small_star_handles_string_ids(spark):
    """ADVICE r9: the kernel must be type-generic like
    min_label_components — string ids (doc fingerprints) order by the
    natural string ordering; a numeric cast would NULL them out and
    silently emit singletons."""
    import synthetic_datagen_spark.functions.graph as G

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y"), ("zz", "zz")],
        "id_a STRING, id_b STRING",
    )
    got = _cc_labels(G.large_small_star_components(pairs))
    want = {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "zz": "zz"}
    assert got == want
    mm = _cc_labels(G.min_label_components(pairs))
    assert mm == want


def _write_docs_fixture(tmp_path, name, texts):
    import pandas as pd

    d = tmp_path / name
    d.mkdir()
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["fixture"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    pdf.to_parquet(d / "documents.parquet")
    return str(d)


def test_minhash_bulk_guard_templated_corpus_warns(spark, tmp_path, monkeypatch):
    """r10 VERDICT task 4: the text-family analogue of the embedding
    threshold_floor guard. A corpus whose random-pair shingle Jaccard
    bulk reaches the 6×5 banding's implied threshold (~0.70) —
    templated/boilerplate text where every doc shares most shingles —
    must WARN that the candidate set (and the true answer) is
    quadratic in corpus size; a corpus of distinct docs with a few
    planted duplicates stays quiet (the planted pairs live in the
    0.999-quantile's tail, same as the embedding guard's geometry)."""
    import warnings

    import pytest

    from synthetic_datagen_spark.operators import text_queries as TQ

    monkeypatch.setenv("SPARK_GRAFT_TEXT_BULK_MIN", "10")
    template = (
        "dear customer your order number {} has shipped and will arrive "
        "within five business days thank you for shopping with us"
    )
    templated = _write_docs_fixture(
        tmp_path, "templated", [template.format(i) for i in range(60)]
    )
    with pytest.warns(UserWarning, match="bulk-Jaccard floor"):
        TQ.dedup_minhash_lsh(spark, templated).count()

    # distinct docs + planted exact dups: guard engaged (>10 docs) but quiet
    import random

    # 300 base docs → ~45k sampled pairs, so the 5 planted dup pairs
    # sit inside the 0.999-quantile's 0.1% tail (same geometry that
    # keeps the embedding guard quiet on planted corpora)
    rng = random.Random(7)
    words = [f"w{i:03d}" for i in range(400)]
    base = [
        " ".join(rng.sample(words, 30)) + f" unique token {i}"
        for i in range(300)
    ]
    planted = _write_docs_fixture(
        tmp_path, "planted", base + base[:5]  # 5 planted duplicate pairs
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        out = TQ.dedup_minhash_lsh(spark, planted)
        assert out.count() >= 5  # the planted dups are still found


def test_repeated_ngram_spans_planted_and_maximal(spark):
    """dedup_repeated_ngram_spans invariants on a planted corpus: a
    5-gram-long phrase duplicated across two docs is found in BOTH as
    one maximal span; per-doc spans never overlap; unique text yields
    nothing."""
    import pandas as pd

    phrase = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"one two three {phrase} four five six"),
            (2, f"seven eight {phrase} nine ten eleven twelve"),
            (3, "totally unique words without any repeated passage here"),
        ],
        "doc_id LONG, text STRING",
    )
    import synthetic_datagen_spark.operators.text_queries as TQ
    orig = TQ._docs_wide
    TQ._docs_wide = lambda spark, sf_dir: docs
    try:
        from synthetic_datagen_spark.operators import REGISTRY
        out = REGISTRY["dedup_repeated_ngram_spans"].build(spark, "ignored").toPandas()
    finally:
        TQ._docs_wide = orig
    assert set(out["doc_id"]) == {1, 2}
    for _, r in out.iterrows():
        assert r["n_grams"] == 1  # exactly the planted 5-gram
        assert r["span_end"] - r["span_start"] == 4
    # doc 1: phrase starts at token 4 (1-based); doc 2: token 3
    spans = {int(r["doc_id"]): (int(r["span_start"]), int(r["span_end"]))
             for _, r in out.iterrows()}
    assert spans[1] == (4, 8) and spans[2] == (3, 7)


def test_text_lsh_scale_guard_config_selection(monkeypatch):
    """r12: the text MinHash family's banding is a pure function of
    corpus size — fixed 6x5 at oracle scales, the sharper ladder above
    the cutoff (env-overridable like the embedding family's)."""
    import os

    from synthetic_datagen_spark.operators import text_queries as TQ

    assert TQ._text_lsh_fixed_max() == 10_000
    assert TQ.scaled_text_lsh_params(50_000) == (14, 7)
    assert TQ.scaled_text_lsh_params(100_000) == (14, 7)
    assert TQ.scaled_text_lsh_params(500_000) == (18, 8)
    monkeypatch.setitem(os.environ, "SPARK_GRAFT_TEXT_LSH_FIXED_MAX", "100")
    assert TQ._text_lsh_fixed_max() == 100
    # recall dominance at the verify thresholds, closed form:
    # scaled recall >= fixed recall at s in {0.8, 0.9}
    def recall(s, b, r):
        return 1 - (1 - s**r) ** b

    for s in (0.8, 0.9):
        assert recall(s, 14, 7) >= recall(s, 6, 5)
        assert recall(s, 18, 8) >= recall(s, 6, 5)


def test_text_lsh_scaled_config_verified_output_parity(spark, monkeypatch):
    """Forcing the scaled path on the sf0.01 gate corpus: the VERIFIED
    output (exact shingle-Jaccard >= 0.8 over candidates) under the
    scaled 14x7 config must retain >= 98% of the fixed config's
    verified pairs — candidates are probabilistic, the verify stage is
    exact, and the scaled curve dominates at the verify thresholds so
    losses can only come from the S-curve's low tail."""
    import os

    from synthetic_datagen_spark.operators import text_queries as TQ
    from synthetic_datagen_spark.operators.base import REGISTRY

    def pairs():
        # fresh candidate lineage each time (no cross-config memo: the
        # verify query builds candidates inline, not via the pair memo)
        pdf = (
            REGISTRY["dedup_shingle_jaccard"]
            .build(spark, "/root/testdata/sf0.01")
            .toPandas()
        )
        return {(int(a), int(b)) for a, b in zip(pdf.id_a, pdf.id_b)}

    fixed = pairs()
    # force the scaled ladder on the 500-doc fixture
    monkeypatch.setitem(os.environ, "SPARK_GRAFT_TEXT_LSH_FIXED_MAX", "10")
    TQ._NDOCS_CACHE.clear()
    scaled = pairs()
    assert len(fixed) > 0
    retained = len(fixed & scaled) / len(fixed)
    assert retained >= 0.98, (retained, len(fixed), len(scaled))


def test_cms_estimate_dominates_exact_for_full_vocab(spark, sf_smoke):
    """The count-min guarantee est >= exact must hold for EVERY gram,
    not only the top-25 the catalog query reports (the oracle gate
    checks parity of the 25-row panel; this pins the sketch property
    itself across the whole vocabulary, where a hashing bug on either
    side of the min would hide in unsampled grams). Also pins that the
    min actually bites: at w=128 vs ~900 bigrams, at least one gram's
    row estimates must DISAGREE (else the min-over-rows is decorative
    and the sketch is effectively exact-count sized)."""
    from pyspark.sql import functions as F

    from synthetic_datagen_spark.functions import text as TX
    from synthetic_datagen_spark.operators.text_queries import (
        _CMS_D,
        _cms_hash_col,
        _docs_wide,
    )

    d = _docs_wide(spark, sf_smoke).filter(F.length(F.trim("text")) > 0)
    counts = (
        d.select(F.explode(TX.word_ngrams(F.col("text"), 2)).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("tf"))
    )
    js = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("j")
    cells = (
        counts.select("g", "tf", js)
        .select(
            F.col("j").alias("row_id"),
            _cms_hash_col(F.col("g"), F.col("j")).alias("col_id"),
            "tf",
        )
        .groupBy("row_id", "col_id")
        .agg(F.sum("tf").alias("cell"))
    )
    probe = counts.select("g", "tf", js).select(
        "g",
        "tf",
        F.col("j").alias("row_id"),
        _cms_hash_col(F.col("g"), F.col("j")).alias("col_id"),
    )
    est = (
        probe.join(F.broadcast(cells), ["row_id", "col_id"])
        .groupBy("g", "tf")
        .agg(
            F.min("cell").alias("cms_est"),
            F.max("cell").alias("row_max"),
        )
        .toPandas()
    )
    assert len(est) > 500
    assert (est.cms_est >= est.tf).all()
    assert (est.row_max > est.cms_est).any()
