"""Vector/embedding operators: cosine similarity, brute-force kNN,
LSH-bucketed approximate kNN, embedding near-duplicate detection.

Dot products run as JVM higher-order functions (`zip_with` +
`aggregate`) — vectorized, codegen'd, no Python in the loop. The
brute-force path is the exactness baseline; the LSH path is the 100 TB
route (bucket join prunes the candidate space by orders of magnitude).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .execution import arrow_frame


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def brute_force_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Plan: broadcast the (small) query set against the corpus — a
    broadcast-nested-loop scoring pass, then a per-query top-k via
    window row_number. At 100 TB the corpus side stays partitioned;
    only queries broadcast. Ties broken by neighbor id (deterministic).
    """
    q = queries.select(
        F.col(q_id).alias("query_id"), _as_double(F.col(q_vec)).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    # norms computed ONCE per row and materialized at the exchange /
    # broadcast boundary — never per pair (same arithmetic as the
    # oracle: dot / (|q|·|c|), so parity is exact).
    c = (
        corpus.select(
            F.col(c_id).alias("neighbor_id"), _as_double(F.col(c_vec)).alias("cv")
        )
        .withColumn("cn", l2_norm(F.col("cv")))
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH, derived from
    a splitmix-style integer hash so they are engine-independent."""
    planes = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
            # map top 53 bits to (-1, 1)
            row.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        planes.append(row)
    return planes


def sign_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: one bit per hyperplane (sign of the dot),
    packed big-endian. Planes ship as plan literals, so the expression
    is engine-independent (the oracle inlines the same floats).

    Each plane is ONE ArrayType literal (``F.lit(plane)``), not 64
    element literals — with 8 tables × 4 planes × 64 dims the per-leaf
    form put ~2k literal nodes in the tree and Catalyst analysis alone
    cost seconds per invocation. The fold order (left-to-right
    zip_with + aggregate) is unchanged, so buckets stay bit-identical
    to the DuckDB oracle's sequential list_sum."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.lit([float(x) for x in plane]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for plane in planes
    ]
    # 64-bit accumulator: scaled_lsh_params can choose >31 planes at
    # extreme corpus sizes, and a 32-bit fold would overflow (ANSI-mode
    # ArithmeticException) at b >= 32. The oracle mirrors with BIGINT.
    out = F.lit(0).cast("long")
    for b in bits:
        out = out * 2 + b
    return out


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the frame across the cluster before the bucket
    pass — the embeddings/documents fixtures are SINGLE-ROW-GROUP
    parquet, so a naive scan hands every row to ONE task (the row
    group is the split unit; the other byte-range splits come up
    EMPTY) and the whole map side (hash matmul + Arrow exchange +
    three shuffle writes) serializes onto one core: the r10 100×
    probe measured a ~20-minute single-task straggler before this.
    Unconditional on purpose: a partition COUNT check cannot see the
    empty-split skew (the scan reports 26 partitions, 25 of them
    zero-row), and one extra shuffle of the raw vectors (bytes ≈
    corpus size) is noise next to the L·n bucket explosion it
    parallelizes."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _with_sign_buckets(
    df: DataFrame,
    id_alias: str,
    vec_alias: str,
    src_id: str,
    src_vec: str,
    dim: int,
    n_tables: int,
    n_planes: int,
    seed: int,
    with_vectors: bool = True,
) -> DataFrame:
    """Explode each vector into its ``n_tables`` (tbl, bucket) rows.
    The L2 norm is computed ONCE per vector before the explode (column
    ``{vec_alias}_n``) so rescoring never re-aggregates it per pair.

    ``with_vectors=False`` drops the vector/norm payload from the
    exploded frame — (id, tbl, bucket) only. The explode multiplies
    every row ``n_tables`` times, so carrying the raw vectors through
    it costs L× the corpus in shuffle/persist bytes (the r10 100×
    probe OOMed exactly there at 62 tables); callers that rescore
    should join vectors back from the UN-exploded base frame instead."""
    d = df.select(
        F.col(src_id).alias(id_alias), _as_double(F.col(src_vec)).alias(vec_alias)
    ).withColumn(f"{vec_alias}_n", l2_norm(F.col(vec_alias)))
    # ALL tables' planes ship as ONE nested array literal and the
    # buckets compute in one nested higher-order pass: the expression
    # tree stays constant-size no matter how many planes/tables the
    # config uses (the per-plane-literal form put O(tables×planes)
    # aggregate nodes in the plan — at the scaled configs (17×9 and up)
    # Catalyst analysis alone cost seconds per invocation). Fold order
    # is IDENTICAL to sign_bucket (left-to-right bit packing; per-plane
    # dot is the same zip_with+aggregate sequential sum), so buckets —
    # and every SQL-oracle hash — are bit-identical.
    planes_all = [
        [[float(x) for x in plane] for plane in random_hyperplanes(dim, n_planes, seed + t)]
        for t in range(n_tables)
    ]
    vec = F.col(vec_alias)
    tables = F.transform(
        F.lit(planes_all),
        lambda tp, ti: F.struct(
            ti.cast("int").alias("tbl"),
            F.aggregate(
                tp,
                # long fold: no 32-bit overflow however many planes the
                # scale-aware config picks (mirrored as BIGINT in the oracle)
                F.lit(0).cast("long"),
                lambda acc, plane: acc * 2
                + F.when(
                    F.aggregate(
                        F.zip_with(vec, plane, lambda x, y: x * y),
                        F.lit(0.0),
                        lambda a, x: a + x,
                    )
                    >= 0,
                    F.lit(1),
                ).otherwise(F.lit(0)),
            ).alias("bucket"),
        ),
    )
    payload = [vec_alias, f"{vec_alias}_n"] if with_vectors else []
    return d.select(id_alias, *payload, F.explode(tables).alias("tb")).select(
        id_alias, *payload,
        F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"),
    )


def lsh_bucketed_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    n_tables: int = 4,
    n_planes: int = 6,
    seed: int = 42,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Approximate kNN: multi-table sign-LSH bucket join + exact
    rescoring within buckets. The scale path — candidates shrink from
    |Q|·|C| to the union of per-table bucket collisions; each table is
    ``n_planes`` hyperplanes (2^n_planes buckets), and more tables raise
    recall. The bucket join is a plain equi-join on (table, bucket);
    planes ship as plan literals (engine-independent splitmix PRNG).

    Precondition: corpus ids are UNIQUE per ``c_id``. The rescore joins
    each candidate id back to ONE corpus vector
    (``dropDuplicates([c_id])`` below) — if the corpus carries the same
    id with different vectors, an arbitrary one of them scores all that
    id's candidates. Callers with duplicate-id corpora must dedup first
    (same explicit contract as ``lsh_near_dup_pairs``).
    """

    # BOTH sides bucket payload-free (ids only) — the explode
    # multiplies every row n_tables times, so shipping vectors through
    # it costs L× the input in shuffle bytes, and the dedup shuffle
    # moved 64-dim payloads per candidate (the near-dup path's r10
    # 100× OOM shape). Query vectors join back via the broadcast qvecs
    # lookup; corpus vectors join back once per DISTINCT candidate.
    q = _with_sign_buckets(
        queries, "query_id", "qv", q_id, q_vec, dim, n_tables, n_planes, seed,
        with_vectors=False,
    )
    base = _spread(corpus)
    c = _with_sign_buckets(
        base, "neighbor_id", "cv", c_id, c_vec, dim, n_tables, n_planes, seed,
        with_vectors=False,
    )
    cand = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qvecs = queries.select(
        F.col(q_id).alias("query_id"), _as_double(F.col(q_vec)).alias("qv")
    ).withColumn("qv_n", l2_norm(F.col("qv")))
    cvecs = (
        base.select(
            F.col(c_id).alias("neighbor_id"), _as_double(F.col(c_vec)).alias("cv")
        )
        .withColumn("cv_n", l2_norm(F.col("cv")))
        .dropDuplicates(["neighbor_id"])
    )
    scored = (
        cand.join(cvecs.hint("shuffle_hash"), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qv_n") * F.col("cv_n"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_near_dups(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold).

    Brute-force O(n²/2) pair scan — correct baseline; compose with
    `lsh_bucketed_knn`'s bucketing to prune at scale.
    """
    # Per-row norms are computed once and materialized at the exchange
    # (stream side) / broadcast (build side) — the O(n²) inner loop does
    # a single dot per pair instead of dot + two norm re-aggregations.
    # Arithmetic matches the oracle exactly: dot / (|a|·|b|).
    a = (
        df.select(F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va"))
        .withColumn("na", l2_norm(F.col("va")))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    b = df.select(
        F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb")
    ).withColumn("nb", l2_norm(F.col("vb")))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _sign_bucket_matrix(V, planes):
    """Sign-LSH buckets of the rows of ``V`` (n, D) float64 under
    ``planes`` (T, P, D): an (n, T) int64 matrix, bit k of table t set
    when row · planes[t, k] >= 0, packed big-endian like the JVM fold.
    One BLAS matmul for every plane of every table; the numpy body of
    both the Arrow bucket kernel and the driver pair build."""
    import numpy as np

    tt, pp, dd = planes.shape
    signs = (V @ planes.reshape(-1, dd).T) >= 0  # (n, T*P)
    weights = (1 << np.arange(pp - 1, -1, -1)).astype(np.int64)
    return signs.reshape(len(V), tt, pp).astype(np.int64) @ weights


def _with_sign_buckets_arrow(
    df: DataFrame,
    id_alias: str,
    vec_alias: str,
    src_id: str,
    src_vec: str,
    dim: int,
    n_tables: int,
    n_planes: int,
    seed: int,
    with_vectors: bool = True,
) -> DataFrame:
    """Arrow/numpy twin of ``_with_sign_buckets``: identical output
    schema and SEMANTICS (same splitmix hyperplanes, same big-endian bit
    packing), but the plane dots compute as one BLAS matmul per batch
    instead of per-element Catalyst expression evaluation — the map-side
    cost that dominates the scale-aware configs (the 13×33 config does
    429 64-term dots per vector; interpreted HOF evaluation pays ~100 ns
    per element, numpy ~0.1 ns).

    Bucket BITS can differ from the JVM path only for a dot within
    float addition-order noise of exactly 0 (|dot| ≲ 1e-13 — measure-
    zero for real embeddings), so this path backs the rows-only
    recall-tested queries; SQL-oracled queries keep the JVM fold whose
    sequential order is bit-identical to the DuckDB oracle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes = np.array(
        [random_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    )  # (T, P, D)
    bc = df.sparkSession.sparkContext.broadcast(planes)
    src = df.select(
        F.col(src_id).alias(id_alias), _as_double(F.col(src_vec)).alias(vec_alias)
    )
    fields = [T.StructField(id_alias, T.LongType())]
    if with_vectors:
        fields += [
            T.StructField(vec_alias, T.ArrayType(T.DoubleType())),
            T.StructField(f"{vec_alias}_n", T.DoubleType()),
        ]
    fields += [
        T.StructField("tbl", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
    ]
    schema = T.StructType(fields)

    def buckets(batches):
        P = bc.value
        tt = P.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_alias]])
            bucks = _sign_bucket_matrix(V, P)
            ids = pdf[id_alias].to_numpy()
            cols = {id_alias: np.repeat(ids, tt)}
            if with_vectors:
                norms = np.sqrt((V * V).sum(1))
                vec_list = list(pdf[vec_alias])
                cols[vec_alias] = [v for v in vec_list for _ in range(tt)]
                cols[f"{vec_alias}_n"] = np.repeat(norms, tt)
            cols["tbl"] = np.tile(np.arange(tt, dtype=np.int32), len(pdf))
            cols["bucket"] = bucks.reshape(-1)
            yield pd.DataFrame(cols)

    return src.mapInPandas(buckets, schema)


def lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    n_tables: int = 8,
    n_planes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow_buckets: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH candidate
    pruning + exact rescore — the scale path (the registered operator).

    Candidates are same-bucket pairs in ANY of ``n_tables`` sign-LSH
    tables (a plain shuffle self-join on (tbl, bucket) — no broadcast,
    no all-pairs crossJoin), then each candidate is rescored with the
    exact cosine and filtered at ``threshold``. Recall is the standard
    LSH tradeoff (1-(1-p^planes)^tables, p = 1-θ/π): ≈99.9% for real
    near-dups (cos ≥ .9) at this config, lower near the decision
    boundary — asserted vs the brute-force oracle in tests. The planes
    are engine-independent splitmix literals, so a SQL oracle builds
    the identical candidate set (same trick as `lsh_bucketed_knn`).

    ``arrow_buckets=True`` swaps the bucket pass for the numpy matmul
    kernel (`_with_sign_buckets_arrow`) — same planes/semantics, ~10×
    faster map side at scale-aware plane counts; reserved for the
    rows-only queries (the JVM fold stays bit-identical to SQL oracles).
    A corpus small enough to collect can take the same arrow-bucket
    plan on the driver instead (`lsh_near_dup_pairs_local`).
    """
    mk = _with_sign_buckets_arrow if arrow_buckets else _with_sign_buckets
    base = _spread(df).persist()  # one round-robin pass serves the
    # bucket explode AND the rescore vector lookup
    b = mk(
        base, "vid", "v", id_col, vec_col, dim, n_tables, n_planes, seed,
        with_vectors=False,
    )
    b = b.persist()  # (vid, tbl, bucket) signatures computed once,
    # read twice — the exploded frame carries NO vector payload: at L
    # tables that payload is L× the corpus in shuffle/persist bytes,
    # and exactly what blew the heap in the r10 100× probe (62 tables
    # × 220k vectors = 12.4M vector copies)
    # candidate generation and dedup run on BARE ID PAIRS — the bucket
    # self-join and the dropDuplicates shuffle move 16-byte rows, not
    # 64-dim vector payloads; vectors join back once per distinct pair
    a_ids = b.select(F.col("vid").alias("id_a"), "tbl", "bucket")
    b_ids = b.select(F.col("vid").alias("id_b"), "tbl", "bucket")
    cand = (
        a_ids.join(b_ids.hint("shuffle_hash"), ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = (
        base.select(
            F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("v_n", l2_norm(F.col("v")))
        .dropDuplicates(["vid"])
    )
    va = vecs.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("v_n").alias("na")
    )
    vb = vecs.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("v_n").alias("nb")
    )
    return (
        cand.join(va.hint("shuffle_hash"), "id_a")
        .join(vb.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# Schema of the arrow-bucket pair plan: the ids leave the bucket kernel
# as its LongType output column, cos_sim is the nullable quotient
_PAIR_SCHEMA = "id_a BIGINT, id_b BIGINT, cos_sim DOUBLE"

# Raw candidates per vector the driver pair build accepts: 4x the 50
# random candidates per vector scaled_lsh_params sizes its configs for,
# so only a clustered corpus (quadratic true-pair families) goes over.
# A bound on driver memory, not a time crossover: at 0.92 of it a
# clustered 11,440-vector corpus still built 3x faster on the driver
# (4-core local session)
_LOCAL_CAND_BUDGET = 4 * 50


def lsh_near_dup_pairs_local(
    df: DataFrame,
    threshold: float,
    dim: int,
    n_tables: int,
    n_planes: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame | None:
    """`lsh_near_dup_pairs` with ``arrow_buckets=True``, run on the
    driver over one ``toArrow()`` collect of a small corpus: the same
    rows, ``cos_sim`` bits and schema without the distributed plan's
    stages, whose second join moves a 64-dim vector per candidate.

    * buckets: ``_sign_bucket_matrix``, the Arrow kernel's numpy body;
    * candidates: one sort of the (table, bucket) keys, every pair of
      rows sharing a key, deduplicated, ``id_a < id_b``;
    * rescore: ``acc = acc + a[k]*b[k]`` folded over the dimensions in
      order, norms the same way, then ``dot / (na*nb)`` — the steps of
      Catalyst's ``dot``/``l2_norm`` left folds, so every double is the
      one the JVM computes; the filter keeps a NaN as Spark's ordering
      does (NaN sorts above every number).

    Returns None, without materialising a pair, when the distributed
    plan is the right one: the raw candidate count (Σ s(s−1)/2 over the
    bucket groups) exceeds ``_LOCAL_CAND_BUDGET · n`` — a clustered
    corpus whose true-pair set is quadratic — or the corpus has what
    the dense (n, dim) layout cannot mirror: null or ragged vectors,
    non-finite values, duplicate ids, or a zero norm in a candidate
    pair (the plan's ANSI divide raises)."""
    import numpy as np
    import pyarrow.compute as pc

    tbl = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).toArrow()
    # null ids never pair in the plan (its id_a < id_b filter drops them)
    tbl = tbl.filter(pc.is_valid(tbl.column("id")))
    vecs = tbl.column("v").combine_chunks()
    values = vecs.flatten()
    if vecs.null_count or values.null_count:
        return None
    n = len(vecs)
    if (pc.list_value_length(vecs).to_numpy() != dim).any():
        return None
    X = values.to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, dim)
    ids = tbl.column("id").to_numpy()
    order = np.argsort(ids, kind="stable")
    ids, X = ids[order], X[order]
    if (n > 1 and (ids[1:] == ids[:-1]).any()) or not np.isfinite(X).all():
        return None

    # one key per (row, table): table in the high bits, bucket below
    planes = np.array(
        [random_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    )
    keys = (
        _sign_bucket_matrix(X, planes)
        + (np.arange(n_tables, dtype=np.int64) << n_planes)
    ).ravel()
    by_key = np.argsort(keys, kind="stable")
    rows = by_key // n_tables  # ascending inside each key group
    ks = keys[by_key]
    starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
    sizes = np.diff(np.r_[starts, len(ks)])
    if int((sizes * (sizes - 1) // 2).sum()) > _LOCAL_CAND_BUDGET * n:
        return None
    # position p pairs with every later position of its group
    later = np.repeat(starts + sizes, sizes) - np.arange(len(ks)) - 1
    first = np.repeat(np.arange(len(ks)), later)
    second = first + 1 + np.arange(len(first)) - np.repeat(
        np.cumsum(later) - later, later
    )
    # rows are id-sorted, so row order is id order: ra < rb is id_a < id_b
    pair = np.unique(rows[first] * n + rows[second])
    ra, rb = pair // n, pair % n

    cols = np.ascontiguousarray(X.T)
    dot = np.zeros(len(pair))
    sq = np.zeros(n)
    for c in cols:
        dot = dot + c[ra] * c[rb]
        sq = sq + c * c
    norm = np.sqrt(sq)
    den = norm[ra] * norm[rb]
    if (den == 0.0).any():
        return None
    cos = dot / den
    keep = ~(cos < threshold)
    return arrow_frame(
        df.sparkSession,
        {"id_a": ids[ra[keep]], "id_b": ids[rb[keep]], "cos_sim": cos[keep]},
        _PAIR_SCHEMA,
    )


def scaled_lsh_params(
    n: int,
    cos_threshold: float = 0.9,
    target_recall: float = 0.99,
    cands_per_vec: float = 50.0,
) -> tuple[int, int]:
    """Corpus-size-aware sign-LSH config (n_planes, n_tables) for
    near-dup pair mining at a HIGH cosine threshold.

    Sign-LSH's random-collision candidate count is
    ``L·2^-b · n²/2`` — quadratic in n with a constant the plane count
    controls. A fixed b therefore cannot give linear candidates at any
    scale; the standard remedy is growing b with log2(n). This helper
    picks the smallest b whose expected random candidates stay ≤
    ``cands_per_vec`` per vector (L·n/2^b ≤ 2·cands_per_vec), with L
    then set for ``target_recall`` on true pairs at the threshold
    (p = 1−θ/π per plane; recall = 1−(1−p^b)^L). Result: candidate
    volume ≈ cands_per_vec·n + true-pair volume — linear in corpus
    size as long as near-dup families are bounded (the production
    regime). Driver-side arithmetic only; call with a corpus count."""
    import math

    p = 1.0 - math.acos(min(max(cos_threshold, -1.0), 1.0)) / math.pi
    for b in range(6, 40):
        q = p**b
        if q >= 1.0:
            continue
        L = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - q)))
        if L * max(n, 2) / float(2**b) <= 2.0 * cands_per_vec:
            return b, L
    return 40, 1


def lsh_config_feasible(
    n: int,
    cos_threshold: float,
    target_recall: float = 0.99,
    cands_per_vec: float = 50.0,
    max_tables: int = 512,
) -> bool:
    """Whether sign-LSH can mine near-dup pairs at this (corpus size,
    threshold) with bounded candidates AND a sane index cost.

    scaled_lsh_params always returns *a* config, but two failure modes
    make the answer useless at scale: (a) no plane count in range hits
    the candidate bound (the (40, 1) fallthrough — recall collapses to
    ~p^40), and (b) the bound is only reachable with an absurd table
    count (L ≈ ln(1/(1-recall))/p^b grows as p falls, so LOW thresholds
    need thousands of tables — each a full hash pass over the corpus).
    Both mean the threshold sits too deep in the random-cosine bulk for
    LSH at this n; the caller should compare against threshold_floor
    and raise the threshold, not brute-force the config. max_tables=512
    keeps the per-vector index cost (L hash evaluations) within ~1
    order of magnitude of the production configs the 100× probe
    validated (0.9 @ 200k → 62 tables, SCALE_SWEEP_r9)."""
    import math

    b, L = scaled_lsh_params(n, cos_threshold, target_recall, cands_per_vec)
    if L > max_tables:
        return False
    p = 1.0 - math.acos(min(max(cos_threshold, -1.0), 1.0)) / math.pi
    recall = 1.0 - (1.0 - p**b) ** L
    return recall >= target_recall - 1e-9


def threshold_floor(
    df: DataFrame,
    vec_col: str = "embedding",
    sample_n: int = 2000,
    q: float = 0.999,
) -> float:
    """Bulk-cosine quantile guard (r9 VERDICT task 3): the ``q``
    quantile of pairwise cosine similarity over a bounded sample of the
    corpus — the empirical floor below which a near-dup threshold sits
    INSIDE the random-cosine bulk. There the candidate set and the
    answer itself grow quadratically with corpus size (SCALE_SWEEP_r9
    clustered-geometry finding: at 100×, threshold 0.35 on a diffuse
    64-dim corpus pulls the N(0, 1/√d) tail; on a clustered corpus the
    bulk moves UP and even 0.9 can be inside it) — no index
    configuration can make that answer small, so dedup entry points
    warn when threshold < floor.

    Driver-side on a bounded ``limit(sample_n)`` pool (the same idiom
    as the anchor-price/PQ training pools): O(sample_n²) numpy dot
    products, ~4M for the default — milliseconds. The sample is
    whatever partitions serve first; the bulk quantile is a corpus
    STATISTIC, not an exact answer, and any contiguous slice of the
    corpus estimates it."""
    import numpy as np

    rows = df.select(vec_col).limit(sample_n).collect()
    M = np.array([r[0] for r in rows], dtype=np.float64)
    if M.shape[0] < 2:
        return -1.0  # degenerate corpus: nothing to collide with
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    Mn = M / norms
    S = Mn @ Mn.T
    iu = np.triu_indices(M.shape[0], k=1)
    return float(np.quantile(S[iu], q))


def ivf_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate kNN: KMeans coarse quantizer →
    per-centroid inverted lists → each query probes its n_probe nearest
    centroids and rescores exactly inside those lists.

    The scale path complement to sign-LSH: candidate count ≈
    |C|·n_probe/n_lists per query instead of |C|, and the list
    assignment is ONE distributed KMeans transform.

    Determinism contract: same seed + same input layout ⇒ identical
    index. Across different partitionings the k-means|| init may choose
    different centroids — as with FAISS, an IVF index is trained once
    and persisted, then queried; it is not rebuilt per query
    (`IvfIndex.save`/`load` is that persistence).
    """
    return IvfIndex.build(corpus, n_lists, seed, c_id, c_vec).query(
        queries, k, n_probe, q_id, q_vec
    )


class IvfIndex:
    """Persistable IVF index: KMeans centroids (driver-sized) + the
    inverted lists as a distributed frame.

    Mirrors the FAISS lifecycle — train once (`build`), `save` to an
    artifact dir (centroids.json + lists.parquet), `load` in any later
    session, `query` many times. The on-disk lists can also be written
    partitioned by list_id so a cluster-side query prunes file groups
    to its probed lists.
    """

    def __init__(self, centroids: list[list[float]], lists: DataFrame):
        self.centroids = centroids
        self.lists = lists  # (neighbor_id, cv, cn, list_id)

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        n_lists: int = 16,
        seed: int = 42,
        c_id: str = "vec_id",
        c_vec: str = "embedding",
    ) -> "IvfIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        c = corpus.select(
            F.col(c_id).alias("neighbor_id"), _as_double(F.col(c_vec)).alias("cv")
        ).withColumn("cn", l2_norm(F.col("cv")))
        cv = c.withColumn("_fv", array_to_vector("cv"))
        km = KMeans(k=n_lists, seed=seed, featuresCol="_fv", predictionCol="list_id")
        model = km.fit(cv)
        lists = model.transform(cv).select("neighbor_id", "cv", "cn", "list_id")
        centroids = [[float(x) for x in ctr] for ctr in model.clusterCenters()]
        return cls(centroids, lists)

    def save(self, path: str) -> None:
        import json
        import os

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "centroids.json"), "w") as f:
            json.dump(self.centroids, f)
        # partitioned by list_id: a probing query reads only its lists
        self.lists.write.mode("overwrite").partitionBy("list_id").parquet(
            os.path.join(path, "lists.parquet")
        )

    @classmethod
    def load(cls, spark, path: str) -> "IvfIndex":
        import json
        import os

        with open(os.path.join(path, "centroids.json")) as f:
            centroids = json.load(f)
        lists = spark.read.parquet(os.path.join(path, "lists.parquet")).select(
            "neighbor_id", "cv", "cn", "list_id"
        )
        return cls(centroids, lists)

    def query(
        self,
        queries: DataFrame,
        k: int,
        n_probe: int = 4,
        q_id: str = "vec_id",
        q_vec: str = "embedding",
    ) -> DataFrame:
        q = queries.select(
            F.col(q_id).alias("query_id"), _as_double(F.col(q_vec)).alias("qv")
        ).withColumn("qn", l2_norm(F.col("qv")))
        # rank centroids per query by cosine, keep n_probe list ids —
        # tiny (n_lists per query), an exploded literal-array scan
        cent = F.array(
            *[
                F.struct(
                    F.lit(i).alias("list_id"),
                    F.array(*[F.lit(x) for x in ctr]).alias("ctr"),
                )
                for i, ctr in enumerate(self.centroids)
            ]
        )
        probes = (
            q.select("query_id", "qv", "qn", F.explode(cent).alias("c"))
            .select(
                "query_id",
                "qv",
                "qn",
                F.col("c.list_id").alias("list_id"),
                (
                    dot(F.col("qv"), F.col("c.ctr"))
                    / (F.col("qn") * l2_norm(F.col("c.ctr")))
                ).alias("_sim"),
            )
        )
        w_probe = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("list_id"))
        probed = (
            probes.withColumn("_pr", F.row_number().over(w_probe))
            .filter(F.col("_pr") <= n_probe)
            .select("query_id", "qv", "qn", "list_id")
        )
        cand = self.lists.join(F.broadcast(probed), "list_id").filter(
            F.col("neighbor_id") != F.col("query_id")
        )
        scored = cand.select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank")
        )


# ------------------------------------------------------ product quantization --


def fit_pq_codebooks(sample, m: int = 8, k: int = 16, n_iter: int = 15, seed: int = 42):
    """Train PQ codebooks on a (n, d) numpy sample: the vector splits
    into ``m`` subspaces of d/m dims, each quantized to ``k`` centroids
    by seeded Lloyd k-means. Returns (m, k, d/m) float64.

    Trained on a BOUNDED driver-side sample (the FAISS practice —
    codebooks need thousands of examples, not the corpus), deterministic
    in (sample, seed). Encoding/scoring run distributed.
    """
    import numpy as np

    from ..generators.seeds import derive_seed

    x = np.asarray(sample, dtype=np.float64)
    n, d = x.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    k = min(k, n)
    books = np.empty((m, k, ds))
    for sub in range(m):
        xs = x[:, sub * ds : (sub + 1) * ds]
        rng = np.random.default_rng(derive_seed(seed, sub))
        cent = xs[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(n_iter):
            # assign: (n, k) squared distances via the expansion trick
            d2 = (
                (xs * xs).sum(1, keepdims=True)
                - 2.0 * xs @ cent.T
                + (cent * cent).sum(1)
            )
            assign = d2.argmin(1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = xs[mask].mean(0)
        books[sub] = cent
    return books


def pq_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    m: int = 8,
    n_cent: int = 16,
    top_c: int = 50,
    train_cap: int = 4096,
    seed: int = 42,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """PQ/ADC approximate kNN — the memory-bound 100 TB ANN path
    (FAISS-style): vectors L2-normalize (so inner product == cosine),
    encode to ``m`` sub-codes of log2(n_cent) bits each (64-dim float64
    512 B → 8 B at the defaults, 64×), queries score the WHOLE corpus
    through asymmetric-distance lookup tables (one (m, n_cent) table
    per query, m adds per vector — no vector arithmetic in the scan),
    then the top ``top_c`` ADC candidates per query rescore exactly.

    The third ANN family beside sign-LSH (hash-bucketed) and IVF
    (partition-pruned): PQ trades a small recall loss for a corpus that
    fits in RAM at any scale, and composes with IVF lists the same way
    FAISS IVFPQ does. Codebooks train on a bounded seeded sample;
    encoding is one Arrow-batched pass.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    c = corpus.select(
        F.col(c_id).alias("neighbor_id"), _as_double(F.col(c_vec)).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    # bounded, deterministic training sample (orderBy id → layout-stable)
    sample_rows = (
        c.orderBy("neighbor_id").limit(train_cap).select("cv", "cn").collect()
    )
    x = np.array([np.asarray(r["cv"]) / (r["cn"] or 1.0) for r in sample_rows])
    books = fit_pq_codebooks(x, m=m, k=n_cent, seed=seed)
    bc_books = spark.sparkContext.broadcast(books)

    q = queries.select(
        F.col(q_id).alias("query_id"), _as_double(F.col(q_vec)).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    q_rows = q.collect()  # query set is small by contract (top-k per query)
    q_ids = np.array([int(r["query_id"]) for r in q_rows])
    qm = np.array([np.asarray(r["qv"]) / (r["qn"] or 1.0) for r in q_rows])
    n_q, d = qm.shape
    ds = d // m
    # per-query ADC tables: table[qi, sub, code] = dot(q_sub, centroid)
    tables = np.einsum("qsd,skd->qsk", qm.reshape(n_q, m, ds), books)
    bc_tables = spark.sparkContext.broadcast(tables)
    bc_qids = spark.sparkContext.broadcast(q_ids)

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("adc_ip", T.DoubleType()),
        ]
    )

    def adc_scan(batches):
        books_l = bc_books.value
        tables_l = bc_tables.value
        qids_l = bc_qids.value
        mm, kk, dds = books_l.shape
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["cv"]]
            )
            norms = pdf["cn"].to_numpy()
            vecs = vecs / np.where(norms > 0, norms, 1.0)[:, None]
            sub = vecs.reshape(len(pdf), mm, dds)
            # encode: per subspace argmin distance == argmax (2*dot - |c|^2)
            codes = np.empty((len(pdf), mm), dtype=np.int64)
            for s in range(mm):
                d2 = -2.0 * sub[:, s, :] @ books_l[s].T + (books_l[s] ** 2).sum(1)
                codes[:, s] = d2.argmin(1)
            # ADC: scores[q, b] = sum_s tables[q, s, codes[b, s]]
            sub_idx = np.arange(mm)
            scores = np.empty((len(qids_l), len(pdf)))
            for qi in range(len(qids_l)):
                scores[qi] = tables_l[qi][sub_idx, codes].sum(1)
            nid = pdf["neighbor_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids_l, len(pdf)),
                    "neighbor_id": np.tile(nid, len(qids_l)),
                    "adc_ip": scores.reshape(-1),
                }
            )

    scored = c.mapInPandas(adc_scan, out_schema).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w_c = Window.partitionBy("query_id").orderBy(F.desc("adc_ip"), F.asc("neighbor_id"))
    cand = (
        scored.withColumn("_r", F.row_number().over(w_c))
        .filter(F.col("_r") <= top_c)
        .select("query_id", "neighbor_id")
    )
    # exact rescore of the ADC short-list
    qv = q.select("query_id", "qv", "qn")
    exact = (
        cand.join(c.hint("shuffle_hash"), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def pq_encode_frame(
    frame: DataFrame,
    books,
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """L2-normalize + PQ-encode a vector frame to (neighbor_id, codes)
    with broadcast codebooks — one Arrow-batched pass. Works identically
    on a BATCH or a STREAMING frame (mapInPandas is stateless per
    batch), so a continuous embedding ingest can encode on arrival with
    codebooks trained offline; stream/batch code parity is pinned by
    stream_pq_encode_parity."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bc = frame.sparkSession.sparkContext.broadcast(np.asarray(books, dtype=np.float64))
    c = frame.select(
        F.col(c_id).alias("neighbor_id"), _as_double(F.col(c_vec)).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    schema = T.StructType(
        [
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        bk = bc.value
        mm, kk, ds = bk.shape
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["cv"]])
            norms = pdf["cn"].to_numpy()
            vecs = vecs / np.where(norms > 0, norms, 1.0)[:, None]
            sub = vecs.reshape(len(pdf), mm, ds)
            codes = np.empty((len(pdf), mm), dtype=np.int32)
            for s in range(mm):
                d2 = -2.0 * sub[:, s, :] @ bk[s].T + (bk[s] ** 2).sum(1)
                codes[:, s] = d2.argmin(1)
            yield pd.DataFrame(
                {"neighbor_id": pdf["neighbor_id"].to_numpy(), "codes": list(codes)}
            )

    return c.mapInPandas(encode, schema)


class PqIndex:
    """Persistable PQ index — the FAISS ``IndexPQ`` lifecycle on Spark:
    train once (``build``: seeded codebooks + one distributed encode
    pass), ``save`` to an artifact dir (codebooks.json + codes.parquet
    — the 4-bit codes are the WHOLE stored corpus, 128x smaller than
    float64 vectors), ``load`` in any later session, ``query`` many
    times via the same ADC scan as ``pq_knn``.

    ``query(..., rescore=corpus_df)`` exact-rescores the ADC short-list
    against the original vectors (FAISS's refine step); without it the
    returned ``score`` column is the ADC inner-product approximation —
    at 100 TB that is the mode where only the 8-byte codes live in
    memory and the float vectors stay on cold storage.
    """

    def __init__(self, books, codes: DataFrame):
        self.books = books  # (m, k, d/m) numpy
        self.codes = codes  # (neighbor_id, codes array<int>)

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        m: int = 8,
        n_cent: int = 16,
        train_cap: int = 4096,
        seed: int = 42,
        c_id: str = "vec_id",
        c_vec: str = "embedding",
    ) -> "PqIndex":
        import numpy as np

        c = corpus.select(
            F.col(c_id).alias("neighbor_id"), _as_double(F.col(c_vec)).alias("cv")
        ).withColumn("cn", l2_norm(F.col("cv")))
        sample_rows = (
            c.orderBy("neighbor_id").limit(train_cap).select("cv", "cn").collect()
        )
        x = np.array([np.asarray(r["cv"]) / (r["cn"] or 1.0) for r in sample_rows])
        books = fit_pq_codebooks(x, m=m, k=n_cent, seed=seed)
        return cls(books, pq_encode_frame(corpus, books, c_id, c_vec))

    def save(self, path: str) -> None:
        import json
        import os

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "codebooks.json"), "w") as f:
            json.dump([[list(c) for c in book] for book in self.books], f)
        self.codes.write.mode("overwrite").parquet(os.path.join(path, "codes.parquet"))

    @classmethod
    def load(cls, spark, path: str) -> "PqIndex":
        import json
        import os

        import numpy as np

        with open(os.path.join(path, "codebooks.json")) as f:
            books = np.asarray(json.load(f), dtype=np.float64)
        return cls(books, spark.read.parquet(os.path.join(path, "codes.parquet")))

    def query(
        self,
        queries: DataFrame,
        k: int,
        top_c: int = 50,
        rescore: DataFrame | None = None,
        q_id: str = "vec_id",
        q_vec: str = "embedding",
        c_id: str = "vec_id",
        c_vec: str = "embedding",
    ) -> DataFrame:
        import numpy as np
        import pandas as pd

        spark = self.codes.sparkSession
        q = queries.select(
            F.col(q_id).alias("query_id"), _as_double(F.col(q_vec)).alias("qv")
        ).withColumn("qn", l2_norm(F.col("qv")))
        q_rows = q.collect()
        q_ids = np.array([int(r["query_id"]) for r in q_rows])
        qm = np.array([np.asarray(r["qv"]) / (r["qn"] or 1.0) for r in q_rows])
        mm, kk, ds = self.books.shape
        tables = np.einsum("qsd,skd->qsk", qm.reshape(len(q_ids), mm, ds), self.books)
        bc_t = spark.sparkContext.broadcast(tables)
        bc_q = spark.sparkContext.broadcast(q_ids)

        from pyspark.sql import types as T

        out_schema = T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("neighbor_id", T.LongType()),
                T.StructField("adc_ip", T.DoubleType()),
            ]
        )

        def adc(batches):
            tl, ql = bc_t.value, bc_q.value
            sub_idx = np.arange(mm)
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
                scores = np.empty((len(ql), len(pdf)))
                for qi in range(len(ql)):
                    scores[qi] = tl[qi][sub_idx, codes].sum(1)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(ql, len(pdf)),
                        "neighbor_id": np.tile(pdf["neighbor_id"].to_numpy(), len(ql)),
                        "adc_ip": scores.reshape(-1),
                    }
                )

        scored = self.codes.mapInPandas(adc, out_schema).filter(
            F.col("neighbor_id") != F.col("query_id")
        )
        w_c = Window.partitionBy("query_id").orderBy(F.desc("adc_ip"), F.asc("neighbor_id"))
        if rescore is None:
            return (
                scored.withColumn("rank", F.row_number().over(w_c))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id",
                        F.col("adc_ip").alias("score"), "rank")
            )
        cand = (
            scored.withColumn("_r", F.row_number().over(w_c))
            .filter(F.col("_r") <= top_c)
            .select("query_id", "neighbor_id")
        )
        c = rescore.select(
            F.col(c_id).alias("neighbor_id"), _as_double(F.col(c_vec)).alias("cv")
        ).withColumn("cn", l2_norm(F.col("cv")))
        qv = q.select("query_id", "qv", "qn")
        exact = (
            cand.join(c.hint("shuffle_hash"), "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
        return (
            exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank")
        )


class IvfPqIndex:
    """IVFPQ — the canonical 100 TB ANN index (FAISS ``IndexIVFPQ``):
    a KMeans coarse quantizer splits the (L2-normalized) corpus into
    inverted lists, and each vector stores only its list id + the PQ
    codes of its RESIDUAL (v − centroid). Queries probe their
    ``n_probe`` closest centroids and ADC-scan only those lists'
    codes: score ≈ q·centroid + Σ_s table[s, code_s], where the
    residual lookup table is list-independent — so a probe costs
    m adds per candidate plus one centroid dot per list.

    Storage: 1 small centroid set + (list_id: int, codes: m×4 bit) per
    vector — the corpus floats never need to be in memory. Residual
    encoding concentrates what PQ must represent (distance to an
    assigned centroid, not an arbitrary point on the sphere), which is
    why IVFPQ beats flat PQ at equal code budget.

    Same lifecycle as IvfIndex/PqIndex: build → save → load → query
    (optionally exact-rescored against the original vectors).
    """

    def __init__(self, centroids, books, codes: DataFrame):
        self.centroids = centroids  # (n_lists, d) numpy, normalized space
        self.books = books          # (m, k, d/m) numpy, residual space
        self.codes = codes          # (neighbor_id, list_id, codes)

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        n_lists: int = 16,
        m: int = 8,
        n_cent: int = 16,
        train_cap: int = 4096,
        seed: int = 42,
        c_id: str = "vec_id",
        c_vec: str = "embedding",
    ) -> "IvfPqIndex":
        import numpy as np
        import pandas as pd
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        spark = corpus.sparkSession
        c = corpus.select(
            F.col(c_id).alias("neighbor_id"), _as_double(F.col(c_vec)).alias("cv")
        ).withColumn("cn", l2_norm(F.col("cv")))
        # coarse quantizer trains on the NORMALIZED vectors (IP == cosine)
        nc = c.select(
            "neighbor_id",
            F.transform(
                "cv", lambda x: x / F.when(F.col("cn") > 0, F.col("cn")).otherwise(F.lit(1.0))
            ).alias("nv"),
        )
        km = KMeans(k=n_lists, seed=seed, featuresCol="_fv", predictionCol="list_id")
        model = km.fit(nc.withColumn("_fv", array_to_vector("nv")))
        centroids = np.array([list(ctr) for ctr in model.clusterCenters()])

        # codebooks train on RESIDUALS of a bounded deterministic sample
        sample = nc.orderBy("neighbor_id").limit(train_cap).collect()
        xs = np.array([np.asarray(r["nv"]) for r in sample])
        assign = ((xs @ centroids.T)).argmax(1)  # nearest-by-IP on the sphere
        # KMeans assigns by euclidean distance; on normalized data with
        # non-normalized centroids the argmin_l |x-c|^2 = argmax (x·c - |c|^2/2)
        adj = (centroids * centroids).sum(1) / 2.0
        assign = (xs @ centroids.T - adj).argmax(1)
        books = fit_pq_codebooks(xs - centroids[assign], m=m, k=n_cent, seed=seed)

        bc_ctr = spark.sparkContext.broadcast(centroids)
        bc_books = spark.sparkContext.broadcast(books)

        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("neighbor_id", T.LongType()),
                T.StructField("list_id", T.IntegerType()),
                T.StructField("codes", T.ArrayType(T.IntegerType())),
            ]
        )

        def encode(batches):
            ctr = bc_ctr.value
            bk = bc_books.value
            mm, kk, ds = bk.shape
            adj_l = (ctr * ctr).sum(1) / 2.0
            for pdf in batches:
                if not len(pdf):
                    continue
                vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["nv"]])
                lists = (vecs @ ctr.T - adj_l).argmax(1)
                resid = (vecs - ctr[lists]).reshape(len(pdf), mm, ds)
                codes = np.empty((len(pdf), mm), dtype=np.int32)
                for s in range(mm):
                    d2 = -2.0 * resid[:, s, :] @ bk[s].T + (bk[s] ** 2).sum(1)
                    codes[:, s] = d2.argmin(1)
                yield pd.DataFrame(
                    {
                        "neighbor_id": pdf["neighbor_id"].to_numpy(),
                        "list_id": lists.astype(np.int32),
                        "codes": list(codes),
                    }
                )

        return cls(centroids, books, nc.mapInPandas(encode, schema))

    def save(self, path: str) -> None:
        import json
        import os

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "coarse.json"), "w") as f:
            json.dump(
                {
                    "centroids": [list(map(float, c)) for c in self.centroids],
                    "codebooks": [[list(map(float, c)) for c in b] for b in self.books],
                },
                f,
            )
        # partitioned by list so a probed query prunes file groups
        self.codes.write.mode("overwrite").partitionBy("list_id").parquet(
            os.path.join(path, "codes.parquet")
        )

    @classmethod
    def load(cls, spark, path: str) -> "IvfPqIndex":
        import json
        import os

        import numpy as np

        with open(os.path.join(path, "coarse.json")) as f:
            meta = json.load(f)
        return cls(
            np.asarray(meta["centroids"], dtype=np.float64),
            np.asarray(meta["codebooks"], dtype=np.float64),
            spark.read.parquet(os.path.join(path, "codes.parquet")),
        )

    def query(
        self,
        queries: DataFrame,
        k: int,
        n_probe: int = 4,
        top_c: int = 50,
        rescore: DataFrame | None = None,
        q_id: str = "vec_id",
        q_vec: str = "embedding",
        c_id: str = "vec_id",
        c_vec: str = "embedding",
    ) -> DataFrame:
        import numpy as np
        import pandas as pd

        spark = self.codes.sparkSession
        q = queries.select(
            F.col(q_id).alias("query_id"), _as_double(F.col(q_vec)).alias("qv")
        ).withColumn("qn", l2_norm(F.col("qv")))
        q_rows = q.collect()
        q_ids = np.array([int(r["query_id"]) for r in q_rows])
        qm = np.array([np.asarray(r["qv"]) / (r["qn"] or 1.0) for r in q_rows])
        mm, kk, ds = self.books.shape
        # per-query: centroid IPs, probed list set, residual ADC table
        q_ctr_ip = qm @ self.centroids.T                       # (n_q, n_lists)
        probe_sets = np.argsort(-q_ctr_ip, axis=1)[:, :n_probe]
        tables = np.einsum("qsd,skd->qsk", qm.reshape(len(q_ids), mm, ds), self.books)
        bc = spark.sparkContext.broadcast(
            (q_ids, q_ctr_ip, probe_sets, tables)
        )

        from pyspark.sql import types as T

        out_schema = T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("neighbor_id", T.LongType()),
                T.StructField("adc_ip", T.DoubleType()),
            ]
        )

        def adc(batches):
            ql, ctr_ip, probes, tl = bc.value
            sub_idx = np.arange(mm)
            probe_mask = {
                qi: set(int(x) for x in probes[qi]) for qi in range(len(ql))
            }
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = np.stack([np.asarray(cd, dtype=np.int64) for cd in pdf["codes"]])
                lists = pdf["list_id"].to_numpy()
                nid = pdf["neighbor_id"].to_numpy()
                out_q, out_n, out_s = [], [], []
                for qi in range(len(ql)):
                    sel = np.isin(lists, list(probe_mask[qi]))
                    if not sel.any():
                        continue
                    sc = tl[qi][sub_idx, codes[sel]].sum(1) + ctr_ip[qi][lists[sel]]
                    out_q.append(np.full(sel.sum(), ql[qi]))
                    out_n.append(nid[sel])
                    out_s.append(sc)
                if not out_q:
                    continue
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "adc_ip": np.concatenate(out_s),
                    }
                )

        scored = self.codes.mapInPandas(adc, out_schema).filter(
            F.col("neighbor_id") != F.col("query_id")
        )
        w_c = Window.partitionBy("query_id").orderBy(F.desc("adc_ip"), F.asc("neighbor_id"))
        if rescore is None:
            return (
                scored.withColumn("rank", F.row_number().over(w_c))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", F.col("adc_ip").alias("score"), "rank")
            )
        cand = (
            scored.withColumn("_r", F.row_number().over(w_c))
            .filter(F.col("_r") <= top_c)
            .select("query_id", "neighbor_id")
        )
        c = rescore.select(
            F.col(c_id).alias("neighbor_id"), _as_double(F.col(c_vec)).alias("cv")
        ).withColumn("cn", l2_norm(F.col("cv")))
        qv = q.select("query_id", "qv", "qn")
        exact = (
            cand.join(c.hint("shuffle_hash"), "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
        return (
            exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rank")
        )
