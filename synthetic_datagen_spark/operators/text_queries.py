"""Text-analysis & deduplication queries over `documents` (driver brief:
LLM training-data pipeline operators).

Scale shape: everything is explode→groupBy→join on content keys
(shingles / fingerprints / band signatures) — the classic MinHash-LSH
layout where the candidate set, not the n² pair space, drives cost.
Hashes are MD5-derived so Spark and DuckDB agree bit-for-bit (engine
hash() builtins differ and are never used for parity paths).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions import text as TX
from ..sources import Catalog
from .base import pinned_parquet_oracle, register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Catalog(spark, sf_dir).table("documents")


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents spread across cores for per-doc-heavy compute.

    The parquet file is tiny (one row-group → one input split), so
    hash-heavy stages (minhash, shingling, simhash) would otherwise run
    on a single task. A cheap round-robin repartition puts every core to
    work; at 100 TB the file splits natively and this becomes a no-op
    cost-wise (still one narrow exchange of the text column).
    """
    return (
        Catalog(spark, sf_dir)
        .table("documents")
        .repartition(spark.sparkContext.defaultParallelism)
    )


@register(
    "text_quality_stats",
    oracle=r"""
WITH d AS (
  SELECT lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
         CASE WHEN length(text) > 0
              THEN (length(text) - length(regexp_replace(text, '[\.,;:!\?''"\(\)\[\]\-]', '', 'g'))) / CAST(length(text) AS DOUBLE)
              ELSE 0.0 END AS punct_ratio,
         n_chars
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(SUM(n_tokens) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_tokens,
       ROUND(AVG(punct_ratio), 6) AS avg_punct_ratio,
       ROUND(AVG(n_chars), 6) AS avg_chars
FROM d GROUP BY lang
""",
    doc="Token counting + punctuation-ratio quality stats per language "
    "— whitespace tokenizer, pure column expressions (no UDF).",
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "lang",
        "n_chars",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.punct_ratio(F.col("text")).alias("punct_ratio"),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum("n_tokens") / F.count("*").cast("double"), 6).alias("avg_tokens"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


def _sw_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    return (
        f"CASE WHEN toks = [''] THEN 0.0 ELSE "
        f"len(list_filter(toks, t -> list_contains([{words}], t))) / CAST(len(toks) AS DOUBLE) END"
    )


@register(
    "lang_id_accuracy",
    oracle=rf"""
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents
), scores AS (
  SELECT doc_id, lang,
         {_sw_sql('en')} AS score_en, {_sw_sql('es')} AS score_es,
         {_sw_sql('de')} AS score_de, {_sw_sql('fr')} AS score_fr,
         {_sw_sql('zh')} AS score_zh
  FROM t
), unp AS (
  SELECT doc_id, lang, cand, score
  FROM scores UNPIVOT (score FOR cand IN (score_en AS 'en', score_es AS 'es',
                                          score_de AS 'de', score_fr AS 'fr', score_zh AS 'zh'))
), best AS (
  SELECT doc_id, lang, cand AS pred_lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) AS rn
  FROM unp
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       ROUND(SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
FROM best WHERE rn = 1
GROUP BY lang
""",
    doc="Language-ID n-gram/stopword heuristic scored against the "
    "labeled lang column — per-language accuracy panel. Argmax with "
    "(score, lang) tie-break, identical on both engines.",
)
def lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = TX.lang_scores(_docs(spark, sf_dir))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)).alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("accuracy"),
    )


@register(
    "dedup_exact_fingerprint",
    oracle=r"""
WITH fp AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
  FROM documents
)
SELECT fingerprint, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM fp GROUP BY fingerprint HAVING COUNT(*) >= 1
""",
    doc="Exact dedup via normalized-text MD5 fingerprint: groupBy hash, "
    "keep-first (min id). One shuffle on the 16-byte key — at 100 TB "
    "this is the standard first dedup pass before MinHash.",
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", TX.fingerprint(F.col("text")).alias("fingerprint")
    )
    return d.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


_SHINGLE_SQL = (
    "list_distinct(list_transform(generate_series(1, greatest(length(text)-4, 0)),"
    " i -> substr(lower(text), i, 5)))"
)


_BANDS, _ROWS = 6, 5  # b bands × r minhashes: P(candidate) = 1-(1-J^r)^b
_MH_P = 2147483647  # 2^31-1: affine-permutation modulus (fits 63-bit products)


def _mh_coeffs(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for the i-th affine permutation — splitmix
    stream, identical literals on the Spark and DuckDB sides."""
    state = (0x9E3779B97F4A7C15 * (i + 1)) & 0xFFFFFFFFFFFFFFFF
    out = []
    for _ in range(2):
        state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        out.append(state % (1 << 29))
    return out[0] | 1, out[1]  # odd multiplier


def _minhash_band_sql(band: int) -> str:
    # band signature = '|'-joined r affine minhashes over the per-shingle
    # 32-bit md5-prefix integers (xs): min((a*x+b) mod p). ONE md5 per
    # shingle total — the b·r permutations are integer arithmetic.
    parts = []
    for r in range(_ROWS):
        a, b = _mh_coeffs(band * _ROWS + r)
        parts.append(f"list_min(list_transform(xs, x -> (x * {a} + {b}) % {_MH_P}))")
    return "concat_ws('|', " + ", ".join(parts) + ")"


_XS_SQL = "list_transform(shs, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)"


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH shingled AS (
  SELECT doc_id, {_SHINGLE_SQL} AS shs FROM documents
  WHERE length(text) >= 5
), hashed AS (
  SELECT doc_id, {_XS_SQL} AS xs FROM shingled
), sigs AS (
  SELECT doc_id,
         {", ".join(f"{_minhash_band_sql(b)} AS b{b}" for b in range(_BANDS))}
  FROM hashed
), bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, b{b} AS sig FROM sigs" for b in range(_BANDS))}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT id_a, id_b FROM cand
""",
    doc="MinHash-LSH near-dup candidates: 6 bands × 5 minhashes from ONE "
    "md5 per shingle + affine permutations (a·x+b mod 2^31-1, Broder-"
    "style universal hashing — integer arithmetic identical in both "
    "engines). P(candidate) = 1-(1-J^5)^6: 99%+ recall at J≥0.9 while "
    "a ~0.18 background Jaccard collides at <0.1%. SCALE-GUARDED "
    "(r12): above SPARK_GRAFT_TEXT_LSH_FIXED_MAX (10k) docs the band "
    "structure moves to scaled_text_lsh_params(n) — measured at 500k "
    "docs: 25× fewer candidates, ≥ fixed recall at the verify "
    "thresholds (SCALE_SWEEP_r12). Below the cutoff (all oracle "
    "scales) the 6×5 config this SQL mirrors is unchanged. Verify "
    "candidates with dedup_shingle_jaccard.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_candidates(spark, sf_dir)


def _text_lsh_fixed_max() -> int:
    """Corpus size above which the text MinHash family swaps the fixed
    6x5 banding for a scaled (sharper) config — the text analogue of
    the embedding family's SPARK_GRAFT_LSH_FIXED_MAX (lowered to 10 k
    in r11 on measured gray-zone evidence). The r12 100x measurement
    that set this: at 500 k docs the fixed 6x5 config emits 54.6 M
    candidate pairs and the word-ngram verify burns 930 s; the scaled
    18x8 config emits 2.15 M (25x fewer) and verifies in ~146 s total
    with HIGHER verified output (56 292 vs 55 679 pairs at the same
    exact >= 0.6 word-gram threshold). Below the cutoff nothing
    changes, so every SQL oracle (which mirrors the fixed band
    structure) stays valid at gate scale."""
    return int(os.environ.get("SPARK_GRAFT_TEXT_LSH_FIXED_MAX", "10000"))


def scaled_text_lsh_params(n_docs: int) -> tuple[int, int]:
    """(bands, rows) for the text MinHash-LSH banding at corpus size n.

    The fixed 6x5 config's S-curve midpoint is (1/6)^(1/5) = 0.70, but
    its curve is SHALLOW: a 0.28-bulk-Jaccard background (the measured
    0.999-quantile of random-pair similarity on the templated 100x
    corpus) still collides often enough that candidates grow ~n^2 with
    a small coefficient — 54.6 M pairs at 500 k docs for 55.7 k true
    pairs (0.1 % precision). Raising rows-per-band SHARPENS the curve
    (background ~ s^rows per band) while raising bands keeps — and at
    the verify thresholds actually raises — recall:

        recall(s) = 1-(1-s^r)^b   s=0.8    s=0.9
        fixed  6x5                0.908    0.995
        scaled 14x7               0.963    0.9999
        scaled 18x8               0.964    ~1.0

    Measured at 500 k docs (r12): 14x7 -> 6.2 M candidates, 18x8 ->
    2.15 M, verified word-gram output 101.1 % of the fixed config's.
    The ladder grows rows with the corpus decade so the background
    term keeps shrinking as n^2 grows; every config is a pure function
    of n — deterministic, engine-free, memo-stable."""
    if n_docs <= 100_000:
        return 14, 7
    return 18, 8


def _bulk_guard_min_docs() -> int:
    """Corpus size above which the MinHash entry points sample the
    corpus's bulk-Jaccard statistic before mining (r10 VERDICT task 4
    — the text analogue of the embedding family's threshold_floor
    cutoff). Below it the check would only measure fixture noise and
    the gate corpora stay untouched; env-overridable so tests can
    force the guard on small fixtures."""
    return int(os.environ.get("SPARK_GRAFT_TEXT_BULK_MIN", "50000"))


# (sf_dir, cutoff) → sampled bulk floor (None below the cutoff) — one
# count job + one bounded sample per corpus per session
_BULK_CACHE: dict = {}


_NDOCS_CACHE: dict = {}


def _corpus_size(
    spark: SparkSession, sf_dir: str, docs: DataFrame,
    lineage: str = "len_ge_5",
) -> int:
    """Per-session memo of the doc count — the cheap column-pruned
    scan that sizes both the bulk guard and the LSH config chooser,
    paid once per corpus per session. The count depends on the DOCS
    LINEAGE, not just sf_dir, so ``lineage`` names the filter applied
    upstream and is part of the memo key (default: the family-standard
    length>=5 filter of _docs_shingled) — a caller passing a
    differently filtered frame must pass a distinct lineage tag or it
    would silently reuse the wrong cached count and pick the wrong
    LSH config."""
    from ..functions.memo import app_scoped_memo

    return app_scoped_memo(
        _NDOCS_CACHE, spark, (sf_dir, lineage), docs.count
    )


def _minhash_bulk_guard(
    spark: SparkSession, sf_dir: str, shingled: DataFrame, n: int,
    n_bands: int, n_rows: int,
) -> None:
    """Warn when the corpus's bulk-Jaccard floor reaches the 6×5
    banding's implied threshold (≈0.70): at that point RANDOM pairs
    collide in bands with non-negligible probability and the candidate
    set — and the true answer — grow quadratically with corpus size.
    No banding change can fix that (the matching pairs are real); the
    remediation is deduping the template/boilerplate mass first. The
    embedding family got this guard in r9 (threshold_floor); the r10
    100× probe's 54.6 M-pair output is the text-side geometry a
    production user must be warned about."""
    import warnings

    from ..functions.memo import app_scoped_memo

    cutoff = _bulk_guard_min_docs()
    # n comes from the CHEAP docs lineage (column-pruned parquet count,
    # memoized in _corpus_size) — materializing the tokenize+shingle+
    # array_distinct chain just to read a row count would pre-pay the
    # query's most expensive stage even when the corpus is far below
    # the guard's cutoff. None (below-cutoff) is a cached value too.
    floor = app_scoped_memo(
        _BULK_CACHE,
        spark,
        (sf_dir, cutoff),
        lambda: TX.jaccard_bulk_floor(shingled) if n > cutoff else None,
    )
    implied = TX.minhash_implied_threshold(n_bands, n_rows)
    if floor is not None and floor >= implied:
        warnings.warn(
            f"corpus bulk-Jaccard floor {floor:.3f} (0.999-quantile of "
            f"sampled random-pair shingle Jaccard) reaches the "
            f"{n_bands}x{n_rows} banding's implied threshold "
            f"{implied:.3f}: the candidate set grows quadratically "
            f"with corpus size — near-dup mining on this corpus needs "
            f"template/boilerplate removal first (the output itself "
            f"is quadratic; no banding config can shrink it)",
            stacklevel=3,
        )


# corpus size at or under which the text band-join scaffold builds
# under narrow confs (the embedding scaffold's 20 k row cutoff)
_TEXT_LSH_TINY_DOCS = 20_000


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b) MinHash-LSH candidate pairs, distinct — MEMOIZED
    per (session, corpus) under the shared ``text_lsh_pairs`` key.

    r13 optimization: six catalog queries consume this exact frame
    (minhash candidates, shingle + word-ngram verifies, both CC
    kernels via their builders, the curation funnels via the CC label
    memo, the cross-modal join) and each used to re-run the full
    md5-shingle → 30-minhash → band self-join chain (~4–5 s each at
    sf0.1; the r12 note measured that persisting WITHIN one query
    did not pay, but ACROSS queries the chain dominated ~5 of the
    family's plans). The frame is deterministic in (corpus, config),
    so the whole family now shares one eagerly-checkpointed build per
    session — the same discipline the embedding family has used since
    r9 (functions/memo.session_frame). bench.py lists the family's first payer
    in MEMO_BUILDERS so cold-vs-steady stays separately reported.

    SCALE-GUARDED (r12): above _text_lsh_fixed_max docs the fixed 6x5
    banding is swapped for scaled_text_lsh_params(n) — sharper bands
    whose background-collision term shrinks as the corpus grows, with
    measured >= fixed recall at the verify thresholds (see the chooser
    docstring for the 100x numbers). The whole minhash / shingle /
    word-ngram / CC / curation family flows through here, so the swap
    moves them together; below the cutoff (every oracle-gate scale)
    the config — and thus every SQL oracle mirroring the fixed band
    structure — is unchanged."""
    from ..functions.execution import narrow_build_confs
    from ..functions.memo import session_frame

    def build() -> DataFrame:
        docs = _docs_wide(spark, sf_dir).filter(F.length("text") >= 5)
        shingled = docs.select(
            "doc_id", F.array_distinct(TX.shingles(F.col("text"), 5)).alias("shs")
        )
        n, n_bands, n_rows = _active_lsh_config(spark, sf_dir, docs)
        _minhash_bulk_guard(spark, sf_dir, shingled, n, n_bands, n_rows)
        return _lsh_candidates_from(shingled, n_bands, n_rows)

    # r13 optimization: below-cutoff corpora materialize the band-join
    # scaffold under AQE-off narrow confs (same discipline and rationale
    # as the embedding scaffold — see execution.narrow_build_confs;
    # candidate set verified identical, 6 076 pairs at sf0.1). The
    # map-side shingle/minhash parallelism is set by _docs_wide's
    # spread, not the shuffle width, so only the tiny band-join
    # exchanges narrow. The scope wraps the session_frame CALL so it
    # covers the eager checkpoint that actually runs the build; on a
    # memo hit the scope is a no-op pass-through.
    n_docs = _corpus_size(
        spark, sf_dir, _docs_wide(spark, sf_dir).filter(F.length("text") >= 5)
    )
    with narrow_build_confs(spark, n_docs, _TEXT_LSH_TINY_DOCS):
        return session_frame(spark, ("text_lsh_pairs", sf_dir), build)


def _active_lsh_config(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> tuple[int, int, int]:
    """(n_docs, bands, rows) the text-LSH family should run with for
    this corpus: the fixed oracle-scale config up to the cutoff, the
    scaled ladder above it. n comes from the memoized column-pruned
    count, so repeated family members pay it once per session."""
    n = _corpus_size(spark, sf_dir, docs)
    if n > _text_lsh_fixed_max():
        n_bands, n_rows = scaled_text_lsh_params(n)
    else:
        n_bands, n_rows = _BANDS, _ROWS
    return n, n_bands, n_rows


def _lsh_candidates_from(
    shingled: DataFrame, n_bands: int | None = None, n_rows: int | None = None
) -> DataFrame:
    # band/row counts default to the fixed gate-scale config; the
    # scale-guarded path passes a sharper (more rows per band) config
    n_bands = _BANDS if n_bands is None else n_bands
    n_rows = _ROWS if n_rows is None else n_rows
    # xs: per-shingle 32-bit ints, hashed ONCE; minhashes are affine
    hashed = shingled.select(
        "doc_id",
        F.transform(
            "shs", lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        ).alias("xs"),
    )

    def minhash(i: int):
        a, b = _mh_coeffs(i)
        return F.array_min(F.transform("xs", lambda x: (x * a + b) % _MH_P))

    def sig(band: int):
        return F.concat_ws(
            "|",
            *[minhash(band * n_rows + r).cast("string") for r in range(n_rows)],
        )

    # NOTE (r12, measured): persisting this frame for the band
    # self-join below is NOT worth it — walls at 500k docs were flat
    # with and without (487s vs 499s, host noise); the join's two
    # sides share the identical subplan and the signature build is not
    # the dominant cost, so the cache only added memory pressure.
    sigs = hashed.select("doc_id", *[sig(b).alias(f"b{b}") for b in range(n_bands)])
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("sig"))
                for b in range(n_bands)
            ])
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


_LSH_CAND_SQL = f"""
shingled AS (
  SELECT doc_id, {_SHINGLE_SQL} AS shs FROM documents
  WHERE length(text) >= 5
), hashed AS (
  SELECT doc_id, {_XS_SQL} AS xs FROM shingled
), sigs AS (
  SELECT doc_id,
         {", ".join(f"{_minhash_band_sql(b)} AS b{b}" for b in range(_BANDS))}
  FROM hashed
), bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, b{b} AS sig FROM sigs" for b in range(_BANDS))}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
"""


@register(
    "dedup_shingle_jaccard",
    oracle=f"""
WITH {_LSH_CAND_SQL}
SELECT id_a, id_b,
       ROUND(len(list_intersect(sa.shs, sb.shs))
         / CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE), 6) AS jaccard
FROM cand
JOIN shingled sa ON sa.doc_id = id_a
JOIN shingled sb ON sb.doc_id = id_b
WHERE len(list_intersect(sa.shs, sb.shs))
         / CAST(len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs)) AS DOUBLE) >= 0.8
""",
    doc="Exact character-5-shingle Jaccard ≥ 0.8 computed ONLY over the "
    "MinHash-LSH candidate pairs (the verify stage of the scale dedup "
    "pipeline): candidates from band collisions, then array_intersect "
    "on the two shingle sets. Candidate generation is deterministic "
    "(md5 hash family, identical in both engines) so the oracle sees "
    "the same pairs. An all-pairs shingle self-join is quadratic in "
    "hot shingles and melts at scale — this formulation shuffles only "
    "band signatures + candidate pairs.",
)
def dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # candidates come from the shared session memo (_lsh_candidates —
    # the identical frame every family member verifies against); the
    # shingle arrays are still needed for both verify-join sides, so
    # persist that (much cheaper) frame locally
    docs = _docs_wide(spark, sf_dir).filter(F.length("text") >= 5)
    shingled = docs.select(
        "doc_id", F.array_distinct(TX.shingles(F.col("text"), 5)).alias("shs")
    ).persist()
    cand = _lsh_candidates(spark, sf_dir)
    # Scale-safe verify join: the shingle table is the CORPUS — never
    # broadcast it. Shuffle-hash join the candidate pairs against it on
    # doc_id (two narrow shuffles on a scalar key); build side is the
    # per-partition slice of the corpus, not the whole thing.
    sa = shingled.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("shs_a"))
    sb = shingled.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("shs_b"))
    d = cand.join(sa.hint("shuffle_hash"), "id_a").join(sb.hint("shuffle_hash"), "id_b")
    common = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = common / (F.size("shs_a") + F.size("shs_b") - common).cast("double")
    return (
        d.filter(jac >= 0.8)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def _simhash_expr(toks: Column, n_bits: int = 32) -> Column:
    """SimHash signature: per-token MD5-prefix hash (ceil(n_bits/4) hex
    chars); signature bit b is the sign of the sum over tokens of ±1 on
    that bit. 32-bit form backs the oracled signature query; the pairs
    query uses 60 bits (15 hex chars — still a positive BIGINT in both
    engines) so pigeonhole blocks are selective at corpus scale."""
    hex_len = (n_bits + 3) // 4
    h = lambda t: F.conv(F.substring(F.md5(t), 1, hex_len), 16, 10).cast("long")  # noqa: E731
    hashes = F.transform(toks, h)
    # ONE nested-HOF pass: a per-bit ±1 vote array folds over the token
    # hashes, then packs MSB-first. The per-bit-aggregate form put
    # n_bits separate aggregate nodes in the tree — the 60-bit signature
    # blew the analyzer's fixed-point iteration budget (same pathology
    # as the per-plane sign-LSH literals, fixed the same way).
    idx = F.sequence(F.lit(0), F.lit(n_bits - 1))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, x: F.zip_with(
            acc, idx,
            lambda a, b: a + F.when(F.getbit(x, b) == 1, 1).otherwise(-1),
        ),
    )
    bits = F.transform(
        votes, lambda v: F.when(v > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b)


@register(
    "dedup_simhash",
    oracle=r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), tok AS (
  SELECT doc_id, ('0x' || substr(md5(u.t), 1, 8))::BIGINT AS h
  FROM t, UNNEST(toks) AS u(t)
), bit_votes AS (
  SELECT doc_id, b.b AS bit,
         CASE WHEN SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS v
  FROM tok CROSS JOIN (SELECT UNNEST(generate_series(0, 31)) AS b) b
  GROUP BY doc_id, b.b
)
SELECT doc_id, CAST(SUM(v * (1::BIGINT << (31 - bit))) AS BIGINT) AS simhash
FROM bit_votes GROUP BY doc_id
""",
    doc="SimHash document signatures (32-bit, token-level, MD5-derived "
    "hash family): near-dups are signatures within small Hamming "
    "distance — bucketable by signature prefix at scale.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return d.select("doc_id", _simhash_expr(toks).alias("simhash"))


def simhash60_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized 60-bit (doc_id, simhash) signatures memoized per
    (session, input) — the pairs query's signature; wider than the
    32-bit oracled panel so pigeonhole blocks stay selective (15-bit
    blocks: expected random collisions n²·4/2¹⁵ vs n²·4/2⁸ at 8-bit)."""
    from ..functions.memo import session_frame

    def build() -> DataFrame:
        d = _docs_wide(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
        toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        return d.select("doc_id", _simhash_expr(toks, 60).alias("simhash"))

    return session_frame(spark, ("simhash_sigs60", sf_dir), build)


@register(
    "token_count_panel",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(len(regexp_extract_all(trim(text), '\\S+')) AS BIGINT)) AS BIGINT) AS ws_tokens,
       CAST(SUM(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)) AS BIGINT) AS bpe_tokens,
       CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS n_chars
FROM documents
GROUP BY lang
""",
    doc="Token counting for the training-data pipeline: whitespace tokens "
    "and a BPE-ish pre-tokenizer regex (letter runs / digit runs / single "
    "punctuation), all JVM-side regexp — no UDF. Exact-integer outputs.",
)
def token_count_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bpe = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    )
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(TX.token_count(F.col("text")).cast("long")).alias("ws_tokens"),
        F.sum(bpe.cast("long")).alias("bpe_tokens"),
        F.sum(F.length("text").cast("long")).alias("n_chars"),
    )


@register(
    "doc_rolling_fingerprint",
    oracle="""
WITH n AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS norm
  FROM documents
)
SELECT doc_id,
       CAST(list_min(list_transform(range(1, length(norm) - 2),
            i -> ord(substr(norm, i, 1)) * 29791
               + ord(substr(norm, i + 1, 1)) * 961
               + ord(substr(norm, i + 2, 1)) * 31
               + ord(substr(norm, i + 3, 1)))) AS BIGINT) AS fp
FROM n WHERE length(norm) >= 4
""",
    doc="Document fingerprinting via polynomial rolling hash (winnowing-"
    "lite): min over all 4-gram base-31 hashes of the ascii-normalized "
    "text. Pure higher-order-function expressions (sequence/transform/"
    "array_min) — stays in whole-stage codegen, no UDF, engine-portable "
    "hash (unlike xxhash64/md5 which differ across engines for ints).",
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_wide(spark, sf_dir)
    d = docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", "").alias("norm"),
    ).filter(F.length("norm") >= 4)
    fp = F.expr(
        "array_min(transform(sequence(1, length(norm) - 3),"
        " i -> ascii(substr(norm, i, 1)) * 29791"
        "    + ascii(substr(norm, i + 1, 1)) * 961"
        "    + ascii(substr(norm, i + 2, 1)) * 31"
        "    + ascii(substr(norm, i + 3, 1))))"
    )
    return d.select("doc_id", fp.cast("long").alias("fp"))


_CC_SQL = f"""
WITH RECURSIVE {_LSH_CAND_SQL.strip()}
, edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL SELECT id_b, id_a FROM cand
), reach(a, b) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
FROM reach GROUP BY a ORDER BY doc_id
"""


@register(
    "dedup_connected_components",
    oracle=_CC_SQL,  # recursive transitive closure: component min == propagated min label
    doc="Duplicate-cluster assignment: connected components over the "
    "MinHash-LSH near-dup pair graph via iterative min-label "
    "propagation (each round: label = min(own, neighbors'); join + "
    "groupBy-min per round, converges in O(log(diameter)) rounds — the "
    "alternating-algorithm shape of large-scale CC). Emits one row per "
    "clustered doc with its canonical (min) doc_id — the 'keep one per "
    "cluster' step that completes the dedup pipeline.",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared min-label kernel (functions/graph.py): O(log diameter)
    # rounds of join + groupBy-min, lineage cut per round via
    # localCheckpoint, intermediates released before returning. The
    # converged frame is memoized per (session, sf_dir) so the curation
    # funnel (which composes this stage) reuses it instead of re-running
    # the iterative rounds.
    from ..functions.graph import cached_min_label_components

    labels = cached_min_label_components(
        spark,
        ("text_lsh_cc", sf_dir),
        lambda: _lsh_candidates(spark, sf_dir),
        # kernel PINNED so the kernel head-to-head stays a real contrast
        # (dedup_cc_large_star pins the other side); unpinned call sites
        # follow the session default, which the r10 100×-docs probe
        # flipped to large-star (221s vs 311s at 487k nodes)
        algorithm="minlabel",
    )
    return labels.select(
        F.col("node_id").alias("doc_id"), "cluster_id"
    ).orderBy("doc_id")


@register(
    "dedup_cc_large_star",
    oracle=_CC_SQL,  # same transitive-closure oracle as the min-label twin
    doc="Duplicate-cluster assignment via alternating large-star/"
    "small-star CC (Kiveris et al. SoCC'14, functions/graph.py) over "
    "the same MinHash-LSH pair graph as dedup_connected_components — "
    "the kernel whose per-round shuffle never depends on component "
    "diameter or hub skew (each round is one groupBy-min + one join "
    "over the current edge set). Twin queries, one oracle: both "
    "kernels must reproduce the recursive-CTE transitive closure "
    "exactly; parity across all three dedup families is additionally "
    "pinned in tests/test_dedup.py. Callers select the kernel with "
    "cached_min_label_components' algorithm argument.",
)
def dedup_cc_large_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.graph import cached_min_label_components

    # shares the text pair-frame memo with the cross-modal query and
    # memoizes its own converged labels under a kernel-distinct key
    # (the shared-memo rule is "identical results may share"; here we
    # WANT an independent large-star run, pinned identical by the
    # shared oracle, so the key differs from the min-label twin's).
    # _lsh_candidates is itself the ("text_lsh_pairs", sf_dir) memo
    # since r13, so the explicit wrap this call site used to carry
    # is now the function's own behavior.
    labels = cached_min_label_components(
        spark,
        ("text_lsh_cc_lss", sf_dir),
        lambda: _lsh_candidates(spark, sf_dir),
        algorithm="largestar",
    )
    return labels.select(
        F.col("node_id").alias("doc_id"), "cluster_id"
    ).orderBy("doc_id")


_WG_SQL = (
    "CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\\s+')) < 3 "
    "THEN CAST([] AS VARCHAR[]) ELSE list_distinct(list_transform("
    "generate_series(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 2), "
    "i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\\s+')[i:i+2], ' '))) END"
)


@register(
    "dedup_word_ngram_jaccard",
    oracle=f"""
WITH {_LSH_CAND_SQL}
, grams AS (
  SELECT doc_id, {_WG_SQL} AS ng FROM documents WHERE length(text) >= 5
)
SELECT id_a, id_b,
       ROUND(len(list_intersect(ga.ng, gb.ng))
         / CAST(len(ga.ng) + len(gb.ng) - len(list_intersect(ga.ng, gb.ng)) AS DOUBLE), 6) AS jaccard
FROM cand
JOIN grams ga ON ga.doc_id = id_a
JOIN grams gb ON gb.doc_id = id_b
WHERE len(ga.ng) > 0 AND len(gb.ng) > 0
  AND len(list_intersect(ga.ng, gb.ng))
         / CAST(len(ga.ng) + len(gb.ng) - len(list_intersect(ga.ng, gb.ng)) AS DOUBLE) >= 0.6
""",
    doc="Word-3-gram Jaccard ≥ 0.6 over MinHash-LSH candidates — the "
    "n-gram (token-level) companion to the character-shingle verify "
    "(the Gopher/RefinedWeb-style dedup granularity). Distinct n-gram "
    "arrays via sequence/transform/slice, intersection JVM-side.",
)
def dedup_word_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _lsh_candidates(spark, sf_dir)
    grams = (
        _docs_wide(spark, sf_dir)
        .filter(F.length("text") >= 5)
        .select("doc_id", F.array_distinct(TX.word_ngrams(F.col("text"), 3)).alias("ng"))
        .filter(F.size("ng") > 0)
    )
    # Scale-safe verify join — see dedup_shingle_jaccard: n-gram table is
    # the corpus, so shuffle-hash join on doc_id instead of broadcasting.
    ga = grams.select(F.col("doc_id").alias("id_a"), F.col("ng").alias("ng_a"))
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("ng").alias("ng_b"))
    d = cand.join(ga.hint("shuffle_hash"), "id_a").join(gb.hint("shuffle_hash"), "id_b")
    common = F.size(F.array_intersect("ng_a", "ng_b"))
    jac = common / (F.size("ng_a") + F.size("ng_b") - common).cast("double")
    return d.filter(jac >= 0.6).select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


_CURATION_SQL = f"""
WITH RECURSIVE {_LSH_CAND_SQL.strip()}
, edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL SELECT id_b, id_a FROM cand
), reach(a, b) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
), clusters AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
), quality AS (
  SELECT doc_id, lang, text FROM documents
  WHERE length(text) >= 50
    AND (length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"\\(\\)\\[\\]\\-]', '', 'g')))
        / CAST(length(text) AS DOUBLE) <= 0.2
), exact_kept AS (
  SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                              ORDER BY doc_id) AS rn
    FROM quality
  ) WHERE rn = 1
), final_kept AS (
  SELECT e.doc_id, e.lang FROM exact_kept e
  LEFT JOIN clusters c ON c.doc_id = e.doc_id AND c.doc_id != c.cluster_id
  WHERE c.doc_id IS NULL
)
SELECT d.lang,
       COUNT(*) AS total,
       COUNT(q.doc_id) AS quality_pass,
       COUNT(ek.doc_id) AS exact_kept,
       COUNT(fk.doc_id) AS final_kept
FROM documents d
LEFT JOIN quality q ON q.doc_id = d.doc_id
LEFT JOIN exact_kept ek ON ek.doc_id = d.doc_id
LEFT JOIN final_kept fk ON fk.doc_id = d.doc_id
GROUP BY d.lang ORDER BY d.lang
"""


@register(
    "corpus_curation_pipeline",
    oracle=_CURATION_SQL,  # full-funnel parity incl. the recursive CC stage
    doc="End-to-end training-corpus curation as ONE composed plan: "
    "quality gate (length/punct heuristics) → exact-dup removal "
    "(normalized-md5 keep-first) → near-dup removal (MinHash-LSH "
    "candidates → connected components → keep cluster minimum). Emits "
    "per-language funnel counts (total → quality_pass → exact_kept → "
    "final_kept). Every stage is the oracle-checked operator registered "
    "above; this query is the composition a 100 TB curation run executes.",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One flag-based pass instead of four count legs: the naive
    # per-stage groupBy + outer-join shape re-evaluates the upstream
    # chain once per funnel stage (4 scans, 2 window computations);
    # fused, the plan is one scan → one fingerprint window → one small
    # left join (CC dupes) → one hash agg of conditional sums.
    docs = _docs(spark, sf_dir)
    q = (F.length("text") >= 50) & (TX.punct_ratio(F.col("text")) <= 0.2)
    # exact dedup among quality survivors: rank within (quality,
    # fingerprint) so failing docs can't shadow a passing duplicate
    wfp = Window.partitionBy(q, TX.fingerprint(F.col("text"))).orderBy("doc_id")
    flagged = (
        docs.select("doc_id", "lang", "text")
        .withColumn("_q", q)
        .withColumn("_exact", F.col("_q") & (F.row_number().over(wfp) == 1))
        .drop("text")
    )
    # near-dup: drop every clustered doc that is not its cluster minimum
    clusters = dedup_connected_components(spark, sf_dir)
    dupes = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    flagged = flagged.join(
        F.broadcast(dupes.withColumn("_dup", F.lit(True))), "doc_id", "left"
    ).withColumn("_final", F.col("_exact") & F.col("_dup").isNull())

    out = flagged.groupBy("lang").agg(
        F.count("*").alias("total"),
        F.sum(F.col("_q").cast("long")).alias("quality_pass"),
        F.sum(F.col("_exact").cast("long")).alias("exact_kept"),
        F.sum(F.col("_final").cast("long")).alias("final_kept"),
    )
    return out.orderBy("lang")


@register(
    "vocab_top_tokens",
    oracle=r"""
WITH tok AS (
  SELECT doc_id, u.t AS token
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE length(trim(text)) > 0) d,
       UNNEST(toks) AS u(t)
  WHERE length(u.t) > 0
), stats AS (
  SELECT token,
         COUNT(*) AS tf,
         COUNT(DISTINCT doc_id) AS df
  FROM tok GROUP BY token
)
SELECT token, tf, df FROM stats
ORDER BY tf DESC, token LIMIT 50
""",
    doc="Vocabulary induction for the training-data pipeline: top-50 "
    "corpus tokens with term frequency and document frequency — the "
    "tokenizer-vocab / corpus-stats building block. explode → two-level "
    "hash aggregate (count + count distinct), top-k via "
    "TakeOrderedAndProject; all JVM-side, no UDF.",
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).filter(F.length("token") > 0)
    stats = tok.groupBy("token").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return stats.orderBy(F.desc("tf"), F.asc("token")).limit(50)


@register(
    "tfidf_top_terms",
    oracle=r"""
WITH tok AS (
  SELECT doc_id, u.t AS token
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE length(trim(text)) > 0) d,
       UNNEST(toks) AS u(t)
  WHERE length(u.t) > 0
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok
)
SELECT tf.doc_id, tf.token,
       ROUND(tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
FROM tf JOIN df ON df.token = tf.token CROSS JOIN n
WHERE tf.doc_id < 20
ORDER BY tf.doc_id, tfidf DESC, tf.token
LIMIT 100
""",
    doc="TF-IDF relevance scoring (smoothed idf = ln((N+1)/(df+1))) for "
    "the first 20 documents — the classic quality/relevance feature for "
    "corpus filtering. Shape: explode → per-(doc,token) counts, token "
    "document frequencies joined back (shuffle join on token — the df "
    "table is corpus-sized vocabulary, never broadcast), scalar N via "
    "a one-row broadcast crossJoin.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).filter(F.length("token") > 0)
    tok = tok.persist()
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    out = (
        tf.filter(F.col("doc_id") < 20)
        .join(df.hint("shuffle_hash"), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
        .orderBy("doc_id", F.desc("tfidf"), F.asc("token"))
        .limit(100)
    )
    return out


@register(
    "repetition_stats_panel",
    oracle=r"""
WITH d AS (
  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), tok AS (
  SELECT doc_id, lang, u.t AS token FROM d, UNNEST(toks) AS u(t) WHERE length(u.t) > 0
), per_tok AS (
  SELECT doc_id, lang, token, COUNT(*) AS c FROM tok GROUP BY doc_id, lang, token
), per_doc AS (
  SELECT doc_id, lang, SUM(c) AS n_tok, MAX(c) AS top_c, COUNT(*) AS n_distinct
  FROM per_tok GROUP BY doc_id, lang
), bg AS (
  SELECT doc_id,
         greatest(len(toks) - 1, 0) AS n_bg,
         CASE WHEN len(toks) < 2 THEN 0 ELSE len(list_distinct(list_transform(
           generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1]))) END AS n_bg_d
  FROM d
)
SELECT p.lang, COUNT(*) AS docs,
  ROUND(AVG(top_c / CAST(n_tok AS DOUBLE)), 6) AS avg_top_token_frac,
  ROUND(AVG(n_distinct / CAST(n_tok AS DOUBLE)), 6) AS avg_distinct_ratio,
  ROUND(AVG(CASE WHEN n_bg > 0 THEN 1.0 - n_bg_d / CAST(n_bg AS DOUBLE) ELSE 0.0 END), 6)
    AS avg_dup_bigram_frac
FROM per_doc p JOIN bg USING (doc_id)
GROUP BY p.lang ORDER BY p.lang
""",
    doc="Gopher-style repetition filters for training-data quality: "
    "per-doc top-token fraction, distinct-token ratio, and duplicate-"
    "bigram fraction, averaged per language. Token counts come from one "
    "explode + two-level hash aggregate; bigram duplication is a pure "
    "array expression (size vs array_distinct size) — no UDF, no extra "
    "shuffle beyond the token groupBy. The classic repeated-content "
    "signal used to drop low-quality docs at corpus scale.",
)
def repetition_stats_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).filter(F.length("token") > 0)
    per_tok = tok.groupBy("doc_id", "lang", "token").agg(F.count("*").alias("c"))
    per_doc = per_tok.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("n_tok"),
        F.max("c").alias("top_c"),
        F.count("*").alias("n_distinct"),
    )
    bigrams = TX.word_ngrams(F.col("text"), 2)
    bg = d.select(
        "doc_id",
        F.size(bigrams).alias("n_bg"),
        F.size(F.array_distinct(bigrams)).alias("n_bg_d"),
    )
    return (
        per_doc.join(bg, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg(F.col("top_c") / F.col("n_tok")), 6).alias("avg_top_token_frac"),
            F.round(F.avg(F.col("n_distinct") / F.col("n_tok")), 6).alias("avg_distinct_ratio"),
            F.round(
                F.avg(
                    F.when(
                        F.col("n_bg") > 0, 1.0 - F.col("n_bg_d") / F.col("n_bg")
                    ).otherwise(0.0)
                ),
                6,
            ).alias("avg_dup_bigram_frac"),
        )
        .orderBy("lang")
    )


@register(
    "boilerplate_ngram_coverage",
    oracle=r"""
WITH d AS (
  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), g5 AS (
  SELECT doc_id, lang,
         CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
              ELSE list_distinct(list_transform(generate_series(1, len(toks) - 4),
                     i -> array_to_string(toks[i:i+4], ' '))) END AS ngs
  FROM d
), grams AS (
  SELECT doc_id, lang, u.g AS g FROM g5, UNNEST(ngs) AS u(g)
), dfc AS (
  SELECT g, COUNT(DISTINCT doc_id) AS gdf FROM grams GROUP BY g
), per_doc AS (
  SELECT doc_id, lang, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN gdf >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
  FROM grams JOIN dfc USING (g) GROUP BY doc_id, lang
)
SELECT lang, COUNT(*) AS docs,
  ROUND(AVG(n_common / CAST(n_grams AS DOUBLE)), 6) AS avg_boilerplate_frac,
  CAST(SUM(CASE WHEN n_common / CAST(n_grams AS DOUBLE) > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_majority_boilerplate
FROM per_doc GROUP BY lang ORDER BY lang
""",
    doc="Cross-document boilerplate detection (CCNet-style, at word-5-"
    "gram granularity since the corpus has no line structure): a 5-gram "
    "seen in >= 5 distinct docs is boilerplate; per-doc boilerplate "
    "fraction over its distinct 5-grams, summarized per language. The "
    "document-frequency table is vocabulary-sized so it is shuffle-"
    "joined back on the gram key, never broadcast — two linear shuffles "
    "total, the shape that survives 100 TB.",
)
def boilerplate_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    grams = d.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(TX.word_ngrams(F.col("text"), 5))).alias("g"),
    )
    # r14 (guide §2.4): the gram document-frequency used to be a
    # groupBy(g) aggregate shuffle-joined back onto grams — but the two
    # gram subtrees could not share their exchange (partial agg below
    # one of them), so the tokenize+5-gram+explode chain computed TWICE
    # and the plan carried 11 jobs. Because grams is per-doc DISTINCT
    # by construction, COUNT(*) OVER (PARTITION BY g) IS the document
    # frequency — one linear shuffle on g, no join, one gram pass.
    # Measured 11 jobs/1.63 s -> 8 jobs/0.98 s warm (6.4 -> 1.8 cold),
    # rows identical; still never broadcasts a vocabulary-sized table.
    wg = Window.partitionBy("g")
    per_doc = (
        grams.withColumn("gdf", F.count("*").over(wg))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("gdf") >= 5, 1).otherwise(0)).alias("n_common"),
        )
    )
    frac = F.col("n_common") / F.col("n_grams")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg(frac), 6).alias("avg_boilerplate_frac"),
            F.sum(F.when(frac > 0.5, 1).otherwise(0)).alias("docs_majority_boilerplate"),
        )
        .orderBy("lang")
    )


@register(
    "hash_split_train_val_test",
    oracle="""
WITH assigned AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
  FROM documents
), labeled AS (
  SELECT doc_id, lang,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM assigned
)
SELECT lang, split, COUNT(*) AS n_docs
FROM labeled GROUP BY lang, split ORDER BY lang, split
""",
    doc="Deterministic 80/10/10 train/val/test split by md5(doc_id) "
    "bucket - the standard corpus-split mechanism that stays stable "
    "across reruns, engines, and partitionings (unlike rand()-based "
    "sampling). Pure projection + hash aggregate: no shuffle beyond "
    "the count, no RNG state, reassignment-free under data growth.",
)
def hash_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "split")
    )


@register(
    "stratified_hash_downsample",
    oracle="""
WITH counts AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
), target AS (
  SELECT MIN(n) AS floor_n FROM counts
), ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT r.lang, COUNT(*) AS n_kept, CAST(MAX(t.floor_n) AS BIGINT) AS target_n
FROM ranked r CROSS JOIN target t
WHERE r.rk <= t.floor_n
GROUP BY r.lang ORDER BY r.lang
""",
    doc="Class rebalancing for training mixes: downsample every "
    "language to the smallest class's count, choosing survivors by "
    "md5(doc_id) rank - deterministic, uniform-at-random in the hash, "
    "stable under reruns. The rank window partitions by class (never "
    "global), and the scalar floor broadcasts; at 100 TB this is one "
    "shuffle on the class key.",
)
def stratified_hash_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir)
    floor_n = d.groupBy("lang").agg(F.count("*").alias("n")).agg(
        F.min("n").alias("floor_n")
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.select("doc_id", "lang").withColumn("rk", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(floor_n))
        .filter(F.col("rk") <= F.col("floor_n"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.max("floor_n").cast("long").alias("target_n"),
        )
        .orderBy("lang")
    )


@register(
    "udf_token_count_parity",
    oracle=r"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
         FILTER (WHERE length(trim(text)) > 0) AS BIGINT) AS vec_tokens
FROM documents
GROUP BY lang
""",
    doc="SURVEY §2.12(b) surface proof: the Arrow-vectorized pandas UDF "
    "`token_count_vec` (plugins.register_vectorized_functions) summed "
    "per language must reproduce the whitespace token count exactly — "
    "integer outputs, so the parity is hash-exact. The row-at-a-time "
    "`token_count_py` and the JVM column expression compute the same "
    "thing; this query pins the FAST path (one Python call per Arrow "
    "batch) into the driver-checked catalog.",
)
def udf_token_count_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plugins import register_vectorized_functions

    register_vectorized_functions(spark)
    d = _docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.expr("token_count_vec(text)").cast("long")).alias("vec_tokens"),
    )


@register(
    "doc_lm_perplexity",
    oracle=r"""
WITH d AS (
  SELECT doc_id, lang,
         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
  FROM documents
), dd AS (
  SELECT * FROM d WHERE length(t) >= 3
), tri AS (
  SELECT doc_id, u.tri
  FROM (SELECT doc_id,
               list_transform(generate_series(1, length(t) - 2),
                              i -> substr(t, i, 3)) AS tris
        FROM dd),
       UNNEST(tris) AS u(tri)
), m3 AS (
  SELECT tri, COUNT(*) AS c3 FROM tri GROUP BY tri
), m2 AS (
  SELECT substr(tri, 1, 2) AS ctx, SUM(c3) AS c2 FROM m3 GROUP BY ctx
), v AS (
  SELECT COUNT(DISTINCT substr(tri, 3, 1)) AS vs FROM m3
), score AS (
  SELECT tr.doc_id,
         COUNT(*) AS n_tri,
         AVG(ln((m3.c3 + 1.0) / (m2.c2 + v.vs))) AS avg_lp
  FROM tri tr
  JOIN m3 USING (tri)
  JOIN m2 ON substr(tr.tri, 1, 2) = m2.ctx
  CROSS JOIN v
  GROUP BY tr.doc_id
)
SELECT s.doc_id, dd.lang,
       CAST(s.n_tri AS BIGINT) AS n_trigrams,
       ROUND(exp(-s.avg_lp), 6) AS ppl
FROM score s JOIN dd ON s.doc_id = dd.doc_id
ORDER BY s.doc_id
""",
    doc="CCNet-style LM quality scoring: a char-trigram language model "
    "with add-one smoothing trains on the corpus itself (counts = two "
    "hash aggregates), then every document scores its own perplexity "
    "exp(-mean ln P(c|ab)) — the classic curation signal that flags "
    "boilerplate/garbage text a length/punct heuristic misses. "
    "Spark-first scale shape: the model is BOUNDED by charset size "
    "(<= |alphabet|^3 trigram rows regardless of corpus bytes), so "
    "both model joins broadcast and the per-doc pass is one explode + "
    "hash agg — no shuffle grows with corpus size except the doc-id "
    "agg. Fully SQL-oracled (same normalization, same smoothing "
    "arithmetic in DuckDB).",
)
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir).select(
        "doc_id", "lang",
        F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")).alias("t"),
    ).filter(F.length("t") >= 3)
    tri = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("t") - 2),
                lambda i: F.col("t").substr(i, F.lit(3)),
            )
        ).alias("tri"),
    )
    m3 = tri.groupBy("tri").agg(F.count("*").alias("c3"))
    m2 = m3.groupBy(F.substring("tri", 1, 2).alias("ctx")).agg(
        F.sum("c3").alias("c2")
    )
    vs = m3.select(F.countDistinct(F.substring("tri", 3, 1)).alias("vs"))
    score = (
        tri.join(F.broadcast(m3), "tri")
        .withColumn("ctx", F.substring("tri", 1, 2))
        .join(F.broadcast(m2), "ctx")
        .crossJoin(F.broadcast(vs))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tri"),
            F.avg(
                F.log((F.col("c3") + F.lit(1.0)) / (F.col("c2") + F.col("vs")))
            ).alias("avg_lp"),
        )
    )
    return (
        score.join(d.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id", "lang",
            F.col("n_tri").cast("long").alias("n_trigrams"),
            F.round(F.exp(-F.col("avg_lp")), 6).alias("ppl"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_simhash_pairs",
    oracle=r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), tok AS (
  SELECT doc_id, ('0x' || substr(md5(u.t), 1, 15))::BIGINT AS h
  FROM t, UNNEST(toks) AS u(t)
), bit_votes AS (
  SELECT doc_id, b.b AS bit,
         CASE WHEN SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS v
  FROM tok CROSS JOIN (SELECT UNNEST(generate_series(0, 59)) AS b) b
  GROUP BY doc_id, b.b
), sh AS (
  SELECT doc_id, CAST(SUM(v * (1::BIGINT << (59 - bit))) AS BIGINT) AS simhash
  FROM bit_votes GROUP BY doc_id
), blocks AS (
  SELECT doc_id, simhash, blk.i AS blk,
         (simhash >> (15 * blk.i)) & 32767 AS val
  FROM sh CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS i) blk
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.val = b.val
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(CAST(xor(sa, sb) AS BIGINT)) AS INT) AS hamming
FROM cand
WHERE bit_count(CAST(xor(sa, sb) AS BIGINT)) <= 3
ORDER BY id_a, id_b
""",
    doc="SimHash near-duplicate PAIRS via the Manku/WWW'07 pigeonhole "
    "scheme over a 60-BIT signature: any two signatures within Hamming "
    "distance 3 must agree exactly on at least one of four 15-bit "
    "blocks, so candidates come from a plain equi-join on (block_idx, "
    "block_value) — never an all-pairs scan — and the exact Hamming "
    "check (bit_count of xor) runs only on collisions. Random-signature "
    "collisions are ~4n²/2¹⁵ per block table (the block width is the "
    "selectivity dial: production 64-bit simhash with wider blocks "
    "pushes this arbitrarily low; the 8-bit-block strawman would be "
    "n²/64 — quadratic with a constant, a scale-killer). Exact "
    "verification ∝ candidates. Fully SQL-oracled: identical 60-bit "
    "signatures (15-hex md5 prefixes stay positive BIGINTs in both "
    "engines), blocks, and bit_count arithmetic in DuckDB.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = simhash60_signatures(spark, sf_dir)
    blocks = sh.select(
        "doc_id", "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), 15 * i)
                        .bitwiseAND(F.lit(32767))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.blk").alias("blk"), F.col("bv.val").alias("val"))
    a = blocks.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"), "blk", "val"
    )
    b = blocks.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"), "blk", "val"
    )
    cand = (
        a.join(b.hint("shuffle_hash"), ["blk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------------ decontamination --

_DECON_N = 3  # word-n-gram order. Production pipelines use 8-13 grams
# (GPT-3 used 13-gram overlap; PaLM 8-gram); this synthetic token soup
# has no natural collisions beyond trigrams, so the catalog config uses
# n=3 to exercise the identical plan with a non-trivial hit rate. The
# pseudo-benchmark set is doc_id % 97 == 0 — deterministic in the input,
# so Spark and DuckDB derive the same contamination verdicts.


def _decon_gram_frames(spark: SparkSession, sf_dir: str, n: int = _DECON_N):
    """(corpus doc-distinct n-gram frame, benchmark gram set).

    Scale shape: the benchmark suite is FIXED-SIZE (a few thousand eval
    documents) regardless of corpus scale, so its distinct-gram set is
    the textbook broadcast side — the 100 TB corpus grams stream past it
    map-side with no shuffle of the exploded corpus. Grams are
    doc-distinct before the join (set-overlap semantics + smaller
    explode output).
    """
    toks = (
        _docs_wide(spark, sf_dir)
        .select("doc_id", "lang", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= n)
    )
    # array_distinct BEFORE the explode: per-doc set semantics with no
    # shuffle — a plain .distinct() after exploding would shuffle the
    # full corpus-gram stream (the widest frame in the plan)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - n),
                    lambda i: F.concat_ws(" ", F.slice("t", i + F.lit(1), n)),
                )
            )
        ).alias("g"),
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    return grams, bench


_DECON_GRAMS_CTE = f"""toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t
  FROM documents WHERE len(string_split(text, ' ')) >= {_DECON_N}
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{_DECON_N - 1}], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - {_DECON_N - 2})) AS u(i)
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
)"""


@register(
    "decontamination_ngram_overlap",
    oracle=f"""
WITH {_DECON_GRAMS_CTE}
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap_grams
FROM grams g JOIN bench b USING (g)
WHERE g.doc_id % 97 != 0
GROUP BY g.doc_id ORDER BY g.doc_id
""",
    doc="Benchmark decontamination detector — the train/eval leakage "
    "check every LLM data pipeline runs before training (13-gram "
    "overlap in GPT-3's appendix; 8-gram in PaLM): corpus docs sharing "
    "any word n-gram with the benchmark set, with the overlapping-gram "
    "count per contaminated doc. The benchmark gram set is broadcast "
    "(fixed-size regardless of corpus scale); corpus grams are "
    "doc-distinct before the join so the explode output carries set "
    "semantics. Fully SQL-oracled.",
)
def decontamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams, bench = _decon_gram_frames(spark, sf_dir)
    return (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("overlap_grams"))
        .orderBy("doc_id")
    )


@register(
    "decontamination_retention_by_lang",
    oracle=f"""
WITH {_DECON_GRAMS_CTE}
, contaminated AS (
  SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (g)
  WHERE g.doc_id % 97 != 0
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_benchmark,
       CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       CAST(SUM(CASE WHEN d.doc_id % 97 != 0 AND c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       ROUND(SUM(CASE WHEN d.doc_id % 97 != 0 AND c.doc_id IS NULL THEN 1 ELSE 0 END)
             / CAST(SUM(CASE WHEN d.doc_id % 97 != 0 THEN 1 ELSE 0 END) AS DOUBLE), 6) AS retention
FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
GROUP BY d.lang ORDER BY d.lang
""",
    doc="Decontamination ACTION stage: drop contaminated docs and report "
    "per-language retention — benchmark members excluded from the "
    "denominator so `retention` is the fraction of actual training "
    "candidates that survive. Same broadcast-bench gram join as the "
    "detector; the contaminated set is doc-ids only (tiny) so the "
    "reporting join is a broadcast left-anti in practice.",
)
def decontamination_retention_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams, bench = _decon_gram_frames(spark, sf_dir)
    contaminated = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
    )
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    is_bench = (F.col("doc_id") % 97 == 0).cast("long")
    is_cand = (F.col("doc_id") % 97 != 0).cast("long")
    flagged = docs.join(
        F.broadcast(contaminated.withColumn("_c", F.lit(1))), "doc_id", "left"
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(is_bench).alias("n_benchmark"),
            F.sum(F.coalesce(F.col("_c"), F.lit(0))).alias("n_contaminated"),
            F.sum(is_cand * (1 - F.coalesce(F.col("_c"), F.lit(0)))).alias("n_retained"),
            F.round(
                F.sum(is_cand * (1 - F.coalesce(F.col("_c"), F.lit(0))))
                / F.sum(is_cand).cast("double"),
                6,
            ).alias("retention"),
        )
        .orderBy("lang")
    )


# ----------------------------------------------- training-mix assembly --


@register(
    "training_mix_resample",
    oracle="""
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), weights AS (
  SELECT source, n,
         SQRT(CAST(n AS DOUBLE)) / SUM(SQRT(CAST(n AS DOUBLE))) OVER () AS w
  FROM counts
), targets AS (
  SELECT source, n, w,
         LEAST(CAST(FLOOR(1000.0 * w) AS BIGINT), n) AS target_n
  FROM weights
), ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT t.source, t.n AS n_docs, ROUND(t.w, 6) AS weight, t.target_n,
       COUNT(r.doc_id) AS n_sampled
FROM targets t LEFT JOIN ranked r
  ON r.source = t.source AND r.rk <= t.target_n
GROUP BY t.source, t.n, t.w, t.target_n
ORDER BY t.source
""",
    doc="Temperature-weighted training-mixture resampling — the "
    "source-mixing step of every LLM pretraining corpus (Pile/LLaMA "
    "style): per-source weight ∝ n^α with α=0.5 (upweights small "
    "sources, tempers dominant ones), a 1000-doc budget allocated by "
    "FLOOR(K·w) capped at the source size (no replacement), survivors "
    "chosen by md5(doc_id) rank — deterministic across engines, "
    "reruns, and partitionings. Scale shape: one count agg, a scalar "
    "weight table (broadcast-sized: one row per source), one per-source "
    "rank window — a single shuffle on the source key at any corpus "
    "size. FLOOR not ROUND for the budget: both engines compute the "
    "identical double so floor is stable, while round half-up/half-even "
    "conventions differ.",
)
def training_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir).select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count("*").alias("n"))
    wall = Window.partitionBy()
    weights = counts.withColumn(
        "w",
        F.sqrt(F.col("n").cast("double"))
        / F.sum(F.sqrt(F.col("n").cast("double"))).over(wall),
    )
    targets = weights.withColumn(
        "target_n",
        F.least(F.floor(F.lit(1000.0) * F.col("w")).cast("long"), F.col("n")),
    )
    wrk = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.withColumn("rk", F.row_number().over(wrk))
    # rename the broadcast side to break the self-join lineage ambiguity
    tgt = targets.select(
        F.col("source").alias("_src"), "n", "w", "target_n"
    )
    joined = ranked.join(
        F.broadcast(tgt),
        (F.col("source") == F.col("_src")) & (F.col("rk") <= F.col("target_n")),
        "right",
    )
    return (
        joined.groupBy("_src", "n", "w", "target_n")
        .agg(F.count("doc_id").alias("n_sampled"))
        .select(
            F.col("_src").alias("source"),
            F.col("n").alias("n_docs"),
            F.round("w", 6).alias("weight"),
            "target_n",
            "n_sampled",
        )
        .orderBy("source")
    )


@register(
    "sequence_packing_bins",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents
), packed AS (
  SELECT lang, n_tokens,
         CAST(FLOOR(CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE)
                    / 256.0) AS BIGINT) AS bin
  FROM toks
)
SELECT lang, COALESCE(bin, 0) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(SUM(n_tokens) / 256.0, 6) AS fill_ratio
FROM packed GROUP BY lang, COALESCE(bin, 0) ORDER BY lang, bin
""",
    doc="Sequence packing for pretraining batches — concat-and-chunk "
    "shard assignment (the GPT-style packer: documents concatenate in "
    "deterministic doc_id order per language shard and a doc belongs "
    "to the 256-token window its first token lands in). Emits per-bin "
    "doc counts, token sums, and fill ratio — the packing-efficiency "
    "metric batch-assembly jobs monitor. Scale shape: one running-sum "
    "window PARTITIONED BY the shard key (never global) + one hash "
    "agg; a 100 TB corpus packs with a single shuffle on (lang).",
)
def sequence_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 (guide §2.4): _docs, not _docs_wide — the round-robin spread
    # fed straight into the (lang)-keyed running-sum window, so its
    # exchange was pure overhead (the window re-shuffles anyway and the
    # per-row token count is trivial). One exchange fewer; at 100 TB the
    # scan splits natively and the (lang) shuffle is the only movement.
    # Measured 5 jobs/0.45 s -> 4 jobs/0.39 s warm, rows identical.
    d = _docs(spark, sf_dir)
    n_tokens = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    toks = d.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.withColumn(
        "bin",
        F.coalesce(
            F.floor(F.sum("n_tokens").over(w).cast("double") / 256.0).cast("long"),
            F.lit(0),
        ),
    )
    return (
        packed.groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(F.sum("n_tokens") / 256.0, 6).alias("fill_ratio"),
        )
        .orderBy("lang", "bin")
    )


# ------------------------------------------------- incremental ingestion --


@register(
    "incremental_ingest_dedup",
    oracle=r"""
WITH fp AS (
  SELECT doc_id, lang,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM documents
), existing AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id < 400
), incoming AS (
  SELECT doc_id, lang, fp,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
  FROM fp WHERE doc_id >= 400
)
SELECT i.lang,
       CAST(COUNT(*) AS BIGINT) AS n_incoming,
       CAST(SUM(CASE WHEN e.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_vs_corpus_dupes,
       CAST(SUM(CASE WHEN e.fp IS NULL AND i.rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within_batch_dupes,
       CAST(SUM(CASE WHEN e.fp IS NULL AND i.rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_admitted
FROM incoming i LEFT JOIN existing e ON i.fp = e.fp
GROUP BY i.lang ORDER BY i.lang
""",
    doc="Incremental-ingestion dedup — the daily-crawl shape of corpus "
    "maintenance: an incoming batch (doc_id >= 400 stands in for the "
    "new crawl) dedupes FIRST against the existing corpus fingerprint "
    "store (left join on normalized-md5), then within itself "
    "(keep-first by fingerprint rank), and the funnel reports "
    "per-language admitted / vs-corpus-dupe / within-batch-dupe "
    "counts. Scale shape: at 100 TB the fingerprint store is a "
    "sorted/bucketed table keyed by fp, so the anti-join is a "
    "shuffle-on-fp hash join (or shuffle-free if both sides bucket by "
    "fp) touching only the fp column — never the text; the "
    "within-batch rank windows on fp, the same key, so one exchange "
    "serves both stages.",
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = _docs_wide(spark, sf_dir).select(
        "doc_id", "lang", TX.fingerprint(F.col("text")).alias("fp")
    )
    existing = fp.filter(F.col("doc_id") < 400).select("fp").distinct()
    wfp = Window.partitionBy("fp").orderBy("doc_id")
    incoming = fp.filter(F.col("doc_id") >= 400).withColumn(
        "rk", F.row_number().over(wfp)
    )
    joined = incoming.join(
        existing.withColumn("_seen", F.lit(True)), "fp", "left"
    )
    seen = F.col("_seen").isNotNull()
    return (
        joined.groupBy("lang")
        .agg(
            F.count("*").alias("n_incoming"),
            F.sum(seen.cast("long")).alias("n_vs_corpus_dupes"),
            F.sum((~seen & (F.col("rk") > 1)).cast("long")).alias(
                "n_within_batch_dupes"
            ),
            F.sum((~seen & (F.col("rk") == 1)).cast("long")).alias("n_admitted"),
        )
        .orderBy("lang")
    )


@register(
    "doc_chunking_windows",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t
  FROM documents WHERE len(string_split(text, ' ')) >= 1
), chunks AS (
  SELECT doc_id, lang,
         CAST(u.i AS BIGINT) AS chunk_id,
         array_to_string(t[u.i * 24 + 1 : u.i * 24 + 32], ' ') AS chunk_text,
         LEAST(len(t) - u.i * 24, 32) AS n_tokens
  FROM toks,
       UNNEST(range(0, GREATEST(CAST(FLOOR((len(t) - 9) / 24.0) AS BIGINT), 0) + 1)) AS u(i)
)
SELECT doc_id, chunk_id, n_tokens,
       md5(chunk_text) AS chunk_fp
FROM chunks
WHERE doc_id < 50
ORDER BY doc_id, chunk_id
""",
    doc="Document chunking for embedding/RAG prep: fixed 32-token "
    "windows with a 24-token stride (8-token overlap) per document — "
    "the standard pre-embedding splitter. Chunks materialize as "
    "(doc_id, chunk_id, token_count, md5 fingerprint); the text "
    "itself stays an array slice + concat inside the row (no "
    "shuffle — chunking is embarrassingly parallel over docs, an "
    "explode of per-row sequences). Output limited to the first 50 "
    "docs for the gate; the plan is identical at any corpus size. "
    "Chunk count per doc is ceil((n-32)/24)+1 (always >= 1), matching "
    "the window/stride recurrence both engines compute in integer "
    "arithmetic.",
)
def doc_chunking_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir).select(
        "doc_id", "lang", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 1)
    size, stride = 32, 24
    n_chunks = F.greatest(
        F.floor((F.size("t") - size + (stride - 1)) / stride).cast("long"),
        F.lit(0),
    ) + 1
    chunks = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.struct(
                    i.cast("long").alias("chunk_id"),
                    F.concat_ws(
                        " ", F.slice("t", i * stride + 1, size)
                    ).alias("chunk_text"),
                    F.least(
                        F.size("t") - i * stride, F.lit(size)
                    ).alias("n_tokens"),
                ),
            )
        ).alias("c"),
    )
    return (
        chunks.select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.n_tokens").alias("n_tokens"),
            F.md5(F.col("c.chunk_text")).alias("chunk_fp"),
        )
        .filter(F.col("doc_id") < 50)
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "gopher_quality_rules",
    oracle=r"""
WITH d AS (
  SELECT lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), m AS (
  SELECT lang,
         len(toks) AS wc,
         list_sum(list_transform(toks, t -> len(t))) / CAST(len(toks) AS DOUBLE) AS mwl,
         len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS distinct_ratio
  FROM d
), r AS (
  SELECT lang,
         CASE WHEN wc BETWEEN 30 AND 90 THEN 1 ELSE 0 END AS pass_wc,
         CASE WHEN mwl >= 4.2 AND mwl <= 5.0 THEN 1 ELSE 0 END AS pass_mwl,
         CASE WHEN distinct_ratio >= 0.4 THEN 1 ELSE 0 END AS pass_distinct
  FROM m
)
SELECT lang, COUNT(*) AS docs,
       CAST(SUM(pass_wc) AS BIGINT) AS pass_word_count,
       CAST(SUM(pass_mwl) AS BIGINT) AS pass_mean_word_len,
       CAST(SUM(pass_distinct) AS BIGINT) AS pass_distinct_ratio,
       CAST(SUM(pass_wc * pass_mwl * pass_distinct) AS BIGINT) AS retained,
       ROUND(SUM(pass_wc * pass_mwl * pass_distinct) / CAST(COUNT(*) AS DOUBLE), 6)
         AS retention_frac
FROM r GROUP BY lang ORDER BY lang
""",
    doc="Gopher-style quality-rule funnel (Rae et al. 2021 §A1.1 "
    "adapted to this corpus): word-count window [30,90], mean word "
    "length [4.2,5.0], distinct-token ratio >= 0.4; per-language pass "
    "counts per rule plus all-rules retention. Every metric is a pure "
    "array expression on the scan (size / aggregate / array_distinct) "
    "— no explode, no UDF, single hash-agg shuffle on lang. Mean word "
    "length divides an exact integer token-length sum by the count, so "
    "both engines produce the identical IEEE double and threshold "
    "comparisons can't diverge.",
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    wc = F.size(toks)
    len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
    )
    mwl = len_sum.cast("double") / wc.cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / wc.cast("double")
    r = d.select(
        "lang",
        F.when(wc.between(30, 90), 1).otherwise(0).alias("pass_wc"),
        F.when((mwl >= 4.2) & (mwl <= 5.0), 1).otherwise(0).alias("pass_mwl"),
        F.when(distinct_ratio >= 0.4, 1).otherwise(0).alias("pass_distinct"),
    )
    return (
        r.groupBy("lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("pass_wc").alias("pass_word_count"),
            F.sum("pass_mwl").alias("pass_mean_word_len"),
            F.sum("pass_distinct").alias("pass_distinct_ratio"),
            F.sum(F.col("pass_wc") * F.col("pass_mwl") * F.col("pass_distinct")).alias(
                "retained"
            ),
        )
        .withColumn(
            "retention_frac",
            F.round(F.col("retained").cast("double") / F.col("docs").cast("double"), 6),
        )
        .orderBy("lang")
    )


@register(
    "global_shuffle_shards",
    oracle="""
WITH h AS (
  SELECT doc_id, lang, source, n_chars,
         md5(CAST(doc_id AS VARCHAR)) AS hx,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS shard
  FROM documents
)
SELECT shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT lang) AS n_langs,
       COUNT(DISTINCT source) AS n_sources,
       arg_min(doc_id, hx) AS first_doc_id,
       arg_max(doc_id, hx) AS last_doc_id
FROM h GROUP BY shard ORDER BY shard
""",
    doc="Deterministic global shuffle + shard assignment for training-"
    "data assembly: shard = top-60-bits(md5(doc_id)) mod 16, reading "
    "order within a shard = ascending md5. Deliberately hash-mod, NOT "
    "a global-ORDER-BY NTILE — ntile plans an Exchange SinglePartition "
    "(every row through one task, the #1 scale hazard); hash-sharding "
    "is embarrassingly parallel, statistically balanced, and "
    "reproducible across cluster sizes, which is exactly how large "
    "training runs shard their corpora. first/last_doc_id pin the "
    "intra-shard order so the oracle verifies the read order, not "
    "just membership.",
)
def global_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    shard = F.pmod(F.conv(F.substring(hx, 1, 15), 16, 10).cast("bigint"), F.lit(16))
    return (
        d.select("doc_id", "lang", "source", "n_chars", hx.alias("hx"), shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.countDistinct("source").alias("n_sources"),
            F.min_by("doc_id", "hx").alias("first_doc_id"),
            F.max_by("doc_id", "hx").alias("last_doc_id"),
        )
        .orderBy("shard")
    )


@register(
    "corpus_snapshot_diff",
    oracle="""
WITH a AS (
  SELECT doc_id, lang, md5(text) AS fp FROM documents
), b AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 13 = 0 THEN md5(text || ' [rev2]') ELSE md5(text) END AS fp
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, lang, md5(text || ' [new]') AS fp
  FROM documents WHERE doc_id % 19 = 0
), j AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.lang, b.lang) AS lang,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.fp <> b.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
)
SELECT lang, status, COUNT(*) AS n_docs
FROM j GROUP BY lang, status ORDER BY lang, status
""",
    doc="Corpus snapshot diff — the maintenance op behind incremental "
    "training-set refreshes: compare snapshot A (current documents) "
    "with snapshot B (a deterministically derived next release: every "
    "17th doc dropped, every 13th revised, every 19th spawning a new "
    "doc) by content fingerprint and classify added / removed / "
    "changed / unchanged per language. One FULL OUTER shuffle join on "
    "doc_id with md5 fingerprints computed at the scan — at 100 TB "
    "both snapshots hash-partition on doc_id so the join co-locates, "
    "and fingerprint comparison avoids shipping text. The B-side "
    "derivation doubles as the test harness; real deployments read "
    "two parquet snapshot roots through the same plan.",
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    a = d.select("doc_id", "lang", F.md5("text").alias("fp"))
    b_kept = d.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 13 == 0, F.md5(F.concat(F.col("text"), F.lit(" [rev2]")))
        )
        .otherwise(F.md5("text"))
        .alias("fp"),
    )
    b_new = d.filter(F.col("doc_id") % 19 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "lang",
        F.md5(F.concat(F.col("text"), F.lit(" [new]"))).alias("fp"),
    )
    b = b_kept.unionByName(b_new)
    j = a.alias("a").join(b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
    status = (
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.fp") != F.col("b.fp"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("a.lang"), F.col("b.lang")).alias("lang"),
            status.alias("status"),
        )
        .groupBy("lang", "status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "status")
    )


def _bpe_word_freq(spark: SparkSession, sf_dir: str, cap: int = 65536) -> dict[str, int]:
    """Corpus word-frequency table: ONE hash aggregate (map-side
    combined), capped to the ``cap`` most frequent words (count desc,
    word asc) before the driver collect — the bounded-collect idiom
    shared with the PQ codebook trainer."""
    tok = (
        _docs_wide(spark, sf_dir)
        .select(F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(cap)
    )
    return {r.w: r.c for r in tok.collect()}


_BPE_MERGES_MEMO: dict = {}


def _bpe_merges(spark: SparkSession, sf_dir: str, n_merges: int = 40,
                cap: int = 65536) -> list:
    """Session-memoized BPE merge table. Training is a pure function of
    the corpus (deterministic count-desc/pair-asc tie-breaking, no RNG
    — the contract the pinned oracles rely on), so bpe_train_merges and
    bpe_tokenize_stats share one word-frequency pass + merge loop per
    session instead of re-deriving it each."""
    from ..functions import memo
    from ..functions.bpe import train_bpe

    return memo.app_scoped_memo(
        _BPE_MERGES_MEMO, spark, (sf_dir, n_merges, cap),
        lambda: train_bpe(_bpe_word_freq(spark, sf_dir, cap), n_merges=n_merges),
    )


# Pinned-value oracles (r9): BPE training/tokenization are not
# SQL-expressible, but their outputs ARE pure functions of the sf0.01
# corpus (deterministic count-desc/pair-asc tie-breaking, no RNG), so
# the gate can value-check them against literals captured once via
# tools/pin_oracles.py. Valid at the driver's sf0.01 gate only — an
# independent pure-python trainer cross-checks the same table in
# tests/test_dedup.py, so a corpus change surfaces as a test diff too.
_PIN_BPE_MERGES = """SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), 'e', 'r', CAST(4568 AS BIGINT)),
  (CAST(1 AS BIGINT), 'e', '</w>', CAST(4473 AS BIGINT)),
  (CAST(2 AS BIGINT), 'n', '</w>', CAST(2834 AS BIGINT)),
  (CAST(3 AS BIGINT), 'er', '</w>', CAST(2779 AS BIGINT)),
  (CAST(4 AS BIGINT), 'o', 'w', CAST(2747 AS BIGINT)),
  (CAST(5 AS BIGINT), 'ow', '</w>', CAST(2747 AS BIGINT)),
  (CAST(6 AS BIGINT), 'o', 'r', CAST(2696 AS BIGINT)),
  (CAST(7 AS BIGINT), 's', 't', CAST(2676 AS BIGINT)),
  (CAST(8 AS BIGINT), 'h', '</w>', CAST(1884 AS BIGINT)),
  (CAST(9 AS BIGINT), 'a', 't', CAST(1845 AS BIGINT)),
  (CAST(10 AS BIGINT), 'l', 'u', CAST(1831 AS BIGINT)),
  (CAST(11 AS BIGINT), 'i', 'n', CAST(1796 AS BIGINT)),
  (CAST(12 AS BIGINT), 'a', '</w>', CAST(1788 AS BIGINT)),
  (CAST(13 AS BIGINT), 'g', '</w>', CAST(1777 AS BIGINT)),
  (CAST(14 AS BIGINT), 'y', '</w>', CAST(1767 AS BIGINT)),
  (CAST(15 AS BIGINT), 'a', 'r', CAST(1758 AS BIGINT)),
  (CAST(16 AS BIGINT), 'p', 'ar', CAST(1758 AS BIGINT)),
  (CAST(17 AS BIGINT), 't', '</w>', CAST(1750 AS BIGINT)),
  (CAST(18 AS BIGINT), 'i', 'n</w>', CAST(964 AS BIGINT)),
  (CAST(19 AS BIGINT), 'j', 'o', CAST(964 AS BIGINT)),
  (CAST(20 AS BIGINT), 'jo', 'in</w>', CAST(964 AS BIGINT)),
  (CAST(21 AS BIGINT), 'a', 's', CAST(947 AS BIGINT)),
  (CAST(22 AS BIGINT), 'as', 'h</w>', CAST(947 AS BIGINT)),
  (CAST(23 AS BIGINT), 'h', 'ash</w>', CAST(947 AS BIGINT)),
  (CAST(24 AS BIGINT), 'r', 'ow</w>', CAST(943 AS BIGINT)),
  (CAST(25 AS BIGINT), 'at', 'c', CAST(937 AS BIGINT)),
  (CAST(26 AS BIGINT), 'atc', 'h</w>', CAST(937 AS BIGINT)),
  (CAST(27 AS BIGINT), 'b', 'atch</w>', CAST(937 AS BIGINT)),
  (CAST(28 AS BIGINT), 'a', 'n</w>', CAST(936 AS BIGINT)),
  (CAST(29 AS BIGINT), 'c', 'an</w>', CAST(936 AS BIGINT)),
  (CAST(30 AS BIGINT), 's', 'can</w>', CAST(936 AS BIGINT)),
  (CAST(31 AS BIGINT), 'c', 'o', CAST(934 AS BIGINT)),
  (CAST(32 AS BIGINT), 'c', 'u', CAST(934 AS BIGINT)),
  (CAST(33 AS BIGINT), 'co', 'lu', CAST(934 AS BIGINT)),
  (CAST(34 AS BIGINT), 'colu', 'm', CAST(934 AS BIGINT)),
  (CAST(35 AS BIGINT), 'colum', 'n</w>', CAST(934 AS BIGINT)),
  (CAST(36 AS BIGINT), 'cu', 'st', CAST(934 AS BIGINT)),
  (CAST(37 AS BIGINT), 'cust', 'o', CAST(934 AS BIGINT)),
  (CAST(38 AS BIGINT), 'custo', 'm', CAST(934 AS BIGINT)),
  (CAST(39 AS BIGINT), 'custom', 'er</w>', CAST(934 AS BIGINT))
) AS t(merge_step, "left", "right", pair_count)"""

_PIN_BPE_TOKENIZE = """SELECT * FROM (VALUES
  ('de', CAST(3549 AS BIGINT), CAST(16046 AS BIGINT), CAST(10978 AS BIGINT),
   CAST(4.521274 AS DOUBLE), CAST(3.093266 AS DOUBLE), CAST(0.560245 AS DOUBLE)),
  ('en', CAST(11757 AS BIGINT), CAST(52898 AS BIGINT), CAST(37106 AS BIGINT),
   CAST(4.499277 AS DOUBLE), CAST(3.156077 AS DOUBLE), CAST(0.573908 AS DOUBLE)),
  ('es', CAST(3958 AS BIGINT), CAST(17871 AS BIGINT), CAST(12534 AS BIGINT),
   CAST(4.515159 AS DOUBLE), CAST(3.166751 AS DOUBLE), CAST(0.57419 AS DOUBLE)),
  ('fr', CAST(3758 AS BIGINT), CAST(16929 AS BIGINT), CAST(11788 AS BIGINT),
   CAST(4.50479 AS DOUBLE), CAST(3.136775 AS DOUBLE), CAST(0.569826 AS DOUBLE)),
  ('zh', CAST(4143 AS BIGINT), CAST(18765 AS BIGINT), CAST(13093 AS BIGINT),
   CAST(4.529327 AS DOUBLE), CAST(3.16027 AS DOUBLE), CAST(0.571547 AS DOUBLE))
) AS t(lang, total_words, total_chars, total_bpe_tokens, chars_per_word,
       tokens_per_word, compression_vs_chars)"""


@register(
    "bpe_train_merges",
    oracle=_PIN_BPE_MERGES,  # pinned values, sf0.01 (see note above)
    pinned_sf="0.01",
    doc="BPE tokenizer training (Sennrich 2016) — the step every LLM "
    "pipeline runs before anything counts 'tokens': word frequencies "
    "via ONE distributed hash aggregate (map-side combined, capped "
    "collect), then 40 merges learned on the compact freq table with "
    "deterministic (count desc, pair asc) tie-breaking "
    "(functions/bpe.py — the same trainer structure HF tokenizers / "
    "SentencePiece use: corpus pass is distributed, the merge loop "
    "runs on word COUNTS, never the raw corpus). Output is the "
    "ordered merge table.",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_merges(spark, sf_dir)
    rows = [(i, a, b, int(c)) for i, (a, b, c) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_step BIGINT, left STRING, right STRING, pair_count BIGINT"
    ).orderBy("merge_step")


@register(
    "bpe_tokenize_stats",
    oracle=_PIN_BPE_TOKENIZE,  # pinned values, sf0.01: the merges are
    # deterministic (see _PIN_BPE_MERGES) and the panel is ratios of
    # exact BIGINT sums, so the whole output is corpus-determined
    pinned_sf="0.01",
    doc="BPE tokenization at corpus scale: the 40 learned merges "
    "broadcast to an Arrow-batched mapInPandas segmenter; per-language "
    "panel of chars/word, BPE tokens/word, and the compression ratio "
    "vs character-level tokenization. The corpus pass is "
    "embarrassingly parallel — rules are a tiny broadcast list, state "
    "per task is O(|rules|).",
)
def bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from ..functions.bpe import apply_bpe

    merges = _bpe_merges(spark, sf_dir)
    sc = spark.sparkContext
    bc = sc.broadcast(merges)

    schema = T.StructType(
        [
            T.StructField("lang", T.StringType()),
            T.StructField("n_words", T.LongType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("n_bpe_tokens", T.LongType()),
        ]
    )

    def segment(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rules = bc.value
        memo: dict[str, int] = {}
        for pdf in batches:
            out = {"lang": [], "n_words": [], "n_chars": [], "n_bpe_tokens": []}
            for lang, text in zip(pdf["lang"], pdf["text"]):
                words = [w for w in str(text).lower().strip().split() if w]
                nc = sum(len(w) for w in words)
                nt = 0
                for w in words:
                    if w not in memo:
                        memo[w] = len(apply_bpe(w, rules))
                    nt += memo[w]
                out["lang"].append(lang)
                out["n_words"].append(len(words))
                out["n_chars"].append(nc)
                out["n_bpe_tokens"].append(nt)
            yield pd.DataFrame(out)

    per_doc = (
        _docs_wide(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select("lang", "text")
        .mapInPandas(segment, schema)
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.sum("n_words").alias("total_words"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        )
        .withColumn(
            "chars_per_word",
            F.round(F.col("total_chars") / F.col("total_words").cast("double"), 6),
        )
        .withColumn(
            "tokens_per_word",
            F.round(F.col("total_bpe_tokens") / F.col("total_words").cast("double"), 6),
        )
        .withColumn(
            "compression_vs_chars",
            F.round(
                F.col("total_bpe_tokens")
                / (F.col("total_chars") + F.col("total_words")).cast("double"),
                6,
            ),
        )
        .orderBy("lang")
    )


@register(
    "zipf_rank_frequency_panel",
    oracle=r"""
WITH tok AS (
  SELECT lang, u.t AS token
  FROM (SELECT lang, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE length(trim(text)) > 0) d,
       UNNEST(toks) AS u(t)
  WHERE length(u.t) > 0
), fr AS (
  SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY lang, token
), rk AS (
  SELECT lang, c,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, token) AS r
  FROM fr
), pts AS (
  SELECT lang, r, c,
         CAST(ROUND(ln(r), 9) AS DECIMAL(18,9)) AS x,
         CAST(ROUND(ln(c), 9) AS DECIMAL(18,9)) AS y,
         CAST(ROUND(ln(r) * ln(r), 9) AS DECIMAL(18,9)) AS xx,
         CAST(ROUND(ln(r) * ln(c), 9) AS DECIMAL(18,9)) AS xy
  FROM rk
)
SELECT lang, COUNT(*) AS n_types,
       ROUND((COUNT(*) * CAST(SUM(xy) AS DOUBLE)
               - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
             / (COUNT(*) * CAST(SUM(xx) AS DOUBLE)
               - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)), 6) AS zipf_slope,
       CAST(MAX(CASE WHEN r = 1 THEN c END) AS BIGINT) AS top_freq
FROM pts GROUP BY lang ORDER BY lang
""",
    doc="Zipf rank-frequency panel per language: token frequencies "
    "ranked (deterministic token tiebreak), then the log-log least-"
    "squares slope from closed-form sums — the corpus-health "
    "diagnostic (natural text tracks slope ~ -1; synthetic or "
    "templated corpora deviate hard, which this corpus does). Every "
    "regression term is rounded then decimal-summed so the per-lang "
    "slope is bit-identical regardless of aggregation order; the "
    "rank window partitions by lang.",
)
def zipf_rank_frequency_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs_wide(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    tok = d.select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).filter(F.length("token") > 0)
    fr = tok.groupBy("lang", "token").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("token"))
    rk = fr.withColumn("r", F.row_number().over(w))
    lnr, lnc = F.log(F.col("r").cast("double")), F.log(F.col("c").cast("double"))
    pts = rk.select(
        "lang",
        "r",
        "c",
        F.round(lnr, 9).cast("decimal(18,9)").alias("x"),
        F.round(lnc, 9).cast("decimal(18,9)").alias("y"),
        F.round(lnr * lnr, 9).cast("decimal(18,9)").alias("xx"),
        F.round(lnr * lnc, 9).cast("decimal(18,9)").alias("xy"),
    )
    n = F.count("*")
    sx, sy = F.sum("x").cast("double"), F.sum("y").cast("double")
    sxx, sxy = F.sum("xx").cast("double"), F.sum("xy").cast("double")
    return (
        pts.groupBy("lang")
        .agg(
            n.alias("n_types"),
            F.round(
                (n * sxy - sx * sy) / (n * sxx - sx * sx), 6
            ).alias("zipf_slope"),
            F.max(F.when(F.col("r") == 1, F.col("c"))).cast("bigint").alias("top_freq"),
        )
        .orderBy("lang")
    )


@register(
    "sql_udtf_chunk_stats",
    oracle=r"""
WITH d AS (
  SELECT lang,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     t -> length(t) > 0) AS toks
  FROM documents
), ch AS (
  SELECT lang, i AS chunk_id,
         array_to_string(list_slice(toks, i * 32 + 1,
                                    LEAST((i + 1) * 32, len(toks))), ' ') AS chunk_text,
         LEAST((i + 1) * 32, len(toks)) - i * 32 AS n_tokens
  FROM d, UNNEST(generate_series(0, CAST(CEIL(len(toks) / 32.0) AS BIGINT) - 1)) AS g(i)
  WHERE len(toks) > 0
)
SELECT lang, COUNT(*) AS n_chunks,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT md5(chunk_text)) AS distinct_chunks
FROM ch GROUP BY lang ORDER BY lang
""",
    doc="Python UDTF surface (Spark 4 @udtf table functions — the "
    "SQL-visible face of §2.12's plugin registry): a 32-token "
    "chunker registered as `sdg_chunk` and invoked with a LATERAL "
    "correlated table-function join in plain SQL, aggregated per "
    "language. The oracle re-derives identical chunk boundaries with "
    "DuckDB list arithmetic, so the UDTF's row expansion is value-"
    "checked, not just counted. Complements the DataFrame-side "
    "doc_chunking_windows with the SQL-extension path a downstream "
    "analyst would actually use.",
)
def sql_udtf_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id INT, n_tokens INT, chunk_fp STRING", useArrow=True)
    class Chunker:
        def eval(self, text: str, n: int):
            import hashlib

            toks = [t for t in (text or "").lower().strip().split() if t]
            for i in range(0, len(toks), n):
                piece = toks[i : i + n]
                yield (
                    i // n,
                    len(piece),
                    hashlib.md5(" ".join(piece).encode()).hexdigest(),
                )

    spark.udtf.register("sdg_chunk", Chunker)
    # r14: _docs_wide, not _docs — the single-row-group documents scan
    # put the WHOLE per-row Python UDTF pass on one task (the
    # documented single-row-group rule); the round-robin spread
    # parallelizes the lateral chunker across cores. Per-row pure
    # function + order-free aggregates, so rows are identical.
    # Measured 3.94 s -> 1.65 s cold, 1.68 -> 1.13 warm at sf0.1.
    _docs_wide(spark, sf_dir).createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.lang, COUNT(*) AS n_chunks,
               CAST(SUM(c.n_tokens) AS BIGINT) AS total_tokens,
               COUNT(DISTINCT c.chunk_fp) AS distinct_chunks
        FROM udtf_docs d, LATERAL sdg_chunk(d.text, 32) c
        GROUP BY d.lang ORDER BY d.lang
        """
    )


SPAN_GRAM_K = 5


def _span_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered (doc_id, pos, tok) token stream: 1-based RAW positions
    (matching DuckDB's generate_series indexing), empties dropped AFTER
    position assignment on both engines."""
    docs = _docs_wide(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
                "pos0", "tok"
            ),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
        .filter(F.col("tok") != "")
    )


def _repeated_spans(tok: DataFrame, k: int = SPAN_GRAM_K) -> DataFrame:
    """Shared span-detection pipeline (dedup_repeated_ngram_spans and
    corpus_span_scrub): per-doc lead windows build k-grams, a
    count-window over the gram column marks corpus-hot positions in
    the SAME pipeline (one corpus pass — the groupBy + join-back
    alternative re-derives the whole tokenize+gram lineage and scans
    twice), gaps-and-islands merges overlapping spans. Returns
    (doc_id, span_start, span_end, n_grams)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram = tok.select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ", F.col("tok"), *[F.lead("tok", i).over(w) for i in range(1, k)]
        ).alias("g"),
        F.lead("tok", k - 1).over(w).alias("tail"),
    ).filter(F.col("tail").isNotNull())
    hit = (
        gram.withColumn("n_occ", F.count("*").over(Window.partitionBy("g")))
        .filter(F.col("n_occ") > 1)
        .select("doc_id", "pos")
    )
    brk = hit.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1)
        .otherwise(0)
        .alias("brk"),
    )
    grp = brk.select(
        "doc_id",
        "pos",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("gid"),
    )
    return grp.groupBy("doc_id", "gid").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (k - 1)).alias("span_end"),
        F.count("*").alias("n_grams"),
    ).select("doc_id", "span_start", "span_end", "n_grams")


@register(
    "dedup_repeated_ngram_spans",
    oracle=r"""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), tok AS (
  SELECT doc_id, s.i AS pos, toks[s.i] AS tok
  FROM arr, UNNEST(generate_series(1, len(toks))) AS s(i)
  WHERE toks[s.i] <> ''
), gram AS (
  SELECT doc_id, pos,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
             || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS g,
         lead(tok, 4) OVER w AS tail
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), full_gram AS (
  SELECT doc_id, pos, g FROM gram WHERE tail IS NOT NULL
), hit AS (
  SELECT doc_id, pos FROM full_gram
  QUALIFY COUNT(*) OVER (PARTITION BY g) > 1
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
              THEN 1 ELSE 0 END AS brk
  FROM hit
), grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS gid
  FROM isl
)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
       COUNT(*) AS n_grams
FROM grp GROUP BY doc_id, gid
""",
    doc="SUBSTRING-level dedup (the missing granularity below the "
    "doc-level exact/MinHash/SimHash/embedding family): find every "
    "maximal token span covered by 5-grams that occur corpus-wide "
    "more than once — the Lee-et-al. 'deduplicating training data' "
    "operation that removes boilerplate/templated spans WITHIN "
    "otherwise-unique documents. Fully relational, REAL SQL oracle "
    "(no pin): posexplode tokens → per-doc window lead builds 5-grams "
    "(no global window) → one count-window over the gram column marks "
    "hit positions in the same pipeline (one corpus pass, no "
    "re-derived join-back lineage) → gaps-and-islands (merge when spans overlap "
    "or touch: gap ≤ gram width) emits maximal spans. At 100 TB every "
    "stage is linear: the gram count agg is the one big shuffle "
    "(map-side combined), the hot-gram set is output-bound, and all "
    "other windows are per-document.",
)
def dedup_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _repeated_spans(_span_tokens(spark, sf_dir))


@register(
    "corpus_span_scrub",
    oracle=r"""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), tok AS (
  SELECT doc_id, s.i AS pos, toks[s.i] AS tok
  FROM arr, UNNEST(generate_series(1, len(toks))) AS s(i)
  WHERE toks[s.i] <> ''
), gram AS (
  SELECT doc_id, pos,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
             || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS g,
         lead(tok, 4) OVER w AS tail
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), full_gram AS (
  SELECT doc_id, pos, g FROM gram WHERE tail IS NOT NULL
), hit AS (
  SELECT doc_id, pos FROM full_gram
  QUALIFY COUNT(*) OVER (PARTITION BY g) > 1
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
              THEN 1 ELSE 0 END AS brk
  FROM hit
), grpd AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS gid
  FROM isl
), span AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end
  FROM grpd GROUP BY doc_id, gid
), span_txt AS (
  SELECT s.doc_id, s.span_start, s.span_end,
         string_agg(t.tok, ' ' ORDER BY t.pos) AS sptext
  FROM span s JOIN tok t
    ON t.doc_id = s.doc_id AND t.pos BETWEEN s.span_start AND s.span_end
  GROUP BY s.doc_id, s.span_start, s.span_end
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY sptext
                               ORDER BY doc_id, span_start) AS rk
  FROM span_txt
), covered AS (
  SELECT doc_id, u.p AS pos
  FROM ranked, UNNEST(generate_series(span_start, span_end)) AS u(p)
  WHERE rk > 1
), kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM tok t
  ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
), pre AS (
  SELECT doc_id, COUNT(*) AS nb FROM tok GROUP BY doc_id
), post AS (
  SELECT doc_id, COUNT(*) AS na,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
  FROM kept GROUP BY doc_id
), scr AS (
  SELECT doc_id, COUNT(*) AS ns FROM ranked WHERE rk > 1 GROUP BY doc_id
)
SELECT p.doc_id,
       p.nb AS n_tokens_before,
       COALESCE(a.na, 0) AS n_tokens_after,
       COALESCE(s.ns, 0) AS n_spans_scrubbed,
       COALESCE(a.fp, md5('')) AS scrub_fp
FROM pre p
LEFT JOIN post a ON p.doc_id = a.doc_id
LEFT JOIN scr s ON p.doc_id = s.doc_id
""",
    doc="APPLY the span-level dedup (the detect→scrub pair with "
    "dedup_repeated_ngram_spans): rank identical repeated-span texts "
    "by (doc_id, span_start), keep the first occurrence as canonical, "
    "and scrub every other occurrence's tokens from its document — "
    "the Lee-et-al. removal step. Emits per-doc before/after token "
    "counts, scrubbed-span count, and an md5 fingerprint of the "
    "cleaned token stream (whitespace-normalized by construction). "
    "Fully relational, REAL SQL oracle: span detection reuses the "
    "shared single-pass pipeline; span texts come from a doc-equi "
    "join + range filter (spans per doc are few); the scrub itself is "
    "an equi anti-join on exploded covered positions — never a range "
    "join on the corpus side.",
)
def corpus_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = SPAN_GRAM_K
    tok = _span_tokens(spark, sf_dir)
    spans = _repeated_spans(tok, k).drop("n_grams")
    # merge-hint: the span frame is O(corpus) on a templated corpus
    # (every doc holding a repeated 5-gram contributes rows), and the
    # planner's post-aggregate estimate reads it as broadcastable — at
    # 500k docs the hashed-relation build is a ~2 GB allocation, twice
    # (the scr branch recomputes this lineage). Equi-SMJ on doc_id with
    # the range condition as a residual filter is the shape that
    # survives 100 TB; "spans per doc are few" bounds the JOIN OUTPUT,
    # not the span frame's size.
    span_txt = (
        spans.hint("merge").join(tok, "doc_id")
        .filter(F.col("pos").between(F.col("span_start"), F.col("span_end")))
        .groupBy("doc_id", "span_start", "span_end")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("sptext")
        )
    )
    ranked = span_txt.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("sptext").orderBy("doc_id", "span_start")
        ),
    )
    covered = ranked.filter(F.col("rk") > 1).select(
        "doc_id",
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    )
    kept = tok.join(covered, ["doc_id", "pos"], "left_anti")
    pre = tok.groupBy("doc_id").agg(F.count("*").alias("n_tokens_before"))
    post = kept.groupBy("doc_id").agg(
        F.count("*").alias("na"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("fp"),
    )
    scr = (
        ranked.filter(F.col("rk") > 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("ns"))
    )
    # merge-hint the assembly joins: pre/post are O(corpus)-row per-doc
    # aggregates — the planner's post-aggregate size estimate reads
    # small enough to broadcast, and at 500k docs building the hashed
    # relation for the md5-bearing side is a ~2 GB single allocation
    # (the r13 forced-eval probe found the r12 row had been measuring a
    # column-pruned plan that never built it). All three frames hash
    # the same doc_id key; SMJ co-partitions them — the only join shape
    # that survives 100 TB. scr IS bounded (repeated spans only), so
    # its broadcast would be fine — but it arrives pre-partitioned on
    # doc_id from the same shuffle, so the merge join is free anyway.
    return (
        pre.join(post.hint("merge"), "doc_id", "left")
        .join(scr.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens_before",
            F.coalesce("na", F.lit(0)).alias("n_tokens_after"),
            F.coalesce("ns", F.lit(0)).alias("n_spans_scrubbed"),
            F.coalesce("fp", F.md5(F.lit(""))).alias("scrub_fp"),
        )
    )


@register(
    "token_budget_pack",
    oracle=r"""
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), stat AS (
  SELECT doc_id,
         len(list_filter(toks, t -> t <> '')) AS n_tokens,
         len(list_distinct(list_filter(toks, t -> t <> ''))) AS n_distinct
  FROM arr
), scored AS (
  -- raw IEEE division, NOT ROUND(...): the quality is the global
  -- ordering key, and Spark's BigDecimal HALF_UP round can disagree
  -- with DuckDB's binary-double round on exact-decimal ties (k/640);
  -- the unrounded quotient of the same two integers is bit-identical
  -- in both engines for ordering AND output.
  SELECT doc_id, n_tokens,
         CAST(n_distinct AS DOUBLE) / n_tokens AS quality
  FROM stat WHERE n_tokens > 0
), budget AS (
  SELECT CAST(FLOOR(SUM(n_tokens) * 0.5) AS BIGINT) AS b FROM scored
), ordered AS (
  SELECT doc_id, n_tokens, quality,
         ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS rank,
         CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM scored
)
SELECT o.doc_id, o.rank, o.n_tokens, o.cum_tokens, o.quality
FROM ordered o, budget b
WHERE o.cum_tokens <= b.b
""",
    doc="Token-budget corpus packing — the mix-assembly step that "
    "selects the highest-quality documents until a token budget is "
    "exhausted (here: unique-token-ratio quality, budget = 50% of "
    "corpus tokens; any scorer/budget slots in). The relational trap "
    "is the global ordered cumsum: a naive SUM OVER (ORDER BY ...) is "
    "a single-partition window. Scale path: "
    "functions/indexing.with_prefix_sum — one repartitionByRange on "
    "the (quality, doc_id) total order, partition-LOCAL running "
    "windows, driver-side cumulation of #partitions totals, eagerly "
    "pinned against shuffle re-execution. The DuckDB oracle is the "
    "naive windowed form; values must agree exactly.",
)
def token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.indexing import with_prefix_sum

    tok = _span_tokens(spark, sf_dir)
    scored = (
        tok.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # unrounded on purpose: this quotient is the global ordering
            # key AND an output column; IEEE double division of the same
            # two integers is bit-identical in Spark and DuckDB, while
            # round-to-6dp is not (Spark BigDecimal HALF_UP vs DuckDB
            # binary rounding can flip a ...5 tie and shift every later
            # rank/cum_tokens past the budget cutoff).
            (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
                "quality"
            ),
        )
    )
    budget_row = scored.agg(
        F.floor(F.sum("n_tokens") * 0.5).cast("long").alias("b")
    ).first()
    if budget_row["b"] is None:  # empty corpus: SUM over zero rows is NULL
        return scored.select(
            "doc_id",
            F.lit(0).cast("long").alias("rank"),
            "n_tokens",
            F.lit(0).cast("long").alias("cum_tokens"),
            "quality",
        ).limit(0)
    budget = int(budget_row["b"])
    # total order is (quality DESC, doc_id ASC): encode as ascending
    # (-quality, doc_id) for the range partitioner
    ordered = scored.withColumn("_negq", -F.col("quality"))
    # one range shuffle + one pin: prefix sum AND dense rank both come
    # from the same pinned partitioning (index_col) — chaining
    # with_global_index would re-shuffle and re-pin the identical order
    ordered = with_prefix_sum(
        ordered, ["_negq", "doc_id"], "n_tokens", "_pfx", index_col="_rank0"
    )
    return (
        ordered.withColumn("cum_tokens", (F.col("_pfx") + F.col("n_tokens")).cast("long"))
        .filter(F.col("cum_tokens") <= budget)
        .select(
            "doc_id",
            (F.col("_rank0") + 1).alias("rank"),
            "n_tokens",
            "cum_tokens",
            "quality",
        )
    )


# ---------------------------------------------------------------------------
# PII detection / redaction family — the standard corpus-scrub stage
# between quality filtering and dedup (C4, Dolma, FineWeb, RefinedWeb
# all run one; the reference repo has no counterpart). Kernels and the
# engine-parity contract live in functions/pii.py; the test corpus is
# digit-free word salad, so both engines derive the same deterministic
# doc_id-keyed PII injection (emails mid-text, phones in three formats,
# IPv4s, SSN-shaped ids) before detecting — realistic in-context
# matches, bit-identical on both sides.

from ..functions import pii as PII  # noqa: E402


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, ptext): the deterministically PII-injected corpus."""
    return _docs_wide(spark, sf_dir).select(
        "doc_id", "lang", PII.pii_text().alias("ptext")
    )


_PII_COUNT_DUCK = {
    name: f"len(regexp_extract_all(ptext, '{pat}'))"
    for name, pat, _ in PII.PII_TYPES
}
_PII_TOTAL_DUCK = " + ".join(_PII_COUNT_DUCK.values())
# Residual sum over the scrubbed text MUST be generated from PII_TYPES
# (like _PII_STREAM_TOTAL in source_queries.py), never hand-listed: a
# hand-listed subset passes while all classes scrub clean but would
# surface a future residual of an unlisted class as a confusing
# cross-engine hash mismatch instead of a nonzero n_residual.
_PII_RESIDUAL_DUCK = " + ".join(
    f"len(regexp_extract_all(red, '{pat}'))" for _, pat, _ in PII.PII_TYPES
)


@register(
    "pii_extract_panel",
    oracle=f"""
WITH p AS (
  SELECT doc_id, lang, {PII.PII_TEXT_DUCK_SQL} AS ptext FROM documents
), c AS (
  SELECT doc_id, lang,
         {_PII_COUNT_DUCK['email']} AS n_email,
         {_PII_COUNT_DUCK['phone']} AS n_phone,
         {_PII_COUNT_DUCK['ip']} AS n_ip,
         {_PII_COUNT_DUCK['ssn']} AS n_ssn,
         {_PII_COUNT_DUCK['cc']} AS n_cc,
         (regexp_extract_all(ptext, '{PII.EMAIL_RE}'))[1] AS sample_email
  FROM p
)
SELECT doc_id, lang, n_email, n_phone, n_ip, n_ssn, n_cc,
       n_email + n_phone + n_ip + n_ssn + n_cc AS n_pii, sample_email
FROM c
""",
    doc="PII DETECTION panel — per-document match counts for the five "
    "standard PII classes (email, phone in dashed/parenthesized/dotted "
    "formats, IPv4, SSN-shaped ids, credit cards) plus the first "
    "extracted email as "
    "an audit sample, for EVERY document (zero rows included: the "
    "detector report a curation run reviews before scrubbing; a "
    "consumer's WHERE n_pii>0 is a trivial residual filter). "
    "Deliberately filterless: a `n_pii > 0` filter here gets "
    "predicate-pushed below the projection and re-derives the entire "
    "5-pattern regex chain a second time inside the filter condition "
    "(observed in the plan — the same expression-inlining trap the "
    "r11 streaming span twin hit), whereas the filterless panel is "
    "one regex pass per row: Scan → Project, map-only, NO shuffle "
    "(plan-pinned), pipelining into the scan at 100 TB. Patterns are "
    "anchored, ASCII, in the Java-regex ∩ RE2 subset so the DuckDB "
    "oracle matches bit-exactly (functions/pii.py documents the "
    "mutual-disjointness proof that makes per-type counts "
    "order-independent).",
)
def pii_extract_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _pii_docs(spark, sf_dir)
    c = d.select(
        "doc_id",
        "lang",
        PII.pii_count("ptext", PII.EMAIL_RE).alias("n_email"),
        PII.pii_count("ptext", PII.PHONE_RE).alias("n_phone"),
        PII.pii_count("ptext", PII.IP_RE).alias("n_ip"),
        PII.pii_count("ptext", PII.SSN_RE).alias("n_ssn"),
        PII.pii_count("ptext", PII.CC_RE).alias("n_cc"),
        F.get(
            F.regexp_extract_all("ptext", F.lit(PII.EMAIL_RE), F.lit(0)), 0
        ).alias("sample_email"),
    ).withColumn(
        "n_pii",
        F.col("n_email") + F.col("n_phone") + F.col("n_ip")
        + F.col("n_ssn") + F.col("n_cc"),
    )
    return c.select(
        "doc_id", "lang", "n_email", "n_phone", "n_ip", "n_ssn", "n_cc",
        "n_pii", "sample_email",
    )


@register(
    "corpus_pii_scrub",
    oracle=f"""
WITH p AS (
  SELECT doc_id, {PII.PII_TEXT_DUCK_SQL} AS ptext FROM documents
), r AS (
  SELECT doc_id, ptext, {PII.duck_redact_sql('ptext')} AS red FROM p
)
SELECT doc_id,
       {_PII_TOTAL_DUCK} AS n_redactions,
       length(ptext) AS n_chars_before,
       length(red) AS n_chars_after,
       md5(red) AS redacted_fp,
       {_PII_RESIDUAL_DUCK} AS n_residual
FROM r
""",
    doc="PII REDACTION apply step (the detect→scrub pair with "
    "pii_extract_panel, mirroring corpus_span_scrub's shape): every "
    "match replaced by its typed placeholder in a fixed order "
    "(email, cc, ssn, phone, ip — placeholders are digit/@-free so later "
    "patterns can't match inside earlier replacements), emitting "
    "per-doc redaction counts, before/after char lengths, an md5 "
    "fingerprint of the redacted text (the downstream-dedup input), "
    "and n_residual — matches remaining AFTER the scrub, which the "
    "value oracle pins to zero for every doc: the "
    "scrub-completeness invariant is part of the checked output, not "
    "just a test. Map-only, no shuffle; at 100 TB this is a free "
    "pipeline stage fused into the scan.",
)
def corpus_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _pii_docs(spark, sf_dir).withColumn("red", PII.pii_redact("ptext"))
    total = PII.pii_total("ptext")
    residual = PII.pii_total("red")
    return d.select(
        "doc_id",
        total.alias("n_redactions"),
        F.length("ptext").alias("n_chars_before"),
        F.length("red").alias("n_chars_after"),
        F.md5("red").alias("redacted_fp"),
        residual.alias("n_residual"),
    )


@register(
    "corpus_curation_pii_v2",
    oracle=f"""
WITH p AS (
  SELECT doc_id, lang, {PII.PII_TEXT_DUCK_SQL} AS ptext FROM documents
), q AS (
  SELECT doc_id, lang, ptext FROM p
  WHERE length(ptext) >= 50
    AND (length(ptext) - length(regexp_replace(ptext, '[\\.,;:!\\?''"\\(\\)\\[\\]\\-]', '', 'g')))
        / CAST(length(ptext) AS DOUBLE) <= 0.2
), r AS (
  SELECT doc_id, lang,
         {PII.duck_redact_sql('ptext')} AS red,
         {_PII_TOTAL_DUCK} AS n_pii
  FROM q
), kept AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(red)), '\\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
    FROM r
  ) WHERE rn = 1
)
SELECT d.lang,
       COUNT(*) AS total,
       COUNT(r.doc_id) AS quality_pass,
       CAST(COALESCE(SUM(CASE WHEN r.n_pii > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS pii_docs,
       CAST(COALESCE(SUM(r.n_pii), 0) AS BIGINT) AS total_redactions,
       COUNT(k.doc_id) AS exact_kept
FROM documents d
LEFT JOIN r ON r.doc_id = d.doc_id
LEFT JOIN kept k ON k.doc_id = d.doc_id
GROUP BY d.lang ORDER BY d.lang
""",
    doc="Curation funnel v2 — the v1 composition "
    "(corpus_curation_pipeline) with the PII scrub inserted in its "
    "production slot BETWEEN the quality gate and exact dedup (the "
    "C4/Dolma ordering: scrub first so redaction canonicalizes docs "
    "that differ only in their PII, letting exact dedup catch them): "
    "quality gate (length/punct on the ingested text) → PII redaction "
    "→ keep-first exact dedup on the md5 of the normalized REDACTED "
    "text. Emits per-language funnel counts (total → quality_pass → "
    "pii_docs/total_redactions → exact_kept). Same fused one-pass "
    "shape as v1: one scan → per-row regex columns → one fingerprint "
    "window → one hash agg of conditional sums (the near-dup CC stage "
    "stays in v1; v2 demonstrates the scrub's funnel position).",
)
def corpus_curation_pii_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _pii_docs(spark, sf_dir)
    q = (F.length("ptext") >= 50) & (TX.punct_ratio(F.col("ptext")) <= 0.2)
    n_pii = PII.pii_total("ptext")
    red = PII.pii_redact("ptext")
    # rank within (quality, redacted-fingerprint) so failing docs can't
    # shadow a passing duplicate — v1's exact-dedup semantics, applied
    # to the REDACTED text
    wfp = Window.partitionBy(q, TX.fingerprint(red)).orderBy("doc_id")
    flagged = (
        d.withColumn("_q", q)
        .withColumn("_npii", n_pii)
        .withColumn("_kept", F.col("_q") & (F.row_number().over(wfp) == 1))
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("total"),
            F.sum(F.col("_q").cast("long")).alias("quality_pass"),
            F.sum(
                (F.col("_q") & (F.col("_npii") > 0)).cast("long")
            ).alias("pii_docs"),
            F.sum(
                F.when(F.col("_q"), F.col("_npii")).otherwise(0).cast("long")
            ).alias("total_redactions"),
            F.sum(F.col("_kept").cast("long")).alias("exact_kept"),
        )
        .orderBy("lang")
    )


_DUCK_LUHN_N = PII.duck_luhn_sql("n")


@register(
    "pii_luhn_cc_panel",
    oracle=f"""
WITH p AS (
  SELECT doc_id, {PII.PII_TEXT_DUCK_SQL} AS ptext FROM documents
), c AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(ptext, '{PII.CC_RE}'),
                        m -> regexp_replace(m, '[- ]', '', 'g')) AS pans
  FROM p
)
SELECT doc_id,
       len(pans) AS n_cc,
       len(list_filter(pans, n -> {_DUCK_LUHN_N})) AS n_luhn_valid,
       right(pans[1], 4) AS cc_last4
FROM c
""",
    doc="Credit-card PII VALIDATION panel — detection plus the Luhn "
    "checksum as a pure relational kernel (functions/pii.luhn_valid: "
    "per-digit doubling fold via transform+aggregate, no UDF, "
    "bind_once-bound so the digit string never re-inlines per "
    "element). The injected cards are the public network test "
    "numbers (Visa/MC/Amex/Discover docs) in dashed, spaced, and "
    "contiguous formats, so every detected card is Luhn-valid by "
    "construction and the oracle pins n_luhn_valid == n_cc per doc; "
    "a real corpus uses the validity flag to drop OCR noise and "
    "pseudo-PANs before redaction. Emits every doc (map-only "
    "filterless panel, same plan discipline as pii_extract_panel) "
    "with match count, Luhn-valid count, and the first card's last4 "
    "(the audit-safe identifier production logs keep).",
)
def pii_luhn_cc_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _pii_docs(spark, sf_dir)
    matches = F.regexp_extract_all("ptext", F.lit(PII.CC_RE), F.lit(0))
    pans = F.transform(matches, lambda m: F.regexp_replace(m, "[- ]", ""))
    staged = d.select("doc_id", pans.alias("pans"))
    valid = F.filter("pans", lambda n: PII.luhn_valid(n))
    return staged.select(
        "doc_id",
        F.size("pans").alias("n_cc"),
        F.size(valid).alias("n_luhn_valid"),
        F.substring(F.get("pans", 0), -4, 4).alias("cc_last4"),
    )


# ---------------------------------------------------------------------------
# Model-based quality scoring — the FineWeb-Edu/DCLM-style learned
# classifier filter (kernel + training/determinism contract in
# functions/quality_clf.py). The one curation stage the catalog
# previously expressed only as hand rules (gopher_quality_rules,
# doc_lm_perplexity); production pipelines distill those signals into a
# linear scorer and filter on the learned score.

from ..functions import quality_clf as QC  # noqa: E402


def _qclf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tokens, weak_label, score, pred): the corpus
    with its weak label and the trained NB classifier's score.

    Training (one exploded hash agg + a 65-value driver fit) is
    memoized per session; the returned frame's own plan is Scan →
    Project — the weights ride as literals, no join, no shuffle."""
    d = _docs_wide(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    # stage _toks, then _fids in a SEPARATE projection: features()
    # references the token array several times (size / length-sum /
    # distinct), and cross-operator staging is the rule that keeps a
    # repeated non-trivial expression evaluated once per row
    base = (
        d.select(
            "doc_id", "lang",
            QC.tokens(F.col("text")).alias("_toks"),
        )
        .withColumn("_weak", QC.weak_label(F.col("_toks")))
        .withColumn("_fids", QC.features(F.col("_toks")))
    )
    prior, weights = QC.cached_fit(spark, sf_dir, base)
    staged = base.withColumn(
        "_w", F.array(*[F.lit(float(w)) for w in weights])
    )
    sc = QC.score(F.col("_fids"), F.col("_w"), prior)
    return staged.select(
        "doc_id",
        "lang",
        F.size("_toks").alias("n_tokens"),
        F.col("_weak").alias("weak_label"),
        F.round(sc, 9).alias("score"),
        (sc > 0).cast("int").alias("pred"),
    )


@register(
    "quality_classifier_score",
    # r13 parquet-captured pin at sf0.01 (tools/pin_oracles.py
    # --parquet): scores are layout-deterministic by construction
    # (integer training counts → driver math.log → within-row double
    # fold), verified bit-equal across repartition layouts and a
    # plain driver-simulation session
    oracle=pinned_parquet_oracle("quality_classifier_score"),
    pinned_sf="0.01",
    doc="MODEL-BASED quality scoring (FineWeb-Edu/DCLM pattern): a "
    "multinomial Naive Bayes classifier over md5-hashed token buckets "
    "(64), trained on the corpus's own weak labels (the Gopher "
    "all-rules pass — distilling the hand rules of "
    "gopher_quality_rules into a learned scorer, exactly the "
    "teacher→student shape FineWeb-Edu uses with LLM labels), then "
    "every document scored in ONE map-only pass: the fit is "
    "closed-form from exact integer bucket×label counts "
    "(Spark-prep → driver-fit → broadcast-literals, the M10/M11 "
    "pattern), inference folds per-token weights within the row via "
    "a staged weights-array column (bind-once discipline — a literal "
    "array referenced inside the lambda would re-inline per token). "
    "Emits per-doc token count, weak label, NB log-odds score, and "
    "the thresholded prediction. Layout-deterministic end to end: "
    "integer training counts, driver-side math.log, within-row "
    "double fold (pinned across layouts in tests). At 100 TB "
    "inference fuses into the curation scan; training shuffles only "
    "~128 combined rows per task.",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _qclf_scored(spark, sf_dir)


@register(
    "quality_classifier_funnel",
    # r13 pinned VALUES at sf0.01: integer-only output over the
    # deterministic scores
    oracle="""SELECT * FROM (VALUES
  ('de', CAST(70 AS BIGINT), CAST(36 AS BIGINT), CAST(36 AS BIGINT), CAST(64 AS BIGINT), CAST(33 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(32 AS BIGINT), CAST(36 AS BIGINT), CAST(0 AS BIGINT)),
  ('en', CAST(218 AS BIGINT), CAST(79 AS BIGINT), CAST(92 AS BIGINT), CAST(199 AS BIGINT), CAST(76 AS BIGINT), CAST(16 AS BIGINT), CAST(8 AS BIGINT), CAST(118 AS BIGINT), CAST(92 AS BIGINT), CAST(0 AS BIGINT)),
  ('es', CAST(73 AS BIGINT), CAST(30 AS BIGINT), CAST(32 AS BIGINT), CAST(61 AS BIGINT), CAST(25 AS BIGINT), CAST(7 AS BIGINT), CAST(2 AS BIGINT), CAST(39 AS BIGINT), CAST(32 AS BIGINT), CAST(0 AS BIGINT)),
  ('fr', CAST(64 AS BIGINT), CAST(27 AS BIGINT), CAST(27 AS BIGINT), CAST(58 AS BIGINT), CAST(24 AS BIGINT), CAST(3 AS BIGINT), CAST(4 AS BIGINT), CAST(33 AS BIGINT), CAST(27 AS BIGINT), CAST(0 AS BIGINT)),
  ('zh', CAST(75 AS BIGINT), CAST(34 AS BIGINT), CAST(33 AS BIGINT), CAST(68 AS BIGINT), CAST(30 AS BIGINT), CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(39 AS BIGINT), CAST(33 AS BIGINT), CAST(0 AS BIGINT))
) AS t("lang", "total", "weak_pos", "pred_pos", "n_agree", "tp", "fp", "h_lo", "h_neg", "h_pos", "h_hi")""",
    pinned_sf="0.01",
    doc="Threshold funnel + score histogram for the learned quality "
    "classifier (the twin a curation run reviews before picking the "
    "keep threshold): per language — doc count, weak-label positives, "
    "classifier positives, weak/pred agreement, confusion counts "
    "(tp/fp), and a 4-band score histogram (<-5, [-5,0), [0,5), >=5). "
    "Integer-only output on top of quality_classifier_score's "
    "deterministic scores: one additional hash agg on lang.",
)
def quality_classifier_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _qclf_scored(spark, sf_dir)
    return (
        s.groupBy("lang")
        .agg(
            F.count("*").alias("total"),
            F.sum("weak_label").cast("long").alias("weak_pos"),
            F.sum("pred").cast("long").alias("pred_pos"),
            F.sum(
                (F.col("weak_label") == F.col("pred")).cast("long")
            ).alias("n_agree"),
            F.sum(
                ((F.col("weak_label") == 1) & (F.col("pred") == 1)).cast("long")
            ).alias("tp"),
            F.sum(
                ((F.col("weak_label") == 0) & (F.col("pred") == 1)).cast("long")
            ).alias("fp"),
            F.sum((F.col("score") < -5).cast("long")).alias("h_lo"),
            F.sum(
                ((F.col("score") >= -5) & (F.col("score") < 0)).cast("long")
            ).alias("h_neg"),
            F.sum(
                ((F.col("score") >= 0) & (F.col("score") < 5)).cast("long")
            ).alias("h_pos"),
            F.sum((F.col("score") >= 5).cast("long")).alias("h_hi"),
        )
        .orderBy("lang")
    )


@register(
    "corpus_curation_quality_v3",
    # r13 pinned VALUES at sf0.01: integer-only funnel over the
    # layout-deterministic classifier scores + PII counts
    oracle="""SELECT * FROM (VALUES
  ('de', CAST(70 AS BIGINT), CAST(37 AS BIGINT), CAST(21 AS BIGINT), CAST(24 AS BIGINT), CAST(37 AS BIGINT)),
  ('en', CAST(218 AS BIGINT), CAST(101 AS BIGINT), CAST(52 AS BIGINT), CAST(70 AS BIGINT), CAST(101 AS BIGINT)),
  ('es', CAST(73 AS BIGINT), CAST(32 AS BIGINT), CAST(16 AS BIGINT), CAST(19 AS BIGINT), CAST(32 AS BIGINT)),
  ('fr', CAST(64 AS BIGINT), CAST(29 AS BIGINT), CAST(16 AS BIGINT), CAST(18 AS BIGINT), CAST(29 AS BIGINT)),
  ('zh', CAST(75 AS BIGINT), CAST(35 AS BIGINT), CAST(16 AS BIGINT), CAST(18 AS BIGINT), CAST(35 AS BIGINT))
) AS t("lang", "total", "clf_pass", "pii_docs", "total_redactions", "exact_kept")""",
    pinned_sf="0.01",
    doc="Curation funnel v3 — the MODERN production ordering "
    "(FineWeb/DCLM): learned quality gate → PII scrub → exact dedup "
    "on the REDACTED text. v1 gated on hand heuristics, v2 swapped "
    "the scrub into the production slot; v3 replaces the hand rules "
    "with the trained NB classifier (weights shared with "
    "quality_classifier_score via the session fit memo — trained once "
    "on the raw corpus, applied here to the scrub-input text as "
    "broadcast plan literals). Same fused one-scan shape as v1/v2: "
    "per-row token/feature/score columns → one fingerprint window → "
    "one hash agg of conditional sums; NO join against a second "
    "corpus derivation (the score computes in-row on the same scan — "
    "the r13 span-scrub lesson: two O(corpus) derivations of one scan "
    "joined back together invite a planner broadcast of corpus-sized "
    "aggregates). Emits per-language funnel counts: total → clf_pass "
    "→ pii_docs/total_redactions → exact_kept.",
)
def corpus_curation_quality_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # train on the SAME standard corpus as quality_classifier_score so
    # the fit memo is shared; score the PII-injected curation input
    train_base = (
        _docs_wide(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", QC.tokens(F.col("text")).alias("_toks"))
        .withColumn("_weak", QC.weak_label(F.col("_toks")))
        .withColumn("_fids", QC.features(F.col("_toks")))
    )
    prior, weights = QC.cached_fit(spark, sf_dir, train_base)

    d = _pii_docs(spark, sf_dir)
    staged = (
        d.withColumn("_toks", QC.tokens(F.col("ptext")))
        .withColumn("_fids", QC.features(F.col("_toks")))
        .withColumn("_w", F.array(*[F.lit(float(w)) for w in weights]))
    )
    q = QC.score(F.col("_fids"), F.col("_w"), prior) > 0
    n_pii = PII.pii_total("ptext")
    red = PII.pii_redact("ptext")
    wfp = Window.partitionBy(q, TX.fingerprint(red)).orderBy("doc_id")
    flagged = (
        staged.withColumn("_q", q)
        .withColumn("_npii", n_pii)
        .withColumn("_kept", F.col("_q") & (F.row_number().over(wfp) == 1))
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("total"),
            F.sum(F.col("_q").cast("long")).alias("clf_pass"),
            F.sum(
                (F.col("_q") & (F.col("_npii") > 0)).cast("long")
            ).alias("pii_docs"),
            F.sum(
                F.when(F.col("_q"), F.col("_npii")).otherwise(0).cast("long")
            ).alias("total_redactions"),
            F.sum(F.col("_kept").cast("long")).alias("exact_kept"),
        )
        .orderBy("lang")
    )


# Bloom config for the SQL-oracled ingest query: FIXED so the oracle
# can mirror it (the scaled sibling is probe-measured — a fixed-m
# bloom saturates when the store outgrows it, exactly like a fixed
# LSH banding; tools/scale_probe --hash records the fp-rate blowup and
# the m-from-count remediation). 4096 bits / 5 hashes over a ~375-fp
# store ≈ 0.37 fill → ~0.7% fp-rate: small enough to exercise the
# false-positive accounting at oracle scale.
_BLOOM_M = 1024
_BLOOM_K = 5


def _bloom_hash_sql(fp_expr: str, j: str) -> str:
    """Engine-portable j-th bloom hash: top-60-bits(md5(fp#j)) mod m —
    the same md5-prefix trick as global_shuffle_shards, so DuckDB and
    Spark compute bit-identical indexes."""
    return (
        f"('0x' || substr(md5({fp_expr} || '#' || {j}), 1, 15))::BIGINT"
        f" % {_BLOOM_M}"
    )


def _bloom_hash_col(fp: Column, j: Column) -> Column:
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(fp, F.lit("#"), j.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(_BLOOM_M),
    )


@register(
    "incremental_ingest_bloom",
    oracle=rf"""
WITH fp AS (
  SELECT doc_id, lang,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM documents
), existing AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id < 400
), bits AS (
  SELECT idx // 32 AS bucket,
         bit_or(1::BIGINT << CAST(idx % 32 AS INT)) AS word
  FROM (
    SELECT {_bloom_hash_sql('e.fp', 'r.j')} AS idx
    FROM existing e CROSS JOIN range({_BLOOM_K}) r(j)
  ) GROUP BY 1
), inc AS (
  SELECT doc_id, lang, fp FROM fp WHERE doc_id >= 400
), probes AS (
  SELECT i.doc_id, i.lang, i.fp, {_bloom_hash_sql('i.fp', 'r.j')} AS idx
  FROM inc i CROSS JOIN range({_BLOOM_K}) r(j)
), hits AS (
  SELECT p.doc_id, p.lang, p.fp,
         SUM(CASE WHEN b.word IS NOT NULL
                   AND (b.word & (1::BIGINT << CAST(p.idx % 32 AS INT))) != 0
                  THEN 1 ELSE 0 END) AS n_hit
  FROM probes p LEFT JOIN bits b ON p.idx // 32 = b.bucket
  GROUP BY 1, 2, 3
), flagged AS (
  SELECT h.lang,
         CASE WHEN h.n_hit = {_BLOOM_K} THEN 1 ELSE 0 END AS bloom_dup,
         CASE WHEN e.fp IS NOT NULL THEN 1 ELSE 0 END AS true_dup
  FROM hits h LEFT JOIN existing e ON h.fp = e.fp
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_incoming,
       CAST(SUM(bloom_dup) AS BIGINT) AS n_bloom_flagged,
       CAST(SUM(true_dup) AS BIGINT) AS n_true_dupes,
       CAST(SUM(CASE WHEN bloom_dup = 1 AND true_dup = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       ROUND(SUM(CASE WHEN bloom_dup = 1 AND true_dup = 0 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) - SUM(true_dup) AS DOUBLE), 6) AS fp_rate
FROM flagged GROUP BY lang ORDER BY lang
""",
    doc="BLOOM-FILTER ingest dedup — the approximate-membership twin "
    "of incremental_ingest_dedup and the third sketch family in the "
    "catalog (HLL distinct, approx quantiles, now Bloom membership): "
    "the existing store's fingerprints build a 4096-bit / 5-hash "
    "Bloom filter as 32 bit_or-aggregated 32-bit words (32-bit so the shift never reaches a checked sign bit in either engine) (one hash agg, "
    "mergeable across partitions — at 100 TB every executor builds "
    "partial words map-side and the merged filter is tiny BY DESIGN, "
    "independent of corpus size), incoming docs probe it via a "
    "BROADCAST join on word bucket (no shuffle of the corpus, no "
    "join against the store — the production reason blooms exist: "
    "ingest filtering without touching the fingerprint table), and "
    "the panel scores the sketch against the exact join: per-lang "
    "incoming / bloom-flagged / true-dupe / false-positive counts "
    "and the measured fp-rate. Fully relational and bit-identical in "
    "both engines (md5-prefix hashes, bit_or words — a REAL SQL "
    "oracle for an approximate data structure: the approximation is "
    "deterministic, only its ERROR is probabilistic). Bloom inserts "
    "commute (bit OR), so the filter is layout-independent by "
    "construction. A fixed m saturates when the store outgrows it "
    "(kn/m → fill → fp_rate → 1) — the scale probe measures exactly "
    "that and the m-from-count sizing that fixes it.",
)
def incremental_ingest_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bloom_panel(spark, sf_dir, _BLOOM_M, _BLOOM_K)


def _bloom_panel(
    spark: SparkSession, sf_dir: str, m: int, k: int
) -> DataFrame:
    fp = _docs_wide(spark, sf_dir).select(
        "doc_id", "lang", TX.fingerprint(F.col("text")).alias("fp")
    )
    existing = fp.filter(F.col("doc_id") < 400).select("fp").distinct()
    js = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j")

    def hash_idx(fp_col: Column, j: Column) -> Column:
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(fp_col, F.lit("#"), j.cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(m),
        )

    bits = (
        existing.select("fp", js)
        .select(hash_idx(F.col("fp"), F.col("j")).alias("idx"))
        .select(
            (F.col("idx") / 32).cast("long").alias("bucket"),
            F.expr("shiftleft(1L, CAST(idx % 32 AS INT))").alias("bit"),
        )
        .groupBy("bucket")
        .agg(F.bit_or("bit").alias("word"))
    )
    probes = fp.filter(F.col("doc_id") >= 400).select("doc_id", "lang", "fp", js)
    probes = probes.select(
        "doc_id", "lang", "fp", hash_idx(F.col("fp"), F.col("j")).alias("idx")
    )
    hit = (
        probes.join(
            F.broadcast(bits), (F.col("idx") / 32).cast("long") == F.col("bucket"), "left"
        )
        .select(
            "doc_id",
            "lang",
            "fp",
            F.when(
                F.col("word").isNotNull()
                & (
                    F.col("word").bitwiseAND(
                        F.expr("shiftleft(1L, CAST(idx % 32 AS INT))")
                    )
                    != 0
                ),
                1,
            )
            .otherwise(0)
            .alias("h"),
        )
        .groupBy("doc_id", "lang", "fp")
        .agg(F.sum("h").alias("n_hit"))
    )
    flagged = hit.join(
        existing.withColumn("_seen", F.lit(True)), "fp", "left"
    ).select(
        "lang",
        (F.col("n_hit") == k).cast("long").alias("bloom_dup"),
        F.col("_seen").isNotNull().cast("long").alias("true_dup"),
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_incoming"),
            F.sum("bloom_dup").alias("n_bloom_flagged"),
            F.sum("true_dup").alias("n_true_dupes"),
            F.sum(
                ((F.col("bloom_dup") == 1) & (F.col("true_dup") == 0)).cast("long")
            ).alias("n_false_pos"),
            F.round(
                F.sum(
                    ((F.col("bloom_dup") == 1) & (F.col("true_dup") == 0)).cast(
                        "long"
                    )
                )
                / (F.count("*") - F.sum("true_dup")).cast("double"),
                6,
            ).alias("fp_rate"),
        )
        .orderBy("lang")
    )


# ---- count-min sketch heavy hitters (fourth sketch family) ----

_CMS_D = 4  # hash rows
_CMS_W = 128  # counters per row (vs 916 distinct bigrams at sf0.01 —
#               deliberately undersized so collision mass is nonzero and
#               the overestimate column actually exercises the CMS
#               err <= eps*N accounting, like the bloom fixed-m probe)
_CMS_TOPK = 25


def _cms_hash_sql(g: str, j: str) -> str:
    """Engine-portable j-th CMS row hash: top-60-bits(md5(g#j)) mod w
    (same md5-prefix trick as the bloom/shard hashes)."""
    return f"('0x' || substr(md5({g} || '#' || {j}), 1, 15))::BIGINT % {_CMS_W}"


def _cms_hash_col(g: Column, j: Column) -> Column:
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(g, F.lit("#"), j.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(_CMS_W),
    )


# Non-distinct word bigrams (counting needs multiplicities — the
# 3-gram _WG_SQL above is list_distinct for Jaccard; this one is not).
_BG_SQL = (
    "CASE WHEN len(regexp_split_to_array(lower(trim(text)), '\\s+')) < 2 "
    "THEN CAST([] AS VARCHAR[]) ELSE list_transform("
    "generate_series(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 1), "
    "i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\\s+')[i:i+1], ' ')) END"
)


@register(
    "cms_heavy_hitters",
    oracle=rf"""
WITH grams AS (
  SELECT u.g AS g
  FROM (SELECT {_BG_SQL} AS bg FROM documents WHERE length(trim(text)) > 0) d,
       UNNEST(bg) AS u(g)
), counts AS (
  SELECT g, COUNT(*) AS tf FROM grams GROUP BY g
), cells AS (
  SELECT r.j AS row_id, {_cms_hash_sql('c.g', 'r.j')} AS col_id,
         SUM(c.tf) AS cell
  FROM counts c CROSS JOIN range({_CMS_D}) r(j)
  GROUP BY 1, 2
), cand AS (
  SELECT g, tf FROM counts ORDER BY tf DESC, g LIMIT {_CMS_TOPK}
), probe AS (
  SELECT c.g, c.tf, r.j AS row_id, {_cms_hash_sql('c.g', 'r.j')} AS col_id
  FROM cand c CROSS JOIN range({_CMS_D}) r(j)
)
SELECT p.g AS gram, CAST(p.tf AS BIGINT) AS exact_tf,
       CAST(MIN(ce.cell) AS BIGINT) AS cms_est,
       CAST(MIN(ce.cell) - p.tf AS BIGINT) AS overest
FROM probe p JOIN cells ce ON ce.row_id = p.row_id AND ce.col_id = p.col_id
GROUP BY p.g, p.tf
ORDER BY exact_tf DESC, gram
""",
    doc="COUNT-MIN SKETCH heavy hitters — the fourth sketch family "
    "(HLL distinct, approx quantiles, Bloom membership, now CMS "
    "frequency): word-bigram frequencies summarized into a d=4 x "
    "w=128 counter matrix (cell = SUM of counts hashing there — built "
    "from the PARTIAL-AGGREGATED gram counts, so the sketch add is "
    "mergeable map-side combine, the property that lets 1000 "
    "executors each sketch their shard and bit-add, which is why CMS "
    "exists at 100 TB), then the top-25 exact heavy hitters probed "
    "back: estimate = MIN over the d cells, overest = est - exact. "
    "CMS guarantees est >= exact ALWAYS (every occurrence lands in "
    "every row) and w is deliberately undersized (128 vs 916 distinct "
    "bigrams) so collision mass is visibly nonzero. Hashes are the "
    "engine-portable md5-prefix family, so DuckDB builds the "
    "bit-identical sketch: REAL SQL oracle, no approximation "
    "mismatch — like the bloom panel, the construction is "
    "deterministic, only its ERROR is probabilistic. Plan: explode -> "
    "hash-agg gram counts (the only corpus shuffle), 4096-cell "
    "broadcast to the probe side.",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_wide(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    grams = d.select(F.explode(TX.word_ngrams(F.col("text"), 2)).alias("g"))
    counts = grams.groupBy("g").agg(F.count("*").alias("tf"))
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
    cand = counts.orderBy(F.desc("tf"), F.asc("g")).limit(_CMS_TOPK)
    probe = cand.select("g", "tf", js).select(
        "g",
        "tf",
        F.col("j").alias("row_id"),
        _cms_hash_col(F.col("g"), F.col("j")).alias("col_id"),
    )
    est = (
        probe.join(F.broadcast(cells), ["row_id", "col_id"])
        .groupBy("g", "tf")
        .agg(F.min("cell").alias("cms_est"))
    )
    return est.select(
        F.col("g").alias("gram"),
        F.col("tf").alias("exact_tf"),
        "cms_est",
        (F.col("cms_est") - F.col("tf")).alias("overest"),
    ).orderBy(F.desc("exact_tf"), F.asc("gram"))
