"""Source/sink queries (SURVEY §2.1): CSV round-trip with union+dedup
(S1-S3), and the SQL-view OLAP surface (S8)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from ..sources import Catalog
from ..sources.csv_io import load_multiple_csv, save_csv
from .base import pinned_parquet_oracle, register

_EVENTS_CSV = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


_SCRATCH_CLEANUP_REGISTERED: set = set()


def _scratch(spark: SparkSession, kind: str, sf_dir: str) -> str:
    """Per-application scratch root for query-local sink/re-read work.

    These dirs are rebuilt (mode=overwrite) on every run — they are NOT
    cross-session caches — so a constant shared path lets two
    CONCURRENT sessions corrupt each other mid-query: one session
    overwrites parquet parts while the other's scan still holds the old
    file listing (observed as FAILED_READ_FILE / wrong stream feeds
    under an r11 two-gate stress run). applicationId-keyed paths make
    every run self-contained; an atexit sweep reclaims the session's
    tree on shutdown."""
    app = spark.sparkContext.applicationId
    root = f"/tmp/spark_graft_scratch/{app}"
    if app not in _SCRATCH_CLEANUP_REGISTERED:
        import atexit
        import shutil

        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_CLEANUP_REGISTERED.add(app)
    return f"{root}/{kind}/{os.path.basename(sf_dir.rstrip('/'))}"


_STAGED_FEEDS: dict = {}


def _staged_feed(spark: SparkSession, kind: str, sf_dir: str, build) -> str:
    """Stage a deterministic replay-feed directory once per
    (application, kind, sf_dir): the streaming parity harnesses that
    read the SAME staged content (the unrepartitioned events copy ×3,
    the docs copy ×2, the 4-file docs copy ×2) each re-wrote it every
    run. One build per session, siblings read the shared directory
    read-only. The feed content and file layout are identical to what
    each caller wrote before (same lineage, same writer), so
    micro-batch structure under maxFilesPerTrigger is unchanged.
    ``build`` writes the feed to the path on miss; the
    applicationId-keyed scratch root means the memo can never serve
    another session's dir."""
    from ..functions import memo

    def stage() -> str:
        base = _scratch(spark, kind, sf_dir)
        build(base)
        return base

    return memo.app_scoped_memo(_STAGED_FEEDS, spark, (kind, sf_dir), stage)


def _events_feed(spark: SparkSession, sf_dir: str) -> str:
    """The events table staged as one unrepartitioned replay feed,
    shared by the rollup, session and dedup parities (this also turns
    the testdata's ns timestamps into Spark-native µs)."""
    return _staged_feed(
        spark, "stream", sf_dir,
        lambda p: Catalog(spark, sf_dir).table("events")
        .write.mode("overwrite").parquet(p),
    )


@register(
    "s2_csv_union_dedup",
    oracle="""
SELECT event_type, COUNT(*) AS n, ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value
FROM events
GROUP BY event_type
""",
    doc="S1-S3 CSV round-trip: events split into two OVERLAPPING CSV "
    "extracts (S3 sink), re-read with explicit schema (S1, no "
    "inferSchema), unioned + time-sorted + keep-first deduped on the "
    "key (S2, reference data_processor.py:27-34) — recovering exactly "
    "the original table, verified by per-type counts/sums against the "
    "parquet truth.",
)
def s2_csv_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).table("events").select(
        "event_id", "ts", "event_type", "value"
    )
    base = _scratch(spark, "csv", sf_dir)
    # two overlapping halves — the dedup has real work to do
    save_csv(ev.filter(F.col("event_id") % 3 != 0), f"{base}/a")
    save_csv(ev.filter(F.col("event_id") % 3 != 1), f"{base}/b")
    back = load_multiple_csv(
        spark, [f"{base}/a", f"{base}/b"], schema=_EVENTS_CSV, ts_col="event_id"
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 2).alias(
            "sum_value"
        ),
    )


@register(
    "s8_sql_view_summary",
    oracle="""
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 3) AS avg_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
    doc="S8 SQL-view OLAP surface (reference: evaluate_all_generators.py:"
    "236-281 SQLite views): temp views registered over the tables, a "
    "summary CREATE VIEW with GROUP BY/AVG/ROUND, queried via "
    "spark.sql — the one place the reference literally runs SQL.",
)
def s8_sql_view_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    cat.table("orders").createOrReplaceTempView("v_orders")
    cat.table("customer").createOrReplaceTempView("v_customer")
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW v_segment_summary AS
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 3) AS avg_price
        FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        """
    )
    return spark.sql("SELECT * FROM v_segment_summary")


@register(
    "stream_batch_parity_rollup",
    oracle="""
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
""",
    doc="Structured Streaming / batch parity: the watermarked tumbling "
    "rollup (streaming/events_stream.py) executed with an availableNow "
    "trigger over the events table must equal the batch GROUP BY "
    "exactly — same expressions, same shuffle keys, only the source "
    "differs (SURVEY §2.13).",
)
def stream_batch_parity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import read_events_stream, run_to_memory, stream_hourly_rollup

    # FileStreamSource needs a directory: read the staged events copy.
    # count-only output so stream-vs-batch sum ordering cannot differ.
    stream = read_events_stream(spark, _events_feed(spark, sf_dir))
    rolled = stream_hourly_rollup(stream, watermark="0 seconds").select(
        "hour_start", "event_type", "n_events"
    )
    return run_to_memory(rolled, "complete", "rollup").select(
        F.unix_micros("hour_start").alias("hour_us"), "event_type", "n_events"
    )


@register(
    "s9_external_process_pipe",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value * 2 AS DECIMAL(14,4))) AS DOUBLE), 4) AS sum_doubled
FROM events
GROUP BY event_type
""",
    doc="S9 external-process escape hatch (reference: predictive_"
    "evaluator.py:370-394): every Arrow batch pipes through a subprocess "
    "as CSV (here a stdlib-csv python script doubling `value`), one "
    "process per batch across the cluster, Spark task retry as crash "
    "isolation. Aggregates of the transformed stream match the in-engine "
    "oracle.",
)
def s9_external_process_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import sys

    from ..sources.external import pipe_through_process

    ev = Catalog(spark, sf_dir).table("events").select("event_id", "event_type", "value")
    # stdlib-only child: the pipe spawns one process per Arrow batch, so
    # a heavyweight import in the child is per-process init cost paid
    # ~16x per run (guide §4.5) — measured ~1-4 s/spawn for pandas vs
    # ~0.05 s for the bare interpreter. Doubling a float64 is exact and
    # repr() round-trips, so the parent parses bit-identical values.
    script = (
        "import sys, csv\n"
        "rows = csv.reader(sys.stdin)\n"
        "out = csv.writer(sys.stdout, lineterminator='\\n')\n"
        "header = next(rows)\n"
        "i = header.index('value')\n"
        "out.writerow(header)\n"
        "for row in rows:\n"
        "    if row[i]:\n"
        "        row[i] = repr(2 * float(row[i]))\n"
        "    out.writerow(row)\n"
    )
    out = pipe_through_process(
        ev.repartition(8),
        [sys.executable, "-c", script],
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
    )
    return out.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(14,4)")).cast("double"), 4
        ).alias("sum_doubled"),
    )


@register(
    "stream_session_parity",
    oracle="""
WITH marks AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marks
)
SELECT user_id, epoch_us(MIN(ts)) AS session_start_us, COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
    doc="Session-window parity: per-user 30-minute-gap sessions computed "
    "by Structured Streaming's session_window (availableNow over a "
    "staged copy) must equal the batch gaps-and-islands sessionization "
    "the oracle runs — the sessionization operator, checked both ways "
    "(SURVEY §2.13).",
)
def stream_session_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import read_events_stream, run_to_memory, stream_session_stats

    stream = read_events_stream(spark, _events_feed(spark, sf_dir))
    sessions = stream_session_stats(
        stream, gap="30 minutes", watermark="0 seconds"
    ).select("user_id", "session_start", "n_events")
    return run_to_memory(sessions, "complete", "sess").select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        "n_events",
    )


@register(
    "stream_dedup_parity",
    oracle="""
SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
FROM events
GROUP BY event_type
""",
    doc="Streaming keep-first dedup parity: dropDuplicatesWithinWatermark "
    "on event_id over the staged stream (P3's streaming form, bounded "
    "state) must retain exactly the batch COUNT(DISTINCT event_id) per "
    "type (SURVEY §2.13).",
)
def stream_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import read_events_stream, run_to_memory, stream_dedup_keep_first

    stream = read_events_stream(spark, _events_feed(spark, sf_dir))
    kept = stream_dedup_keep_first(stream, watermark="0 seconds").select(
        "event_id", "event_type"
    )
    return run_to_memory(kept, "append", "dedup").groupBy("event_type").agg(
        F.countDistinct("event_id").alias("n_unique")
    )


def curated_doc_stream(stream: DataFrame) -> DataFrame:
    """The curation plan over a streaming documents frame: quality filter
    → fingerprint → watermarked keep-first dedup on (lang, fp).

    Deterministic ingest-time stand-in (a Kafka feed supplies the real
    one): doc_id as microseconds, offset a day past the epoch — the
    stream's initial watermark IS the epoch, and a row AT the watermark
    is late-dropped, so doc_id 0 must not map onto it. The staged
    corpus spans far less than the 1 h delay, so within-watermark dedup
    == global dedup here, while a continuous feed gets O(watermark)
    state, not O(corpus). tests/test_plans.py pins the state operator.
    """
    from ..functions import text as TX

    punct = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), r"""[\.,;:!\?'"\(\)\[\]\-]""", "")
    )
    return (
        stream.filter(F.length("text") >= 50)
        .filter(punct / F.length("text").cast("double") <= 0.2)
        .withColumn("fp", TX.fingerprint(F.col("text")))
        .withColumn(
            "ingest_ts", F.timestamp_micros(F.col("doc_id") + F.lit(86_400_000_000))
        )
        .withWatermark("ingest_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["lang", "fp"])
        .select("doc_id", "lang")
    )


@register(
    "stream_corpus_curation_parity",
    oracle=r"""
SELECT lang,
       COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))
         AS n_docs
FROM documents
WHERE length(text) >= 50
  AND (length(text) - length(regexp_replace(text, '[\.,;:!\?''"\(\)\[\]\-]', '', 'g')))
      / CAST(length(text) AS DOUBLE) <= 0.2
GROUP BY lang
""",
    doc="Streaming ingest curation (SURVEY §2.13 x the LLM-pipeline "
    "brief): a document feed read as a stream, quality-filtered and "
    "exact-deduped on the normalized-text fingerprint per language with "
    "BOUNDED state — dropDuplicatesWithinWatermark over a deterministic "
    "ingest-time column, so fingerprint state expires with the watermark "
    "on a continuous 100 TB feed instead of growing forever "
    "(stream_dedup_parity's pattern, applied to the corpus funnel); "
    "appended to the sink; per-lang counts must equal the batch "
    "COUNT(DISTINCT fingerprint) over quality-passing docs. Same "
    "expressions as corpus_curation_pipeline's first two stages, only "
    "the source differs.",
)
def stream_corpus_curation_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import run_to_memory

    docs = Catalog(spark, sf_dir).table("documents")
    base = _staged_feed(
        spark, "stream_docs", sf_dir,
        lambda p: docs.write.mode("overwrite").parquet(p),
    )
    stream = spark.readStream.schema(docs.schema).parquet(base)
    curated = run_to_memory(curated_doc_stream(stream), "append", "curate")
    return curated.groupBy("lang").agg(F.count("*").alias("n_docs"))


_PIN_STREAM_REGIME_GENERATE_PARITY = """
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(120 AS BIGINT), CAST(120 AS BIGINT), CAST(120 AS BIGINT), CAST(3 AS BIGINT), TRUE),
  (CAST(1 AS BIGINT), CAST(120 AS BIGINT), CAST(120 AS BIGINT), CAST(120 AS BIGINT), CAST(3 AS BIGINT), TRUE),
  (CAST(2 AS BIGINT), CAST(120 AS BIGINT), CAST(120 AS BIGINT), CAST(120 AS BIGINT), CAST(3 AS BIGINT), TRUE)
) AS t("series_id", "n_steps", "n_price_eq", "n_regime_eq", "n_regimes_seen", "exact_match")
"""


@register(
    "stream_regime_generate_parity",
    oracle=_PIN_STREAM_REGIME_GENERATE_PARITY,  # r11 pinned VALUES at sf0.01 (tools/pin_oracles.py):
    # deterministic seeded computation, verified bit-identical across
    # independent processes AND under the plain-session gate layout
    pinned_sf="0.01",
    doc="ONLINE G6/G7 generator (SURVEY §2.13): per-series "
    "applyInPandasWithState runs the regime-Markov + AR(1)+GARCH "
    "recursion over a STREAM of tick requests (several micro-batches "
    "via maxFilesPerTrigger=1), state = (step, prev_r, sig2, regime, "
    "log_price) — O(1) per series key, bounded by construction. The "
    "per-tick rng re-derives from splitmix64(seed, series_id, step), "
    "so the path is invariant to micro-batch boundaries. The batch "
    "twin (online_generate_batch) shares the SAME tick kernel "
    "(streaming/stateful.py:_online_ticks); this query joins the two "
    "outputs per (series_id, step) and emits per-series match stats — "
    "exact_match must be true for every series. Model/GARCH params "
    "come from the shared g7 artifact cache (no refit).",
)
def stream_regime_generate_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..streaming import run_to_memory
    from ..streaming.stateful import online_generate_batch, stream_online_generator
    from .regime_queries import _click_series, _fitted_garch, _fitted_model

    from concurrent.futures import ThreadPoolExecutor

    ev = _click_series(spark, sf_dir)
    # p0 overlaps the shared fit chain (guide §2.6, as in g7/m9)
    with ThreadPoolExecutor(max_workers=1) as pool:
        p0_f = pool.submit(
            lambda: float(ev.orderBy("ts", "event_id").select("value").first()[0])
        )
        model = _fitted_model(spark, sf_dir)
        garch = _fitted_garch(spark, sf_dir, model)
        p0 = p0_f.result()
    trans_cum = np.cumsum(model.trans, axis=1)
    start_cum = np.cumsum(model.start)
    stats = model.stats
    n_series, n_ticks = 3, 120

    # tick requests staged as several files → several micro-batches.
    # 3 files, 1 per trigger: parity must stay a multi-batch replay
    # (every series' recursion crosses batch boundaries), but each
    # trigger is a full state-store commit cycle — the harness floor
    # (the r12 span-twin lesson, applied here in r13: 6→3 triggers).
    # staged once per session (r14): the tick grid is a constant —
    # identical files either way, one staging write instead of one per run
    def _write_ticks(p: str) -> None:
        spark.createDataFrame(
            [(int(s), int(t)) for s in range(n_series) for t in range(n_ticks)],
            "series_id LONG, tick LONG",
        ).repartition(3).write.mode("overwrite").parquet(p)

    base = _staged_feed(spark, "stream_ticks", sf_dir, _write_ticks)
    stream = (
        spark.readStream.schema("series_id LONG, tick LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    # 3 series keys need nowhere near the session's 32-200 state
    # partitions: narrow bounds the per-trigger state-store commit
    # fan-out. The tick values are batch- and partition-invariant by
    # construction (counter RNG), so the pinned panel is unchanged.
    generated = stream_online_generator(
        stream, trans_cum, start_cum, stats, garch, seed=42, p0=p0
    )
    streamed = run_to_memory(generated, "append", "gen", narrow=True).select(
        "series_id", "step", F.col("regime").alias("regime_s"),
        F.col("price").alias("price_s"),
    )
    batch = online_generate_batch(
        spark, n_series, n_ticks, trans_cum, start_cum, stats, garch,
        seed=42, p0=p0,
    ).select(
        "series_id", "step", F.col("regime").alias("regime_b"),
        F.col("price").alias("price_b"),
    )
    joined = streamed.join(batch, ["series_id", "step"], "full_outer")
    return (
        joined.groupBy("series_id")
        .agg(
            F.count("step").alias("n_steps"),
            F.sum(F.when(F.col("price_s") == F.col("price_b"), 1).otherwise(0)).alias("n_price_eq"),
            F.sum(F.when(F.col("regime_s") == F.col("regime_b"), 1).otherwise(0)).alias("n_regime_eq"),
            F.countDistinct("regime_s").alias("n_regimes_seen"),
            (
                (F.count("step") == F.lit(n_ticks))
                & (F.sum(F.when(F.col("price_s") == F.col("price_b"), 1).otherwise(0)) == F.lit(n_ticks))
                & (F.sum(F.when(F.col("regime_s") == F.col("regime_b"), 1).otherwise(0)) == F.lit(n_ticks))
            ).alias("exact_match"),
        )
        .orderBy("series_id")
    )


@register(
    "stream_pq_encode_parity",
    # Pinned-value oracle (r9): the summary is fully determined —
    # n_vectors is the sf0.01 embeddings rowcount and the parity
    # contract (stream codes == batch codes, exactly, per vector) must
    # hold bit-for-bit because both sides share the same broadcast
    # codebooks from a seeded fit. Any codebook/encoder drift flips
    # exact_match and fails the gate.
    oracle="""SELECT * FROM (VALUES
  (CAST(500 AS BIGINT), CAST(500 AS BIGINT), TRUE)
) AS t(n_vectors, n_code_matches, exact_match)""",
    pinned_sf="0.01",
    doc="Streaming embedding-ingest PQ encoding with batch parity: "
    "codebooks train OFFLINE (seeded sample, functions/vectors."
    "fit_pq_codebooks), then the same broadcast-codebook "
    "pq_encode_frame pass runs over (a) the staged embeddings as a "
    "file stream (availableNow micro-batches) and (b) the batch frame. "
    "Output: per-corpus summary with n_vectors, n_code_matches and "
    "exact_match — a continuous ANN-index ingest (new embeddings "
    "PQ-encode on arrival, 4 bits/subspace into the code store) must "
    "produce bit-identical codes to an offline rebuild, or the index "
    "silently degrades. Stateless per batch: the stream side needs no "
    "watermark and O(1) state at any corpus size.",
)
def stream_pq_encode_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..functions.vectors import fit_pq_codebooks, pq_encode_frame
    from ..streaming import run_to_memory

    emb = Catalog(spark, sf_dir).table("embeddings")
    # staged once per session (r14, the _staged_feed discipline):
    # identical writer, identical content, one staging write per session
    base = _staged_feed(
        spark, "stream_emb", sf_dir,
        lambda p: emb.write.mode("overwrite").parquet(p),
    )

    sample = emb.orderBy("vec_id").limit(4096).collect()
    x = np.array(
        [np.asarray(r["embedding"], dtype=np.float64) for r in sample]
    )
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    books = fit_pq_codebooks(x, m=8, k=16, seed=42)

    stream = spark.readStream.schema(emb.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(base)
    streamed = run_to_memory(
        pq_encode_frame(stream, books), "append", "pqenc"
    ).select(
        F.col("neighbor_id").alias("vec_id"), F.col("codes").alias("s_codes")
    )
    batch = pq_encode_frame(emb, books).select(
        F.col("neighbor_id").alias("vec_id"), F.col("codes").alias("b_codes")
    )
    joined = streamed.join(batch, "vec_id").select(
        "vec_id", (F.col("s_codes") == F.col("b_codes")).alias("match")
    )
    return joined.agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.col("match").cast("long")).alias("n_code_matches"),
        (F.count("*") == F.sum(F.col("match").cast("long"))).alias("exact_match"),
    )


@register(
    "stream_decontamination_parity",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t
  FROM documents WHERE len(string_split(text, ' ')) >= 3
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap_grams
FROM grams g JOIN bench b USING (g)
WHERE g.doc_id % 97 != 0
GROUP BY g.doc_id ORDER BY g.doc_id
""",
    doc="STREAM-STATIC broadcast join (SURVEY §2.13 × the "
    "decontamination brief): documents arrive as a file stream, "
    "per-doc-distinct word trigrams explode batch-side-identically "
    "(array_distinct before the explode), and each micro-batch joins "
    "the STATIC benchmark gram set — broadcast, stateless, no "
    "watermark: a stream-static inner join keeps zero streaming state "
    "regardless of corpus size, the right shape for continuously "
    "decontaminating a 100 TB ingest against a fixed benchmark suite. "
    "Matched (doc_id, gram) rows append to the sink; the per-doc "
    "overlap counts (batch-aggregated from the sink, exactly the "
    "pattern of stream_corpus_curation_parity) must equal the batch "
    "decontamination_ngram_overlap output, and the oracle is that "
    "query's SQL verbatim.",
)
def stream_decontamination_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import run_to_memory
    from .text_queries import _decon_gram_frames

    docs = Catalog(spark, sf_dir).table("documents")
    # same staged content as the curation twin — share its feed
    base = _staged_feed(
        spark, "stream_docs", sf_dir,
        lambda p: docs.write.mode("overwrite").parquet(p),
    )

    # static side: benchmark gram set from the batch reader
    _, bench = _decon_gram_frames(spark, sf_dir)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(base)
    toks = stream.select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 3)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 3),
                    lambda i: F.concat_ws(" ", F.slice("t", i + F.lit(1), 3)),
                )
            )
        ).alias("g"),
    ).filter(F.col("doc_id") % 97 != 0)
    matched = grams.join(F.broadcast(bench), "g").select("doc_id", "g")
    return (
        run_to_memory(matched, "append", "decon")
        .groupBy("doc_id")
        .agg(F.count("*").alias("overlap_grams"))
        .orderBy("doc_id")
    )


@register(
    "s11_orc_roundtrip_summary",
    oracle="""
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       COUNT(DISTINCT md5(text)) AS n_distinct_texts
FROM documents
GROUP BY lang, source ORDER BY lang, source
""",
    doc="ORC source/sink coverage (Spark-native columnar format #2): "
    "documents round-trip parquet -> ORC (zlib, Spark's native writer) "
    "-> DataFrame, then aggregate per (lang, source). The oracle reads "
    "the ORIGINAL parquet — an exact match proves the ORC write/read "
    "preserved every row, string, and count bit-for-bit, which is the "
    "fidelity contract a format migration at 100 TB needs. Write is "
    "cached per sf-dir and idempotent (overwrite).",
)
def s11_orc_roundtrip_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch(spark, "orc", sf_dir)
    docs = Catalog(spark, sf_dir).table("documents")
    docs.write.mode("overwrite").orc(f"{base}/documents")
    back = spark.read.orc(f"{base}/documents")
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        )
        .orderBy("lang", "source")
    )


@register(
    "s12_small_file_compaction",
    oracle="""
SELECT CAST(64 AS BIGINT) AS files_before,
       CAST(4 AS BIGINT) AS files_after,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
""",
    doc="Small-file compaction — the #1 storage-maintenance op on a "
    "100 TB lake (tiny files strangle scan parallelism setup and NN "
    "metadata): events written as 64 shards, compacted via "
    "repartition(4) into 4, both layouts verified by filesystem "
    "listing (the reported file counts are MEASURED, not assumed) and "
    "the compacted copy re-aggregated. The oracle reads the original "
    "events — matching totals prove compaction lost/duplicated "
    "nothing; decimal sums keep the check exact.",
)
def s12_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch(spark, "compact", sf_dir)
    ev = Catalog(spark, sf_dir).table("events")
    ev.repartition(64).write.mode("overwrite").parquet(f"{base}/small")
    small = spark.read.parquet(f"{base}/small")
    small.repartition(4).write.mode("overwrite").parquet(f"{base}/compact")

    def _n_parquet(d: str) -> int:
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    files_before = _n_parquet(f"{base}/small")
    files_after = _n_parquet(f"{base}/compact")
    back = spark.read.parquet(f"{base}/compact")
    return back.agg(
        F.lit(files_before).cast("bigint").alias("files_before"),
        F.lit(files_after).cast("bigint").alias("files_after"),
        F.count("*").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "s13_jsonl_roundtrip_summary",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_ts_us,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_ts_us
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc="JSON-lines source/sink coverage (format #3 after CSV and "
    "ORC): events round-trip parquet -> JSONL (timestamps written as "
    "epoch microseconds so the text format loses no precision — raw "
    "JSON timestamps truncate to millis) -> schema-enforced read -> "
    "aggregate. The oracle reads the ORIGINAL parquet; matching "
    "decimal sums and exact microsecond endpoints prove the text "
    "round-trip is lossless. Explicit read schema keeps the scan "
    "one-pass (no inference job).",
)
def s13_jsonl_roundtrip_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch(spark, "jsonl", sf_dir)
    ev = Catalog(spark, sf_dir).table("events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    ev.write.mode("overwrite").json(f"{base}/events")
    back = spark.read.schema(
        "event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    ).json(f"{base}/events")
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.min("ts_us").cast("bigint").alias("first_ts_us"),
            F.max("ts_us").cast("bigint").alias("last_ts_us"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_funnel_parity",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
), staged AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts_us END) AS first_view
  FROM e GROUP BY user_id
), clicks AS (
  SELECT e.user_id, MIN(e.ts_us) AS first_click
  FROM e JOIN staged s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts_us > s.first_view
  GROUP BY e.user_id
), purchases AS (
  SELECT e.user_id, MIN(e.ts_us) AS first_purchase
  FROM e JOIN clicks c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts_us > c.first_click
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM staged WHERE first_view IS NOT NULL) AS n_view,
       (SELECT COUNT(*) FROM clicks) AS n_view_click,
       (SELECT COUNT(*) FROM purchases) AS n_view_click_purchase
""",
    doc="Streaming funnel parity (SURVEY §2.13 custom stateful "
    "operator): the per-user view->click->purchase state machine runs "
    "in applyInPandasWithState over the ORDER-INDEPENDENT funnel_merge "
    "kernel (streaming/stateful.py) — events are deliberately staged "
    "as 8 hash-shuffled files fed 2 per micro-batch, so every batch "
    "carries out-of-order and late events; each user's final emission "
    "(max_by emit_seq) must still equal the BATCH funnel SQL the "
    "oracle runs — the same oracle as funnel_view_click_purchase, so "
    "the batch window-chain, the staged-join SQL, and the streaming "
    "state machine are three independent derivations pinned to one "
    "answer. No coalesce(1), no ordering assumption: the merge is a "
    "pure set operation whose buffers hold only events below the "
    "current stage anchors (watermark-prunable in production).",
)
def stream_funnel_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import read_events_stream, run_to_memory, stream_funnel_stages

    # 8 hash-shuffled files: each spans the full time range, so both
    # intra-batch disorder and cross-batch late arrivals are exercised.
    # Staged once per session (r14, the _staged_feed discipline): the
    # round-robin repartition(8) of the same input through the same
    # writer is deterministic, so re-runs read the identical feed.
    base = _staged_feed(
        spark, "stream_funnel", sf_dir,
        lambda p: Catalog(spark, sf_dir).table("events").repartition(8)
        .write.mode("overwrite").parquet(p),
    )
    # 8 files, 3 per trigger → 3 micro-batches (r13, the span-twin
    # trigger trim): cross-batch late arrivals are still exercised
    # (every file spans the full time range), but each avoided trigger
    # is a full state-store commit cycle. 8 state partitions bound the
    # commit fan-out; the funnel kernel is ORDER-INDEPENDENT and the
    # oracle aggregates global counts, so neither change can move the
    # checked answer.
    stream = read_events_stream(spark, base, max_files_per_trigger=3).select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    emitted = run_to_memory(
        stream_funnel_stages(stream), "update", "funnel", narrow=True
    )
    final = emitted.groupBy("user_id").agg(
        F.max_by(
            F.struct("first_view", "first_click", "first_purchase"), "emit_seq"
        ).alias("s")
    )
    return final.agg(
        F.count(F.when(F.col("s.first_view") >= 0, 1)).alias("n_view"),
        F.count(F.when(F.col("s.first_click") >= 0, 1)).alias("n_view_click"),
        F.count(F.when(F.col("s.first_purchase") >= 0, 1)).alias(
            "n_view_click_purchase"
        ),
    )


@register(
    "s14_python_datasource_ticks",
    # Pinned-value oracle (r9): every tick is a pure function of
    # (seed=42, series, step) via the counter-based splitmix64 kernel
    # — one partition per series, so the float moment aggregation is
    # order-stable too. Literals captured via tools/pin_oracles.py
    # (values are seed-determined, data-independent; exact parity vs a
    # local recomputation also pinned in tests/test_ml_and_sources.py).
    oracle="""SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(5000 AS BIGINT), CAST(-0.183986 AS DOUBLE),
   CAST(0.296891 AS DOUBLE), CAST(-0.878923 AS DOUBLE), CAST(0.428084 AS DOUBLE)),
  (CAST(1 AS BIGINT), CAST(5000 AS BIGINT), CAST(-0.438066 AS DOUBLE),
   CAST(0.409131 AS DOUBLE), CAST(-1.080439 AS DOUBLE), CAST(0.416433 AS DOUBLE)),
  (CAST(2 AS BIGINT), CAST(5000 AS BIGINT), CAST(-0.119891 AS DOUBLE),
   CAST(0.466429 AS DOUBLE), CAST(-1.21255 AS DOUBLE), CAST(0.733236 AS DOUBLE)),
  (CAST(3 AS BIGINT), CAST(5000 AS BIGINT), CAST(-0.05585 AS DOUBLE),
   CAST(0.151537 AS DOUBLE), CAST(-0.414739 AS DOUBLE), CAST(0.299225 AS DOUBLE)),
  (CAST(4 AS BIGINT), CAST(5000 AS BIGINT), CAST(0.459458 AS DOUBLE),
   CAST(0.21281 AS DOUBLE), CAST(0.010003 AS DOUBLE), CAST(1.030283 AS DOUBLE)),
  (CAST(5 AS BIGINT), CAST(5000 AS BIGINT), CAST(0.203651 AS DOUBLE),
   CAST(0.228821 AS DOUBLE), CAST(-0.302222 AS DOUBLE), CAST(0.730751 AS DOUBLE)),
  (CAST(6 AS BIGINT), CAST(5000 AS BIGINT), CAST(0.262866 AS DOUBLE),
   CAST(0.253602 AS DOUBLE), CAST(-0.253849 AS DOUBLE), CAST(0.822807 AS DOUBLE)),
  (CAST(7 AS BIGINT), CAST(5000 AS BIGINT), CAST(0.150757 AS DOUBLE),
   CAST(0.251173 AS DOUBLE), CAST(-0.358453 AS DOUBLE), CAST(0.611025 AS DOUBLE))
) AS t(series_id, n, mean, std, vmin, vmax)""",
    doc="Custom Python DataSource (Spark 4 pyspark.sql.datasource): "
    "the tick generator as a first-class `spark.read.format('sdg_"
    "ticks')` source — planning emits one InputPartition per series, "
    "executors draw with the counter-based splitmix64 kernel, so "
    "every value is a pure function of (seed, series, step) and the "
    "read is embarrassingly parallel with zero driver generation. "
    "Output: per-series moment panel over 8x5000 generated ticks.",
)
def s14_python_datasource_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pyds import register_sdg_ticks

    register_sdg_ticks(spark)
    ticks = (
        spark.read.format("sdg_ticks")
        .option("seed", 42)
        .option("n_series", 8)
        .option("n_ticks", 5000)
        .load()
    )
    return (
        ticks.groupBy("series_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("mean"),
            F.round(F.stddev_samp("value"), 6).alias("std"),
            F.round(F.min("value"), 6).alias("vmin"),
            F.round(F.max("value"), 6).alias("vmax"),
        )
        .orderBy("series_id")
    )


@register(
    "stream_repeated_span_parity",
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
    doc="STREAMING twin of dedup_repeated_ngram_spans, sharing its "
    "batch SQL oracle: documents arrive as 6 hash-shuffled files, 2 "
    "per micro-batch (3 triggers — r12 trimmed the replay to the "
    "multi-batch minimum), so hot grams routinely straddle batches. Gram "
    "extraction is STATELESS array algebra (zip_with positions + "
    "try_element_at slices — window functions are not stream-legal), "
    "then applyInPandasWithState keyed by gram buffers each first "
    "occurrence and flushes it the moment its gram turns hot "
    "(streaming/stateful.stream_hot_gram_positions: O(1) state per "
    "gram, every position emitted exactly once), and the final span "
    "assembly runs order-insensitive islands over the emitted "
    "position SET — any micro-batch partitioning of the corpus yields "
    "the same spans, which is exactly what the shared oracle checks.",
)
def stream_repeated_span_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import run_to_memory
    from ..streaming.stateful import stream_hot_gram_positions

    K = 5
    docs = (
        Catalog(spark, sf_dir)
        .table("documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "text")
    )
    # 6 files, 2 per trigger -> 3 micro-batches: parity must stay a
    # multi-batch replay (hot grams straddle batches), but every extra
    # trigger is a full state-store commit cycle — the harness floor.
    # r12 measured the 4->3 trigger cut + 8 state partitions (below)
    # at 7.9 -> 4.6 s warm at sf0.1 with parity unchanged. Staged once
    # per session (r14, the _staged_feed discipline): the hash
    # repartition on doc_id through the same writer is deterministic,
    # so re-runs read the identical 6-file feed.
    base = _staged_feed(
        spark, "stream_spans", sf_dir,
        lambda p: docs.repartition(6, F.col("doc_id"))
        .write.mode("overwrite").parquet(p),
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(base)
    )

    raw = F.split(F.lower(F.trim("text")), r"\s+")
    idx = F.sequence(F.lit(1), F.size(raw))  # 1-based raw positions
    pairs_expr = F.filter(
        F.zip_with(idx, raw, lambda i, t: F.struct(i.alias("pos"), t.alias("tok"))),
        lambda s: s["tok"] != "",
    )
    # materialize the filtered token array in its OWN projection and
    # reference it as an attribute below: inlining `pairs_expr` into
    # every try_element_at re-evaluates the whole split+zip+filter
    # chain per array access — O(tokens²) per doc, measured 59 s for
    # the sf0.1 extraction vs 7 s materialized (CollapseProject keeps
    # multi-referenced non-cheap expressions in their own stage)
    staged = stream.select("doc_id", pairs_expr.alias("pairs"))
    pairs = F.col("pairs")

    def gram_at(i):
        toks = [F.try_element_at(pairs, i + j)["tok"] for j in range(K)]
        return F.when(
            i + (K - 1) <= F.size(pairs),
            F.struct(
                F.try_element_at(pairs, i)["pos"].cast("long").alias("pos"),
                F.concat_ws(" ", *toks).alias("g"),
            ),
        )

    grams = F.filter(
        F.transform(F.sequence(F.lit(1), F.size(pairs)), gram_at),
        lambda s: s.isNotNull(),
    )
    occ = staged.select("doc_id", F.explode(grams).alias("gr")).select(
        "doc_id", F.col("gr.pos").alias("pos"), F.col("gr.g").alias("g")
    )

    # narrow: 8 state partitions means 8 state-store commits per
    # trigger instead of the session's 32-200, with the 256 gram
    # buckets spread 32-per-partition — the commit cost is the harness
    # floor, the python-call count is unchanged. The width is restored
    # before the batch span assembly below. Parity is
    # partition-count-invariant (the emitted position SET is what
    # downstream consumes).
    hot = run_to_memory(
        stream_hot_gram_positions(occ), "append", "spans", narrow=True
    )

    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = hot.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(w) > K, 1).otherwise(0).alias("brk"),
    )
    grp = brk.select(
        "doc_id",
        "pos",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("gid"),
    )
    return grp.groupBy("doc_id", "gid").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (K - 1)).alias("span_end"),
        F.count("*").alias("n_grams"),
    ).select("doc_id", "span_start", "span_end", "n_grams")


from ..functions import pii as _PII  # noqa: E402  (shared with the batch family)

# derived from PII_TYPES so a new pattern class (e.g. r12's cc) can
# never drift this oracle from the Spark side's pii_total
_PII_STREAM_TOTAL = " + ".join(
    f"len(regexp_extract_all(ptext, '{pat}'))" for _, pat, _ in _PII.PII_TYPES
)


@register(
    "stream_pii_scrub_parity",
    oracle=f"""
WITH p AS (
  SELECT doc_id, {_PII.PII_TEXT_DUCK_SQL} AS ptext FROM documents
)
SELECT doc_id,
       {_PII_STREAM_TOTAL} AS n_redactions,
       md5({_PII.duck_redact_sql('ptext')}) AS redacted_fp
FROM p ORDER BY doc_id
""",
    doc="STREAMING twin of corpus_pii_scrub (SURVEY §2.13 × the PII "
    "family): documents arrive as a 4-file stream (one per "
    "micro-batch), each batch is scrubbed STATELESSLY — the PII "
    "redaction is per-row regex, so the streaming plan keeps ZERO "
    "state, needs no watermark, and its output is trivially "
    "batch-split-invariant: the right shape for scrubbing a 100 TB "
    "continuous ingest where every other curation stage "
    "(dedup/funnel) needs keyed state but the PII pass never does. "
    "Per-doc (n_redactions, redacted_fp) rows append to the sink; the "
    "oracle is the batch scrub SQL verbatim — stream == batch "
    "bit-exact, including the md5 of every redacted text.",
)
def stream_pii_scrub_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import run_to_memory

    PII = _PII

    docs = Catalog(spark, sf_dir).table("documents")
    # 4 files -> 4 micro-batches: parity must survive batch splits
    # (shared with the quality-score twin: identical staged content)
    base = _staged_feed(
        spark, "stream_docs4", sf_dir,
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
    )

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(base)
    scrubbed = stream.select(
        "doc_id", PII.pii_text().alias("ptext")
    ).select(
        "doc_id",
        PII.pii_total("ptext").alias("n_redactions"),
        F.md5(PII.pii_redact("ptext")).alias("redacted_fp"),
    )

    return run_to_memory(scrubbed, "append", "piiscrub").orderBy("doc_id")


@register(
    "stream_quality_score_parity",
    # oracle = the BATCH quality_classifier_score's parquet-captured
    # pin, shared verbatim: the stream twin must reproduce the batch
    # scorer's per-doc panel bit-for-bit (stateless map, so batch
    # splits cannot move any value) — one pin, two engines' worth of
    # parity in the gate
    oracle=pinned_parquet_oracle("quality_classifier_score"),
    pinned_sf="0.01",
    doc="STREAMING twin of quality_classifier_score (SURVEY §2.13 × "
    "the r13 classifier family): the NB weights fit ONCE offline on "
    "the static corpus (the shared session fit memo — same artifact "
    "the batch scorer and the v3 funnel use), then documents arrive "
    "as a 4-file stream and every micro-batch is scored STATELESSLY "
    "— weights ride as broadcast plan literals, per-row within-array "
    "fold, ZERO state, no watermark: the right shape for scoring a "
    "100 TB continuous ingest (the FineWeb/DCLM filters run exactly "
    "this way — train offline, score the crawl as it lands). Output "
    "is the batch scorer's per-doc panel verbatim and the oracle IS "
    "the batch pin, so stream == batch is checked bit-exactly per "
    "document including the double scores.",
)
def stream_quality_score_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import quality_clf as QC
    from ..streaming import run_to_memory

    docs = Catalog(spark, sf_dir).table("documents")
    train_base = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", QC.tokens(F.col("text")).alias("_toks"))
        .withColumn("_weak", QC.weak_label(F.col("_toks")))
        .withColumn("_fids", QC.features(F.col("_toks")))
    )
    prior, weights = QC.cached_fit(spark, sf_dir, train_base)

    base = _staged_feed(
        spark, "stream_docs4", sf_dir,
        lambda p: docs.repartition(4).write.mode("overwrite").parquet(p),
    )
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(base)

    staged = (
        stream.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "lang", QC.tokens(F.col("text")).alias("_toks"))
        .withColumn("_weak", QC.weak_label(F.col("_toks")))
        .withColumn("_fids", QC.features(F.col("_toks")))
        .withColumn("_w", F.array(*[F.lit(float(w)) for w in weights]))
    )
    sc = QC.score(F.col("_fids"), F.col("_w"), prior)
    scored = staged.select(
        "doc_id",
        "lang",
        F.size("_toks").alias("n_tokens"),
        F.col("_weak").alias("weak_label"),
        F.round(sc, 9).alias("score"),
        (sc > 0).cast("int").alias("pred"),
    )

    return run_to_memory(scored, "append", "qscore").orderBy("doc_id")
