"""Event-analytics queries over `events`: sessionization, funnel
conversion, cohort retention — the interactive-analytics triad every
OLAP engine ships next to its relational core (beyond-reference
surface, same spirit as the resample/pivot extras).

Parity notes: all time arithmetic runs on epoch MICROSECONDS (BIGINT,
exact in both engines — never float seconds); session/funnel orderings
carry event_id tiebreakers; cohort math is pure integer day offsets
from the corpus epoch, sidestepping engine week-truncation semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources import Catalog
from .base import register

_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Catalog(spark, sf_dir).table("events")


@register(
    "event_sessionization",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), g AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN ts_us - LAG(ts_us) OVER w > {_GAP_US}
              OR LAG(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS boundary
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), s AS (
  SELECT user_id, ts_us,
         SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         MAX(ts_us) - MIN(ts_us) AS dur_us
  FROM s GROUP BY user_id, session_id
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events,
       CAST(MAX(dur_us) AS BIGINT) AS max_session_dur_us
FROM per_session GROUP BY user_id ORDER BY user_id
""",
    doc="Batch sessionization: a new session starts after a 30-minute "
    "silence. Boundary flags via LAG, session ids via running SUM — "
    "both windows share one (user_id) partition spec, so the plan is "
    "a single hash-partition exchange followed by two hash aggs; no "
    "global sort, no SinglePartition. The batch twin of the streaming "
    "session-window parity query (streaming/stateful.py), on exact "
    "integer microseconds.",
)
def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    boundary = F.when(
        (F.col("ts_us") - F.lag("ts_us").over(w) > _GAP_US)
        | F.lag("ts_us").over(w).isNull(),
        1,
    ).otherwise(0)
    s = e.withColumn("boundary", boundary).withColumn(
        "session_id",
        F.sum("boundary").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("dur_us"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.max("n_events").cast("bigint").alias("max_session_events"),
            F.max("dur_us").cast("bigint").alias("max_session_dur_us"),
        )
        .orderBy("user_id")
    )


@register(
    "funnel_view_click_purchase",
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
       (SELECT COUNT(*) FROM purchases) AS n_view_click_purchase,
       ROUND((SELECT COUNT(*) FROM clicks)
             / CAST((SELECT COUNT(*) FROM staged WHERE first_view IS NOT NULL) AS DOUBLE), 6)
         AS click_conversion,
       ROUND((SELECT COUNT(*) FROM purchases)
             / CAST(GREATEST((SELECT COUNT(*) FROM clicks), 1) AS DOUBLE), 6)
         AS purchase_conversion
""",
    doc="Ordered funnel view -> click -> purchase: each stage requires "
    "an event strictly after the user's previous-stage timestamp. "
    "Spark computes all three stage timestamps with conditional MINs "
    "over ONE user-partitioned window chain (single shuffle on "
    "user_id, no self-joins); the oracle spells the same semantics as "
    "staged joins, which pins the ordering logic from an independent "
    "direction. Output is the stage-count funnel with conversion "
    "rates.",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    wu = Window.partitionBy("user_id")
    fv = F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(wu)
    e2 = e.withColumn("first_view", fv)
    fc = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts_us") > F.col("first_view")),
            F.col("ts_us"),
        )
    ).over(wu)
    e3 = e2.withColumn("first_click", fc)
    fp = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts_us") > F.col("first_click")),
            F.col("ts_us"),
        )
    ).over(wu)
    per_user = (
        e3.withColumn("first_purchase", fp)
        .select("user_id", "first_view", "first_click", "first_purchase")
        .distinct()
    )
    return per_user.agg(
        F.count(F.col("first_view")).alias("n_view"),
        F.count(F.col("first_click")).alias("n_view_click"),
        F.count(F.col("first_purchase")).alias("n_view_click_purchase"),
        F.round(
            F.count(F.col("first_click")) / F.count(F.col("first_view")).cast("double"),
            6,
        ).alias("click_conversion"),
        F.round(
            F.count(F.col("first_purchase"))
            / F.greatest(F.count(F.col("first_click")), F.lit(1)).cast("double"),
            6,
        ).alias("purchase_conversion"),
    )


@register(
    "cohort_retention_weekly",
    oracle="""
WITH e AS (
  SELECT user_id,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day_no
  FROM events
), first_day AS (
  SELECT user_id, MIN(day_no) AS day0 FROM e GROUP BY user_id
), cohorts AS (
  SELECT user_id, day0, CAST(FLOOR((day0 - 19723) / 7) AS BIGINT) AS cohort_week
  FROM first_day
), active AS (
  SELECT DISTINCT c.cohort_week, e.user_id,
         CAST(FLOOR((e.day_no - c.day0) / 7) AS BIGINT) AS week_offset
  FROM e JOIN cohorts c ON e.user_id = c.user_id
), sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM cohorts GROUP BY cohort_week
)
SELECT a.cohort_week, a.week_offset,
       COUNT(*) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       ROUND(COUNT(*) / CAST(s.cohort_size AS DOUBLE), 6) AS retention_frac
FROM active a JOIN sizes s ON a.cohort_week = s.cohort_week
GROUP BY a.cohort_week, a.week_offset, s.cohort_size
ORDER BY a.cohort_week, a.week_offset
""",
    doc="Weekly cohort retention: cohort = integer week of a user's "
    "first event (day 19723 = 2024-01-01 anchors week 0), activity = "
    "distinct (user, week-offset) presence. All integer epoch-day "
    "arithmetic — engine week-truncation semantics (Monday vs Sunday "
    "starts) never enter. Plan: two hash aggs on user_id (first-day + "
    "activity dedup share the shuffle key) and a broadcast of the "
    "tiny cohort-size side.",
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).cast("bigint").alias("day_no"),
    )
    first_day = e.groupBy("user_id").agg(F.min("day_no").alias("day0"))
    cohorts = first_day.withColumn(
        "cohort_week", F.floor((F.col("day0") - 19723) / 7).cast("bigint")
    )
    active = (
        e.join(cohorts, "user_id")
        .select(
            "cohort_week",
            "user_id",
            F.floor((F.col("day_no") - F.col("day0")) / 7).cast("bigint").alias("week_offset"),
        )
        .distinct()
    )
    sizes = cohorts.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    return (
        active.join(F.broadcast(sizes), "cohort_week")
        .groupBy("cohort_week", "week_offset", "cohort_size")
        .agg(F.count("*").alias("n_active"))
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.round(
                F.col("n_active") / F.col("cohort_size").cast("double"), 6
            ).alias("retention_frac"),
        )
        .orderBy("cohort_week", "week_offset")
    )


_CEP_WINDOW_US = 86_400_000_000  # view->purchase completion deadline (24 h)

# DuckDB 1.0.0's list_reduce is NONDETERMINISTIC with struct
# accumulators (same connection, same SQL, different answers run to
# run — even at SET threads=1; found when the mirrored-fold oracle
# disagreed with both Spark and a hand-rolled Python NFA, which agree
# exactly). The oracle therefore spells the NFA as a RECURSIVE CTE —
# one step per per-user event index — which is deterministic AND a
# more independent formulation than mirroring Spark's fold.


_CEP_ORACLE = f"""
WITH RECURSIVE idx AS (
  SELECT user_id, epoch_us(ts) AS ts,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              WHEN 'purchase' THEN 3 WHEN 'error' THEN 4 ELSE 0 END AS code,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts),
              CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                   WHEN 'purchase' THEN 3 WHEN 'error' THEN 4 ELSE 0 END) AS rn
  FROM events
), counts AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
), st AS (
  SELECT user_id, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS phase,
         CAST(0 AS BIGINT) AS tv, CAST(0 AS BIGINT) AS n,
         CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS x
  FROM counts
  UNION ALL
  SELECT s.user_id, s.i + 1,
    CASE WHEN e.code = 4 THEN 0
         WHEN s.phase = 0 AND e.code = 1 THEN 1
         WHEN s.phase = 1 AND e.code = 2 THEN 2
         WHEN s.phase = 2 AND e.code = 3 THEN 0
         ELSE s.phase END,
    CASE WHEN s.phase = 0 AND e.code = 1 THEN e.ts ELSE s.tv END,
    s.n + CASE WHEN s.phase = 2 AND e.code = 3
               AND e.ts - s.tv <= {_CEP_WINDOW_US} THEN 1 ELSE 0 END,
    s.k + CASE WHEN e.code = 4 AND s.phase > 0 THEN 1 ELSE 0 END,
    s.x + CASE WHEN s.phase = 2 AND e.code = 3
               AND e.ts - s.tv > {_CEP_WINDOW_US} THEN 1 ELSE 0 END
  FROM st s JOIN idx e ON e.user_id = s.user_id AND e.rn = s.i + 1
)
SELECT s.user_id, s.n AS n_matches, s.k AS n_error_kills, s.x AS n_expired
FROM st s JOIN counts c ON c.user_id = s.user_id AND s.i = c.cnt
ORDER BY s.user_id
"""


@register(
    "event_pattern_match",
    oracle=_CEP_ORACLE,
    doc="CEP sequential pattern match (MATCH_RECOGNIZE-style, the "
    "operator class Flink CEP / SQL MATCH_RECOGNIZE provide and "
    "Spark SQL lacks): per user, count non-overlapping "
    "view -> click -> purchase completions where the purchase lands "
    "within 24 h of the opening view and NO error event interrupts "
    "(negation: any error aborts the in-progress attempt; skip-past-"
    "last-row after every completion or expired purchase; first-view-"
    "wins while an attempt is open). Also surfaces the dropout "
    "accounting CEP engines report: attempts killed by an error and "
    "purchases that arrived past the deadline. Both engines run the "
    "IDENTICAL 3-state NFA: Spark as a pure F.aggregate fold over the "
    "user's time-ordered event list — every event packs to "
    "ts_us*8+code (one BIGINT, so the sort order is total and "
    "engine-independent; decode is shiftright/mask, never float "
    "division, since ts_us*8 exceeds the 53-bit double mantissa) — "
    "and DuckDB as a recursive CTE advancing every user one event "
    "per step (see the module comment: DuckDB 1.0.0 list_reduce is "
    "nondeterministic with struct accumulators, and the recursive "
    "form is the more independent oracle anyway). "
    "Plan: one hash-partition exchange on user_id (collect_list "
    "partial-merges map-side), fold runs post-shuffle inside "
    "codegen; per-user state is 5 BIGINTs. The per-user event array "
    "is the batch convenience only — the NFA state is O(1), which is "
    "what a streaming deployment of the same fold would carry.",
)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    code = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "error", 4)
        .otherwise(0)
        .cast("long")
    )
    seq = (
        e.select("user_id", (F.unix_micros("ts") * 8 + code).alias("ev"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("ev")).alias("evs"))
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("phase"),
        F.lit(0).cast("long").alias("tv"),
        F.lit(0).cast("long").alias("n"),
        F.lit(0).cast("long").alias("k"),
        F.lit(0).cast("long").alias("x"),
    )

    def _step(a, ev):
        ts = F.shiftright(ev, 3)
        c = ev % 8
        is_err = c == 4
        start = (a.phase == 0) & (c == 1)
        adv = (a.phase == 1) & (c == 2)
        fin = (a.phase == 2) & (c == 3)
        in_win = (ts - a.tv) <= F.lit(_CEP_WINDOW_US)
        return F.struct(
            F.when(is_err, F.lit(0))
            .when(start, F.lit(1))
            .when(adv, F.lit(2))
            .when(fin, F.lit(0))
            .otherwise(a.phase)
            .cast("long")
            .alias("phase"),
            F.when(start, ts).otherwise(a.tv).alias("tv"),
            (a.n + F.when(fin & in_win, 1).otherwise(0)).alias("n"),
            (a.k + F.when(is_err & (a.phase > 0), 1).otherwise(0)).alias("k"),
            (a.x + F.when(fin & ~in_win, 1).otherwise(0)).alias("x"),
        )

    st = F.aggregate("evs", zero, _step)
    # inline(array(st)) materializes the fold ONCE per user via a
    # Generate node — three plain .getField selects re-inline the whole
    # aggregate expression per output column (the plan showed the fold
    # three times in one Project; the bind_once / expression-tree class
    # again, and Spark's subexpression elimination does not merge them
    # because each copy carries fresh lambda-variable exprIds).
    return (
        seq.select("user_id", F.inline(F.array(st)))
        .select(
            "user_id",
            F.col("n").alias("n_matches"),
            F.col("k").alias("n_error_kills"),
            F.col("x").alias("n_expired"),
        )
        .orderBy("user_id")
    )


_TIME_SLICED_FEEDS: dict = {}


def _time_sliced_feed(
    spark: SparkSession, sf_dir: str, kind: str, n_slices: int = 3
) -> str:
    """Write the events table into ``n_slices`` contiguous event-time
    range slices (2 hash-shuffled files each) under a scratch dir,
    mtime-stamping slice i strictly earlier than slice i+1:
    FileStreamSource orders by (mtime, path), so an availableNow
    replay with max_files_per_trigger=2 triggers the slices in
    event-time order — the per-key ordering contract order-sensitive
    streaming consumers (the CEP NFA) and watermark-trailed
    stream-stream joins both rely on, while WITHIN a trigger rows
    still arrive hash-shuffled across the slice's files.

    The feed's CONTENT is identical for every consumer (full events
    table, same slicing), so one session builds it once per
    (app, sf_dir, n_slices) and the CEP and interval-join harnesses
    share the directory read-only — ``kind`` is kept for call-site
    clarity only. The scratch root is applicationId-keyed, so the memo
    can never serve a stale dir from another session."""
    import os
    import time

    from ..functions import memo
    from .source_queries import _scratch

    def build() -> str:
        base = _scratch(spark, "time_sliced_feed", sf_dir)
        ev = _events(spark, sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value", "props",
            F.unix_micros("ts").alias("ts_us"),
        )
        lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
        cuts = [lo + (hi - lo) * i // n_slices for i in range(1, n_slices)]
        bounds = [None, *cuts, None]
        now = time.time()
        stamped: set[str] = set()
        for i in range(n_slices):
            cond = F.lit(True)
            if bounds[i] is not None:
                cond = cond & (F.col("ts_us") >= bounds[i])
            if bounds[i + 1] is not None:
                cond = cond & (F.col("ts_us") < bounds[i + 1])
            ev.where(cond).drop("ts_us").repartition(2).write.mode(
                "append"
            ).parquet(base)
            for f in os.listdir(base):
                path = os.path.join(base, f)
                if f.endswith(".parquet") and path not in stamped:
                    os.utime(path, (now - n_slices + i, now - n_slices + i))
                    stamped.add(path)
        return base

    return memo.app_scoped_memo(_TIME_SLICED_FEEDS, spark, (sf_dir, n_slices), build)


@register(
    "stream_event_pattern_parity",
    oracle=_CEP_ORACLE,
    doc="Streaming twin of event_pattern_match — the shape that "
    "actually deploys at 100 TB: the CEP NFA as "
    "applyInPandasWithState with SIX BIGINTs of state per user, vs "
    "the batch form's per-user event array. CEP is ORDER-DEFINED, so "
    "unlike the order-independent funnel/session twins this parity "
    "asserts the per-key-in-order-delivery contract every production "
    "CEP engine assumes (Kafka partitions by key): the feed is three "
    "sequential time-range slices (mtime-stamped so the file source "
    "triggers them in order), while WITHIN each trigger rows arrive "
    "hash-shuffled across 2 files and the kernel sorts on the packed "
    "ts*8+code key — intra-trigger disorder is exercised, cross-"
    "trigger order is the documented contract. Consumers reduce "
    "per-user emissions with max_by(emit_seq). The oracle is the "
    "SAME recursive-CTE NFA as the batch query: stream == batch == "
    "oracle, exact.",
)
def stream_event_pattern_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import read_events_stream, run_to_memory, stream_cep_pattern

    base = _time_sliced_feed(spark, sf_dir, "stream_cep")
    code = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "error", 4)
        .otherwise(0)
        .cast("long")
    )
    stream = read_events_stream(spark, base, max_files_per_trigger=2).select(
        "user_id", (F.unix_micros("ts") * 8 + code).alias("ev")
    )
    return (
        run_to_memory(
            stream_cep_pattern(stream, _CEP_WINDOW_US), "update", "cep", narrow=True
        )
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_matches", "n_error_kills", "n_expired"), "emit_seq"
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.n_matches").alias("n_matches"),
            F.col("s.n_error_kills").alias("n_error_kills"),
            F.col("s.n_expired").alias("n_expired"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_stream_interval_join_parity",
    oracle="""
WITH c AS (
  SELECT user_id, epoch_us(ts) AS c_ts FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_us(ts) AS p_ts FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(p.p_ts - c.c_ts) AS BIGINT) AS sum_delta_us,
       CAST(MIN(p.p_ts - c.c_ts) AS BIGINT) AS min_delta_us
FROM c JOIN p ON p.user_id = c.user_id
 AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + 3600000000
GROUP BY c.user_id ORDER BY c.user_id
""",
    doc="STREAM-STREAM event-time interval join (the Structured "
    "Streaming capability §2.13 did not yet exercise — joining two "
    "live streams, not stream-vs-static): clicks joined to purchases "
    "of the same user landing within [click, click+1h], both sides "
    "watermarked at 2h so the join STATE is bounded — Spark holds a "
    "click only until the watermark passes click+1h+delay, which is "
    "what makes an infinite two-stream join runnable at all (state "
    "~= traffic of the last 3h per key, not the stream's history). "
    "The feed replays the time-sliced harness (contiguous 10-day "
    "slices, mtime-ordered triggers, intra-trigger disorder), so the "
    "trailing watermark never drops an in-range pair: the 2h delay "
    "dominates the 1h join range and slices arrive in event-time "
    "order. Inner join in append mode emits each qualifying pair "
    "exactly once regardless of arrival interleaving; the consumer "
    "aggregates pairs per user. Oracle: the same interval join as "
    "plain batch SQL on exact integer microseconds — stream == "
    "batch == oracle.",
)
def stream_stream_interval_join_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming import read_events_stream, run_to_memory

    base = _time_sliced_feed(spark, sf_dir, "stream_ssj")
    clicks = (
        read_events_stream(spark, base, max_files_per_trigger=2)
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, base, max_files_per_trigger=2)
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("delta_us"),
    )
    return (
        run_to_memory(joined, "append", "ssj", narrow=True)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("delta_us").alias("sum_delta_us"),
            F.min("delta_us").alias("min_delta_us"),
        )
        .orderBy("user_id")
    )
