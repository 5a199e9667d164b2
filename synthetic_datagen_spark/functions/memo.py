"""Session memo, checkpoint policy and artifact store — the one home of
the fit → save → load → generate lifecycle's caching (reference
regime_hmm_garch.py:193-200), extended to every query family that
shares a build.

Four primitives:

- ``app_scoped_memo(cache, spark, cache_key, build)``: the per-session
  memo. A value is keyed per (live applicationId, caller key), so a
  cached DataFrame is never served to a session that did not build it;
  every miss evicts the entries of other (stopped) applications, so a
  process cycling sessions does not pin dead frames. ``None`` is a
  legitimate cached value (presence is tested with ``in``). It replaced
  the hand-rolled lookups of the regime model and GARCH fits, the
  staged and time-sliced stream feeds, the BPE merge table and the
  vector corpus counts and cosine floors.
- ``checkpointed(df)``: how a memoized frame is materialized. With a
  checkpoint dir set, a reliable ``checkpoint`` (persisted around the
  write so the lineage runs once; ContextCleaner deletes the files when
  eviction drops the last reference, since ``session.get_spark`` sets
  ``spark.cleaner.referenceTracking.cleanCheckpoints``); otherwise an
  eager ``localCheckpoint``. Either way the lineage is cut and the
  frame survives ``spark.catalog.clearCache()``. It replaced the copies
  in the LSH pair memo and the CC label memo, and SemDeDup's bare
  ``localCheckpoint``.
- ``session_frame(spark, key, build)``: ``app_scoped_memo`` over
  ``checkpointed(build())`` for the frames several queries share (pair
  scaffolds, kNN panels, generator walks). It replaced
  ``vectors.cached_lsh_pairs``.
- ``artifact_dir(kind, sf_dir, table, *params)`` with ``read_json`` /
  ``write_json``: the cross-session store. The dir name hashes the
  input table's file identity (mtime and size), so regenerated data is
  never served stale, with the caller's params (which carry any fit
  version). It is None when the dir cannot be made, and callers then
  stay session-only; the JSON writer is atomic (temp file, then
  ``os.replace``), so a killed write never leaves a truncated file. They
  replaced the regime and SemDeDup key schemes and their three writers.
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def app_scoped_memo(
    cache: dict, spark: SparkSession, cache_key, build: Callable[[], object]
):
    """Return ``cache``'s value for (applicationId, cache_key), calling
    ``build()`` once on a miss (after evicting dead-app entries)."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, cache_key)
    if key in cache:
        return cache[key]
    for k in [k for k in cache if k[0] != app_id]:
        del cache[k]
    val = build()
    cache[key] = val
    return val


def checkpointed(df: DataFrame) -> DataFrame:
    """``df`` materialized with its lineage cut: reliably checkpointed
    when the session has a checkpoint dir, else local-checkpointed."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    df = df.persist()
    out = df.checkpoint(eager=True)
    df.unpersist()
    return out


_FRAMES: dict = {}


def session_frame(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """The checkpointed frame ``build()`` returns, built once per
    (session, key); ``build`` must be deterministic in its inputs."""
    return app_scoped_memo(_FRAMES, spark, key, lambda: checkpointed(build()))


def artifact_dir(kind: str, sf_dir: str, table: str, *params) -> str | None:
    """The cross-session artifact dir of one (input table, params) build,
    created on first use; None when it cannot be created."""
    import hashlib

    base = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR", "/tmp/spark_graft_artifacts")
    try:
        st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
        fp = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        fp = "na"
    ident = "|".join(map(str, (os.path.abspath(sf_dir), table, *params, fp)))
    path = os.path.join(base, f"{kind}_{hashlib.md5(ident.encode()).hexdigest()[:16]}")
    try:
        os.makedirs(path, exist_ok=True)
    except OSError:
        return None
    return path if os.access(path, os.W_OK) else None


def read_json(path: str):
    """The JSON value at ``path``, or None if it is missing or unreadable."""
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def write_json(path: str, obj) -> bool:
    """Write ``obj`` to ``path`` atomically; False if it could not be
    written (an artifact is an optimization, never a failure)."""
    try:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path) or ".", suffix=".tmp")
    except OSError:
        return False
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    except OSError:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        return False
    return True
