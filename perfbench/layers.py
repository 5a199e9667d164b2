"""Per-layer attribution for the traced runs (``--trace 1``).

Everything here is observed from outside the program:

- layer calls are timed by wrapping public entry points of the
  program's modules (``Tracer.install``);
- Spark work is read from Spark's ``AppStatusStore`` and grouped
  by the job group the runner sets around each query's build and write
  (``spark_counters``);
- streaming triggers come from a ``StreamingQueryListener``
  (``StreamCounter``);
- scale-guard decisions are recorded by wrapping the functions that
  measure a guard's input size.

A wrapper counts only the outermost call of its layer, so a layer that
calls itself (an evaluator composing evaluators) is not counted twice.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from collections import defaultdict
from datetime import datetime

# (metric, module, attribute path) — a dotted path patches a class
# attribute; a plain name patches a module function wherever it is bound
TIMED_ENTRY_POINTS = (
    ("regime.fit_s", "synthetic_datagen_spark.regime.model", "RegimeModel.fit"),
    ("ml.train_s", "synthetic_datagen_spark.ml.decoder", "_TrainerBase.fit"),
    ("ml.train_s", "synthetic_datagen_spark.ml.decoder", "GanTrainer.fit"),
    ("ml.train_s", "synthetic_datagen_spark.ml.decoder", "TimeGanTrainer.fit"),
    ("optimize.search_s", "synthetic_datagen_spark.optimize.ga", "GAOptimizer.optimize"),
    ("optimize.search_s", "synthetic_datagen_spark.optimize.staged", "StagedOptimizer.optimize"),
    ("optimize.search_s", "synthetic_datagen_spark.optimize.sweep", "random_sweep"),
    ("evaluators.eval_s", "synthetic_datagen_spark.evaluators.distribution", "spectral_distance"),
    ("evaluators.eval_s", "synthetic_datagen_spark.evaluators.distribution", "DistributionEvaluator.evaluate"),
    ("evaluators.eval_s", "synthetic_datagen_spark.evaluators.distribution", "DistributionEvaluator.evaluate_arrays"),
    ("evaluators.eval_s", "synthetic_datagen_spark.evaluators.distribution", "DistributionEvaluator.evaluate_reference"),
    ("evaluators.eval_s", "synthetic_datagen_spark.evaluators.composite", "composite_score"),
    ("evaluators.eval_s", "synthetic_datagen_spark.evaluators.tolerance", "tolerance_panel"),
    ("evaluators.eval_s", "synthetic_datagen_spark.evaluators.predictive", "augmentation_metrics"),
    ("evaluators.eval_s", "synthetic_datagen_spark.evaluators.predictive", "PredictiveEvaluator.evaluate"),
    ("evaluators.eval_s", "synthetic_datagen_spark.evaluators.predictive", "PredictiveEvaluator.sweep"),
    ("evaluators.eval_s", "synthetic_datagen_spark.evaluators.external_eval", "ExternalPredictorEvaluator.evaluate"),
    ("generators.fit_s", "synthetic_datagen_spark.generators.block_bootstrap", "BlockBootstrapGenerator.fit"),
    ("generators.fit_s", "synthetic_datagen_spark.generators.grasynda", "GrasyndaGenerator.fit"),
    ("generators.generate_s", "synthetic_datagen_spark.generators.block_bootstrap", "BlockBootstrapGenerator.generate"),
    ("generators.generate_s", "synthetic_datagen_spark.generators.grasynda", "GrasyndaGenerator.generate"),
)

# guard name -> default threshold; "measured" is the input size the
# program compared against it, and the at-scale side is measured > it
GUARD_THRESHOLDS = {
    "text_lsh": 10_000,  # SPARK_GRAFT_TEXT_LSH_FIXED_MAX, documents
    "vector_lsh": 10_000,  # SPARK_GRAFT_LSH_FIXED_MAX, embeddings
    "cc": 200_000,  # SPARK_GRAFT_CC_TINY_EDGES, initial CC edges
}


class Tracer:
    """Accumulates per-layer seconds and counts for one process."""

    def __init__(self) -> None:
        self.secs: dict[str, float] = defaultdict(float)
        self.counts: dict[str, int] = defaultdict(int)
        self.guards: dict[str, int] = {}
        self._depth: dict[str, int] = defaultdict(int)

    # -- wrappers ----------------------------------------------------
    def timed(self, metric: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self._depth[metric]:
                return fn(*args, **kwargs)
            self._depth[metric] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.secs[metric] += time.perf_counter() - t0
                self._depth[metric] -= 1

        return wrapper

    def _memo(self, fn):
        @functools.wraps(fn)
        def app_scoped_memo(cache, spark, cache_key, build):
            self.counts["functions.memo.calls"] += 1

            def counted_build():
                self.counts["functions.memo.builds"] += 1
                t0 = time.perf_counter()
                try:
                    return build()
                finally:
                    self.secs["functions.memo.build_s"] += time.perf_counter() - t0

            return fn(cache, spark, cache_key, counted_build)

        return app_scoped_memo

    def _guard(self, name: str, measured_of, fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            n = int(measured_of(sig.bind(*args, **kwargs).arguments, out))
            self.guards[name] = max(self.guards.get(name, 0), n)
            return out

        return wrapper

    def install(self) -> None:
        """Patch the entry points. Call after the program is imported and
        before the first query runs."""
        from synthetic_datagen_spark.functions import graph, memo
        from synthetic_datagen_spark.operators import text_queries, vector_queries

        for metric, mod_name, path in TIMED_ENTRY_POINTS:
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
            owner_name, _, attr = path.rpartition(".")
            if owner_name:
                owner = getattr(mod, owner_name)
                setattr(owner, attr, self.timed(metric, owner.__dict__[attr]))
            else:
                _rebind(getattr(mod, attr), self.timed(metric, getattr(mod, attr)))
        # every call site imports app_scoped_memo lazily from its module
        memo.app_scoped_memo = self._memo(memo.app_scoped_memo)
        text_queries._active_lsh_config = self._guard(
            "text_lsh", lambda a, out: out[0], text_queries._active_lsh_config
        )
        # returns (tables, planes, engaged); the count it compared is the
        # session's memoized corpus count, read back after the call
        vector_queries._scale_guarded_config = self._guard(
            "vector_lsh",
            lambda a, out: vector_queries._corpus_count(
                a["spark"], a["sf_dir"], a["corpus_kind"], a["df"]
            ),
            vector_queries._scale_guarded_config,
        )
        init = graph._tiny_graph_confs.__init__
        graph._tiny_graph_confs.__init__ = self._guard(
            "cc", lambda a, out: a["edge_count"], init
        )


def _rebind(orig, wrapped) -> None:
    """Replace ``orig`` in every loaded module of the program that bound
    it by name (``from x import f`` copies the reference)."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("synthetic_datagen_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapped)


def make_stream_counter():
    """A StreamingQueryListener that keeps (trigger start epoch s,
    input rows, trigger seconds) per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamCounter(StreamingQueryListener):
        def __init__(self) -> None:
            self.triggers: list[tuple[float, int, float]] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            dur = (p.durationMs or {}).get("triggerExecution", 0) / 1000.0
            self.triggers.append((ts, int(p.numInputRows or 0), dur))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return StreamCounter()


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def spark_counters(spark, phases: list[dict]) -> dict[str, float]:
    """Sum Spark's job/stage counters over ``phases``.

    Each phase is ``{"group": job group, "start": epoch s, "end": epoch
    s, "write": bool}``. Jobs are matched to phases by job group; a
    write phase's time not covered by any of its jobs is the gap
    ``spark.driver_gap_s``."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the store is filled by listener events
    store = jsc.statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    empty = jvm.java.util.ArrayList()
    by_group: dict[str, list] = defaultdict(list)
    for j in conv.asJava(store.jobsList(empty)):
        grp = j.jobGroup()
        if grp.isDefined():
            by_group[grp.get()].append(j)
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    attempts: dict[int, list] = defaultdict(list)
    for s in conv.asJava(store.stageList(empty, False, False, no_quantiles, empty)):
        attempts[s.stageId()].append(s)
    seen: set[int] = set()  # a reused shuffle stage is listed by every job

    out: dict[str, float] = defaultdict(float)
    for ph in phases:
        jobs = by_group.get(ph["group"], [])
        intervals = []
        for j in jobs:
            t0, t1 = _opt_s(j.submissionTime()), _opt_s(j.completionTime())
            if t0 is not None and t1 is not None:
                intervals.append((t0, t1))
            for sid in conv.asJava(j.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                for s in attempts.get(sid, []):
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["spark.stages"] += 1
                    out["spark.tasks"] += s.numTasks()
                    out["spark.executor_run_s"] += s.executorRunTime() / 1e3
                    out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
                    out["spark.shuffle_read_mb"] += (
                        s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()
                    ) / 1e6
                    out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
                    out["spark.spill_mb"] += (
                        s.memoryBytesSpilled() + s.diskBytesSpilled()
                    ) / 1e6
                    out["sources.input_mb"] += s.inputBytes() / 1e6
                    out["sources.input_rows"] += s.inputRecords()
        out["spark.jobs"] += len(jobs)
        busy = _union_s(intervals, ph["start"], ph["end"])
        out["spark.job_busy_s"] += busy
        if ph["write"]:
            out["spark.driver_gap_s"] += max(0.0, ph["end"] - ph["start"] - busy)
        else:
            out["operators.build_jobs"] += len(jobs)
    return dict(out)
