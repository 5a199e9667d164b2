"""One measured run in a fresh process: session set-up, the cold pass,
the rerun passes and the output checks.

Started by ``run.py`` with the run's environment already exported
(``PYTHONPATH``, ``SPARK_GRAFT_CPUS``, per-run artifact, checkpoint and
scratch dirs). Writes one JSON record to the path given as
``--out``; the parent turns it into metrics.

    python3 perfbench/session_run.py --workload ts_eval --fixture DIR \\
        --seconds 10 --trace 0 --scratch DIR --t0 EPOCH --out result.json

Timed region per query: ``build`` (the query's Python builder,
including eager work such as fits and collects) plus the write of its frame to the
``noop`` sink. Output checks run after each pass, outside the timed
region, on the frames that pass built.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

from checks import Checker
from workloads import WORKLOADS


def _run_query(spark, spec, fixture: str, group: str | None, phases: list):
    """Build and write one query; returns (df, build_s, write_s, tracing
    bookkeeping seconds inside the timed region)."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    e0 = time.time()
    if group is not None:
        sc.setJobGroup(f"b:{group}", spec.name)
    tb = time.perf_counter()
    df = spec.build(spark, fixture)
    t1 = time.perf_counter()
    e1 = time.time()
    if group is not None:
        sc.setJobGroup(f"w:{group}", spec.name)
    tw = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    if group is not None:
        phases.append({"group": f"b:{group}", "start": e0, "end": e1, "write": False})
        phases.append({"group": f"w:{group}", "start": e1, "end": time.time(), "write": True})
    return df, t1 - t0, t2 - t1, (tb - t0) + (tw - t1) + (time.perf_counter() - t2)


def _pass(spark, registry, names, fixture, trace, tag, failures):
    """One closed-loop pass: one query at a time. Returns per-query
    records, the built frames, the pass wall seconds, the job-group
    phases and the tracing bookkeeping seconds (traced passes only)."""
    rows, frames, phases = [], {}, []
    overhead = 0.0
    p0 = time.perf_counter()
    for i, name in enumerate(names):
        try:
            df, b, w, o = _run_query(
                spark, registry[name], fixture, f"{tag}{i}" if trace else None, phases
            )
            overhead += o
        except Exception as exc:  # a failed query is counted, the pass goes on
            failures.append({"query": name, "pass": tag, "error": f"{type(exc).__name__}: {exc}"[:400]})
            continue
        frames[name] = df
        rows.append({"query": name, "build_s": b, "write_s": w})
        print(f"[perfbench] {tag} {name} build={b:.3f}s write={w:.3f}s", file=sys.stderr, flush=True)
        spark.catalog.clearCache()
    if trace:
        t = time.perf_counter()
        spark.sparkContext.setJobGroup("idle", "")
        overhead += time.perf_counter() - t
    return rows, frames, time.perf_counter() - p0, phases, overhead


# where the program stages the stream parities' feeds, per application
PROGRAM_SCRATCH = "/tmp/spark_graft_scratch/"


def _scratch_under(root: str) -> None:
    """Stage the stream parities' feeds under ``root`` instead of the
    program's fixed root in /tmp, so a run writes only inside its own
    dirs. The path below the root (application, kind, fixture) is the
    program's own."""
    from synthetic_datagen_spark.operators import source_queries

    orig = source_queries._scratch

    def _scratch(spark, kind, sf_dir):
        path = orig(spark, kind, sf_dir)
        if not path.startswith(PROGRAM_SCRATCH):
            raise RuntimeError(f"scratch path {path} is not under {PROGRAM_SCRATCH}")
        return os.path.join(root, path[len(PROGRAM_SCRATCH):])

    source_queries._scratch = _scratch


def _jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--seconds", type=float, required=True, help="measure passes until they total this")
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scratch", required=True, help="dir for the program's stream feeds")
    ap.add_argument("--t0", type=float, required=True, help="parent's spawn epoch")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)

    from synthetic_datagen_spark.operators import REGISTRY
    from synthetic_datagen_spark.session import get_spark

    _scratch_under(args.scratch)
    tracer = None
    if trace:
        from layers import Tracer

        tracer = Tracer()
        tracer.install()

    s0 = time.perf_counter()
    spark = get_spark(
        "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - s0
    s1 = time.perf_counter()
    REGISTRY[wl.warmup].build(spark, args.fixture).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.catalog.clearCache()
    warmup_s = time.perf_counter() - s1
    ready = time.time()

    streams = None
    if trace:
        from layers import make_stream_counter

        streams = make_stream_counter()
        spark.streams.addListener(streams)
        # queries before this point are attributed to set-up
        tracer.secs.clear()
        tracer.counts.clear()

    failures: list[dict] = []
    checker = Checker(spark, REGISTRY, args.fixture)
    cold_start = time.time()
    cold_rows, frames, wall_s, phases, overhead_s = _pass(
        spark, REGISTRY, wl.queries, args.fixture, trace, "c", failures
    )
    cold_end = time.time()
    layers: dict[str, float] = {}
    memo_cold, memo_rerun = {}, {}
    if trace:
        from layers import spark_counters

        layers.update(tracer.secs)
        layers.update({k: float(v) for k, v in tracer.counts.items()})
        memo_cold = dict(tracer.counts)
        # read now, before later passes can push the cold pass's jobs out
        # of the status store's retention window
        layers.update(spark_counters(spark, phases))
    tc = time.perf_counter()
    hashes = checker.check_pass(frames, "cold", failures)
    print(f"[perfbench] check cold {time.perf_counter() - tc:.3f}s", file=sys.stderr, flush=True)
    del frames

    rerun_walls, rerun_builds = [], []
    measured = wall_s
    attempted = len(wl.queries)
    while True:
        rows, frames, rw, _, _ = _pass(
            spark, REGISTRY, wl.queries, args.fixture, False, "r", failures
        )
        attempted += len(wl.queries)
        rerun_walls.append(rw)
        rerun_builds.append(sum(r["build_s"] for r in rows))
        measured += rw
        tc = time.perf_counter()
        checker.check_pass(frames, f"rerun{len(rerun_walls)}", failures, expect=hashes)
        if trace and len(rerun_walls) == 1:
            memo_rerun = {k: v - memo_cold.get(k, 0) for k, v in tracer.counts.items()}
        print(f"[perfbench] check rerun {time.perf_counter() - tc:.3f}s", file=sys.stderr, flush=True)
        del frames
        if measured >= args.seconds:
            break

    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0 + _jvm_hwm_mb(spark)

    if trace:
        triggers = [tr for tr in streams.triggers if cold_start <= tr[0] <= cold_end]
        layers["streaming.triggers"] = float(len(triggers))
        layers["streaming.trigger_s"] = sum(tr[2] for tr in triggers)
        layers["streaming.input_rows"] = float(sum(tr[1] for tr in triggers))
        layers["operators.build_s"] = sum(r["build_s"] for r in cold_rows)
        layers["operators.write_s"] = sum(r["write_s"] for r in cold_rows)
        layers["operators.rerun_build_s"] = statistics.median(rerun_builds)
        layers["session.start_s"] = start_s
        layers["session.warmup_s"] = warmup_s
        layers["trace.wall_s"] = wall_s
        layers["trace.overhead_s"] = overhead_s
        for prefix, counts in (("", memo_cold), ("rerun_", memo_rerun)):
            calls = counts.get("functions.memo.calls", 0)
            builds = counts.get("functions.memo.builds", 0)
            layers[f"functions.memo.{prefix}hit_ratio"] = (calls - builds) / calls if calls else 0.0

    import pyspark

    record = {
        "pyspark": pyspark.__version__,
        "ready_epoch": ready,
        "wall_s": wall_s,
        "rerun_s": statistics.median(rerun_walls),
        "reruns": len(rerun_walls),
        "query_times": [r["build_s"] + r["write_s"] for r in cold_rows],
        "attempted": attempted,
        "failures": failures,
        "peak_rss_mb": rss_mb,
        "hashes": hashes,
        "checked": checker.summary(),
        "guards": dict(tracer.guards) if trace else {},
        "layers": layers,
    }
    with open(args.out, "w") as fh:
        json.dump(record, fh)
    tc = time.perf_counter()
    spark.stop()
    print(f"[perfbench] stop {time.perf_counter() - tc:.3f}s", file=sys.stderr, flush=True)


if __name__ == "__main__":
    main()
