"""Seeded benchmark of the query catalog, one workload per invocation.

    python3 perfbench/run.py --workload ts_eval --seed 7 --seconds 10 --trace 0

Each invocation, from any directory:

1. generates the workload's fixture from ``--seed`` with
   ``tools/gen_scale_fixture.py`` (outside any timed region) and hashes
   its content;
2. starts one fresh Python process (``session_run.py``) with its own
   artifact, checkpoint and scratch dirs, the repo root on
   ``PYTHONPATH`` (so Spark's Python workers import the program too)
   and ``SPARK_GRAFT_CPUS`` set to the host's core count;
3. in that process, one client in a closed loop builds each query and
   writes it to the ``noop`` sink, one at a time: a cold pass, then
   rerun passes in the same session (at least one) until the passes
   total ``--seconds``; outputs are checked after each pass;
4. removes every directory of the run.

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the layer wrappers and Spark counters are on and the
metrics are the per-layer ones. The last line of stdout is the result
object; the line before it is the run's full record (host, fixture
hash, per-query output hashes, failures).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import GUARD_THRESHOLDS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 165
# "path:line: FutureWarning: ..." — Python warnings from the measured
# process and from Spark's Python workers, which share the run's stderr
WARNING_LINE = re.compile(r"\b[A-Z]\w*Warning: ")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rerun_s": "s",
    "query_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "operators.build_s": "s",
    "operators.rerun_build_s": "s",
    "operators.build_jobs": "count",
    "operators.write_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "functions.memo.calls": "count",
    "functions.memo.builds": "count",
    "functions.memo.build_s": "s",
    "functions.memo.hit_ratio": "ratio",
    "functions.memo.rerun_hit_ratio": "ratio",
    "regime.fit_s": "s",
    "ml.train_s": "s",
    "optimize.search_s": "s",
    "evaluators.eval_s": "s",
    "generators.fit_s": "s",
    "generators.generate_s": "s",
    "streaming.triggers": "count",
    "streaming.trigger_s": "s",
    "streaming.input_rows": "count",
    "failed_frac": "ratio",
    "py.warnings": "count",
    "peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def load_fixture_generator():
    path = os.path.join(ROOT, "tools", "gen_scale_fixture.py")
    spec = importlib.util.spec_from_file_location("gen_scale_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # raises outside a checkout of the repo
    return mod


def make_fixture(out: str, tables: dict[str, float], seed: int) -> None:
    """The workload's tables at their multipliers, with the generator's
    own per-table sizes and seed offsets."""
    gen = load_fixture_generator()
    os.makedirs(out)
    for table, m in tables.items():
        if table == "events":
            gen.gen_events(out, int(100_000 * m), int(1500 * m), seed)
        elif table == "documents":
            gen.gen_documents(out, int(5_000 * m), seed)
        elif table == "embeddings":
            gen.gen_embeddings(out, int(2_000 * m), seed, style="diffuse")
        else:
            raise ValueError(f"no generator for table {table!r}")


def fixture_hash(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _cpu_times() -> list[int]:
    """The host's CPU times since boot (user, nice, system, idle,
    iowait, irq, softirq, steal), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _run_pids(marker: bytes) -> list[int]:
    """Live processes whose environment carries ``marker``."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/environ", "rb") as fh:
                    if marker in fh.read().split(b"\0"):
                        pids.append(int(entry))
            except OSError:  # ended meanwhile, or not ours
                pass
    return pids


def _stop_run(proc: subprocess.Popen, marker: bytes) -> None:
    """Stop every process of the run and wait until all have ended: the
    child, its JVM, and Spark's Python daemon and workers (the daemon
    leaves the child's process group, so they are found by the marker
    their environment inherits)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10
        for pid in _run_pids(marker):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while time.monotonic() < deadline:
            proc.poll()  # reap the child; a zombie's environ reads empty
            if not _run_pids(marker):
                break
            time.sleep(0.1)
        else:
            continue
        break
    proc.wait()


def measure(workload: str, seed: int, seconds: float, trace: int) -> dict:
    wl = WORKLOADS[workload]
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=runs)
    try:
        fixture = os.path.join(run_dir, "fixture")
        tf = time.perf_counter()
        make_fixture(fixture, wl.tables, seed)
        sys.stderr.write(f"[perfbench] fixture {time.perf_counter() - tf:.3f}s\n")
        dirs = {k: os.path.join(run_dir, k) for k in ("artifacts", "checkpoint", "local", "scratch", "tmp")}
        for d in dirs.values():
            os.makedirs(d)
        cores = len(os.sched_getaffinity(0))
        env = dict(os.environ)
        env.update(
            PERFBENCH_RUN=run_dir,
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            PYSPARK_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_GRAFT_ARTIFACT_DIR=dirs["artifacts"],
            SPARK_GRAFT_CHECKPOINT_DIR=dirs["checkpoint"],
            SPARK_LOCAL_DIRS=dirs["local"],
            TMPDIR=dirs["tmp"],
            # the JVM's temp files too; no hsperfdata file under /tmp
            JAVA_TOOL_OPTIONS=" ".join(
                o for o in (env.get("JAVA_TOOL_OPTIONS"),
                            f"-Djava.io.tmpdir={dirs['tmp']}", "-XX:-UsePerfData") if o
            ),
        )
        out = os.path.join(run_dir, "result.json")
        err = os.path.join(run_dir, "stderr.log")
        cpu0 = _cpu_times()
        t0 = time.time()
        with open(err, "w") as err_fh:
            proc = subprocess.Popen(
                [
                    sys.executable, os.path.join(HERE, "session_run.py"),
                    "--workload", workload, "--fixture", fixture,
                    "--seconds", str(seconds), "--trace", str(trace),
                    "--scratch", dirs["scratch"],
                    "--t0", repr(t0), "--out", out,
                ],
                cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                stdout=subprocess.DEVNULL, stderr=err_fh, start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                _stop_run(proc, f"PERFBENCH_RUN={run_dir}".encode())
        sys.stderr.write(f"[perfbench] child exited {time.time() - t0:.3f}s after spawn\n")
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        with open(err, errors="replace") as fh:
            err_lines = fh.read().splitlines()
        sys.stderr.write("".join(f"{line}\n" for line in err_lines if line.startswith("[perfbench]")))
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write("\n".join(err_lines[-40:]) + "\n")
            raise SystemExit(f"measured process failed (exit {rc})")
        with open(out) as fh:
            rec = json.load(fh)
        # guards are recorded by the traced run's wrappers only
        guard_errors = []
        for g in wl.at_scale_guards if trace else ():
            n = rec["guards"].get(g)
            if n is None or n <= GUARD_THRESHOLDS[g]:
                guard_errors.append(f"guard {g} measured {n}, not above {GUARD_THRESHOLDS[g]}")
        rec.update(
            workload=workload,
            seed=seed,
            trace=trace,
            setup_s=rec["ready_epoch"] - t0,
            fixture_sha256=fixture_hash(fixture),
            excluded=wl.excluded,
            guards={
                g: {"measured": n, "threshold": GUARD_THRESHOLDS[g]}
                for g, n in rec["guards"].items()
            },
            guard_errors=guard_errors,
            py_warnings=sum(1 for line in err_lines if WARNING_LINE.search(line)),
            cores=cores,
            load_avg=os.getloadavg(),
            # CPU time the hypervisor gave to other guests while the run
            # was live: a slow run with a high share is host contention
            steal_frac=cpu[7] / max(1, sum(cpu)),
        )
        return rec
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass


def result(rec: dict) -> dict:
    """The result object (the last stdout line) for one run record."""
    attempted = rec["attempted"]
    failed = len({(f["query"], f["pass"]) for f in rec["failures"]})
    if rec["trace"]:
        values = dict(rec["layers"])
        values["failed_frac"] = failed / attempted
        values["py.warnings"] = float(rec["py_warnings"])
        values["peak_rss_mb"] = rec["peak_rss_mb"]
        names = PER_LAYER
    else:
        values = {
            "setup_s": rec["setup_s"],
            "wall_s": rec["wall_s"],
            "rerun_s": rec["rerun_s"],
            "query_p50_s": statistics.median(rec["query_times"]) if rec["query_times"] else 0.0,
        }
        names = END_TO_END
    return {
        "correct": not failed and not rec["guard_errors"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated benchmark still stops its processes and removes its dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rec = measure(args.workload, args.seed, args.seconds, args.trace)
    res = result(rec)
    rec.update(
        n_queries=len(WORKLOADS[args.workload].queries),
        failed_frac=res["failed"] / res["attempted"],
    )
    print(json.dumps({"record": rec}, sort_keys=True))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
