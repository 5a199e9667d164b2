"""The benchmark's own tests. Run from the repo root:

    python3 -m pytest perfbench -q

The last test runs one workload end to end (two fresh Spark processes,
about two minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# every metric the benchmark is specified to report, end to end and per layer
NAMED_END_TO_END = {"setup_s", "wall_s", "rerun_s", "query_p50_s"}
NAMED_PER_LAYER = {
    "session.start_s", "session.warmup_s",
    "operators.build_s", "operators.rerun_build_s", "operators.build_jobs", "operators.write_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_busy_s", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb", "sources.input_mb", "sources.input_rows",
    "functions.memo.calls", "functions.memo.builds", "functions.memo.build_s",
    "functions.memo.hit_ratio",
    "regime.fit_s", "ml.train_s", "optimize.search_s", "evaluators.eval_s",
    "generators.fit_s", "generators.generate_s",
    "streaming.triggers", "streaming.trigger_s", "streaming.input_rows",
    "failed_frac", "peak_rss_mb", "py.warnings", "trace.overhead_s",
}


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_fixture_is_deterministic_per_seed(tmp_path):
    tables = {"events": 0.05, "documents": 0.05, "embeddings": 0.5}
    hashes = []
    for i, seed in enumerate((3, 3, 4)):
        out = str(tmp_path / f"fx{i}")
        run.make_fixture(out, tables, seed)
        hashes.append(run.fixture_hash(out))
    assert hashes[0] == hashes[1]
    assert hashes[0] != hashes[2]


def test_every_listed_query_is_registered():
    from synthetic_datagen_spark.operators import REGISTRY

    for wl in WORKLOADS.values():
        for name in (wl.warmup, *wl.queries, *wl.excluded):
            assert name in REGISTRY, (wl.name, name)
        assert not set(wl.queries) & set(wl.excluded)


def test_benchmark_json_matches_the_runner():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert NAMED_END_TO_END <= set(run.END_TO_END)
    assert NAMED_PER_LAYER <= set(run.PER_LAYER)


def test_one_workload_reports_every_metric():
    seconds = str(_benchmark_json()["run_seconds"])
    for trace, names in (("0", run.END_TO_END), ("1", run.PER_LAYER)):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "ts_eval",
             "--seed", "5", "--seconds", seconds, "--trace", trace],
            cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
        )
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
        assert set(res["metrics"]) == set(names)
        for name, unit in names.items():
            assert res["metrics"][name]["unit"] == unit
        if trace == "1":
            m = {k: v["value"] for k, v in res["metrics"].items()}
            # ts_eval is the workload that bypasses the session memos and
            # whose time is mostly in writes
            assert m["functions.memo.builds"] == 0
            assert m["operators.write_s"] > 0.5 * m["trace.wall_s"]
