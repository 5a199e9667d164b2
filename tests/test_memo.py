"""functions/memo: the session memo follows the live session, and the
artifact store degrades to session-only instead of failing a query."""

from __future__ import annotations

import os
import subprocess
import sys

from synthetic_datagen_spark.functions import memo as M

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_regime_memo_rebuilds_in_a_new_session(sf_smoke, tmp_path):
    """g8 built in a session that is then stopped, and again in a fresh
    session of the same process: the second build must come from the
    live session (the memo is keyed by applicationId), with equal rows."""
    script = f"""
import sys
sys.path.insert(0, {_ROOT!r})
from synthetic_datagen_spark.operators import REGISTRY
from synthetic_datagen_spark.session import get_spark

rows = []
for _ in range(2):
    spark = get_spark("memo-session-test", master="local[2]", shuffle_partitions=4)
    out = REGISTRY["g8_regime_hybrid_generate"].build(spark, {sf_smoke!r})
    rows.append(sorted(tuple(r) for r in out.collect()))
    spark.stop()
assert rows[0], "g8 returned no rows"
assert rows[0] == rows[1], "g8 differs across sessions"
"""
    env = {
        **os.environ,
        "SPARK_GRAFT_ARTIFACT_DIR": str(tmp_path / "artifacts"),
        "SPARK_DRIVER_MEM": "2g",
    }
    res = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True,
        text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]


def test_unusable_artifact_dir_stays_session_only(spark, sf_smoke, tmp_path, monkeypatch):
    """An artifact dir that cannot be created (its parent is a regular
    file) leaves g7 and embedding_semdedup_clusters session-only: same
    rows as with a writable dir, no error."""
    from synthetic_datagen_spark.operators import REGISTRY
    from synthetic_datagen_spark.operators import regime_queries as RQ
    from synthetic_datagen_spark.operators import vector_queries as VQ

    blocker = tmp_path / "blocker"
    blocker.write_text("")

    def run(artifacts: str) -> dict:
        monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", artifacts)
        RQ._MODEL_CACHE.clear()
        VQ._SEMDEDUP_CACHE.clear()
        try:
            return {
                name: [tuple(r) for r in REGISTRY[name].build(spark, sf_smoke).collect()]
                for name in ("g7_regime_garch_generate", "embedding_semdedup_clusters")
            }
        finally:
            RQ._MODEL_CACHE.clear()
            VQ._SEMDEDUP_CACHE.clear()

    blocked = run(str(blocker / "artifacts"))
    writable = run(str(tmp_path / "artifacts"))
    assert os.listdir(tmp_path / "artifacts")  # the writable run stored artifacts
    assert all(blocked.values())
    assert blocked == writable


def test_artifact_dir_and_json_store(sf_smoke, tmp_path, monkeypatch):
    """artifact_dir keys on the input file and params and is None when it
    cannot be created; write_json is atomic and reports failure instead
    of raising; read_json reads a missing or truncated file as None."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "store"))
    a = M.artifact_dir("kind", sf_smoke, "events", 3, "v1")
    assert a is not None and os.path.isdir(a)
    assert a == M.artifact_dir("kind", sf_smoke, "events", 3, "v1")
    assert a != M.artifact_dir("kind", sf_smoke, "events", 3, "v2")
    assert a != M.artifact_dir("kind", sf_smoke, "embeddings", 3, "v1")

    path = os.path.join(a, "x.json")
    assert M.read_json(path) is None
    assert M.write_json(path, {"k": [1, 2.5]})
    assert M.read_json(path) == {"k": [1, 2.5]}
    assert os.listdir(a) == ["x.json"]  # no temp file left behind
    with open(path, "w") as f:
        f.write('{"k": [1,')  # a write cut short
    assert M.read_json(path) is None

    blocker = tmp_path / "blocker"
    blocker.write_text("")
    assert not M.write_json(str(blocker / "x.json"), {})
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(blocker / "store"))
    assert M.artifact_dir("kind", sf_smoke, "events", 3, "v1") is None
