"""Output checks, run outside the timed region on the frames a pass built.

- Queries with an unpinned SQL oracle: the cold pass's collected output
  must equal the oracle run by DuckDB on the same fixture, as compared
  by the repo's gate tool (``tools/check_oracle.compare``).
- Pinned queries (their pins hold only at the oracle scale) and
  rows-only queries: the cold pass's output must be non-empty, and its
  order-insensitive content hash (row hashes summed in Spark) must be
  the same in every rerun — a memo hit must give the rows of the build
  that filled the memo.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd
from pyspark.sql import functions as F


def content_hash(df) -> tuple[int, str]:
    """(row count, hash) of ``df`` independent of row order."""
    row = F.xxhash64(F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns])))
    r = (
        df.select(row.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)).alias("lo"),
            F.sum(F.shiftright("h", 32)).alias("hi"),
        )
        .first()
    )
    return int(r["n"]), f"{r['n']}:{r['lo']}:{r['hi']}"


def load_oracle_compare():
    """``tools/check_oracle.compare``: the repo's own Spark-vs-DuckDB
    comparison (sorted rows, exact cells, dtype families and the sign
    of zero)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class Checker:
    def __init__(self, spark, registry, fixture: str):
        self.spark = spark
        self.registry = registry
        self.fixture = fixture
        self.oracle_checked = 0
        self.hash_checked = 0
        self._duck = None
        self._compare = load_oracle_compare()

    def _oracle(self, sql: str) -> pd.DataFrame:
        if self._duck is None:
            self._duck = duckdb.connect()
            # the fixture holds only the workload's tables
            for f in sorted(os.listdir(self.fixture)):
                if f.endswith(".parquet"):
                    path = os.path.join(self.fixture, f)
                    self._duck.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'"
                    )
        return self._duck.execute(sql).fetchdf()

    def check_pass(self, frames: dict, tag: str, failures: list, expect: dict | None = None) -> dict:
        """Check every frame of one pass; append failures; return hashes.
        ``expect`` holds the cold pass's hashes when checking a rerun."""
        hashes = {}
        for name, df in frames.items():
            spec = self.registry[name]
            sql_oracle = bool(spec.oracle) and not spec.pinned_sf
            if sql_oracle and expect is not None:
                continue  # its cold-pass output was checked against the oracle
            try:
                if sql_oracle:
                    self.oracle_checked += 1
                    errs = self._compare(name, df.toPandas(), self._oracle(spec.oracle))
                    err = "; ".join(errs)[:400] if errs else None
                else:
                    self.hash_checked += 1
                    n, hashes[name] = content_hash(df)
                    if expect is not None and expect.get(name) != hashes[name]:
                        err = f"content hash {hashes[name]} != cold pass {expect.get(name)}"
                    else:
                        err = None if n else "empty output"
            except Exception as exc:  # the check itself failed: count it
                err = f"{type(exc).__name__}: {exc}"[:400]
            if err:
                failures.append({"query": name, "pass": tag, "error": err})
        return hashes

    def summary(self) -> dict:
        return {"hash_checked": self.hash_checked, "oracle_checked": self.oracle_checked}
