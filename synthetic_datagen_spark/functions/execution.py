"""Scale-adaptive execution-conf scopes (optimization round r13).

Under AQE every materialized exchange becomes its own driver sub-job,
so a chain that materializes a handful of shuffles over a TINY frame
(a below-cutoff LSH candidate scaffold or kNN panel) pays
the per-job scheduling floor many times over while AQE's re-planning
has nothing to improve — the frames are orders of magnitude below any
advisory partition size. When a *measured* input size sits below an
explicit threshold, run the scope with AQE off and a small static
shuffle width: same plans, same results (every caller's kernel is
layout-independent by construction — per-row folds, exact
rescores — and the callers' outputs are value/oracle-pinned),
one job per materialization instead of one per exchange.

A big input leaves every conf untouched, so cluster runs keep AQE's
skew/coalesce handling where it matters. This is the cluster behavior
(coalesce tiny shuffles) minus the per-stage job overhead, not a
local[32] constant: the thresholds are data-size cutoffs (env-tunable),
not core counts.

``arrow_frame`` is the Arrow path for a frame built on the driver with
an explicit schema: a pyarrow Table, which never starts Python workers.
The driver union-find, the driver LSH pair build and m14/m15/m16 use
it; the ``createDataFrame(list)`` sites still on the Python-RDD path
are listed under ROADMAP's open items.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class narrow_build_confs:
    """Context manager: AQE off + static narrow shuffle width while the
    measured unit count is at or below ``threshold``; no-op otherwise.
    Restores the caller's confs on exit."""

    def __init__(self, spark: SparkSession, n_units: int, threshold: int):
        self.spark = spark
        self.apply = n_units <= threshold
        self.parts = os.environ.get("SPARK_GRAFT_TINY_PARTS", "8")
        self.saved: dict[str, str] = {}

    def __enter__(self):
        if self.apply:
            conf = self.spark.conf
            for k, v in (
                ("spark.sql.adaptive.enabled", "false"),
                ("spark.sql.shuffle.partitions", self.parts),
            ):
                self.saved[k] = conf.get(k)
                conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            self.spark.conf.set(k, v)
        return False


def arrow_frame(
    spark: SparkSession, data, schema: StructType | str
) -> DataFrame:
    """A driver-built frame with an explicit ``schema`` (StructType or
    DDL), passed to Spark as one pyarrow Table. ``data`` is a list of
    row tuples or a dict of columns keyed by field name.

    ``createDataFrame(list)`` ships pickled rows through a Python RDD,
    which starts Spark's Python-worker pool (about a second cold), and
    ``createDataFrame(pandas)`` is Arrow-backed only when the session
    enables it, and turns a None in an int column into NaN. A pyarrow
    Table keeps None as null under any session conf."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(data, dict):
        columns = [data[f.name] for f in schema.fields]
    else:
        columns = list(zip(*data)) or [[] for _ in schema.fields]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
