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
local[32] constant: the thresholds are data-size cutoffs, not core
counts. ``conf_scope`` is the one save/restore of session confs: the
narrow build scope and the narrowed streaming parities
(``streaming.runner``) both go through it.

``arrow_frame`` is the Arrow path for a frame built on the driver with
an explicit schema: a pyarrow Table, which never starts Python workers.
The driver union-find, the driver LSH pair build and m14/m15/m16 use
it; the ``createDataFrame(list)`` sites still on the Python-RDD path
are listed under ROADMAP's open items.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


TINY_PARTS = 8  # the static shuffle width of every narrowed scope


class conf_scope:
    """Context manager: ``confs`` set on the session for the scope, the
    caller's values restored on exit (also on an exception)."""

    def __init__(self, spark: SparkSession, confs: dict[str, str]):
        self.spark = spark
        self.confs = confs
        self.saved: dict[str, str] = {}

    def __enter__(self):
        conf = self.spark.conf
        for k, v in self.confs.items():
            self.saved[k] = conf.get(k)
            conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            self.spark.conf.set(k, v)
        return False


class narrow_build_confs(conf_scope):
    """AQE off + the static ``TINY_PARTS`` shuffle width while the
    measured unit count is at or below ``threshold``; no-op otherwise."""

    def __init__(self, spark: SparkSession, n_units: int, threshold: int):
        self.apply = n_units <= threshold
        narrow = {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(TINY_PARTS),
        }
        super().__init__(spark, narrow if self.apply else {})


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
