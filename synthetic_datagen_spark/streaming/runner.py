"""The one harness of the streaming parities (SURVEY §2.13): a streaming
frame run to completion with an ``availableNow`` trigger into a memory
sink, then read back as a batch table the parity compares against its
batch twin."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

from ..functions.execution import TINY_PARTS, conf_scope

_TIMEOUT_S = 300


def run_to_memory(
    df: DataFrame, output_mode: str, name_prefix: str, *, narrow: bool = False
) -> DataFrame:
    """Run the streaming frame ``df`` in ``output_mode`` until its input
    is drained and return the sink table ``<name_prefix>_<uuid8>``.

    ``narrow`` starts the query under ``TINY_PARTS`` shuffle partitions:
    a stateful operator fixes its state-store width at start, and a few
    keys need nowhere near the session's 32-200 commits per trigger.
    The session's width is restored once the query has ended.

    A query still running after ``_TIMEOUT_S`` seconds is stopped and
    raises ``TimeoutError``: ``awaitTermination`` only returns False, so
    without the check a caller would read a partly filled sink while
    the query ran on under the next one."""
    spark = df.sparkSession
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    narrowed = {"spark.sql.shuffle.partitions": str(TINY_PARTS)} if narrow else {}
    with conf_scope(spark, narrowed):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        finished = False
        try:
            finished = q.awaitTermination(_TIMEOUT_S)
        finally:
            if not finished:
                q.stop()
    if not finished:
        raise TimeoutError(
            f"streaming query {name} did not finish within {_TIMEOUT_S} s"
        )
    return spark.table(name)
