"""streaming.runner.run_to_memory, the one harness of the stream parities:
a query that overruns its wait is stopped and raises, and a narrowed
query hands the session its own shuffle width back either way."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from synthetic_datagen_spark.functions.execution import TINY_PARTS
from synthetic_datagen_spark.operators.source_queries import stream_funnel_parity
from synthetic_datagen_spark.streaming import runner

WIDTH = "spark.sql.shuffle.partitions"
SESSION_WIDTH = "5"  # anything but the narrowed width


@pytest.fixture
def odd_width(spark):
    prev = spark.conf.get(WIDTH)
    spark.conf.set(WIDTH, SESSION_WIDTH)
    yield
    spark.conf.set(WIDTH, prev)


def test_narrowed_parity_timeout_stops_query_and_restores_width(
    spark, sf_smoke, odd_width, monkeypatch
):
    monkeypatch.setattr(runner, "_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError):
        stream_funnel_parity(spark, sf_smoke)
    assert spark.streams.active == []
    assert spark.conf.get(WIDTH) == SESSION_WIDTH


class _StateWidths(StreamingQueryListener):
    """The state-store widths each trigger of the query reports."""

    def __init__(self) -> None:
        self.widths: list[int] = []
        self.done = threading.Event()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.widths += [op.numShufflePartitions for op in event.progress.stateOperators]

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.done.set()


def test_narrowed_parity_restores_width_after_success(spark, sf_smoke, odd_width):
    seen = _StateWidths()
    spark.streams.addListener(seen)
    try:
        (row,) = stream_funnel_parity(spark, sf_smoke).collect()
        assert seen.done.wait(60)
    finally:
        spark.streams.removeListener(seen)
    assert row["n_view"] >= row["n_view_click"] >= row["n_view_click_purchase"]
    assert row["n_view"] > 0
    # the query ran narrowed, and the session got its own width back
    assert seen.widths and set(seen.widths) == {TINY_PARTS}
    assert spark.streams.active == []
    assert spark.conf.get(WIDTH) == SESSION_WIDTH
