from .events_stream import (
    read_events_stream,
    stream_hourly_rollup,
    stream_dedup_keep_first,
    stream_session_stats,
)
from .stateful import (
    funnel_merge,
    funnel_prune,
    stream_cep_pattern,
    stream_funnel_stages,
)
from .runner import run_to_memory

__all__ = [
    "read_events_stream",
    "stream_hourly_rollup",
    "stream_dedup_keep_first",
    "stream_session_stats",
    "stream_funnel_stages",
    "funnel_merge",
    "funnel_prune",
    "stream_cep_pattern",
    "run_to_memory",
]
