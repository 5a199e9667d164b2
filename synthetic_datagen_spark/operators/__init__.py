"""Named query catalog — importing this package registers every query."""

from .base import REGISTRY, QuerySpec, register  # noqa: F401

# Registration order is rotated round-over-round so the correctness
# driver's first-50 sample accumulates hash coverage across the whole
# catalog (names never change, only order).
from . import text_queries  # noqa: F401,E402
from . import vector_queries  # noqa: F401,E402
from . import window_queries  # noqa: F401,E402
from . import source_queries  # noqa: F401,E402
from . import scalar_queries  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import agg_queries  # noqa: F401,E402
from . import distribution_queries  # noqa: F401,E402
from . import evaluator_queries  # noqa: F401,E402
from . import flagship  # noqa: F401,E402
from . import generator_queries  # noqa: F401,E402
from . import multimodal_queries  # noqa: F401,E402
from . import regime_queries  # noqa: F401,E402
from . import event_queries  # noqa: F401,E402

# Round 15 window (63 names, asserted below; the correctness check
# samples about the first 50 by position, so the order is a priority
# list). First the 13 streaming parities, whose streams now run through
# streaming.runner.run_to_memory; then the queries whose computation
# moved since the last check (R15_WINDOW_PREP.md: frames built on the
# driver or through Arrow, the re-pinned regime family, the CC consumers
# of the driver union-find); then the other consumers of the session
# memos folded into functions/memo (the BPE merge table, the SemDeDup
# labeled frame); then the rows longest without a green check.
_ROUND15_WINDOW = [
    # -- streaming parities moved onto the one stream runner
    "stream_batch_parity_rollup",
    "stream_session_parity",
    "stream_dedup_parity",
    "stream_corpus_curation_parity",
    "stream_regime_generate_parity",
    "stream_pq_encode_parity",
    "stream_decontamination_parity",
    "stream_funnel_parity",
    "stream_repeated_span_parity",
    "stream_pii_scrub_parity",
    "stream_quality_score_parity",
    "stream_event_pattern_parity",
    "stream_stream_interval_join_parity",
    # -- computation moved since the last check
    "embedding_dedup_clusters_scaled",
    "m14_ga_block_search",
    "m15_staged_optimizer",
    "m16_random_sweep",
    "g7_regime_garch_generate",
    "g8_regime_hybrid_generate",
    "m9_regime_gan_generate",
    "g9_stitch_variants",
    "g9_stitch_summary",
    "dedup_connected_components",
    "dedup_cc_large_star",
    "corpus_curation_pipeline",
    "embedding_dedup_clusters",
    "embedding_dedup_clusters_strict",
    "multimodal_cross_dedup_clusters",
    # -- other session-memo consumers
    "bpe_train_merges",
    "bpe_tokenize_stats",
    "embedding_semdedup_clusters",
    "embedding_semdedup_keep",
    # -- stale tail (last green in r9/r10)
    "q10_returned_items",
    "q3_top_revenue_orders",
    "q5_region_nation_revenue",
    "q6_forecast_revenue",
    "s14_python_datasource_ticks",
    "semi_join_customers_with_orders",
    "top_orders_by_totalprice",
    "union_dedup_events",
    "approx_quantiles_scale_path",
    "cube_type_dow_stats",
    "d9_tolerance_v3_panel",
    "dedup_exact_fingerprint",
    "dedup_simhash",
    "lang_id_accuracy",
    "multimodal_codec_roundtrip",
    "multimodal_metadata_panel",
    "multimodal_resize_roundtrip",
    "pivot_type_dow_avg",
    "q1_pricing_summary",
    "rollup_region_status_revenue",
    # -- next-stalest (last green in r11)
    "approx_distinct_scale_path",
    "corpus_span_scrub",
    "d8_composite_score",
    "dedup_repeated_ngram_spans",
    "dedup_simhash_pairs",
    "doc_lm_perplexity",
    "doc_rolling_fingerprint",
    "embedding_near_dup_pairs",
    "hash_split_train_val_test",
    "hourly_rollup",
    "knn_brute_force",
]
assert len(_ROUND15_WINDOW) == 63, len(_ROUND15_WINDOW)
assert len(set(_ROUND15_WINDOW)) == len(_ROUND15_WINDOW)


def _rotate(window: list[str]) -> None:
    """Reorder REGISTRY in place: ``window`` first, the rest unchanged."""
    missing = [n for n in window if n not in REGISTRY]
    if missing:  # names are stable; a typo here must fail loudly
        raise KeyError(f"rotation window names not in REGISTRY: {missing}")
    tail = [n for n in REGISTRY if n not in set(window)]
    snapshot = dict(REGISTRY)
    REGISTRY.clear()
    for n in window + tail:
        REGISTRY[n] = snapshot[n]


_rotate(_ROUND15_WINDOW)

__all__ = ["REGISTRY", "QuerySpec", "register"]
