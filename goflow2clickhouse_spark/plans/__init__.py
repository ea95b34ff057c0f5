"""Query-plan inventory. Importing this package registers every query
module into the shared registry."""

from .queries import (
    QuerySpec,
    all_oracles,
    all_queries,
    bench_queries,
    promote,
    registry,
)

# registration side-effects (each module adds its queries to the registry)
from . import flow_queries as _flow_queries  # noqa: F401, E402
from . import event_queries as _event_queries  # noqa: F401, E402
from . import extension_queries as _extension_queries  # noqa: F401, E402
from . import corpus_queries as _corpus_queries  # noqa: F401, E402
from . import tpch_queries as _tpch_queries  # noqa: F401, E402

# Correctness runs verify only the first 50 registry entries, so the
# names verified longest ago go first.
promote([
    # the longest-unverified names
    "bm25_topk",
    "ch_dialect_port_profile",
    "ch_dialect_sampler_profile",
    "ch_dialect_top_talkers",
    "cms_heavy_hitters",
    "corpus_vocab_topk",
    "customer_order_value_windows",
    "decontamination_stats",
    "dedup_cluster_sizes_bigstar",
    "dedup_simhash",
    "distinct_customers_per_priority",
    "doc_chunk_offsets",
    "doc_fingerprint_dups",
    "dsir_importance_topk",
    "events_stream_neardup",
    "events_windowed_hll",
    "flows_bitrate_timeseries",
    "flows_conversation_matrix",
    "flows_conversation_sessions",
    "flows_duration_histogram",
    "ivfpq_trained_recall",
    "knn_pagerank",
    "multimodal_decode_gif",
    "multimodal_decode_jpeg",
    "multimodal_decode_png",
    "pq_trained_recall",
    "q10_returned_items",
    "q11_important_stock",
    "q15_top_supplier",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "quality_classifier_scores",
    "reservoir_sample_per_source",
    "rollup_pricing",
    "running_total_per_customer",
    "similarity_ann_recall",
    "similarity_batch_topk",
    "sq_batch_probe",
    "sq_index_probe",
    "sq_recall",
    "text_dupngram_fraction",
    "top_customer_per_nation",
    # then the newest names
    "incremental_image_dedup_deleted",
    "incremental_image_dedup_indexed",
    "multimodal_phash_jpeg_neardup",
    "pq_opq_rotation_recall",
    "text_bpe_token_ids",
    "token_budget_selection_bpe_trained",
])

__all__ = [
    "QuerySpec",
    "all_oracles",
    "all_queries",
    "bench_queries",
    "registry",
]
