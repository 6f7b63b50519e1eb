from sparkstreamingrealtimedatawithkafka_spark.plans.registry import (  # noqa: F401
    REGISTRY,
    QuerySpec,
    oracle_sql,
    queries,
    register,
    reorder,
)

# Importing the catalog modules populates REGISTRY.
from sparkstreamingrealtimedatawithkafka_spark.plans import (  # noqa: F401,E402
    relational,
    text_llm,
    events,
    streaming_queries,
    connectors,
    ml,
)

# The driver hash-checks exactly the FIRST 50 queries() entries in
# registration order (CORRECTNESS_r01.json stopped at registration #50),
# and errors `no_oracle` on any checked entry without SQL.
#
# ---- r13+ window: STALENESS ROTATION (r12 verdict ask #2). The r12
# round closed the certification burn-down — every oracle-backed entry
# (284/284) is driver-certified in some committed CORRECTNESS_r*.json —
# so the window's purpose changes from coverage to freshness. Policy,
# computed by tools/certification.py:rotation_window(WINDOW_ROUND - 1):
# the parity pair stays pinned first (the driver smoke-checks the
# reference surface every round), and the remaining 48 slots are the
# oracle-backed entries with the OLDEST last-driver-certified round
# (ties by name), selected from artifacts of rounds < WINDOW_ROUND so
# the current round's own driver run never feeds its own selection.
# A new oracle-backed entry has no certification history, sorts to the
# very front, and therefore cannot escape the window until certified —
# the rotation subsumes the r12 no-escape invariant.
#
# tests/test_catalog_window.py pins (a) this list == the policy output
# and (b) WINDOW_ROUND == newest git-tracked CORRECTNESS round + 1, so
# each round open (when the driver commits the previous round's
# artifact) forces a recompute and re-certification recency has a floor
# that only improves.
WINDOW_ROUND = 16

# rotation_window(15): parity pair + the 48 stalest — the r10 batch (42:
# the multimodal decoders, the sink/source connector surfaces, the SQL
# surface block and the text analytics tail) and the r11 agg tier (6).
DRIVER_WINDOW = [
    "flagship_entity_count",
    "pipeline_parity_udf",
    # last certified r10 (42):
    "agg_bitmap_exact_distinct",
    "basket_affinity_lift",
    "dedup_exact_normalized",
    "dedup_two_stage",
    "events_asof_next_purchase",
    "fuzzy_match_levenshtein",
    "graph_khop_reach",
    "multimodal_decode_bmp",
    "multimodal_decode_wav",
    "multimodal_image_dhash",
    "multimodal_resample_wav",
    "sink_compacted_parquet",
    "sink_python_stream_writer",
    "sink_range_clustered_parquet",
    "sink_zorder_clustered_parquet",
    "source_csv_malformed_permissive",
    "source_dynamic_partition_pruning",
    "source_file_metadata_provenance",
    "source_orc_roundtrip",
    "source_python_datasource",
    "source_python_pushdown",
    "source_python_stream_datasource",
    "source_schema_evolution_union",
    "source_xml_roundtrip",
    "sql_execute_immediate",
    "sql_join_hints",
    "sql_modern_surface",
    "sql_parameterized_queries",
    "sql_pipe_syntax",
    "sql_scripting_block",
    "sql_table_cache",
    "sql_udf_create_function",
    "state_store_inspection",
    "streaming_incremental_dedup",
    "streaming_static_join",
    "text_bpe_encode",
    "text_cooccurrence_pmi",
    "text_inverted_postings",
    "text_tfidf_keywords",
    "text_unigram_surprisal",
    "udtf_table_argument",
    "variant_malformed_probes",
    # last certified r11 (6):
    "ab_cuped_adjustment",
    "agg_approx_topk_heavy_hitters",
    "agg_covariance",
    "agg_exact_percentiles",
    "agg_grouping_sets_custom",
    "agg_listagg_sorted",
]

reorder(DRIVER_WINDOW, window=50)
