"""Registry binding each declared query (SURVEY.md §2 operator surface) to
its DuckDB oracle SQL.

The driver runs every ``QUERIES[name](spark, sf_dir)`` against
``ORACLES[name]`` on the same parquet tables and compares row count, schema
and an order-insensitive value hash. Registration happens at import of the
query modules; ``load_all_queries()`` imports them all.

Hash-stability rules every query here follows (see tools/check_oracle.py):
- per-row double arithmetic is IEEE-deterministic and bit-identical across
  engines — safe to emit raw;
- aggregates over doubles are order-dependent in the last bits — sum via
  per-row DECIMAL cast (exact, order-independent) then cast back to DOUBLE,
  or round to a coarse enough precision;
- timestamps are emitted as epoch seconds (BIGINT) or ISO date strings,
  never raw timestamp objects;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_QUERY_MODULES = (
    "pagerank_giraph_vs_mapreduce_spark.plans.graph_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.relational_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.dedup_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.similarity_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.text_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.window_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.multimodal_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.sql_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.function_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.udf_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.temporal_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.streaming_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.pipeline_queries",
    "pagerank_giraph_vs_mapreduce_spark.plans.source_queries",
)

# The driver's correctness gate checks queries in registration order with a
# ~50-query budget per round — so registration order IS hard-signal coverage.
# Round-13 budget math: the 19 remaining
# r06-stale rows LEAD (after they certify, no query's newest driver row
# predates r07), then the queries NEW this round (the k4 cut-stats
# observability finisher and the incremental-maintenance family), then the
# SIX partition queries whose SEMANTICS changed this round (the matching
# hash gained a quadratic mixing term — an affine hash is monotone along
# arithmetic id progressions and stalled coarsening on chain graphs;
# Spark + oracle + mirror all updated together), then the oldest r07 rows
# fill the remaining budget — ~half the r07 cohort rotates this round, the
# rest next. Everything is additionally re-proven every round by
# tools/check_oracle.py (stricter: exact stringified values, not hashes).
_PRIORITY = (
    # --- the 19 remaining r06-stale rows: drained this round
    "rel_q9_product_profit",
    "sim_ann_recall",
    "sim_cosine_top10",
    "sim_cosine_top10_vectorized",
    "sim_ivf_indexed_top5",
    "sim_lsh_ann_top5",
    "sim_range_search",
    "source_orc_roundtrip",
    "source_python_datasource",
    "source_variant_props",
    "sql_lateral_topk",
    "sql_pivot",
    "storage_bucketed_join",
    "stream_incremental_dedup",
    "stream_stream_join",
    "text_dedup_paragraphs",
    "text_quality",
    "text_repeated_ngrams",
    "udf_arrow_optimized",
    # --- new this round
    "g_partition_k4_cut_stats",
    "g_wcc_delta_stream",
    "g_pagerank_warm_delta",
    # --- matching-hash semantics changed in r13: re-certify the family
    "g_partition_k2",
    "g_partition_k2_refined",
    "g_partition_k2_vcycle",
    "g_partition_cut_stats",
    "g_partition_k4",
    # --- oldest r07 rows: what the remaining budget reaches
    "dedup_cdc_chunks",
    "dedup_cdc_strip",
    "edge_parse_snap",
    "fn_agg_breadth",
    "fn_sketch_bounds",
    "fn_stats_agg",
    "fn_win_frames",
    "g_link_adamic_adar",
    "g_pagerank_incremental",
    "g_pagerank_top20",
    "g_two_hop_count",
    "g_walk_cooccurrence",
    "mm_ahash_pairs",
    "mm_gif_decode",
    "mm_gif_frames",
    "mm_jpeg_decode",
    "mm_resize_jpeg",
    "pipeline_corpus_build",
    "pipeline_dsir_resample",
    "pipeline_rag_mmr",
    "pipeline_rag_retrieve",
    "pipeline_rag_retrieve_encoder",
    "pipeline_shuffle_shards",
    "rel_bloom_semi_join",
)


def _apply_priority_order() -> None:
    # Mutate in place: callers hold references to these dicts.
    ordered = [n for n in _PRIORITY if n in QUERIES]
    ordered += [n for n in QUERIES if n not in _PRIORITY]
    q = {n: QUERIES[n] for n in ordered}
    o = {n: ORACLES[n] for n in ordered if n in ORACLES}
    QUERIES.clear()
    QUERIES.update(q)
    ORACLES.clear()
    ORACLES.update(o)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query; ``oracle=None`` → driver does rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all_queries() -> None:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _apply_priority_order()
