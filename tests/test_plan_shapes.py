"""Plan-SHAPE regression tests: the scale guarantees this repo argues from
(broadcast codebooks, zero N-row exchanges, pushed filters) are properties
of the physical plan, so pin them — a refactor that silently adds a
shuffle or drops a broadcast should fail here, not in a 100 TB run.

Plans are inspected AFTER execution (AQE finalizes join strategies at
runtime)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.plans.registry import (
    QUERIES,
    load_all_queries,
)


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _n_shuffle_exchanges(plan: str) -> int:
    return len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)",
            plan,
        )
    )


def test_pq_encode_is_shuffle_free_on_vector_side(spark, sf_oracle_dir):
    load_all_queries()
    plan = _executed_plan(QUERIES["sim_pq_encode"](spark, sf_oracle_dir))
    # the only exchanges allowed are the tiny codebook collapse (8 rows ->
    # 1 row); the N-row vector side must ride a BroadcastNestedLoopJoin
    assert "BroadcastNestedLoopJoin" in plan
    assert _n_shuffle_exchanges(plan) <= 2, plan


def test_text_repetition_has_zero_exchanges(spark, sf_oracle_dir):
    load_all_queries()
    plan = _executed_plan(QUERIES["text_repetition"](spark, sf_oracle_dir))
    assert _n_shuffle_exchanges(plan) == 0, plan


def test_pii_scrub_has_zero_exchanges(spark, sf_oracle_dir):
    load_all_queries()
    plan = _executed_plan(QUERIES["text_pii_scrub"](spark, sf_oracle_dir))
    assert _n_shuffle_exchanges(plan) == 0, plan


def test_decontaminate_broadcasts_benchmark_side(spark, sf_oracle_dir):
    load_all_queries()
    plan = _executed_plan(
        QUERIES["pipeline_decontaminate"](spark, sf_oracle_dir)
    )
    assert "BroadcastHashJoin" in plan
    # corpus grams must never sort-merge against the benchmark
    assert "SortMergeJoin" not in plan, plan


def test_domain_mix_is_broadcast_predicate_no_sort(spark, sf_oracle_dir):
    load_all_queries()
    plan = _executed_plan(QUERIES["pipeline_domain_mix"](spark, sf_oracle_dir))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan and "SortMergeJoin" not in plan, plan


def test_ivf_assign_filter_pushed_to_scan(spark, sf_oracle_dir):
    load_all_queries()
    df = QUERIES["sim_ivf_assign"](spark, sf_oracle_dir)
    plan = _executed_plan(df)
    # centroid selection (vec_id BETWEEN 10 AND 17) must reach the scan
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(vec_id,10\)", plan), plan
    assert "Window" not in plan, plan


def test_cosine_topk_is_take_ordered_not_global_sort(spark, sf_oracle_dir):
    load_all_queries()
    plan = _executed_plan(QUERIES["sim_cosine_top10"](spark, sf_oracle_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_rag_encoder_swap_keeps_retrieval_plan_exchange_free(
    spark, sf_oracle_dir
):
    # VERDICT r06 item 4: swapping the hashed embedding for a mapInPandas
    # model must leave the retrieval plan unchanged — the encoder is a
    # narrow Arrow-batched map, the query vector a 1-row broadcast, the
    # top-k a TakeOrderedAndProject; NO shuffle exchange anywhere.
    load_all_queries()
    plan = _executed_plan(
        QUERIES["pipeline_rag_retrieve_encoder"](spark, sf_oracle_dir)
    )
    assert "MapInPandas" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert _n_shuffle_exchanges(plan) == 0, plan
    # the baseline (hashed-embedding) plan keeps the same shape
    base = _executed_plan(QUERIES["pipeline_rag_retrieve"](spark, sf_oracle_dir))
    assert "TakeOrderedAndProject" in base, base
    assert _n_shuffle_exchanges(base) == 0, base


def test_band_index_probe_does_not_shuffle_index(spark, sf_oracle_dir):
    # VERDICT_r04 item 5: the durable band index is bucketed on the join
    # key, so a new-batch probe must read it with NO exchange on the
    # index side — only the batch rows shuffle into the index bucketing.
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        banded_keys,
        minhash_signatures,
        probe_band_index,
    )
    from pagerank_giraph_vs_mapreduce_spark.plans.dedup_queries import (
        BANDS,
        N_HASHES,
        ROWS_PER_BAND,
        SHINGLE_LEN,
        _corpus_band_index,
    )

    table = _corpus_band_index(spark, sf_oracle_dir)
    docs = (
        spark.read.parquet(f"{sf_oracle_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 2000000000).alias("doc_id"), "text")
    )
    sig = minhash_signatures(docs, "doc_id", "text", N_HASHES, SHINGLE_LEN)
    banded = banded_keys(sig, bands=BANDS, rows_per_band=ROWS_PER_BAND)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = probe_band_index(spark, table, banded)
        plan = _executed_plan(probe)
        # AQE prints the Initial Plan too — assert on the final plan only
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in final, final
        # the index scan rides its bucketing (no exchange feeds it) ...
        assert "Bucketed: true" in final, final
        # ... and exactly ONE side of the join is exchanged into the
        # (band, bkey) partitioning — the batch side. A second
        # band/bkey exchange would mean the index got shuffled too.
        n_join_key_exchanges = len(
            re.findall(r"Exchange hashpartitioning\(band", final)
        )
        assert n_join_key_exchanges == 1, (
            f"expected only the batch-side (band, bkey) exchange:\n{final}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_tfidf_argmax_has_no_window(spark, sf_oracle_dir):
    # VERDICT_r03 item 3: the per-doc argmax must stay an aggregate
    load_all_queries()
    plan = _executed_plan(QUERIES["text_tfidf_top_term"](spark, sf_oracle_dir))
    assert "Window" not in plan, plan


def test_band_index_append_keeps_probe_exchange_free(spark, tmp_path):
    """Index maintenance: appending a day-2 batch's bands into the durable
    index keeps (a) probe results complete across both generations and
    (b) the index side bucketed — no exchange under its scan."""
    from pyspark.sql import functions as F

    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        append_band_index,
        banded_keys,
        minhash_signatures,
        probe_band_index,
        write_band_index,
    )

    def docs_df(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    day1 = docs_df([(1, base), (2, "completely different text about spark shuffles and joins here")])
    day2 = docs_df([(3, base + " again")])
    batch = docs_df([(100, base), (101, "nothing like anything indexed before in this corpus at all")])

    def bands(df):
        return banded_keys(minhash_signatures(df, "doc_id", "text", 24, 5), 4, 6)

    spark.sql("DROP TABLE IF EXISTS band_idx_append_t")
    write_band_index(bands(day1), "band_idx_append_t", str(tmp_path / "idx"), buckets=4)
    append_band_index(bands(day2), "band_idx_append_t", buckets=4)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = probe_band_index(spark, "band_idx_append_t", bands(batch))
        got = {(r["id_new"], r["id_old"]) for r in probe.collect()}
        # doc 100 collides with BOTH generations (1 from day1, 3 from day2)
        assert (100, 1) in got and (100, 3) in got
        assert not any(i == 101 for i, _ in got)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "Bucketed: true" in final, final
        import re as _re

        assert len(_re.findall(r"Exchange hashpartitioning\(band", final)) == 1, final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS band_idx_append_t")


def test_band_index_compaction_preserves_rows_and_bucketing(spark, tmp_path):
    """Compaction rewrites the appended index to one generation: same
    rows, still bucketed (probe plan unchanged), fewer files."""
    import glob as globmod

    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        append_band_index,
        banded_keys,
        compact_band_index,
        minhash_signatures,
        probe_band_index,
        write_band_index,
    )

    def bands(rows):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        return banded_keys(minhash_signatures(df, "doc_id", "text", 24, 5), 4, 6)

    txt = "the quick brown fox jumps over the lazy dog near the riverbank today"
    spark.sql("DROP TABLE IF EXISTS band_idx_compact_t")
    path = str(tmp_path / "cidx")
    write_band_index(bands([(1, txt)]), "band_idx_compact_t", path, buckets=4)
    append_band_index(bands([(2, txt + " two")]), "band_idx_compact_t", buckets=4)
    append_band_index(bands([(3, txt + " three")]), "band_idx_compact_t", buckets=4)
    try:
        files_before = len(globmod.glob(f"{path}/*.parquet"))
        n = compact_band_index(spark, "band_idx_compact_t", buckets=4)
        assert n == 3 * 4  # 3 docs x 4 bands survived the rewrite
        assert spark.table("band_idx_compact_t").count() == n
        # generation swap: the compacted copy lives at a FRESH sibling
        # path (<base>__gen2), one file per bucket; the previous
        # generation's files are deleted only after the repoint commits
        import os

        assert not os.path.exists(path)
        files_after = len(globmod.glob(f"{path}__gen2/*.parquet"))
        assert 0 < files_after <= 4
        assert files_after < files_before
        # probe still exchange-free on the index side
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe = probe_band_index(spark, "band_idx_compact_t", bands([(9, txt)]))
        assert {(r["id_new"], r["id_old"]) for r in probe.collect()} >= {(9, 1)}
        plan = probe._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "Bucketed: true" in final, final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS band_idx_compact_t")


def test_vertex_table_reads_the_links_cache_not_the_text(spark, tmp_path):
    """The edge-list text is parsed once, into the links cache: the
    vertex universe and dangling flag are aggregated from that cache,
    so every leaf under ``g.vertices`` (with cached subplans swapped in)
    is an InMemoryRelation and none is the text relation."""
    from pagerank_giraph_vs_mapreduce_spark.graph.builder import build_graph
    from pagerank_giraph_vs_mapreduce_spark.sources.edgelist import read_edgelist

    p = tmp_path / "edges.txt"
    p.write_text("# header\n1\t2\n2\t3\n3\t1\n3\t4\n")
    g = build_graph(read_edgelist(spark, str(p)))
    try:
        cache_manager = spark._jsparkSession.sharedState().cacheManager()
        root = g.vertices._jdf.queryExecution().analyzed()
        leaves = set()
        for i in range(root.children().size()):
            sub = cache_manager.useCachedData(root.children().apply(i))
            found = sub.collectLeaves()
            leaves |= {found.apply(j).nodeName() for j in range(found.size())}
        assert leaves == {"InMemoryRelation"}, leaves
    finally:
        g.unpersist()


def _final_plan(df) -> str:
    # AQE prints the Initial Plan too; its stages are not yet reused
    return _executed_plan(df).split("== Initial Plan ==")[0]


def _dedup_docs(spark, sf_oracle_dir):
    return spark.read.parquet(f"{sf_oracle_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def test_minhash_explodes_read_the_checkpointed_code_array(spark, sf_oracle_dir):
    """Every explode of the shingle-code array reads a scan of the
    materialised array (through at most Filter/Project): an explode of
    the computed array re-evaluates it per output row, quadratic per
    document."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        minhash_near_dups,
        minhash_signatures,
    )

    docs = _dedup_docs(spark, sf_oracle_dir)
    for df in (
        minhash_signatures(docs, "doc_id", "text"),
        minhash_near_dups(docs, "doc_id", "text"),
    ):
        lines = [
            re.sub(r"^[\s:|+-]*(\*\(\d+\) )?", "", ln)
            for ln in _final_plan(df).splitlines()
        ]
        gens = [
            i for i, ln in enumerate(lines) if ln.startswith("Generate explode(codes")
        ]
        assert gens, lines
        for i in gens:
            child = next(
                ln for ln in lines[i + 1 :] if not ln.startswith(("Filter", "Project"))
            )
            assert child.startswith("Scan ExistingRDD"), "\n".join(lines)


def test_banded_keys_plans_no_union(spark, sf_oracle_dir):
    """The band rows come from one explode over the signatures, not a
    union of one select per band."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        banded_keys,
        minhash_signatures,
    )

    sigs = minhash_signatures(_dedup_docs(spark, sf_oracle_dir), "doc_id", "text")
    plan = _final_plan(banded_keys(sigs, 4, 6))
    assert "Union" not in plan, plan


def test_minhash_near_dups_verifies_without_the_shingle_table(spark, sf_oracle_dir):
    """The fused pipeline explodes the code array once (for the
    signatures) and verifies on the arrays: no join on shingle code."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import minhash_near_dups

    docs = _dedup_docs(spark, sf_oracle_dir)
    for star in (False, True):
        plan = _final_plan(minhash_near_dups(docs, "doc_id", "text", star=star))
        assert plan.count("Generate explode(codes") == 1, plan
        assert not re.search(r"Join \[[^\]]*\bcode#", plan), plan
