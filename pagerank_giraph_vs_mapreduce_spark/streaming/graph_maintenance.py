"""Streaming graph maintenance — edge-delta streams updating a durable
WCC labels table (the engine's distinctive
iterate-under-change surface, extended from the batch
``g_wcc_incremental`` / ``g_pagerank_incremental`` queries to a real
Structured Streaming loop).

Shape: edge deltas arrive as a file stream; each micro-batch
(1) appends its (deduped) edges to a durable batch_id-partitioned edge
table, (2) reads the PREVIOUS batch's converged label snapshot and runs
``connected_components_incremental`` with only this delta as the
frontier — per-batch superstep cost tracks the merge wavefront, not E —
and (3) writes the new converged labels as this batch's snapshot
partition. The stateful objects are TABLES, not the Spark state store:
state survives restarts, is queryable offline (any batch's labels are a
time-travel read of its partition), and the incremental kernel is the
exact same code the batch query certifies.

Exactly-once under replay: foreachBatch is at-least-once — after a
crash between the writes and the checkpoint commit, the SAME batch_id
is replayed. Every write is therefore a dynamic-partition OVERWRITE of
exactly the replayed batch's partition, and every read filters to
batch_id strictly BELOW the current one — a replayed batch recomputes
its original output from its original inputs even if its own partial
writes landed before the crash (same discipline as
streaming/incremental_dedup.py, pinned by tests).

Cost honesty: the label snapshot is a V-row write per batch — the
durable-state price of "any batch's labels are instantly readable". A
production deployment with tight batch cadence would write only CHANGED
labels per batch (the wavefront, usually << V) plus a periodic full
snapshot on the compaction cadence; the full-snapshot-per-batch form
keeps the replay contract trivially checkable (one partition = one
consistent labeling) and is what the oracle certifies.

Additions-only by design: edge DELETIONS break the min-label monotonic
argument (a removed bridge can SPLIT a component, which label
propagation cannot undo) — the batch deletion surface is
``g_pagerank_warm_delta``'s degree/dangling rebuild; WCC under deletes
needs a spanning-forest structure (Shiloach-Vishkin style) and is
declared out of scope here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def process_wcc_batch(
    batch: DataFrame,
    batch_id: int,
    edges_table: str,
    edges_path: str,
    labels_table: str,
    labels_path: str,
) -> None:
    """One micro-batch of the delta→merge→snapshot loop, idempotent in
    ``batch_id`` (see module docstring)."""
    if batch.isEmpty():
        return
    from pagerank_giraph_vs_mapreduce_spark.graph.components import (
        connected_components,
        connected_components_incremental,
    )

    bs = batch.sparkSession
    delta = (
        batch.select("src", "dst")
        .distinct()
        .withColumn("batch_id", F.lit(batch_id))
        .persist()
    )
    try:
        pom_key = "spark.sql.sources.partitionOverwriteMode"
        prior_pom = bs.conf.get(pom_key)
        bs.conf.set(pom_key, "dynamic")
        try:
            if bs.catalog.tableExists(edges_table):
                bs.catalog.refreshTable(edges_table)
                prior_edges = (
                    bs.table(edges_table)
                    .filter(F.col("batch_id") < batch_id)
                    .select("src", "dst")
                )
                delta.write.mode("overwrite").insertInto(edges_table)
            else:
                prior_edges = None
                (
                    delta.write.partitionBy("batch_id")
                    .option("path", edges_path)
                    .mode("overwrite")
                    .format("parquet")
                    .saveAsTable(edges_table)
                )
            bs.catalog.refreshTable(edges_table)

            delta_uv = delta.select("src", "dst")
            if prior_edges is None:
                res = connected_components(delta_uv)
            else:
                bs.catalog.refreshTable(labels_table)
                snap = bs.table(labels_table).filter(
                    F.col("batch_id") < batch_id
                )
                # previous CONVERGED snapshot = the newest strictly
                # earlier partition (bounded scalar; partition-pruned)
                prev_bid = snap.agg(F.max("batch_id")).first()[0]
                prior_labels = snap.filter(
                    F.col("batch_id") == prev_bid
                ).select("id", "component")
                res = connected_components_incremental(
                    prior_labels,
                    prior_edges.unionAll(delta_uv),
                    delta_uv,
                )
            out = res.components.withColumn("batch_id", F.lit(batch_id))
            if bs.catalog.tableExists(labels_table):
                out.write.mode("overwrite").insertInto(labels_table)
            else:
                (
                    out.write.partitionBy("batch_id")
                    .option("path", labels_path)
                    .mode("overwrite")
                    .format("parquet")
                    .saveAsTable(labels_table)
                )
            bs.catalog.refreshTable(labels_table)
        finally:
            bs.conf.set(pom_key, prior_pom)
    finally:
        delta.unpersist()


def run_streaming_wcc(
    stream: DataFrame,
    edges_table: str,
    edges_path: str,
    labels_table: str,
    labels_path: str,
    checkpoint_dir: str,
) -> list[int]:
    """Drive an edge-delta stream to end-of-input through the
    maintenance loop (availableNow trigger); returns the processed
    batch ids (for replay pins)."""
    batch_ids: list[int] = []

    def _proc(b: DataFrame, bid: int) -> None:
        batch_ids.append(bid)
        process_wcc_batch(
            b, bid, edges_table, edges_path, labels_table, labels_path
        )

    q = (
        stream.writeStream.foreachBatch(_proc)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batch_ids


def latest_labels(spark: SparkSession, labels_table: str) -> DataFrame:
    """The newest converged labeling — the table's max-batch_id
    partition (a partition-pruned read)."""
    spark.catalog.refreshTable(labels_table)
    t = spark.table(labels_table)
    last = t.agg(F.max("batch_id")).first()[0]
    return t.filter(F.col("batch_id") == last).select("id", "component")
