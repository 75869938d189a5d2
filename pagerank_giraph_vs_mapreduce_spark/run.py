"""CLI entry point with the reference driver's argument contract:

    python -m pagerank_giraph_vs_mapreduce_spark.run \
        <input> <output> [maxIter] [damping] [threshold] [minIter] \
        [minWorkers] [maxWorkers]

(MR/PageRankDriver.java:64-71, GI/PageRankDriver.java:35,58-61 and
run_pagerank.sh.) Input is a SNAP-format edge-list text file; output dir
receives final_scores/ (id\tpr TSV), pagerankTop_50.txt equivalent
(top_50/), and _timings.csv.

minWorkers/maxWorkers are the Giraph driver's worker-count bounds
(clamped the same way: maxWorkers < minWorkers is raised to minWorkers).
Under Spark there is no per-job worker count; the honest analog is
partition parallelism, so maxWorkers (when given) sets the session's
shuffle-partition count. Omitted, parallelism follows $SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import os
import sys

from pyspark.errors import AnalysisException

from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import pagerank
from pagerank_giraph_vs_mapreduce_spark.session import get_spark
from pagerank_giraph_vs_mapreduce_spark.sources.edgelist import read_edgelist
from pagerank_giraph_vs_mapreduce_spark.sources.sinks import (
    write_final_scores,
    write_performance_report,
    write_timings_csv,
    write_top_k,
)

# (name, type, default) of the optional positional arguments
_OPTIONS = (
    ("maxIter", int, 10),
    ("damping", float, 0.85),
    ("threshold", float, 1e-6),
    ("minIter", int, 5),
    ("minWorkers", int, 1),
    ("maxWorkers", int, None),
)


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__)
        return 2
    inp, out = argv[0], argv[1]
    opts = [default for _, _, default in _OPTIONS]
    for i, ((name, conv, _), raw) in enumerate(zip(_OPTIONS, argv[2:])):
        try:
            opts[i] = conv(raw)
        except ValueError:
            print(f"error: {name} must be {conv.__name__}, got {raw!r}")
            return 2
    max_iter, damping, threshold, min_iter, min_workers, max_workers = opts
    # maxWorkers defaults to minWorkers and is raised to it when lower
    # (GI/PageRankDriver.java:60-61)
    if max_workers is None or max_workers < min_workers:
        max_workers = min_workers

    spark = get_spark(
        shuffle_partitions=max_workers if len(argv) > 6 else None
    )
    try:
        # spark.read.text checks the path when the DataFrame is created.
        edges = read_edgelist(spark, inp)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc):
            print(f"error: input path not found: {inp}")
            return 1
        raise
    # phase_timing mirrors the reference drivers, which always record the
    # per-iteration map/reduce (MR) / per-superstep (Giraph) wall split.
    # Durable checkpointing is env-opt-in so the positional arg contract
    # stays byte-compatible with the reference CLI (SURVEY.md §3.1-3.2):
    # SPARK_GRAFT_CHECKPOINT_DIR= enables parquet ranks snapshots every
    # SPARK_GRAFT_CHECKPOINT_EVERY (default 10) supersteps; recover with
    # graph.pagerank.latest_checkpoint() -> initial_ranks=.
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or None
    result = pagerank(
        edges,
        damping=damping,
        max_iter=max_iter,
        tol=threshold,
        min_iter=min_iter,
        phase_timing=True,
        checkpoint_dir=ckpt_dir,
        checkpoint_every=int(os.environ.get("SPARK_GRAFT_CHECKPOINT_EVERY", "10")),
    )
    write_final_scores(result.ranks, f"{out}/final_scores", coalesce=1)
    write_top_k(result.ranks, f"{out}/top_50", k=50)
    write_timings_csv(result, f"{out}/_timings.csv")
    write_performance_report(result, f"{out}/performance_report.txt")
    print(
        f"pagerank: N={result.n_vertices} iterations={result.iterations} "
        f"converged={result.converged}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
