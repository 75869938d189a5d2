"""SparkSession factory tuned for this engine.

Local mode runs on local[$SPARK_GRAFT_CPUS] with a $SPARK_DRIVER_MEM
driver. Unset, both follow the host: every core this process may run on,
and half the physical RAM capped at 16g, so a default session never
oversubscribes the machine it starts on.

The same config block is what we would ship as cluster defaults: AQE on
(partition coalescing and skew-join splitting), Arrow on for the
pandas-UDF path, UTC session timezone so event-time queries are
oracle-stable. AQE's skew join does not fix the hub-vertex hot-key
pathology the reference documents at README.md:417-418: it never fires
through PageRank's cached links (``graph/pagerank.py:scatter_gather``,
tests/test_skew_scatter.py), so a hub's out-edges are joined by one task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pagerank-giraph-vs-mapreduce-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = (
        cpus
        or os.environ.get("SPARK_GRAFT_CPUS")
        or len(os.sched_getaffinity(0))
    )
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or f"{min(ram_mb // 2, 16384)}m"
    shuffle = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet carries TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read as raw nanos (see sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
