"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same configs
(AQE, shuffle partitions sized to the cluster, UTC session time zone,
Arrow for the Pandas-UDF slow path, a codegen cache that holds the
working set) are the ones we would set on a real multi-executor
cluster. Nothing here is local-mode-only except the
master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "prisma-migrator-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-sane defaults.

    - AQE on: runtime coalescing, skew-join splitting, dynamic
      broadcast selection — the knobs that matter at 100 TB.
    - shuffle.partitions defaults to the core count locally; on a real
      cluster this should be ~2-3x total executor cores (AQE coalesces
      the excess anyway).
    - UTC session timezone so timestamp semantics match the DuckDB
      oracle and are cluster-invariant.
    - codegen cache sized to the engine's working set: a warm pass
      recompiles every generated class Spark's default 100-entry
      cache evicted (measured per pass at local[4]: ``etl`` 218
      classes, ``headline`` 229-241, the whole query registry
      3,437), so 4096 entries — headroom because Guava splits the
      cache into 4 LRU segments — keep a long-lived session's
      repeated queries compiled once.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local fixtures are single large parquet files; a smaller split
        # size parallelizes the scan across cores. On a real cluster the
        # input has many files/row-groups — set 128m+ there via env.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # UI off by default (driver/bench hygiene); tools that read
        # per-stage spill/shuffle metrics over the REST API (e.g.
        # tools/graph_cache_probe.py) opt in via SPARK_GRAFT_UI=1.
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
