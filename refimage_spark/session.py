"""SparkSession factory tuned for the engine.

Settings rationale (100 TB target, tested on local[N]):
- AQE on: runtime coalescing of post-shuffle partitions + skew-join
  splitting; Zipf head terms need no salting in the index build — the
  segments are DOC-partitioned, so a head term's postings split across
  all P partitions structurally (index/build.py design notes).
- Arrow on: every Python stage in this engine is a pandas/Arrow UDF.
- shuffle.partitions defaults to 2x cores locally; on a real cluster
  this is overridden to ~2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def spread_small_scan(df):
    """Round-robin repartition a DataFrame whose scan has fewer
    partitions than half the cluster's cores — the "one unsplittable file"
    input-skew case (optimization guide §2.5): a single-file parquet
    table scans as ONE partition, so every per-row UDF/expression stage
    upstream of the first exchange runs on one core.

    Scale-adaptive by construction: at real corpus sizes the scan has
    far more partitions than cores and this is a no-op (no exchange is
    added). Only callers about to run HEAVY per-row work (Arrow UDF
    fingerprinting, shingling, tokenization) should use it — the
    round-robin exchange of a small table costs ~tens of ms, the
    single-core alternative costs seconds."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= max(1, target // 2):
        return df
    return df.repartition(target)


def get_spark(
    app_name: str = "refimage-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores``: int for local[N]; None uses $SPARK_GRAFT_CPUS or all cores.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
