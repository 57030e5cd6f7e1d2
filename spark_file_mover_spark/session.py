"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` (single JVM), but every setting here is
chosen to also be the right default on a 1000-executor cluster:

* AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast conversion) — the single biggest lever at 100 TB.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the static number mostly irrelevant as an
  upper bound.
* Session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable (DuckDB timestamps are UTC-naive).
* Arrow enabled for every Python boundary crossing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Build-side bound of the AQE sort-merge → shuffled-hash rewrite (see
# get_spark), in bytes.
SHJ_THRESHOLD = 64 * 1024 * 1024


def get_spark(app_name: str = "spark_file_mover_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # JIT code cache headroom: a ~300-key sweep generates thousands
        # of whole-stage-codegen classes; at the JVM's default 240 MB
        # the code cache fills late in the session, the JIT silently
        # stops compiling, and the same keys read 1.5-2x their fresh-
        # session cost (the r13 late-sweep degradation). 512 MB keeps
        # compiled code resident for the whole sweep.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # AQE sort-merge → shuffled-hash rewrite: when a runtime-measured
        # post-shuffle partition's build side fits the local-map threshold,
        # the sort on BOTH sides is deleted. Runtime-size-gated, so the
        # rewrite self-disables at 100 TB wherever partitions outgrow the
        # threshold (oversized joins stay sort-merge and spill gracefully)
        # — unlike a static preferSortMergeJoin=false, which would commit
        # to hash joins on estimates.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(SHJ_THRESHOLD),
        )
        # runtime Bloom-filter join pruning: the build side injects a
        # Bloom filter into the probe-side scan, skipping row groups
        # before the shuffle — free selectivity on fact-fact joins
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # zstd: ~30% smaller than snappy at comparable read speed — at
        # 100 TB the scan is IO-bound, so smaller files = faster queries
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally provided
    session (the driver hands us its own SparkSession).

    Only touches confs that are safe to set at runtime.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        # A plain session defaults to 200 shuffle partitions — at test SF
        # that is 200 near-empty tasks per shuffle (pure scheduler
        # overhead), and on a real cluster AQE coalescing governs anyway.
        # Size to the session's actual parallelism.
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
        # Runtime-gated SMJ→SHJ rewrite (see get_spark) — runtime-settable.
        spark.conf.set(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(SHJ_THRESHOLD),
        )
    except Exception:
        pass  # non-runtime-settable on some builds; defaults are fine
    return spark
