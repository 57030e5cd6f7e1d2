"""Declared queries for the file-mover plane (SURVEY.md §2A, A1–A6).

A2/A3/A4 express the mover's plan-building semantics (partition-path
parse, template render, collision guard) as declarative DataFrame queries
with DuckDB oracles — the same regex/semantics the library functions in
:mod:`spark_file_mover_spark.filemover` apply, checked value-for-value
against a second engine. A1/A5 exercise the real filesystem pass on a
written dataset (rows-only manifests). A6 is the composite: write → land
as one file → re-read, oracle-checked against the pre-write aggregate.

Reference parity anchors: partition regex `MoveFilesOutputCommitter.scala:29`,
template regex `:30`, collision guard `:50-53`, null/empty partition →
``__HIVE_DEFAULT_PARTITION__`` (test :126-142).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_file_mover_spark.filemover import (
    list_output_files,
    write_single_file,
)
from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import (
    ingest_artifact,
    load_table,
    scratch_dir,
)

# ---------------------------------------------------------------------------
# A2 — partition extraction as a declarative query
# ---------------------------------------------------------------------------

# Build a synthetic written-file path per order, then parse it back with the
# reference's partition regex. Hive-encodes the nullable clerk suffix the way
# Spark's writer would (null/empty -> __HIVE_DEFAULT_PARTITION__).
_PARTITION_EXTRACT_ORACLE = r"""
WITH paths AS (
  SELECT
    'out/o_orderstatus=' || o_orderstatus ||
    '/o_orderpriority=' || o_orderpriority ||
    '/part-' || CAST(o_orderkey AS VARCHAR) || '.csv' AS path,
    o_orderkey
  FROM orders
)
SELECT
  o_orderkey,
  path,
  regexp_extract(path, 'o_orderstatus=([a-zA-Z0-9 -_]*)', 1) AS status_value,
  regexp_extract(path, 'o_orderpriority=([a-zA-Z0-9 -_]*)', 1) AS priority_value
FROM paths
"""


@query("move-partition-extract", oracle=_PARTITION_EXTRACT_ORACLE)
def move_partition_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: parse Hive ``key=value`` segments out of written-file paths with
    the reference's partition regex (scala :29), as a column-level query."""
    o = load_table(spark, sf_dir, "orders")
    path = F.concat(
        F.lit("out/o_orderstatus="),
        F.col("o_orderstatus"),
        F.lit("/o_orderpriority="),
        F.col("o_orderpriority"),
        F.lit("/part-"),
        F.col("o_orderkey").cast("string"),
        F.lit(".csv"),
    )
    df = o.select("o_orderkey", path.alias("path"))
    return df.select(
        "o_orderkey",
        "path",
        F.regexp_extract("path", r"o_orderstatus=([a-zA-Z0-9 -_]*)", 1).alias(
            "status_value"
        ),
        F.regexp_extract("path", r"o_orderpriority=([a-zA-Z0-9 -_]*)", 1).alias(
            "priority_value"
        ),
    )


# ---------------------------------------------------------------------------
# A3 — template rendering as a declarative query
# ---------------------------------------------------------------------------

# Render '$outputDirectory/status_$status_prio_$priority.csv' per partition
# pair — the underscore-delimited variable semantics of the reference — and
# Hive-encode empties the way the writer would.
_TEMPLATE_ORACLE = """
SELECT DISTINCT
  o_orderstatus,
  o_orderpriority,
  '/data/out/status_'
    || CASE WHEN o_orderstatus IS NULL OR o_orderstatus = ''
            THEN '__HIVE_DEFAULT_PARTITION__' ELSE o_orderstatus END
    || '_prio_'
    || CASE WHEN o_orderpriority IS NULL OR o_orderpriority = ''
            THEN '__HIVE_DEFAULT_PARTITION__' ELSE o_orderpriority END
    || '.csv' AS target_path
FROM orders
"""


@query("move-template", oracle=_TEMPLATE_ORACLE)
def move_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: render the move target per partition tuple — ``$var`` values
    spliced between literal segments (scala :30,37-46), null/empty encoded
    as ``__HIVE_DEFAULT_PARTITION__`` (test :126-142)."""
    o = load_table(spark, sf_dir, "orders")
    enc = lambda c: F.when(  # noqa: E731
        F.col(c).isNull() | (F.col(c) == ""), F.lit("__HIVE_DEFAULT_PARTITION__")
    ).otherwise(F.col(c))
    return (
        o.select("o_orderstatus", "o_orderpriority")
        .distinct()
        .select(
            "o_orderstatus",
            "o_orderpriority",
            F.concat(
                F.lit("/data/out/status_"),
                enc("o_orderstatus"),
                F.lit("_prio_"),
                enc("o_orderpriority"),
                F.lit(".csv"),
            ).alias("target_path"),
        )
    )


# ---------------------------------------------------------------------------
# A4 — collision guard as a declarative query
# ---------------------------------------------------------------------------

# One planned file per (status, clerk-bucket); targets templated on status
# only, so every status with >1 bucket collides. The guard is GLOBAL: one
# collision means nothing moves (scala :50-53) — surfaced as would_abort.
_COLLISION_ORACLE = """
WITH plan AS (
  SELECT DISTINCT
    o_orderstatus,
    o_orderkey % 4 AS bucket,
    '/out/status_' || o_orderstatus || '.csv' AS target
  FROM orders
),
per_target AS (
  SELECT target, COUNT(*) AS n_sources FROM plan GROUP BY target
)
SELECT
  target,
  n_sources,
  n_sources > 1 AS is_collision,
  (SELECT COUNT(*) FROM per_target WHERE n_sources > 1) > 0 AS would_abort
FROM per_target
"""


@query("move-collision-guard", oracle=_COLLISION_ORACLE)
def move_collision_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: group the rename plan by target; any target with >1 source
    aborts the ENTIRE move (global guard, scala :50-53)."""
    o = load_table(spark, sf_dir, "orders")
    plan = (
        o.select(
            "o_orderstatus", (F.col("o_orderkey") % 4).alias("bucket")
        )
        .distinct()
        .select(
            "o_orderstatus",
            "bucket",
            F.concat(
                F.lit("/out/status_"), F.col("o_orderstatus"), F.lit(".csv")
            ).alias("target"),
        )
    )
    per_target = plan.groupBy("target").agg(F.count("*").alias("n_sources"))
    # global guard as a second aggregate broadcast onto every row: the
    # per-target relation is O(#files), so an unpartitioned window (all
    # rows through ONE task) would be the wrong shape at 10^7 targets —
    # the two-phase aggregate keeps map-side partials and broadcasts a
    # single boolean row
    abort = per_target.agg(
        (F.sum((F.col("n_sources") > 1).cast("int")) > 0).alias("would_abort")
    )
    return per_target.select(
        "target",
        "n_sources",
        (F.col("n_sources") > 1).alias("is_collision"),
    ).crossJoin(F.broadcast(abort))


# ---------------------------------------------------------------------------
# A1 / A5 — the real filesystem pass (rows-only manifests)
# ---------------------------------------------------------------------------


def _write_partitioned_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write nation partitioned by region key (the write pipeline the
    mover operates on, ref test :52-59) and return the path. The write
    is SETUP, an ingest artifact of the nation input: in a deployment
    it happened in some upstream job and the mover only lists it. The
    OPERATOR the key declares — the recursive listing of the completed
    write plus its per-dir rollup — runs on every invocation and never
    mutates the directory."""

    def build() -> str:
        out = scratch_dir() + "/out"
        (
            load_table(spark, sf_dir, "nation")
            .coalesce(1)
            .write.mode("overwrite")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .partitionBy("n_regionkey")
            .csv(out)
        )
        return out

    return ingest_artifact("a1-fixture", spark, sf_dir, build)


# The listing's expected layout is fully determined by the data: one
# Hive dir per distinct n_regionkey, exactly one non-empty file each
# (coalesce(1) single-task write). Random temp paths and byte sizes stay
# out of the output; the partition-derived layout IS the check.
_LIST_FILES_ORACLE = """
SELECT 'n_regionkey=' || CAST(n_regionkey AS VARCHAR) AS partition_dir,
       CAST(1 AS BIGINT) AS n_files,
       CAST(1 AS BIGINT) AS n_non_empty
FROM (SELECT DISTINCT n_regionkey FROM nation)
ORDER BY partition_dir
"""


@query("move-list-files", oracle=_LIST_FILES_ORACLE)
def move_list_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: recursive listing of a completed partitioned write,
    ``_SUCCESS`` excluded (scala :27) — one manifest row per partition
    dir, hash-checked against the partition set the data dictates.

    The per-dir rollup happens driver-side: the listing is ALREADY driver
    metadata (same as the reference, O(#files) FS client calls), so
    launching a Spark job to group a handful of rows would add a full
    job round trip for nothing. ``plan_moves_df`` is the distributed
    surface when #files outgrows the driver."""
    out = _write_partitioned_fixture(spark, sf_dir)
    files = list_output_files(spark, out)
    agg: dict[str, list[int]] = {}
    for p, size in files:
        part_dir = p.split("/out/", 1)[1].rsplit("/", 1)[0]
        cur = agg.setdefault(part_dir, [0, 0])
        cur[0] += 1
        cur[1] += int(size > 0)
    rows = [(d, n, ne) for d, (n, ne) in sorted(agg.items())]
    return spark.createDataFrame(
        rows, "partition_dir string, n_files long, n_non_empty long"
    )


_RENAME_ORACLE = """
SELECT 'region_' || CAST(n_regionkey AS VARCHAR) || '.csv' AS landed_file,
       TRUE AS was_renamed
FROM (SELECT DISTINCT n_regionkey FROM nation)
ORDER BY landed_file
"""


@query("move-rename", oracle=_RENAME_ORACLE)
def move_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: execute the rename pass on a real partitioned write and
    manifest the landed per-partition files (scala :52) — hash-checked:
    the template dictates one ``region_<rk>.csv`` per distinct partition
    value, every one the product of an actual rename."""
    out = scratch_dir("move-rename") + "/out"
    n = load_table(spark, sf_dir, "nation")
    res = write_single_file(
        n.withColumnRenamed("n_regionkey", "rk"),
        out,
        template="$outputDirectory/region_$rk.csv",
        partition_by=["rk"],
        fmt="csv",
        single=True,
    )
    assert res.moved
    rows = [
        (dst.rsplit("/", 1)[1], src != dst) for src, dst in res.renames.items()
    ]
    return spark.createDataFrame(
        rows, "landed_file string, was_renamed boolean"
    ).orderBy("landed_file")


# ---------------------------------------------------------------------------
# A6 — the composite: write → single named file → re-read
# ---------------------------------------------------------------------------

_WRITE_SINGLE_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
"""


@query("write-single-file", oracle=_WRITE_SINGLE_ORACLE)
def write_single_file_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: the reference's headline capability end-to-end — aggregate,
    write as exactly ONE named CSV file via the post-write move, re-read
    that single file, return its contents (oracle-checked against the
    pre-write aggregate; int+string columns round-trip CSV exactly)."""
    out = scratch_dir("write-single-file") + "/out"
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(F.count("*").alias("n_orders"))
    res = write_single_file(
        agg,
        out,
        template="$outputDirectory.csv",
        fmt="csv",
        options={"header": "true"},
    )
    assert res.moved and len(res.renames) == 1
    schema = T.StructType(
        [
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("n_orders", T.LongType()),
        ]
    )
    return spark.read.csv(out + ".csv", header=True, schema=schema)
