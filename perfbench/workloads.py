"""The benchmark's two workloads, the land jobs of its file-mover probe,
and the output checks of both.

An operation is one closed-loop call: the next one starts only after it
returns. A query operation is the registered callable (build) plus the
benchmark's consume of its DataFrame (an xxhash64 fold over every
column, as ``bench.py`` does). A land operation is one
``filemover.write_single_file`` call over a slice of ``lineitem``; the
traced run makes one pass of them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# Execution dominates these: build is ~3% of op time. They are keys of
# bench.py's frozen COMMON16 list, one of each registering module, so
# every module of that list is run, at about half its cost per pass: the
# module's first key, except stream-session for operators.streaming,
# since stream-tumbling spends 0.04-0.1 s in its build, which alone takes
# the build share of the mix to 5%. A ninth key, fn-map-json (~0.4 s),
# makes the count odd, so the median op falls among the 0.4-0.5 s keys
# rather than in the gap between them and the four ~0.25 s keys.
QUERY_MIX = [
    "agg-hash",
    "join-multiway-star",
    "window-ranking",
    "stream-session",
    "dedup-exact",
    "sim-search-topk",
    "text-analysis",
    "fn-string",
    "fn-map-json",
]

# Keys whose cost is in the registered call itself: plan construction
# plus the Spark jobs it runs eagerly while building. Of the graph keys,
# the three with probe figures are kept; the others repeat their
# iterative eager-job pattern. The set is sized so that a whole run,
# set-up and cold pass included, stays under a minute on a 4-CPU VM.
DRIVER_BOUND = [
    "graph-pagerank",
    "graph-personalized-pagerank",
    "graph-bfs-levels",
    "sink-compact",
    "sink-bucketed",
    "scan-schema-evolution",
]

# The registry keys each workload runs per pass.
WORKLOADS = {"query-mix": QUERY_MIX, "driver-bound": DRIVER_BOUND}

# Target parents already exist (the write made every b=<b> dir), so the
# driver-side and the distributed rename paths agree on this template.
LAND_TEMPLATE = "$outputDirectory/b=$b/part-m$m.csv"
# Every m of one b renders the same target: the global collision guard
# must move nothing.
COLLIDE_TEMPLATE = "$outputDirectory/b=$b/all.csv"


@dataclass(frozen=True)
class LandJob:
    name: str
    buckets: int  # distinct b values
    months: int  # distinct m values
    rows: int  # lineitem rows in the slice
    template: str

    @property
    def files(self) -> int:
        return self.buckets * self.months


LAND_JOBS = (
    LandJob("land-30", 6, 5, 3_000, LAND_TEMPLATE),
    LandJob("land-300", 25, 12, 24_000, LAND_TEMPLATE),
    LandJob("land-collide", 6, 5, 3_000, COLLIDE_TEMPLATE),
)


def consume(df) -> int:
    """Execute the whole plan and fold it to one value hash."""
    from pyspark.sql import functions as F

    row = (
        df.select(F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).alias("h"))
        .agg(F.bit_xor("h").alias("s"))
        .collect()
    )
    return row[0][0] or 0


def land_slice(spark, data_dir: str, job: LandJob, seed: int):
    """The input of one land job: a prefix of ``lineitem`` with partition
    columns ``b`` (bucket, salted by the seed) and ``m``."""
    from pyspark.sql import functions as F

    from spark_file_mover_spark.sources import io

    li = io.load_table(spark, data_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") < job.rows // 4)
        .withColumn(
            "b", F.pmod(F.xxhash64("l_orderkey", F.lit(seed)), F.lit(job.buckets))
        )
        .withColumn("m", F.pmod("l_partkey", F.lit(job.months)))
    )


def land_rows(data_dir: str) -> dict[str, int]:
    """Input row count of every land job, read from the generated parquet
    rather than through the engine."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys = pq.read_table(f"{data_dir}/lineitem.parquet", columns=["l_orderkey"])
    col = keys.column("l_orderkey")
    return {j.name: pc.sum(pc.less(col, j.rows // 4)).as_py() for j in LAND_JOBS}


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------


def check_query(df, oracle_rel) -> tuple[bool, str]:
    """A key's result must match its DuckDB oracle's exactly
    (``tests/parity.py::compare``)."""
    from parity import compare

    return compare(df, oracle_rel)


def local(p: str) -> str:
    return p[len("file:"):] if p.startswith("file:") else p


def _lines(paths) -> int:
    n = 0
    for p in paths:
        with open(p, "rb") as f:
            n += sum(1 for _ in f)
    return n


def check_land(job: LandJob, result, expected_rows: int) -> tuple[bool, str]:
    """After a move pass: every planned target exists, no source remains
    and the landed files hold every input row. After a colliding pass:
    every file is still in place and no target was made."""
    srcs = [local(s) for s in result.renames]
    dsts = [local(d) for d in result.renames.values()]
    if not srcs:
        return False, "nothing was written"
    if job.template == COLLIDE_TEMPLATE:
        if result.moved:
            return False, "colliding plan was not aborted"
        if not all(os.path.isfile(s) for s in srcs):
            return False, "colliding pass moved a file"
        if any(os.path.exists(d) for d in set(dsts)):
            return False, "colliding pass created a target"
        landed = srcs
    else:
        if not result.moved:
            return False, "move pass aborted"
        missing = [d for d in dsts if not os.path.isfile(d)]
        if missing:
            return False, f"{len(missing)} planned targets missing, e.g. {missing[0]}"
        left = [s for s in srcs if os.path.exists(s)]
        if left:
            return False, f"{len(left)} sources remain, e.g. {left[0]}"
        landed = dsts
    rows = _lines(landed)
    if rows != expected_rows:
        return False, f"re-read {rows} rows, input had {expected_rows}"
    return True, "ok"


def check_manifest(statuses: dict[str, int], planned: int) -> tuple[bool, str]:
    """A distributed move must rename every planned file."""
    renamed = statuses.get("renamed", 0)
    if renamed != planned:
        return False, f"distributed move renamed {renamed}/{planned}: {statuses}"
    return True, "ok"
