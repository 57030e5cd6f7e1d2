"""Category F6 — set operations (SURVEY.md §2F).

UNION ALL is a zero-shuffle concatenation; DISTINCT/INTERSECT/EXCEPT
hash-shuffle on the full row — acceptable here because the inputs are
key projections, the pattern to keep at scale (never set-op wide rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import load_table

_SETOPS_ORACLE = """
WITH building AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
rich AS (
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
)
SELECT 'union_distinct' AS op, c_custkey FROM (
  SELECT c_custkey FROM building UNION SELECT c_custkey FROM rich)
UNION ALL
SELECT 'intersect' AS op, c_custkey FROM (
  SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM rich)
UNION ALL
SELECT 'except' AS op, c_custkey FROM (
  SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM rich)
"""


@query("set-union-intersect-except", oracle=_SETOPS_ORACLE, pure=True)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: UNION [ALL|DISTINCT], INTERSECT, EXCEPT over customer key sets,
    tagged and concatenated into one result.

    Shape at 100 TB: all three set ops come out of ONE presence-flag
    aggregate — each input row carries (in_a, in_b) booleans, one
    groupBy(key) bool-or collapses multiplicity, and every op is then
    a filter over the collapsed relation expanded by a tiny
    array+explode. One corpus scan and one exchange replace the naive
    form's 6 scans and 3 exchanges (UNION DISTINCT's shuffle plus one
    join each for INTERSECT/EXCEPT) — the r11 scan-census catch: the
    three set ops each re-executed both filtered slices."""
    c = load_table(spark, sf_dir, "customer")
    in_a = F.col("c_mktsegment") == "BUILDING"
    in_b = F.col("c_acctbal") > 5000
    pres = (
        c.select(
            "c_custkey", in_a.alias("in_a"), in_b.alias("in_b")
        )
        .filter(F.col("in_a") | F.col("in_b"))
        .groupBy("c_custkey")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    ops = F.array_compact(
        F.array(
            F.lit("union_distinct"),
            F.when(F.col("in_a") & F.col("in_b"), F.lit("intersect")),
            F.when(F.col("in_a") & ~F.col("in_b"), F.lit("except")),
        )
    )
    return pres.select(
        F.explode(ops).alias("op"), "c_custkey"
    )
