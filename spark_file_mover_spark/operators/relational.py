"""Category C — projections, filters, predicates (SURVEY.md §2C).

Pure narrow transformations: Catalyst pushes every predicate and the
column projection into the parquet scan (visible as ``PushedFilters`` /
``ReadSchema`` in ``.explain("formatted")``), so these scale linearly
with input and never shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import load_table

_PROJECT_ORACLE = """
SELECT
  c_custkey,
  upper(c_name) AS name_upper,
  c_mktsegment AS segment,
  c_acctbal,
  c_acctbal * 0.9 AS discounted_bal
FROM customer
"""


@query("project-select", oracle=_PROJECT_ORACLE, pure=True)
def project_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: projection + rename + computed columns."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.col("c_mktsegment").alias("segment"),
        "c_acctbal",
        (F.col("c_acctbal") * F.lit(0.9)).alias("discounted_bal"),
    )


_FILTER_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 1000 AND 150000
  AND o_orderpriority IS NOT DISTINCT FROM '1-URGENT'
"""


@query("filter-pred", oracle=_FILTER_ORACLE, pure=True)
def filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: conjunctive predicates with IN / BETWEEN / null-safe equality."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(1000, 150000)
        & F.col("o_orderpriority").eqNullSafe(F.lit("1-URGENT"))
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )


_LIKE_ORACLE = """
SELECT p_partkey, p_name, p_type, p_brand
FROM part
WHERE (p_name LIKE '%gear%' OR p_type LIKE 'ECONOMY%')
  AND regexp_matches(p_brand, '^Brand#1[0-9]$')
"""


@query("filter-like-regexp", oracle=_LIKE_ORACLE, pure=True)
def filter_like_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: LIKE and RLIKE predicates."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        (F.col("p_name").like("%gear%") | F.col("p_type").like("ECONOMY%"))
        & F.col("p_brand").rlike("^Brand#1[0-9]$")
    ).select("p_partkey", "p_name", "p_type", "p_brand")


# ---------------------------------------------------------------------------
# C4 — scalar-subquery predicate
# ---------------------------------------------------------------------------

_SCALAR_SUBQ_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_acctbal > (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
  FROM customer
)
"""


@query("filter-scalar-subquery", oracle=_SCALAR_SUBQ_ORACLE, pure=True)
def filter_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: filter against an uncorrelated scalar subquery (rows above the
    table-wide average). Declared through ``spark.sql`` so Catalyst's
    scalar-subquery machinery is what runs: the subquery executes once,
    its single-row result is broadcast into the predicate — the plan is
    one aggregate job + one filtered scan, never a join fan-out. The
    mean follows the repo's decimal parity discipline (exact DECIMAL sum
    → one double division), so the strict > threshold is bit-identical
    in both engines regardless of partitioning/summation order."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_v"
    )
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer_v
        WHERE c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                 / COUNT(*)
          FROM customer_v
        )
        """
    )
