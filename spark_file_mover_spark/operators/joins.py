"""Category D — joins (SURVEY.md §2D).

Scale posture: dimension tables (region/nation/customer at TPC-H ratios)
are broadcast — explicitly where we know sizes (D4, D6), otherwise left to
Catalyst/AQE. Fact-fact joins shuffle on the join key, which is the right
plan at 100 TB; AQE skew-join splitting is enabled in the session factory.
Non-equi joins (D5) keep an equi component so the planner can still hash —
a pure theta join would degrade to BroadcastNestedLoop and is only safe
when one side is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_file_mover_spark.operators._parity import dec
from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import load_table

_INNER_ORACLE = """
SELECT o.o_orderkey, c.c_custkey, c.c_name, c.c_mktsegment, o.o_totalprice
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
WHERE o.o_orderstatus = 'O'
"""


@query("join-inner-equi", oracle=_INNER_ORACLE, pure=True)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: customer ⋈ orders equi-join (planner picks broadcast/SMJ)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_name", "c_mktsegment", "o_totalprice"
    )


_OUTER_ORACLE = """
WITH cust_per_nation AS (
  SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
  FROM customer GROUP BY c_nationkey
),
supp_per_nation AS (
  SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
  FROM supplier GROUP BY s_nationkey
)
SELECT
  COALESCE(c.nationkey, s.nationkey) AS nationkey,
  c.n_customers AS n_customers,
  s.n_suppliers AS n_suppliers
FROM cust_per_nation c FULL OUTER JOIN supp_per_nation s
  ON c.nationkey = s.nationkey
"""


@query("join-left-right-full", oracle=_OUTER_ORACLE, pure=True)
def join_left_right_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: full-outer join of per-nation customer vs supplier counts
    (nulls on both sides since suppliers cover few nations)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    joined = c.alias("c").join(s.alias("s"), F.col("c.nationkey") == F.col("s.nationkey"), "full")
    return joined.select(
        F.coalesce(F.col("c.nationkey"), F.col("s.nationkey")).alias("nationkey"),
        F.col("c.n_customers").alias("n_customers"),
        F.col("s.n_suppliers").alias("n_suppliers"),
    )


# EXISTS/NOT EXISTS, not IN/NOT IN: Spark's left_anti has NOT-EXISTS
# semantics, and a single NULL o_custkey would turn the NOT IN branch
# into zero rows (three-valued logic) while left_anti still returns
# every non-matching customer — a hash mismatch born in the oracle.
_SEMI_ANTI_ORACLE = """
SELECT 'has_urgent_order' AS tag, c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
UNION ALL
SELECT 'no_urgent_order' AS tag, c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
"""


@query("join-semi-anti", oracle=_SEMI_ANTI_ORACLE, pure=True)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: left-semi (EXISTS) and left-anti (NOT EXISTS), tagged + unioned."""
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    semi = c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi").select(
        F.lit("has_urgent_order").alias("tag"), "c_custkey", "c_name"
    )
    anti = c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti").select(
        F.lit("no_urgent_order").alias("tag"), "c_custkey", "c_name"
    )
    return semi.unionAll(anti)


_BCAST_ORACLE = """
SELECT r.r_name AS region_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
FROM region r
JOIN nation n ON r.r_regionkey = n.n_regionkey
JOIN customer c ON n.n_nationkey = c.c_nationkey
GROUP BY r.r_name
"""


@query("join-broadcast", oracle=_BCAST_ORACLE, pure=True)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: small-dim broadcast join — region and nation ship to every task,
    so the customer scan never shuffles for the join."""
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


_RANGE_ORACLE = """
SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, p.p_size, l.l_quantity
FROM lineitem l JOIN part p
  ON l.l_partkey = p.p_partkey
 AND l.l_quantity BETWEEN p.p_size - 2 AND p.p_size + 2
WHERE p.p_brand = 'Brand#1'
"""


@query("join-range-theta", oracle=_RANGE_ORACLE, pure=True)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: equi + range residual join (TPC-H Q19 shape). The equi key keeps
    the join hash-able; the range predicate is evaluated as a post-join
    filter inside the same stage — no nested-loop blowup."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    cond = (
        (li.l_partkey == p.p_partkey)
        & (li.l_quantity >= p.p_size - 2)
        & (li.l_quantity <= p.p_size + 2)
    )
    return li.join(F.broadcast(p), cond).select(
        "l_orderkey", "l_linenumber", "p_partkey", "p_size", "l_quantity"
    )


_STAR_ORACLE = """
SELECT
  r.r_name AS region_name,
  n.n_name AS nation_name,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lineitems
FROM region r
JOIN nation n   ON r.r_regionkey = n.n_regionkey
JOIN customer c ON n.n_nationkey = c.c_nationkey
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY r.r_name, n.n_name
"""


@query("join-multiway-star", oracle=_STAR_ORACLE, pure=True)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: TPC-H Q5-shaped star join region→nation→customer→orders→lineitem.

    region/nation are unconditionally tiny → explicit broadcast. customer
    is NOT hinted: at real TPC-H ratios it outgrows a broadcast beyond
    ~sf10, so forcing it is an executor-OOM risk at 100 TB — AQE converts
    the join to broadcast at runtime whenever the actual size allows,
    which is the safe default for medium dims. The only guaranteed
    shuffles are the orders⋈lineitem fact join (hash on orderkey) and the
    final aggregation — minimal for this shape.
    """
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(12,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_SKEW_SALTED_ORACLE = """
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0 ELSE l_orderkey END AS hot_key,
         l_quantity
  FROM lineitem
),
dim AS (
  SELECT DISTINCT CASE WHEN o_orderkey % 100 < 90 THEN 0 ELSE o_orderkey END AS hot_key,
         CASE WHEN o_orderkey % 100 < 90 THEN 'hot' ELSE 'cold' END AS temperature
  FROM orders
)
SELECT d.temperature,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(f.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
FROM fact f JOIN dim d ON f.hot_key = d.hot_key
GROUP BY d.temperature
"""

_SALT_BUCKETS = 8


@query("join-skew-salted", oracle=_SKEW_SALTED_ORACLE, pure=True)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: explicit salted join over a manufactured 90%-hot key.

    The fact side appends a deterministic salt (hash of the row's natural
    key mod N); the dim side is replicated N× via explode(sequence) so
    every (key, salt) pair exists. The join key becomes (hot_key, salt) —
    the hot key's rows spread over N shuffle partitions instead of one.

    AQE's skew-join splitting handles most cases at runtime and is ON in
    this engine's session factory; manual salting remains the tool when
    (a) the skewed side feeds a window/groupBy AFTER the join (AQE splits
    the join but the downstream agg re-skews), or (b) the runtime is not
    AQE-capable. Results are identical to the unsalted join by
    construction — the oracle runs the plain join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    hot = lambda c: F.when(F.col(c) % 100 < 90, F.lit(0)).otherwise(  # noqa: E731
        F.col(c)
    ).cast("long")

    fact = li.select(
        hot("l_orderkey").alias("hot_key"),
        "l_quantity",
        # deterministic salt: same row always lands in the same bucket
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber", "l_quantity"),
               F.lit(_SALT_BUCKETS)).alias("salt"),
    )
    dim = (
        o.select(
            hot("o_orderkey").alias("hot_key"),
            F.when(F.col("o_orderkey") % 100 < 90, "hot")
            .otherwise("cold")
            .alias("temperature"),
        )
        .distinct()
        .select(
            "hot_key",
            "temperature",
            F.explode(
                F.sequence(F.lit(0), F.lit(_SALT_BUCKETS - 1))
            ).alias("salt"),
        )
    )
    return (
        fact.join(dim, ["hot_key", "salt"])
        .groupBy("temperature")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(dec("l_quantity")).cast("double").alias("total_qty"),
        )
    )


_RANGE_BINNED_ORACLE = """
WITH campaigns AS (
  SELECT n_nationkey AS campaign_id,
         TIMESTAMP '2024-01-01' + INTERVAL (3 * n_nationkey) DAY AS start_ts,
         TIMESTAMP '2024-01-01' + INTERVAL (3 * n_nationkey + 3) DAY AS end_ts
  FROM nation WHERE n_nationkey < 10
)
SELECT c.campaign_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM campaigns c JOIN events e
  ON e.ts >= c.start_ts AND e.ts < c.end_ts
GROUP BY c.campaign_id
"""


@query("join-range-binned", oracle=_RANGE_BINNED_ORACLE, pure=True)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8: PURE range join (no natural equi key) — events falling inside
    campaign time windows — executed as bin-then-refine.

    A raw interval predicate can only plan as a (broadcast) nested-loop
    join: O(|events| × |campaigns|) comparisons. Instead each campaign
    EXPLODES into the day bins it spans and each event maps to its one day
    bin; the join becomes an equi-join on the bin (hashable, shuffle-
    partitionable) plus a residual refine on the exact bounds. Cost drops
    to O(|events| + |campaigns| × span_days) join rows — the standard
    interval-join strategy in distributed engines. The oracle runs the
    naive range join, proving equivalence.
    """
    n = load_table(spark, sf_dir, "nation")
    e = load_table(spark, sf_dir, "events")
    base = F.to_timestamp(F.lit("2024-01-01"))
    camp = n.filter(F.col("n_nationkey") < 10).select(
        F.col("n_nationkey").alias("campaign_id"),
        F.timestamp_add("DAY", 3 * F.col("n_nationkey"), base).alias("start_ts"),
        F.timestamp_add("DAY", 3 * F.col("n_nationkey") + 3, base).alias("end_ts"),
    )
    camp_bins = camp.select(
        "campaign_id",
        "start_ts",
        "end_ts",
        F.explode(
            F.sequence(
                F.to_date("start_ts"),
                F.date_sub(F.to_date("end_ts"), 1),
            )
        ).alias("bin"),
    )
    ev = e.select("ts", "value", F.to_date("ts").alias("bin"))
    return (
        ev.join(F.broadcast(camp_bins), "bin")
        .filter((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")))
        .groupBy("campaign_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


_ASOF_ORACLE = """
WITH e AS (
  SELECT event_id, user_id,
         TIMESTAMP '1995-01-01' + INTERVAL (event_id % 2400) DAY AS asof_ts
  FROM events
),
best AS (
  SELECT e.event_id, MAX(o.o_orderdate) AS d
  FROM e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.asof_ts
  GROUP BY e.event_id
),
matched AS (
  SELECT b.event_id, MAX(o.o_orderkey) AS matched_orderkey
  FROM best b
  JOIN e ON e.event_id = b.event_id
  JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate = b.d
  GROUP BY b.event_id
)
SELECT e.event_id, e.user_id,
       strftime(e.asof_ts, '%Y-%m-%d') AS asof_date,
       m.matched_orderkey
FROM e LEFT JOIN matched m ON m.event_id = e.event_id
"""


def _asof_merged(spark: SparkSession, sf_dir: str):
    """THE union-and-window as-of scaffolding D9 and D12 share (the
    _textnorm single-definition discipline: the era-fold constant, the
    null-column padding and the (t, is_event, okey) tie-break define
    the as-of semantics — one copy, or the variants silently diverge):
    tag both streams, union them, and return (merged, window) where
    the window sorts once per key with orders BEFORE events at equal t
    (as-of is <=) and same-date orders ascending by okey so a carried
    last() is the max orderkey of that date."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.timestamp_add(
            "DAY",
            (F.col("event_id") % 2400).cast("int"),
            F.to_timestamp(F.lit("1995-01-01")),
        ).alias("asof_ts"),
    )
    o = load_table(spark, sf_dir, "orders")
    orders_side = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.col("o_orderkey").alias("okey"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("asof_ts"),
    )
    events_side = e.select(
        F.col("user_id").alias("key"),
        F.col("asof_ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("long").alias("okey"),
        "event_id",
        "asof_ts",
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("key")
        .orderBy("t", "is_event", "okey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders_side.unionByName(events_side), w


@query("join-asof", oracle=_ASOF_ORACLE, pure=True)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9: AS-OF join — for each event, the customer's most recent order
    at-or-before the event time (ties on date broken by max orderkey).

    Implementation is the scalable union-and-window formulation
    (:func:`_asof_merged`): sort once per key and carry the last
    non-null order id forward with ``last(ignorenulls)``. ONE shuffle +
    ONE sort over |orders|+|events| — versus the naive inequality join,
    whose intermediate is |events| x orders-per-key and which no
    planner can hash. This is how as-of joins are built on any engine
    without a native operator; event timestamps are folded into the
    order-date era so matches interleave in time.
    """
    merged, w = _asof_merged(spark, sf_dir)
    return (
        merged.withColumn(
            "matched_orderkey", F.last("okey", ignorenulls=True).over(w)
        )
        .filter(F.col("is_event") == 1)
        .select(
            "event_id",
            F.col("key").alias("user_id"),
            F.date_format("asof_ts", "yyyy-MM-dd").alias("asof_date"),
            "matched_orderkey",
        )
    )


# ---------------------------------------------------------------------------
# D10 — correlated LATERAL subquery (top-1 per outer row)
# ---------------------------------------------------------------------------

_LATERAL_ORACLE = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
WHERE c.c_custkey % 10 = 0
"""


@query("join-lateral-topk", oracle=_LATERAL_ORACLE, pure=True)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10: correlated LATERAL subquery — each customer's single highest-
    value order, written the way an analyst writes it (per-row LIMIT 1
    subquery). Catalyst DECORRELATES the lateral: the per-row subquery
    becomes a ranked window over one shuffle of orders joined back to
    customer — semantically the nested loop, physically the same plan as
    topk-per-group. That rewrite is the point at 100 TB: the naive
    interpretation re-scans orders once per customer; the decorrelated
    plan scans it once, total. Deterministic tie-break (totalprice DESC,
    orderkey) keeps both engines' pick identical."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "lat_customer_v"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "lat_orders_v"
    )
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM lat_customer_v c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM lat_orders_v
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) o
        WHERE c.c_custkey % 10 = 0
        """
    )


# ---------------------------------------------------------------------------
# D11 — interval-overlap join (interval × interval), bin-then-refine
# ---------------------------------------------------------------------------

_IOVERLAP_EPOCH = "1992-01-01"  # week-bin origin (orders date floor)
_IOVERLAP_BIN_DAYS = 7

_IOVERLAP_ORACLE = f"""
WITH promo AS (
  SELECT o_orderkey,
         CAST(o_orderdate AS DATE) AS p_start,
         CAST(o_orderdate AS DATE)
           + INTERVAL (o_orderkey % 7 + 2) DAY AS p_end
  FROM orders WHERE o_orderkey % 20 = 0
),
camp AS (
  SELECT n_nationkey AS campaign_id,
         DATE '{_IOVERLAP_EPOCH}' + INTERVAL (n_nationkey * 150) DAY
           AS c_start,
         DATE '{_IOVERLAP_EPOCH}' + INTERVAL (n_nationkey * 150 + 10) DAY
           AS c_end
  FROM nation WHERE n_nationkey < 15
)
SELECT c.campaign_id, p.o_orderkey,
       date_diff('day', greatest(p.p_start, c.c_start),
                 least(p.p_end, c.c_end)) AS overlap_days
FROM promo p JOIN camp c
  ON p.p_start < c.c_end AND c.c_start < p.p_end
ORDER BY c.campaign_id, p.o_orderkey
"""


@query("join-interval-overlap", oracle=_IOVERLAP_ORACLE, pure=True)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11: interval × interval OVERLAP join — promo windows (derived
    from orders) against campaign windows — executed bin-then-refine.
    D8 (``join-range-binned``) is the point-in-interval case; this is
    the general two-sided one, the shape behind meeting-conflict,
    session-concurrency and date-range reconciliation queries.

    A raw overlap predicate (``a.start < b.end AND b.start < a.end``)
    has no equi key, so Spark can only plan a (broadcast) nested-loop
    join — O(|A|·|B|) comparisons. Instead BOTH sides explode into the
    7-day bins their interval covers and the join becomes an equi-join
    on the bin plus the exact residual predicate. Any overlapping pair
    shares at least the bin containing ``greatest(a.start, b.start)``
    (that date lies in both intervals), and keeping exactly the join
    row where ``bin = week(greatest(a.start, b.start))`` counts each
    pair ONCE — deduplication by arithmetic, not by a shuffling
    DISTINCT. Cost: O(|A|·span_a/7 + |B|·span_b/7) join rows, each
    side shuffle-partitionable on the bin key (the small campaign side
    broadcasts here; with two large sides the same plan hash-shuffles
    both on the bin). The oracle runs the naive overlap join, proving
    bin+dedupe equivalence."""
    epoch = F.lit(_IOVERLAP_EPOCH).cast("date")

    def week(col):
        return F.expr(
            f"datediff({col}, DATE '{_IOVERLAP_EPOCH}') "
            f"div {_IOVERLAP_BIN_DAYS}"
        )

    o = load_table(spark, sf_dir, "orders")
    promo = o.filter(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("p_start"),
        F.date_add(
            F.to_date("o_orderdate"),
            (F.col("o_orderkey") % 7 + 2).cast("int"),
        ).alias("p_end"),
    )
    n = load_table(spark, sf_dir, "nation")
    camp = n.filter(F.col("n_nationkey") < 15).select(
        F.col("n_nationkey").alias("campaign_id"),
        F.date_add(epoch, (F.col("n_nationkey") * 150).cast("int")).alias(
            "c_start"
        ),
        F.date_add(
            epoch, (F.col("n_nationkey") * 150 + 10).cast("int")
        ).alias("c_end"),
    )
    # half-open intervals: the last covered day is end - 1
    promo_bins = promo.withColumn(
        "bin",
        F.explode(
            F.sequence(week("p_start"), week("date_sub(p_end, 1)"))
        ),
    )
    camp_bins = camp.withColumn(
        "bin",
        F.explode(F.sequence(week("c_start"), week("date_sub(c_end, 1)"))),
    )
    first_shared = week("greatest(p_start, c_start)")
    return (
        promo_bins.join(F.broadcast(camp_bins), "bin")
        .filter(
            (F.col("p_start") < F.col("c_end"))
            & (F.col("c_start") < F.col("p_end"))
            & (F.col("bin") == first_shared)
        )
        .select(
            "campaign_id",
            "o_orderkey",
            F.datediff(
                F.least("p_end", "c_end"), F.greatest("p_start", "c_start")
            ).alias("overlap_days"),
        )
        .orderBy("campaign_id", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# D12 — as-of join with a tolerance (staleness) bound
# ---------------------------------------------------------------------------

_ASOF_TOL_DAYS = 90

_ASOF_TOL_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id,
         TIMESTAMP '1995-01-01' + INTERVAL (event_id % 2400) DAY AS asof_ts
  FROM events
),
best AS (
  SELECT e.event_id, MAX(o.o_orderdate) AS d
  FROM e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.asof_ts
  GROUP BY e.event_id
),
matched AS (
  SELECT b.event_id, b.d, MAX(o.o_orderkey) AS okey
  FROM best b
  JOIN e ON e.event_id = b.event_id
  JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate = b.d
  GROUP BY b.event_id, b.d
)
SELECT e.event_id, e.user_id,
       strftime(e.asof_ts, '%Y-%m-%d') AS asof_date,
       CASE WHEN m.d >= e.asof_ts - INTERVAL {_ASOF_TOL_DAYS} DAY
            THEN m.okey END AS matched_orderkey,
       CASE WHEN m.d >= e.asof_ts - INTERVAL {_ASOF_TOL_DAYS} DAY
            THEN date_diff('day', m.d, e.asof_ts) END AS staleness_days,
       m.okey IS NOT NULL
         AND m.d < e.asof_ts - INTERVAL {_ASOF_TOL_DAYS} DAY AS too_stale
FROM e LEFT JOIN matched m ON m.event_id = e.event_id
ORDER BY e.event_id
"""


@query("join-asof-tolerance", oracle=_ASOF_TOL_ORACLE, pure=True)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12: as-of join with a TOLERANCE bound — D9's semantics plus the
    staleness rule every production as-of join actually ships with
    (pandas ``merge_asof(tolerance=...)``, kdb ``wj``): a match older
    than 90 days is no match (a stale quote/sensor reading is worse
    than none). Emits the match, its staleness in days, and a
    ``too_stale`` flag distinguishing "no order at all" from "an order
    existed but aged out" — the two cases downstream imputation treats
    differently.

    Same scalable union-and-window shape as D9 (shared scaffolding:
    :func:`_asof_merged` — ONE shuffle + ONE sort over
    |orders|+|events|; no inequality join), except the carried value
    is a (time, orderkey) STRUCT so the tolerance predicate can check
    the matched time AFTER the carry — the window itself is unchanged,
    which is the point: tolerance is a post-filter on the carried
    match, not a different join."""
    merged, w = _asof_merged(spark, sf_dir)
    carried = F.last(
        F.when(
            F.col("okey").isNotNull(),
            F.struct(F.col("t").alias("mt"), F.col("okey").alias("mk")),
        ),
        ignorenulls=True,
    ).over(w)
    merged = merged.withColumn("m", carried)
    fresh = F.col("m.mt") >= F.timestamp_add(
        "DAY", F.lit(-_ASOF_TOL_DAYS), F.col("asof_ts")
    )
    return (
        merged.filter(F.col("is_event") == 1)
        .select(
            "event_id",
            F.col("key").alias("user_id"),
            F.date_format("asof_ts", "yyyy-MM-dd").alias("asof_date"),
            F.when(fresh, F.col("m.mk")).alias("matched_orderkey"),
            F.when(
                fresh,
                F.datediff(F.to_date("asof_ts"), F.to_date("m.mt")),
            )
            .cast("long")
            .alias("staleness_days"),
            (F.col("m.mk").isNotNull() & ~F.coalesce(fresh, F.lit(False)))
            .alias("too_stale"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# D13 — Bloom-prefiltered join (semi-join pushdown without moving the dim)
# ---------------------------------------------------------------------------

_BLOOMJ_SEGMENT = "BUILDING"
_BLOOMJ_MBITS = 1 << 16  # 8 KiB bitmap — 1024 bigint lanes
_BLOOMJ_K = 3  # hash functions; FPR ~0.2% at n≈3k keys

_BLOOMJ_ORACLE = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{_BLOOMJ_SEGMENT}'
GROUP BY 1 ORDER BY 1
"""


@query("join-bloom-prefilter", oracle=_BLOOMJ_ORACLE)
# Not ``pure`` (tools/audit_build_jobs.py checks it): the build
# COLLECTS the Bloom bitmap (metadata-scale, but a corpus-derived
# result baked into the plan as a literal), so a plan-cache hit would
# skip the dim scan + bitmap build entirely (result caching). Every
# invocation rebuilds the filter in the timed region, as a production
# run with a fresh survivor set would.
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D13: the Bloom-prefilter join pattern — build an 8 KiB Bloom
    bitmap over the FILTERED dimension's join keys, broadcast it as a
    literal expression, and discard non-matching fact rows AT THE SCAN
    before any exchange; the exact equi-join afterwards removes the
    (~0.2%) false positives, so the result is identical to the plain
    join by construction (which is why the oracle is the plain join).

    Why it earns a key of its own at 100 TB: a selective dim predicate
    (here one market segment) leaves a fact-side join that still
    shuffles EVERY fact row under plain SMJ — the Bloom semi-filter
    cuts the exchanged volume to ~selectivity of the dim filter for
    8 KiB of broadcast state, the manual form of Spark's own
    runtime-bloom pushdown (spark.sql.optimizer.runtime.bloomFilter.*)
    that a pipeline uses when the dim side is computed (a dedup
    survivor set, yesterday's id list) rather than a scanned table —
    the relational-plane twin of dedup-cross-bloom's corpus summary.

    The bitmap build shuffles 1024 (lane, bits) rows; the collect is
    metadata-scale (1024 bigints, the dedup-cross-bloom precedent) and
    the probe is a generated-SQL literal array (one JVM parse — the
    r8b py4j lesson). At this SF the residual join broadcasts the dim;
    at fact-fact ratios it would shuffle ~|segment| rows instead of
    |orders| — the point of the pattern."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == _BLOOMJ_SEGMENT
    )
    o = load_table(spark, sf_dir, "orders")

    lanes_rel = (
        c.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col("c_custkey"), F.lit(j)),
                            F.lit(_BLOOMJ_MBITS),
                        )
                        for j in range(_BLOOMJ_K)
                    ]
                )
            ).alias("pos")
        )
        .groupBy((F.col("pos") / 64).cast("long").alias("lane"))
        .agg(
            # shiftleft's numBits parameter is int-only in the Python
            # API — the expression form takes a per-row column
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            ).alias("bits")
        )
    )
    lane_bits = {int(r["lane"]): int(r["bits"]) for r in lanes_rel.collect()}
    lanes_sql = ", ".join(
        f"{lane_bits.get(i, 0)}L" for i in range(_BLOOMJ_MBITS // 64)
    )
    probes = " AND ".join(
        f"((element_at(__bloom_lanes, CAST(pmod(xxhash64(o_custkey, {j}), "
        f"{_BLOOMJ_MBITS}) / 64 AS INT) + 1) >> "
        f"CAST(pmod(xxhash64(o_custkey, {j}), {_BLOOMJ_MBITS}) % 64 AS INT))"
        f" & 1) = 1"
        for j in range(_BLOOMJ_K)
    )
    prefiltered = (
        o.withColumn("__bloom_lanes", F.expr(f"array({lanes_sql})"))
        .filter(F.expr(probes))
        .drop("__bloom_lanes")
    )
    return (
        prefiltered.join(
            F.broadcast(c.select("c_custkey")),
            prefiltered.o_custkey == F.col("c_custkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# D14 — as-of NEAREST join (closest order in either time direction)
# ---------------------------------------------------------------------------

_ASOF_NEAR_ORACLE = """
WITH e AS (
  SELECT event_id, user_id,
         TIMESTAMP '1995-01-01' + INTERVAL (event_id % 2400) DAY AS asof_ts
  FROM events
),
b AS (
  SELECT e.event_id, MAX(o.o_orderdate) AS d
  FROM e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.asof_ts
  GROUP BY e.event_id
),
f AS (
  SELECT e.event_id, MIN(o.o_orderdate) AS d
  FROM e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate > e.asof_ts
  GROUP BY e.event_id
),
pick AS (
  SELECT e.event_id, e.user_id, e.asof_ts,
         CASE
           WHEN b.d IS NULL AND f.d IS NULL THEN NULL
           WHEN f.d IS NULL THEN b.d
           WHEN b.d IS NULL THEN f.d
           WHEN date_diff('day', b.d, e.asof_ts)
                <= date_diff('day', e.asof_ts, f.d) THEN b.d
           ELSE f.d
         END AS d
  FROM e
  JOIN b ON b.event_id = e.event_id
  JOIN f ON f.event_id = e.event_id
),
matched AS (
  SELECT p.event_id, MAX(o.o_orderkey) AS nearest_orderkey
  FROM pick p
  JOIN e ON e.event_id = p.event_id
  JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate = p.d
  GROUP BY p.event_id
)
SELECT p.event_id, p.user_id,
       strftime(p.asof_ts, '%Y-%m-%d') AS asof_date,
       m.nearest_orderkey,
       CASE WHEN p.d IS NULL THEN 'none'
            WHEN p.d <= p.asof_ts THEN 'backward'
            ELSE 'forward' END AS direction,
       CAST(CASE WHEN p.d IS NULL THEN NULL
                 WHEN p.d <= p.asof_ts THEN date_diff('day', p.d, p.asof_ts)
                 ELSE date_diff('day', p.asof_ts, p.d) END AS BIGINT)
         AS dist_days
FROM pick p LEFT JOIN matched m ON m.event_id = p.event_id
"""


@query("join-asof-nearest", oracle=_ASOF_NEAR_ORACLE, pure=True)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D14: as-of join, direction='nearest' (pandas ``merge_asof``'s
    third mode, completing the family: D9 backward, D12 backward with
    tolerance) — each event matches the CLOSEST order in absolute time,
    either side; equal distances prefer the backward match (pandas
    semantics), same-date orderkey ties break to the max key (the D9
    rule).

    Same scalable union-and-window scaffolding as D9/D12 — NO
    inequality join: both carried candidates come from the single
    per-key merged stream, the backward one as ``last(ignorenulls)``
    over ascending time and the forward one as ``first(ignorenulls)``
    over a mirrored frame (currentRow → unboundedFollowing with okey
    DESCENDING, so the first future row is the max orderkey of the
    nearest future date; same-t orders sort BEFORE the event in both
    orderings, putting distance-0 matches on the backward side exactly
    once). ONE shuffle on the key; the two windows share the exchange
    and differ only in sort order — two in-partition sorts, which is
    still the plan every engine without a native as-of operator runs.
    The winner is a null-safe least-distance CASE over the two carried
    (date, okey) structs — pure integer day arithmetic, mirrored in
    the oracle."""
    merged, w = _asof_merged(spark, sf_dir)
    from pyspark.sql import Window as W

    wf = (
        W.partitionBy("key")
        .orderBy("t", "is_event", F.col("okey").desc())
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    cand = F.when(
        F.col("is_event") == 0, F.struct(F.col("t"), F.col("okey"))
    )
    out = (
        merged.withColumn("bk", F.last(cand, ignorenulls=True).over(w))
        .withColumn("fw", F.first(cand, ignorenulls=True).over(wf))
        .filter(F.col("is_event") == 1)
    )
    db = F.datediff(F.col("asof_ts"), F.col("bk.t"))
    df_ = F.datediff(F.col("fw.t"), F.col("asof_ts"))
    pick_bk = F.col("fw").isNull() | (
        F.col("bk").isNotNull() & (db <= df_)
    )
    winner = F.when(
        F.col("bk").isNull() & F.col("fw").isNull(), F.lit(None)
    ).otherwise(F.when(pick_bk, F.col("bk")).otherwise(F.col("fw")))
    return out.select(
        "event_id",
        F.col("key").alias("user_id"),
        F.date_format("asof_ts", "yyyy-MM-dd").alias("asof_date"),
        winner.getField("okey").alias("nearest_orderkey"),
        F.when(winner.isNull(), "none")
        .when(winner.getField("t") <= F.col("asof_ts"), "backward")
        .otherwise("forward")
        .alias("direction"),
        F.when(
            winner.getField("t") <= F.col("asof_ts"),
            F.datediff(F.col("asof_ts"), winner.getField("t")),
        )
        .otherwise(F.datediff(winner.getField("t"), F.col("asof_ts")))
        .cast("long")
        .alias("dist_days"),
    )


# ---------------------------------------------------------------------------
# D15 — SCD2 temporal dimension join (point-in-time version lookup)
# ---------------------------------------------------------------------------

_SCD2J_ORACLE = """
WITH v AS (
  SELECT o_custkey, o_orderstatus AS status_version,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER w AS valid_to,
         row_number() OVER w AS version_no
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
e AS (
  SELECT event_id, user_id,
         TIMESTAMP '1995-01-01' + INTERVAL (event_id % 2400) DAY AS t
  FROM events
)
SELECT e.event_id, e.user_id,
       strftime(e.t, '%Y-%m-%d') AS asof_date,
       CAST(v.version_no AS BIGINT) AS version_no,
       v.status_version,
       CASE WHEN v.version_no IS NULL THEN NULL
            ELSE v.valid_to IS NULL END AS is_current_version
FROM e LEFT JOIN v
  ON v.o_custkey = e.user_id
 AND v.valid_from <= e.t
 AND (v.valid_to IS NULL OR e.t < v.valid_to)
"""


@query("join-scd2-temporal", oracle=_SCD2J_ORACLE, pure=True)
def join_scd2_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15: the temporal dimension join — each fact row matches the
    SCD2 dimension VERSION valid at its event time (valid_from <= t <
    valid_to, open-ended current version), the lookup every Kimball-
    style warehouse runs against F7's version intervals. At most one
    version matches by construction (intervals partition each key's
    timeline); facts before the first version, and keys with no
    history, surface with NULL version columns.

    NO range join: because versions PARTITION the timeline, "the
    version valid at t" IS "the latest version starting at-or-before
    t" — the D9 union-and-window carry. Zero-length versions (two
    changes on one date — the [d, d) interval) are skipped naturally:
    the same-date successor replaces them in the carry before any
    event at t >= d reads it, exactly matching the oracle's empty
    BETWEEN interval. Shape: one window on the dimension side builds
    (version_no, valid_to) — orders-sized, partitioned by key — then
    the merged stream pays ONE shuffle + sort; against the naive
    inequality join (|events| x versions-per-key, nested-loop) this is
    the plan that survives fact-scale. is_current is read off the
    carried version, NULL when nothing matched (mirrored CASE in the
    oracle)."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    wv = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    vers = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.col("o_orderkey").alias("okey"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp").alias("asof_ts"),
        F.struct(
            F.row_number().over(wv).cast("long").alias("version_no"),
            F.col("o_orderstatus").alias("status_version"),
            F.lead("o_orderdate").over(wv).alias("valid_to"),
        ).alias("ver"),
    )
    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.timestamp_add(
            "DAY",
            (F.col("event_id") % 2400).cast("int"),
            F.to_timestamp(F.lit("1995-01-01")),
        ).alias("t"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("long").alias("okey"),
        "event_id",
    )
    e = e.withColumn("asof_ts", F.col("t")).select(
        "key", "t", "is_event", "okey", "event_id", "asof_ts",
        F.lit(None)
        .cast("struct<version_no:bigint,status_version:string,valid_to:timestamp>")
        .alias("ver"),
    )
    merged = vers.unionByName(e)
    w = (
        W.partitionBy("key")
        .orderBy("t", "is_event", "okey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = F.last("ver", ignorenulls=True).over(w)
    return (
        merged.withColumn("cv", carried)
        .filter(F.col("is_event") == 1)
        .select(
            "event_id",
            F.col("key").alias("user_id"),
            F.date_format("asof_ts", "yyyy-MM-dd").alias("asof_date"),
            F.col("cv.version_no").alias("version_no"),
            F.col("cv.status_version").alias("status_version"),
            F.when(
                F.col("cv").isNull(), F.lit(None).cast("boolean")
            )
            .otherwise(F.col("cv.valid_to").isNull())
            .alias("is_current_version"),
        )
    )


# ---------------------------------------------------------------------------
# D16 — null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

_NULLSAFE_ORACLE = """
WITH k AS (
  SELECT CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id END AS nkey,
         event_type
  FROM events
),
l AS (SELECT nkey, COUNT(*) AS n_click FROM k
      WHERE event_type = 'click' GROUP BY nkey),
r AS (SELECT nkey, COUNT(*) AS n_view FROM k
      WHERE event_type = 'view' GROUP BY nkey)
SELECT COALESCE(CAST(l.nkey AS VARCHAR), CAST(r.nkey AS VARCHAR),
                '_NULL_') AS key_repr,
       CAST(COALESCE(l.n_click, 0) AS BIGINT) AS n_click,
       CAST(COALESCE(r.n_view, 0) AS BIGINT) AS n_view,
       (l.nkey IS NULL AND r.nkey IS NULL
        AND (l.n_click IS NOT NULL OR r.n_view IS NOT NULL))
         AS is_null_group
FROM l FULL OUTER JOIN r ON l.nkey IS NOT DISTINCT FROM r.nkey
ORDER BY key_repr
"""


@query("join-null-safe-eq", oracle=_NULLSAFE_ORACLE, pure=True)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D16: null-safe equality join — Spark ``<=>`` ≡ SQL ``IS NOT
    DISTINCT FROM``. Under plain ``=``, NULL join keys silently drop
    from BOTH sides of even a full-outer join's matched set (NULL = NULL
    is NULL), which is the classic reconciliation bug when an
    "unknown" bucket exists on each side and must line up as ONE row.
    The nullable key is derived deterministically (every 10th user →
    NULL) so the NULL group is populated and the oracle predicts it.

    Shape: both sides collapse map-side to per-key counts first (the
    join runs over aggregated relations, not raw events); ``<=>`` is
    a first-class equi-join key for Spark's hash exchanges — the plan
    is a regular shuffled join, NOT a nested-loop fallback (pinned):
    null-safe equality hashes NULL like any other value.

    Parity: counts exact; the NULL group surfaces as the '_NULL_'
    sentinel row flagged ``is_null_group``."""
    ev = load_table(spark, sf_dir, "events")
    nkey = F.when(F.col("user_id") % 10 == 0, F.lit(None)).otherwise(
        F.col("user_id")
    )
    # r15: both sides derive from one conditional aggregate over the
    # click∪view slice instead of two per-type filter+groupBy chains.
    # Column pruning then specializes each branch to its single
    # conditional count (the branches stay separate subtrees — no
    # exchange reuse), but the rewrite still measures ~2x faster at
    # sf0.1: the per-branch HAVING-style filters (n_click/n_view > 0)
    # land on the 1-row-per-key aggregate output rather than re-running
    # the event_type equality below each aggregate, and the isin
    # disjunction pushes to both scans. A key with n_click > 0 is
    # exactly a key with ≥1 click row (ditto views), so each branch
    # equals the old per-type aggregate row-for-row.
    k = ev.filter(F.col("event_type").isin("click", "view")).select(
        nkey.alias("nkey"), "event_type"
    )
    agg = k.groupBy("nkey").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
    )
    l = (
        agg.filter(F.col("n_click") > 0)
        .select(F.col("nkey").alias("lk"), "n_click")
    )
    r = (
        agg.filter(F.col("n_view") > 0)
        .select(F.col("nkey").alias("rk"), "n_view")
    )
    j = l.join(r, l.lk.eqNullSafe(r.rk), "full_outer")
    return j.select(
        F.coalesce(
            F.col("lk").cast("string"),
            F.col("rk").cast("string"),
            F.lit("_NULL_"),
        ).alias("key_repr"),
        F.coalesce(F.col("n_click"), F.lit(0)).cast("long").alias("n_click"),
        F.coalesce(F.col("n_view"), F.lit(0)).cast("long").alias("n_view"),
        (
            F.col("lk").isNull()
            & F.col("rk").isNull()
            & (F.col("n_click").isNotNull() | F.col("n_view").isNotNull())
        ).alias("is_null_group"),
    ).orderBy("key_repr")


# ---------------------------------------------------------------------------
# D17 — cell-blocked nearest-neighbor spatial join
# ---------------------------------------------------------------------------

# micro-degree synthesis (the fn-geo-cell contract; different primes
# per table so customer and supplier coordinates never alias)
_GEO_CELL10 = 10_000_000  # 10-degree blocking cells

_GEO_NEAREST_ORACLE = f"""
WITH cust AS (
  SELECT c_custkey,
         (c_custkey * 7919) % 120000000 - 60000000 AS latm,
         (c_custkey * 104729) % 360000000 - 180000000 AS lonm
  FROM customer
),
supp AS (
  SELECT s_suppkey,
         (s_suppkey * 12347) % 120000000 - 60000000 AS latm,
         (s_suppkey * 54323) % 360000000 - 180000000 AS lonm
  FROM supplier
),
cc AS (
  SELECT c_custkey, latm, lonm,
         ((latm + 60000000) // {_GEO_CELL10}) * 36
         + ((lonm + 180000000) // {_GEO_CELL10}) AS cell_id
  FROM cust
),
sc AS (
  SELECT s_suppkey, latm AS slat, lonm AS slon,
         ((latm + 60000000) // {_GEO_CELL10}) * 36
         + ((lonm + 180000000) // {_GEO_CELL10}) AS cell_id
  FROM supp
),
pairs AS (
  SELECT cc.c_custkey, cc.cell_id, sc.s_suppkey,
         ABS(cc.latm - sc.slat) + ABS(cc.lonm - sc.slon) AS dist_micro,
         COUNT(*) OVER (PARTITION BY cc.c_custkey) AS n_candidates,
         ROW_NUMBER() OVER (PARTITION BY cc.c_custkey
                            ORDER BY ABS(cc.latm - sc.slat)
                                     + ABS(cc.lonm - sc.slon),
                                     sc.s_suppkey) AS rn
  FROM cc JOIN sc ON sc.cell_id = cc.cell_id
)
SELECT c_custkey, cell_id, s_suppkey,
       CAST(dist_micro AS BIGINT) AS dist_micro,
       CAST(n_candidates AS BIGINT) AS n_candidates
FROM pairs WHERE rn = 1
ORDER BY c_custkey
"""


@query("join-geo-cell-nearest", oracle=_GEO_NEAREST_ORACLE, pure=True)
def join_geo_cell_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D17: cell-blocked nearest-neighbor SPATIAL join — "nearest
    supplier to each customer": the geo counterpart of the ANN keys,
    and the join fn-geo-cell's blocking key exists for. The naive form
    is the all-pairs cross join with a distance ORDER BY (quadratic);
    the scalable form BLOCKS both sides into grid cells and ranks only
    within-cell candidates — candidate volume is Σ|cell_c|·|cell_s|,
    governed by the grid granularity, never |C|·|S|.

    Granularity is the tuning knob made explicit: 10-degree cells here
    (432 cells) so the fixture's supplier density gives most customers
    a candidate; a production deployment sizes cells to density and
    unions the 8 adjacent cells for boundary-exact results (same plan,
    9 equi keys via explode of the neighbor offsets) — documented
    rather than implemented so the declared query stays one equi join.
    Customers in supplier-free cells are absent by design (the
    left-anti complement is one more join on the same key).

    Shape at 100 TB: both sides collapse map-side to (key, latm, lonm,
    cell) rows; ONE hash-shuffle equi join on cell_id; per-customer
    top-1 via WindowGroupLimit (running top-1 per task before the
    window exchange). Exact integer micro-degrees and L1 distances
    (the fn-geo-cell trig-free contract); ties break to the smaller
    supplier key."""
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    ck = F.col("c_custkey")
    sk = F.col("s_suppkey")
    cc = c.select(
        "c_custkey",
        ((ck * 7919) % 120000000 - 60000000).alias("latm"),
        ((ck * 104729) % 360000000 - 180000000).alias("lonm"),
    ).selectExpr(
        "c_custkey",
        "latm",
        "lonm",
        f"((latm + 60000000) DIV {_GEO_CELL10}) * 36"
        f" + ((lonm + 180000000) DIV {_GEO_CELL10}) AS cell_id",
    )
    sc = s.select(
        "s_suppkey",
        ((sk * 12347) % 120000000 - 60000000).alias("slat"),
        ((sk * 54323) % 360000000 - 180000000).alias("slon"),
    ).selectExpr(
        "s_suppkey",
        "slat",
        "slon",
        f"((slat + 60000000) DIV {_GEO_CELL10}) * 36"
        f" + ((slon + 180000000) DIV {_GEO_CELL10}) AS cell_id",
    )
    pairs = cc.join(sc, "cell_id").select(
        "c_custkey",
        "cell_id",
        "s_suppkey",
        (
            F.abs(F.col("latm") - F.col("slat"))
            + F.abs(F.col("lonm") - F.col("slon"))
        ).alias("dist_micro"),
    )
    wc = W.partitionBy("c_custkey")
    wr = wc.orderBy("dist_micro", "s_suppkey")
    return (
        pairs.select(
            "c_custkey",
            "cell_id",
            "s_suppkey",
            "dist_micro",
            F.count("*").over(wc).cast("long").alias("n_candidates"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            "cell_id",
            "s_suppkey",
            F.col("dist_micro").cast("long").alias("dist_micro"),
            "n_candidates",
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# D18 — join-bbox-overlap: 2-D rectangle overlap via grid bin-then-refine
# ---------------------------------------------------------------------------

_BB_CELL = 1000  # grid cell edge; box extents are < one cell, so a box
# covers at most 2 cells per axis (4 total) and the fanout is bounded

_BBOX_ORACLE = f"""
WITH a AS (
  SELECT p_partkey AS a_id,
         (p_partkey * 37) % 9000 AS ax1,
         (p_partkey * 59) % 9000 AS ay1,
         (p_partkey * 37) % 9000 + 200 + p_partkey % 800 AS ax2,
         (p_partkey * 59) % 9000 + 150 + p_partkey % 600 AS ay2
  FROM part
),
b AS (
  SELECT s_suppkey AS b_id,
         (s_suppkey * 101) % 9000 AS bx1,
         (s_suppkey * 131) % 9000 AS by1,
         (s_suppkey * 101) % 9000 + 300 + s_suppkey % 700 AS bx2,
         (s_suppkey * 131) % 9000 + 250 + s_suppkey % 500 AS by2
  FROM supplier
)
SELECT a_id, b_id,
       CAST((least(ax2, bx2) - greatest(ax1, bx1))
            * (least(ay2, by2) - greatest(ay1, by1)) AS BIGINT)
         AS overlap_area
FROM a JOIN b
  ON ax1 < bx2 AND bx1 < ax2 AND ay1 < by2 AND by1 < ay2
ORDER BY a_id, b_id
"""


@query("join-bbox-overlap", oracle=_BBOX_ORACLE, pure=True)
def join_bbox_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D18: 2-D bounding-box overlap join — the spatial workhorse
    (viewport queries, map-tile assignment, UI hit-testing, geo
    fencing) and the two-dimensional generalization of D11's interval
    overlap: a pure 4-way inequality join plans as a cartesian
    product, so both sides explode to the GRID CELLS their rectangle
    covers, equi-join on the cell, verify the exact overlap as a
    residual, and keep each pair exactly ONCE by arithmetic — the
    pair is credited only in the cell containing the overlap
    region's lower-left corner (greatest(ax1,bx1), greatest(ay1,by1)),
    D11's dedupe-by-arithmetic trick lifted to 2-D. No shuffling
    DISTINCT, no cartesian anywhere.

    Parity: coordinates and the overlap area are exact BIGINT
    arithmetic end to end; the oracle runs the plain inequality join
    (DuckDB's optimizer can — a deliberately different route to the
    same pairs, so a binning bug cannot cancel).

    Shape at 100 TB: cell fanout is bounded (box extent < one cell ⇒
    ≤4 cells/box); the equi-join shuffles on the cell key so only
    co-located rectangles ever meet; skewed cells (a dense downtown)
    would salt the cell key exactly like D7. The residual + corner
    checks are map-side on the joined rows."""
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    a = p.selectExpr(
        "p_partkey AS a_id",
        "(p_partkey * 37) % 9000 AS ax1",
        "(p_partkey * 59) % 9000 AS ay1",
        "(p_partkey * 37) % 9000 + 200 + p_partkey % 800 AS ax2",
        "(p_partkey * 59) % 9000 + 150 + p_partkey % 600 AS ay2",
    )
    b = s.selectExpr(
        "s_suppkey AS b_id",
        "(s_suppkey * 101) % 9000 AS bx1",
        "(s_suppkey * 131) % 9000 AS by1",
        "(s_suppkey * 101) % 9000 + 300 + s_suppkey % 700 AS bx2",
        "(s_suppkey * 131) % 9000 + 250 + s_suppkey % 500 AS by2",
    )

    def cells(df, x1, y1, x2, y2):
        # every cell the rectangle touches: x2/y2 are EXCLUSIVE upper
        # bounds, so the last covered cell holds coordinate x2-1
        return df.selectExpr(
            "*",
            f"explode(sequence({x1} DIV {_BB_CELL},"
            f" ({x2} - 1) DIV {_BB_CELL})) AS cx",
        ).selectExpr(
            "*",
            f"explode(sequence({y1} DIV {_BB_CELL},"
            f" ({y2} - 1) DIV {_BB_CELL})) AS cy",
        )

    ac = cells(a, "ax1", "ay1", "ax2", "ay2")
    bc = cells(b, "bx1", "by1", "bx2", "by2")
    j = ac.join(bc, ["cx", "cy"]).filter(
        F.expr(
            "ax1 < bx2 AND bx1 < ax2 AND ay1 < by2 AND by1 < ay2"
            # count-once rule: only the cell holding the overlap's
            # lower-left corner emits the pair
            f" AND cx = greatest(ax1, bx1) DIV {_BB_CELL}"
            f" AND cy = greatest(ay1, by1) DIV {_BB_CELL}"
        )
    )
    return j.selectExpr(
        "a_id",
        "b_id",
        "CAST((least(ax2, bx2) - greatest(ax1, bx1))"
        " * (least(ay2, by2) - greatest(ay1, by1)) AS BIGINT)"
        " AS overlap_area",
    ).orderBy("a_id", "b_id")
