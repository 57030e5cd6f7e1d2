"""Category F (F1–F5) — window functions, top-k, sort/limit (SURVEY.md §2F).

Every window is given a TOTAL order (explicit tie-breaker key) so results
are deterministic and oracle-comparable. Physically a window is one
shuffle on the partition keys + an in-partition sort — the same plan DuckDB
or any MPP engine would pick, and it scales as long as single partitions
fit an executor (true for these keys at any sf).

``sort-limit`` compiles to TakeOrderedAndProject: each task keeps only the
top N, the driver merges — no global sort materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from spark_file_mover_spark.llm._textnorm import MD5_PREFIX60_SQL
from spark_file_mover_spark.operators._parity import dec
from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import load_table
from spark_file_mover_spark.numerics import snap

_RANKING_ORACLE = """
SELECT
  c_custkey, c_mktsegment, c_acctbal,
  row_number()  OVER w AS rn,
  rank()        OVER w AS rnk,
  dense_rank()  OVER w AS drnk,
  ntile(4)      OVER w AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
"""


@query("window-ranking", oracle=_RANKING_ORACLE, pure=True)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: ranking family over a totally ordered partition."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


_ANALYTIC_ORACLE = """
SELECT
  o_custkey, o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  lag(o_orderkey)  OVER w AS prev_order,
  lead(o_orderkey) OVER w AS next_order,
  first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order,
  last_value(o_orderkey)  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latest_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("window-analytic", oracle=_ANALYTIC_ORACLE, pure=True)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: lag/lead/first/last per customer order history."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.first("o_orderkey").over(wf).alias("first_order"),
        F.last("o_orderkey").over(wf).alias("latest_order"),
    )


_FRAME_ORACLE = """
SELECT
  l_orderkey, l_linenumber,
  CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
       OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
       OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
    / COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg_qty
FROM lineitem
WINDOW w AS (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey)
"""


@query("window-frame-agg", oracle=_FRAME_ORACLE, pure=True)
def window_frame_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: running sum + moving average with explicit row frames.

    The moving average is emitted as exact-decimal-sum / count so both
    engines perform the identical single float division.

    The testdata violates TPC-H's (l_orderkey, l_linenumber) uniqueness,
    so the frame ORDER BY is extended to a tuple that IS unique per row
    (verified at sf0.01/sf0.1) — otherwise Spark and the oracle accumulate
    running sums in different tie orders and hashes diverge.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_quantity", "l_extendedprice", "l_partkey"
    )
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    mov = w.rowsBetween(-2, W.currentRow)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        dec("l_quantity").cast("double").alias("qty"),
        F.sum(dec("l_quantity")).over(run).cast("double").alias("running_qty"),
        (
            F.sum(dec("l_quantity")).over(mov).cast("double")
            / F.count(F.lit(1)).over(mov)
        ).alias("moving_avg_qty"),
    )


_TOPK_ORACLE = """
SELECT c_mktsegment, c_custkey, c_acctbal, rn
FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
) WHERE rn <= 5
"""


@query("topk-per-group", oracle=_TOPK_ORACLE, pure=True)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: top-5 customers per segment by balance (rank-then-filter).

    Catalyst rewrites this to a WindowGroupLimit at execution: each task
    keeps ≤k rows per group before the shuffle, so the pattern holds at
    100 TB without materializing full partitions.
    """
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


_SORT_LIMIT_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("sort-limit", oracle=_SORT_LIMIT_ORACLE, pure=True)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: global order + limit (TakeOrderedAndProject physical op)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_SCD2_ORACLE = """
SELECT o_custkey,
       o_orderstatus AS status_version,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
       lead(o_orderdate) OVER w IS NULL AS is_current,
       row_number() OVER w AS version_no
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("etl-scd2", oracle=_SCD2_ORACLE, pure=True)
def etl_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: SCD type-2 version-interval construction — each change event
    becomes a [valid_from, valid_to) row, open-ended for the current
    version. One window (lead + row_number share the same sort) over
    (entity, change-time, tiebreak); this is the standard dimension-
    history build, and downstream point-in-time lookups become a range
    predicate on (valid_from, valid_to) — see join-range-binned for how
    those joins avoid nested loops at scale.
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return o.select(
        "o_custkey",
        F.col("o_orderstatus").alias("status_version"),
        F.date_format("o_orderdate", fmt).alias("valid_from"),
        F.date_format(nxt, fmt).alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.row_number().over(w).alias("version_no"),
    )


# ---------------------------------------------------------------------------
# F8 — CDC apply: ordered change capture onto a base snapshot
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp,
         'I' AS op, 0 AS seq
  FROM orders
),
upd AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0, 'U', 1
  FROM orders WHERE o_orderkey % 7 = 0
),
del AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D', 2
  FROM orders WHERE o_orderkey % 11 = 0
),
ins AS (
  SELECT o_orderkey + 2000000000, 'N', o_totalprice, 'I', 1
  FROM orders WHERE o_orderkey % 13 = 0
),
feed AS (
  SELECT * FROM base UNION ALL SELECT * FROM upd
  UNION ALL SELECT * FROM del UNION ALL SELECT * FROM ins
),
latest AS (
  SELECT k, st, tp, op,
         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
  FROM feed
)
SELECT k AS o_orderkey, st AS o_orderstatus, tp AS o_totalprice
FROM latest WHERE rn = 1 AND op <> 'D'
"""


@query("etl-cdc-apply", oracle=_CDC_ORACLE, pure=True)
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: CDC apply — compact an ordered change feed (insert / update /
    delete with a per-key sequence) onto a base snapshot: the
    highest-sequence operation per key wins, deletes drop the key. This
    is the table-maintenance primitive behind every lakehouse MERGE/CDC
    sink (Delta/Iceberg "apply changes"), distinct from B8's two-sided
    upsert: the feed is ORDERED and may carry several ops per key.

    The change feed here is derived deterministically from orders
    (updates for keys ≡0 mod 7, deletes mod 11, fresh inserts mod 13 at
    offset 2·10⁹) so both engines construct the identical feed. Plan:
    union base+feed (no shuffle), ONE shuffle+sort per key for the
    row_number compaction — the same single-window shape as etl-scd2;
    at scale the window partitions by the natural bucket key, so a
    bucketed base table compacts shuffle-free.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
        F.lit("I").alias("op"),
        F.lit(0).alias("seq"),
    )
    upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        (F.col("o_totalprice") + 10.0).alias("tp"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    dele = o.filter(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
    )
    ins = o.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 2000000000).alias("k"),
        F.lit("N").alias("st"),
        F.col("o_totalprice").alias("tp"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    feed = base.unionByName(upd).unionByName(dele).unionByName(ins)
    w = W.partitionBy("k").orderBy(F.col("seq").desc())
    return (
        feed.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            F.col("k").alias("o_orderkey"),
            F.col("st").alias("o_orderstatus"),
            F.col("tp").alias("o_totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# F9 — distribution window functions (percent_rank / cume_dist / nth_value)
# ---------------------------------------------------------------------------

_DISTRIBUTION_ORACLE = """
SELECT c_custkey, c_mktsegment,
       FLOOR((percent_rank() OVER w) * 1e9 + 0.5) / 1e9 AS pr,
       FLOOR((cume_dist() OVER w) * 1e9 + 0.5) / 1e9 AS cd,
       nth_value(c_custkey, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS third_key
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
"""


@query("window-distribution", oracle=_DISTRIBUTION_ORACLE, pure=True)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: the distribution window family — ``percent_rank`` (relative
    rank in [0,1]), ``cume_dist`` (fraction of rows at-or-before) and
    ``nth_value`` — completing the declared window-function surface
    beyond F1's ranking family (row_number/rank/dense_rank/ntile) and
    F2's analytics (lag/lead/first/last). These are the "where does
    this row sit in its cohort" primitives percentile-based filters
    and score normalizations use.

    Exactness: the window is TOTALLY ordered (acctbal desc, custkey),
    so ranks are deterministic; percent_rank = (rank-1)/(n-1) and
    cume_dist = peers/n are SINGLE integer-ratio divisions —
    correctly-rounded IEEE, identical both engines — snapped to 9 dp
    per house style anyway. ``nth_value`` runs over the running frame
    (NULL for the first two rows of each segment, never a default).

    Plan: one shuffle on the partition key, one in-partition sort, all
    three functions in the same Window node (same spec → single pass)."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        snap(F.percent_rank().over(w), 9).alias("pr"),
        snap(F.cume_dist().over(w), 9).alias("cd"),
        F.nth_value("c_custkey", 3).over(wf).alias("third_key"),
    )


# ---------------------------------------------------------------------------
# F10 — batch sessionization by inactivity gap
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, in exact microseconds

_SESSIONIZE_ORACLE = f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
),
s AS (
  SELECT user_id, ts,
         SUM(CASE WHEN gap_us IS NULL OR gap_us > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
),
per_session AS (
  SELECT user_id, session_idx,
         COUNT(*) AS n_events,
         epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
  FROM s GROUP BY user_id, session_idx
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_singleton,
       CAST(MAX(n_events) AS BIGINT) AS max_events,
       CAST(MAX(duration_us) AS BIGINT) AS max_duration_us
FROM per_session GROUP BY user_id ORDER BY user_id
"""


@query("window-session-batch", oracle=_SESSIONIZE_ORACLE, pure=True)
def window_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: BATCH sessionization — assign every event to a session by
    inactivity gap (> 30 min starts a new session) with the classic
    lag + cumulative-sum window pair, then roll sessions up per user.
    H3 covers the streaming session window; this is its batch twin, the
    form backfills and historical reprocessing actually run (CDP /
    product-analytics sessionization over years of logs).

    Shape at 100 TB: ONE shuffle on user_id serves both windows (lag
    and the running sum share the same partitioning + (ts, event_id)
    sort — Catalyst plans a single Exchange + Sort and two Window
    nodes over it), then the two rollups reuse that partitioning
    (groupBy(user_id, session_idx) and groupBy(user_id) are
    co-partitioned with the window — no further exchange). Per-user
    event counts bound the sort; a pathological single user is the
    known skew case and would salt by day first.

    Parity: gaps and durations are exact integer MICROSECONDS
    (epoch_us both sides — float seconds would lose sub-µs bits);
    the (ts, event_id) compound order is total, so lag and the
    running sum are engine-identical."""
    e = load_table(spark, sf_dir, "events")
    order = [F.col("ts"), F.col("event_id")]
    w = W.partitionBy("user_id").orderBy(*order)
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(
        gap.isNull() | (gap > _SESSION_GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    s = e.select(
        "user_id",
        "ts",
        F.sum(is_new).over(wsum).alias("session_idx"),
    )
    per_session = s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("int"))
            .cast("long")
            .alias("n_singleton"),
            F.max("n_events").cast("long").alias("max_events"),
            F.max("duration_us").cast("long").alias("max_duration_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# F11 — time-RANGE rolling aggregates (trailing 7-day / 1-hour frames)
# ---------------------------------------------------------------------------

_US_7D = 7 * 86400 * 1_000_000
_US_1H = 3600 * 1_000_000

_RANGE_ROLLING_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events
)
SELECT event_id, user_id, ts_us,
       COUNT(*) OVER w7 AS n_7d,
       CAST(SUM(v) OVER w7 AS DOUBLE) AS sum_7d,
       COUNT(*) OVER w1 AS n_1h
FROM e
WINDOW w7 AS (PARTITION BY user_id ORDER BY ts_us
              RANGE BETWEEN {_US_7D} PRECEDING AND CURRENT ROW),
       w1 AS (PARTITION BY user_id ORDER BY ts_us
              RANGE BETWEEN {_US_1H} PRECEDING AND CURRENT ROW)
"""


@query("window-range-rolling", oracle=_RANGE_ROLLING_ORACLE, pure=True)
def window_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: trailing time-RANGE rolling aggregates per user — events in
    the last 7 days / last hour AT each event's own timestamp (rolling
    activity counters, rate-limit lookbacks, trailing spend). This is
    the VALUE-range frame F3's physical ROWS frame cannot express:
    the frame holds whatever rows fall in the time interval, including
    all timestamp peers of the current row, regardless of row position.

    Shape: ONE Exchange on user_id + ONE in-partition sort on the
    integer event time serves all three frame aggregates (same window
    partitioning/ordering ⇒ a single Window node; frames are
    per-expression). Nothing shuffles but (event_id, user_id, ts_us,
    decimal value) — 32 B/row. At 100 TB this is the minimal plan for
    the semantics; a per-user partition is a user's own event history,
    far below executor memory even for bot-grade users.

    Parity: the frame boundary is exact integer MICROSECONDS
    (epoch_us / unix_micros — the F10 axis), so frame membership is
    integer comparison in both engines; the rolling sum runs in exact
    DECIMAL(12,2) (frame membership fixed ⇒ same addends) and counts
    are integers. All-NULL frames yield NULL sums in both engines."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        dec("value").alias("v"),
    )
    w7 = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_US_7D, W.currentRow)
    )
    w1 = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_US_1H, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w7).alias("n_7d"),
        F.sum("v").over(w7).cast("double").alias("sum_7d"),
        F.count(F.lit(1)).over(w1).alias("n_1h"),
    )


# ---------------------------------------------------------------------------
# F12 — EWMA with exact dyadic decay over the last 8 events
# ---------------------------------------------------------------------------

_EWMA_TERMS = 8  # lookback depth
# alpha = 1/2: weight of the k-th most recent value is 2^-(k+1) — a
# DYADIC rational, exact in decimal, so the weighted sums are
# bit-identical cross-engine regardless of accumulation order
_EWMA_W = [f"{2 ** -(k + 1):.10f}" for k in range(_EWMA_TERMS)]


def _ewma_oracle() -> str:
    num = " + ".join(
        f"COALESCE(lag(v, {k}) OVER w * CAST({w} AS DECIMAL(12,10)), 0)"
        for k, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"(CASE WHEN lag(v, {k}) OVER w IS NOT NULL"
        f" THEN CAST({w} AS DECIMAL(12,10))"
        f" ELSE CAST(0 AS DECIMAL(12,10)) END)"
        for k, w in enumerate(_EWMA_W)
    )
    n_hist = " + ".join(
        f"(CASE WHEN lag(v, {k}) OVER w IS NOT NULL THEN 1 ELSE 0 END)"
        for k in range(_EWMA_TERMS)
    )
    return f"""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events WHERE value IS NOT NULL
)
SELECT event_id, user_id, ts_us,
       FLOOR((CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS ewma,
       CAST({n_hist} AS BIGINT) AS n_hist
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


@query("window-ewma-decay", oracle=_ewma_oracle(), pure=True)
def window_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: exponentially weighted moving average (α=1/2, 8-term
    lookback) of event value per user — the decayed rolling signal
    (recent activity weighted over stale) rate limiters, anomaly
    scores and engagement metrics use where F11's flat window
    over-weights history. The truncated-lag formulation is the
    DISTRIBUTABLE form of the recursive EWMA (the recurrence is
    inherently serial; 8 dyadic terms bound the truncation error at
    2⁻⁹ of the oldest weight while staying a pure window expression).

    Shape: ONE exchange on user_id + one (ts_us, event_id) sort serves
    all 8 lag terms, the weight mask and the history count — a single
    Window node (identical spec per term). Nothing but
    (event_id, user_id, ts_us, decimal value) shuffles.

    Parity: α=1/2 makes every weight 2^-(k+1) — a dyadic rational,
    EXACT in DECIMAL(12,10) — so numerator and denominator are exact
    decimal sums (order-independent), the final value is ONE IEEE
    division of identical doubles snapped to 9 dp, and the partial-
    history normalization (divide by the PRESENT weight mass) is a
    CASE-mask integer/decimal computation. The (ts_us, event_id)
    total order pins lag() rows cross-engine even on timestamp ties."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            dec("value").alias("v"),
        )
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    lags = [F.lag("v", k).over(w) for k in range(_EWMA_TERMS)]
    wts = [
        F.expr(f"CAST({wt} AS DECIMAL(12,10))") for wt in _EWMA_W
    ]
    zero = F.expr("CAST(0 AS DECIMAL(12,10))")
    num = sum(
        (F.coalesce(lg * wt, F.lit(0)) for lg, wt in zip(lags, wts)),
        start=F.lit(0),
    )
    den = sum(
        (F.when(lg.isNotNull(), wt).otherwise(zero) for lg, wt in zip(lags, wts)),
        start=F.lit(0),
    )
    n_hist = sum(
        (F.when(lg.isNotNull(), 1).otherwise(0) for lg in lags),
        start=F.lit(0),
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_us",
        snap(num.cast("double") / den.cast("double"), 9).alias("ewma"),
        n_hist.cast("long").alias("n_hist"),
    )


# ---------------------------------------------------------------------------
# F13 — gaps-and-islands: consecutive-day activity streaks per user
# ---------------------------------------------------------------------------

_STREAKS_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id,
         CAST(ts AS DATE) - DATE '1970-01-01' AS day_num
  FROM events
),
isl AS (
  SELECT user_id, day_num,
         day_num - ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY day_num) AS island
  FROM d
),
s AS (
  SELECT user_id, island,
         COUNT(*) AS len,
         MIN(day_num) AS start_day
  FROM isl GROUP BY 1, 2
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       COUNT(*) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest,
       CAST(MIN(CASE WHEN len = (SELECT MAX(s2.len) FROM s s2
                                 WHERE s2.user_id = s.user_id)
                     THEN start_day END) AS BIGINT) AS longest_start_day
FROM s GROUP BY user_id ORDER BY user_id
"""


@query("window-streaks", oracle=_STREAKS_ORACLE, pure=True)
def window_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: gaps-and-islands — longest consecutive-day activity streak
    per user (the engagement metric behind "7-day streak" badges and
    churn features). The classic SQL island trick: over each user's
    DISTINCT active days, ``day_num - row_number()`` is constant
    within a consecutive run, so one window + one group-by recovers
    every island without self-joins or iteration.

    Shape at 100 TB: the raw scan collapses map-side to distinct
    (user, day) — bounded by users × days, not event count — then ONE
    exchange on user_id serves the row_number window, the island
    aggregate, and the final per-user rollup (all three are
    user-partitioned, so AQE keeps them in the same partitioning; no
    second shuffle). Ties for the longest streak resolve to the
    EARLIEST start day (deterministic).

    Parity: day numbers, lengths, and counts are exact integers
    (days-since-epoch via date subtraction in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day_num"),
        )
        .distinct()
    )
    wu = W.partitionBy("user_id").orderBy("day_num")
    isl = d.select(
        "user_id",
        "day_num",
        (F.col("day_num") - F.row_number().over(wu)).alias("island"),
    )
    s = isl.groupBy("user_id", "island").agg(
        F.count("*").alias("len"),
        F.min("day_num").alias("start_day"),
    )
    wbest = W.partitionBy("user_id")
    s2 = s.select(
        "user_id",
        "len",
        "start_day",
        F.max("len").over(wbest).alias("best"),
    )
    return (
        s2.groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("n_active_days"),
            F.count("*").alias("n_streaks"),
            F.max("len").cast("long").alias("longest"),
            F.min(
                F.when(F.col("len") == F.col("best"), F.col("start_day"))
            )
            .cast("long")
            .alias("longest_start_day"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# F14 — trailing-window z-score anomaly flag (exact-integer moments)
# ---------------------------------------------------------------------------

_ZS_LOOKBACK = 8  # trailing history depth (excludes the current row)
_ZS_MIN_HIST = 4  # below this, no verdict (NULL z)
_ZS_CRIT = 3  # |z| > 3 flags

_ZSCORE_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
m AS (
  SELECT event_id, user_id, ts_us, c,
         COUNT(c) OVER w AS n,
         SUM(c)  OVER w AS s1,
         SUM(c * c) OVER w AS s2
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN {_ZS_LOOKBACK} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts_us, c AS cents,
       CAST(n AS BIGINT) AS n_hist,
       CASE WHEN n >= {_ZS_MIN_HIST} AND n * s2 - s1 * s1 > 0 THEN
         FLOOR(((CAST(c * n - s1 AS DOUBLE) / n)
               / SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1)))) * 1e9 + 0.5) / 1e9
       END AS z,
       COALESCE(abs(CASE WHEN n >= {_ZS_MIN_HIST} AND n * s2 - s1 * s1 > 0 THEN
         FLOOR(((CAST(c * n - s1 AS DOUBLE) / n)
               / SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1)))) * 1e9 + 0.5) / 1e9
       END) > {_ZS_CRIT}, FALSE) AS is_anomaly
FROM m ORDER BY user_id, ts_us, event_id
"""


@query("window-zscore-anomaly", oracle=_ZSCORE_ORACLE, pure=True)
def window_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: trailing-window z-score anomaly flag per event — "is this
    value > 3 sample standard deviations from the user's recent
    history?", the standard online outlier screen for spend/latency
    streams. The history frame EXCLUDES the current row (a spike must
    not mask itself) and abstains (NULL z) below ``_ZS_MIN_HIST``
    observations or at zero variance.

    Shape: the F12 single-window contract — ONE exchange on user_id +
    one (ts_us, event_id) total-order sort serves the count and both
    moment sums (one Window node); map-only on either side.

    Parity: the moments are EXACT integer sums over cents; the sample
    variance numerator ``n·Σx² − (Σx)²`` and denominator ``n(n−1)``
    stay in BIGINT (zero-variance and short-history decisions are
    integer compares), and z is one all-double expression over those
    exact integers snapped to 9 dp — the flag branches on the SNAPPED
    z (the E23 discipline)."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            (dec("value") * 100).cast("long").alias("c"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-_ZS_LOOKBACK, -1)
    )
    m = e.select(
        "event_id",
        "user_id",
        "ts_us",
        "c",
        F.count("c").over(w).alias("n"),
        F.sum("c").over(w).alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("s2"),
    )
    var_num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    z = F.when(
        (F.col("n") >= _ZS_MIN_HIST) & (var_num > 0),
        snap((
                (F.col("c") * F.col("n") - F.col("s1")).cast("double")
                / F.col("n")
            )
            / F.sqrt(
                var_num.cast("double") / (F.col("n") * (F.col("n") - 1))
            ), 9),
    )
    return m.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("c").alias("cents"),
        F.col("n").cast("long").alias("n_hist"),
        z.alias("z"),
        F.coalesce(F.abs(z) > _ZS_CRIT, F.lit(False)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# F15 — table snapshot diff (added / removed / changed + column masks)
# ---------------------------------------------------------------------------

# The two "snapshots" are deterministic functions of the immutable
# orders table (the multimodal synthesize-then-parse contract, table
# flavored): A drops keys % 13 == 5, B drops keys % 11 == 3, bumps
# price by $10 on keys % 7 == 0 and flips status on keys % 17 == 0 —
# so every diff class (added, removed, price-only, status-only, both)
# is populated and the oracle can predict membership independently.
_DIFF_ORACLE = """
WITH a AS (
  SELECT o_orderkey AS k,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 13 != 5
),
b AS (
  SELECT o_orderkey AS k,
         CAST(o_totalprice AS DECIMAL(12,2))
           + CASE WHEN o_orderkey % 7 = 0 THEN 10 ELSE 0 END AS price,
         CASE WHEN o_orderkey % 17 = 0 THEN 'X'
              ELSE o_orderstatus END AS status
  FROM orders WHERE o_orderkey % 11 != 3
)
SELECT COALESCE(a.k, b.k) AS o_orderkey,
       CASE WHEN a.k IS NULL THEN 'added'
            WHEN b.k IS NULL THEN 'removed'
            ELSE 'changed' END AS diff,
       (a.k IS NOT NULL AND b.k IS NOT NULL
        AND a.price != b.price) AS price_changed,
       (a.k IS NOT NULL AND b.k IS NOT NULL
        AND a.status != b.status) AS status_changed,
       CAST(a.price AS DOUBLE) AS old_price,
       CAST(b.price AS DOUBLE) AS new_price
FROM a FULL OUTER JOIN b ON a.k = b.k
WHERE a.k IS NULL OR b.k IS NULL
   OR a.price != b.price OR a.status != b.status
ORDER BY o_orderkey
"""


@query("etl-snapshot-diff", oracle=_DIFF_ORACLE, pure=True)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: keyed diff of two table snapshots — added / removed /
    changed rows with per-column change flags, the data-diff operation
    behind replication audits, regression gates on pipeline rewrites,
    and CDC backfill validation. Unchanged rows are filtered OUT (at
    100 TB the diff is read by humans and downstream alerts; emitting
    the unchanged 99.9% defeats the point).

    Shape: ONE full-outer shuffle join on the snapshot key — both
    sides hash-partition on the key, membership and per-column
    comparison are map-side after the join; no window, no second
    shuffle. Column pruning pushes the 3-column projection into both
    scans.

    Parity: membership is key arithmetic; price comparison is exact
    DECIMAL(12,2); outputs are exact flags + decimal-sourced doubles."""
    o = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    a = o.filter(key % 13 != 5).select(
        key.alias("ka"),
        dec("o_totalprice").alias("pa"),
        F.col("o_orderstatus").alias("sa"),
    )
    b = o.filter(key % 11 != 3).select(
        key.alias("kb"),
        (
            dec("o_totalprice")
            + F.when(key % 7 == 0, 10).otherwise(0)
        ).alias("pb"),
        F.when(key % 17 == 0, "X")
        .otherwise(F.col("o_orderstatus"))
        .alias("sb"),
    )
    j = a.join(b, a.ka == b.kb, "full_outer")
    both = F.col("ka").isNotNull() & F.col("kb").isNotNull()
    return (
        j.filter(
            F.col("ka").isNull()
            | F.col("kb").isNull()
            | (F.col("pa") != F.col("pb"))
            | (F.col("sa") != F.col("sb"))
        )
        .select(
            F.coalesce(F.col("ka"), F.col("kb")).alias("o_orderkey"),
            F.when(F.col("ka").isNull(), "added")
            .when(F.col("kb").isNull(), "removed")
            .otherwise("changed")
            .alias("diff"),
            (both & (F.col("pa") != F.col("pb"))).alias("price_changed"),
            (both & (F.col("sa") != F.col("sb"))).alias("status_changed"),
            F.col("pa").cast("double").alias("old_price"),
            F.col("pb").cast("double").alias("new_price"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# F16 — period-over-period change (daily revenue per type, lag compare)
# ---------------------------------------------------------------------------

_POP_ORACLE = """
WITH d AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num,
         CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, day_num, cents,
       lag(day_num) OVER w AS prev_day,
       lag(cents) OVER w AS prev_cents,
       CASE WHEN lag(cents) OVER w > 0 THEN
         FLOOR((CAST(cents - lag(cents) OVER w AS DOUBLE)
               / lag(cents) OVER w) * 1e9 + 0.5) / 1e9 END AS pct_change,
       COALESCE(day_num - lag(day_num) OVER w = 1, FALSE) AS is_consecutive
FROM d
WINDOW w AS (PARTITION BY event_type ORDER BY day_num)
ORDER BY event_type, day_num
"""


@query("window-period-over-period", oracle=_POP_ORACLE, pure=True)
def window_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: period-over-period change — daily revenue per event type
    with the previous OBSERVED day's total, relative change, and a
    consecutiveness flag (a gap day makes "day-over-day" a lie; the
    flag lets the reader tell Δ1-day from Δn-day comparisons instead
    of the query silently pretending). The standard reporting shape
    behind every "+12% vs yesterday" tile.

    Shape: the scan collapses map-side to (type, day) partial sums —
    bounded by types×days regardless of event count — then ONE small
    window per type orders observed days. Two exchanges total, both
    over the aggregated relation.

    Parity: daily sums are exact integer cents; pct_change is one
    all-double division over exact operands snapped to 9 dp (NULL on
    zero/absent base); the gap flag is integer day arithmetic."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day_num"),
            (dec("value") * 100).cast("long").alias("c"),
        )
    )
    d = e.groupBy("event_type", "day_num").agg(
        F.sum("c").cast("long").alias("cents")
    )
    w = W.partitionBy("event_type").orderBy("day_num")
    prev_c = F.lag("cents").over(w)
    prev_d = F.lag("day_num").over(w)
    return d.select(
        "event_type",
        "day_num",
        "cents",
        prev_d.alias("prev_day"),
        prev_c.alias("prev_cents"),
        F.when(
            prev_c > 0,
            snap((F.col("cents") - prev_c).cast("double") / prev_c, 9),
        ).alias("pct_change"),
        F.coalesce(F.col("day_num") - prev_d == 1, F.lit(False)).alias(
            "is_consecutive"
        ),
    ).orderBy("event_type", "day_num")


# ---------------------------------------------------------------------------
# F17 — calendar gap-fill + forward fill (time-series densification)
# ---------------------------------------------------------------------------

_GAP_FILL_ORACLE = """
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         SUM(CAST(value AS DECIMAL(12,2))) AS v
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
g AS (
  SELECT user_id, day, v,
         lag(day) OVER w AS pday, lag(v) OVER w AS pv
  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY day)
),
x AS (
  SELECT user_id, day, v, pv,
         (UNNEST(generate_series(COALESCE(pday + 1, day), day,
                                 INTERVAL 1 DAY)))::DATE AS day2
  FROM g
)
SELECT user_id,
       strftime(day2, '%Y-%m-%d') AS day,
       CASE WHEN day2 = day THEN CAST(v AS DOUBLE) END AS observed,
       CAST(CASE WHEN day2 = day THEN v ELSE pv END AS DOUBLE) AS filled,
       CAST(CASE WHEN day2 = day THEN 0 ELSE 1 END AS BIGINT) AS is_gap
FROM x
ORDER BY user_id, day
"""


@query("window-gap-fill", oracle=_GAP_FILL_ORACLE, pure=True)
def window_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17: calendar gap-fill with forward fill (LOCF) — densify each
    user's daily-spend series so every calendar day between their first
    and last activity has a row, gaps carrying the last observed value.
    The densification every time-series consumer (forecasting features,
    retention curves, charting) needs, and the op BI engines expose as
    ``GAP FILL`` / ``date_spine``.

    Shape at 100 TB: the only corpus-sized shuffle is the daily rollup
    (map-side combine into user x day cells); everything after runs on
    that daily relation — users x active-days rows, orders of magnitude
    smaller than the event log. Gap rows are generated by exploding the
    RUN between consecutive observed days (lag + ``sequence``) — one
    window (one exchange on user_id) and a map-side Generate, versus
    the naive calendar-spine formulation whose spine build, left join
    and fill window each pay another exchange over the dense relation.
    Fanout per row = gap length, bounded by the calendar span, not the
    data; a years-long dead account emits its span once.

    Parity: daily sums are exact DECIMAL (order-independent) surfaced
    as DOUBLE; days are integer date arithmetic formatted to strings;
    the fill value pv is the previous OBSERVED day's decimal, so every
    gap day in a run carries the identical exact value in both engines.
    """
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(dec("value")).alias("v"))
    w = W.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        "day",
        "v",
        F.lag("day").over(w).alias("pday"),
        F.lag("v").over(w).alias("pv"),
    )
    x = g.select(
        "user_id",
        F.col("day").alias("obs_day"),
        "v",
        "pv",
        F.explode(
            F.sequence(
                F.coalesce(F.date_add("pday", 1), F.col("day")),
                F.col("day"),
            )
        ).alias("day2"),
    )
    on_day = F.col("day2") == F.col("obs_day")
    return x.select(
        "user_id",
        F.date_format("day2", "yyyy-MM-dd").alias("day"),
        F.when(on_day, F.col("v").cast("double")).alias("observed"),
        F.when(on_day, F.col("v"))
        .otherwise(F.col("pv"))
        .cast("double")
        .alias("filled"),
        F.when(on_day, F.lit(0)).otherwise(F.lit(1)).cast("long").alias(
            "is_gap"
        ),
    ).orderBy("user_id", "day")


# ---------------------------------------------------------------------------
# F18 — declarative data-quality audit (Deequ-style check suite)
# ---------------------------------------------------------------------------

_DQ_ORACLE = """
WITH o AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           AS n_null_cust,
         CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) AS n_distinct_key,
         CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS min_price,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                  THEN 1 ELSE 0 END) AS DOUBLE) AS n_bad_status,
         CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '2026-01-01 00:00:00'
                  THEN 1 ELSE 0 END) AS DOUBLE) AS n_future
  FROM orders
),
l AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                  THEN 1 ELSE 0 END) AS DOUBLE) AS n_bad_qty
  FROM lineitem
),
ri AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_keys,
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS DOUBLE) AS n_orphan
  FROM (SELECT DISTINCT l_orderkey FROM lineitem) lk
  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
         ON o.o_orderkey = lk.l_orderkey
)
SELECT check_name, table_name, FLOOR((metric) * 1e9 + 0.5) / 1e9 AS metric, passed FROM (
  SELECT 'completeness_custkey' AS check_name, 'orders' AS table_name,
         n_null_cust / NULLIF(n, 0) AS metric,
         CAST(CASE WHEN n_null_cust = 0 THEN 1 ELSE 0 END AS BIGINT)
           AS passed
  FROM o
  UNION ALL
  SELECT 'uniqueness_orderkey', 'orders', 1 - n_distinct_key / NULLIF(n, 0),
         CAST(CASE WHEN n_distinct_key = n THEN 1 ELSE 0 END AS BIGINT)
  FROM o
  UNION ALL
  SELECT 'min_totalprice_positive', 'orders', min_price,
         CAST(CASE WHEN min_price > 0 THEN 1 ELSE 0 END AS BIGINT)
  FROM o
  UNION ALL
  SELECT 'domain_orderstatus', 'orders', n_bad_status,
         CAST(CASE WHEN n_bad_status = 0 THEN 1 ELSE 0 END AS BIGINT)
  FROM o
  UNION ALL
  SELECT 'freshness_no_future_dates', 'orders', n_future,
         CAST(CASE WHEN n_future = 0 THEN 1 ELSE 0 END AS BIGINT)
  FROM o
  UNION ALL
  SELECT 'range_quantity_1_50', 'lineitem', n_bad_qty,
         CAST(CASE WHEN n_bad_qty = 0 THEN 1 ELSE 0 END AS BIGINT)
  FROM l
  UNION ALL
  SELECT 'ri_lineitem_orders', 'lineitem', n_orphan / NULLIF(n_keys, 0),
         CAST(CASE WHEN n_orphan = 0 THEN 1 ELSE 0 END AS BIGINT)
  FROM ri
)
ORDER BY check_name
"""


@query("etl-dq-audit", oracle=_DQ_ORACLE, pure=True)
def etl_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18: declarative data-quality audit — the Deequ/Great-
    Expectations check-suite shape (Schelter et al., VLDB'18: "Unit
    tests for data") as one query: completeness (null rate),
    uniqueness (key duplication), value range (money positive,
    quantity in [1,50]), domain membership (order status), freshness
    (no future-dated rows) and cross-table referential integrity
    (every lineitem points at an existing order). One row per check
    with its metric and pass flag — the gate a production pipeline
    evaluates before publishing a batch.

    Shape at 100 TB: each single-table family is ONE aggregate over
    one scan — every metric a map-side-combinable sum/min/countDistinct
    collapsed to a single row, fanned out to check rows by a map-side
    ``stack`` on that one-row relation (NOT one subquery per check:
    Catalyst would re-run the scan per metric — the E27 lesson). The
    RI check is the only join: distinct FK keys (map-side distinct
    collapse) left-joined to the PK relation, shuffling 8-byte keys
    only. Three scans total over the two tables, zero driver-side
    logic; add a check = add a column to the right aggregate.

    Parity: counts exact; rates are single double divisions of exact
    counts, snapped 9 dp; min price goes through DECIMAL so the double
    is identical; pass flags are integer predicates on exact counts."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o_agg = o.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("o_custkey").isNull().cast("int"))
        .cast("double")
        .alias("n_null_cust"),
        F.countDistinct("o_orderkey").cast("double").alias("n_distinct_key"),
        F.min(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("min_price"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("int"))
        .cast("double")
        .alias("n_bad_status"),
        F.sum(
            (
                F.col("o_orderdate")
                >= F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            ).cast("int")
        )
        .cast("double")
        .alias("n_future"),
    )
    o_checks = o_agg.selectExpr(
        """stack(5,
           'completeness_custkey', 'orders', n_null_cust / nullif(n, 0),
               CAST(CASE WHEN n_null_cust = 0 THEN 1 ELSE 0 END AS BIGINT),
           'uniqueness_orderkey', 'orders', 1 - n_distinct_key / nullif(n, 0),
               CAST(CASE WHEN n_distinct_key = n THEN 1 ELSE 0 END AS BIGINT),
           'min_totalprice_positive', 'orders', min_price,
               CAST(CASE WHEN min_price > 0 THEN 1 ELSE 0 END AS BIGINT),
           'domain_orderstatus', 'orders', n_bad_status,
               CAST(CASE WHEN n_bad_status = 0 THEN 1 ELSE 0 END AS BIGINT),
           'freshness_no_future_dates', 'orders', n_future,
               CAST(CASE WHEN n_future = 0 THEN 1 ELSE 0 END AS BIGINT)
        ) AS (check_name, table_name, metric, passed)"""
    )
    l_agg = li.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast(
                "int"
            )
        )
        .cast("double")
        .alias("n_bad_qty"),
    )
    l_checks = l_agg.selectExpr(
        """stack(1,
           'range_quantity_1_50', 'lineitem', n_bad_qty,
               CAST(CASE WHEN n_bad_qty = 0 THEN 1 ELSE 0 END AS BIGINT)
        ) AS (check_name, table_name, metric, passed)"""
    )
    # BOTH key sides deduplicate: a duplicated o_orderkey (the exact
    # defect the uniqueness check flags) would otherwise fan out the
    # left join and inflate n_keys past the distinct-FK count — the
    # metric stays "orphan share of DISTINCT FK keys" even on a table
    # that fails its own PK check.
    ri_agg = (
        li.select(F.col("l_orderkey")).distinct()
        .join(
            o.select(F.col("o_orderkey")).distinct(),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left",
        )
        .agg(
            F.count("*").cast("double").alias("n_keys"),
            F.sum(F.col("o_orderkey").isNull().cast("int"))
            .cast("double")
            .alias("n_orphan"),
        )
    )
    ri_checks = ri_agg.selectExpr(
        """stack(1,
           'ri_lineitem_orders', 'lineitem', n_orphan / nullif(n_keys, 0),
               CAST(CASE WHEN n_orphan = 0 THEN 1 ELSE 0 END AS BIGINT)
        ) AS (check_name, table_name, metric, passed)"""
    )
    return (
        o_checks.unionAll(l_checks)
        .unionAll(ri_checks)
        .select(
            "check_name",
            "table_name",
            snap("metric", 9).alias("metric"),
            "passed",
        )
        .orderBy("check_name")
    )


# ---------------------------------------------------------------------------
# F19 — last-touch marketing attribution (lookback-windowed)
# ---------------------------------------------------------------------------

_ATTR_LOOKBACK_US = 7 * 86400 * 1_000_000  # 7-day lookback

_ATTRIBUTION_ORACLE = f"""
WITH t AS (
  SELECT user_id, epoch_us(ts) AS us, event_type, 0 AS kind, event_id,
         CAST(NULL AS DECIMAL(12,2)) AS rev
  FROM events WHERE event_type IN ('click', 'view')
  UNION ALL
  SELECT user_id, epoch_us(ts), event_type, 1, event_id,
         CAST(value AS DECIMAL(12,2))
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT *,
         last_value(CASE WHEN kind = 0 THEN us END IGNORE NULLS)
           OVER w AS t_us,
         last_value(CASE WHEN kind = 0 THEN event_type END IGNORE NULLS)
           OVER w AS t_ch
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, kind, event_id
                      ROWS UNBOUNDED PRECEDING)
),
p AS (
  SELECT CASE WHEN t_us IS NOT NULL
                   AND t_us >= us - {_ATTR_LOOKBACK_US}
              THEN t_ch ELSE 'direct' END AS channel,
         rev
  FROM c WHERE kind = 1
),
a AS (
  SELECT channel, COUNT(*) AS n_conversions, SUM(rev) AS srev
  FROM p GROUP BY channel
)
SELECT channel, n_conversions,
       CAST(srev AS DOUBLE) AS revenue,
       FLOOR((CAST(n_conversions AS DOUBLE)
              / SUM(n_conversions) OVER ()) * 1e9 + 0.5) / 1e9 AS share
FROM a ORDER BY channel
"""


@query("window-attribution", oracle=_ATTRIBUTION_ORACLE, pure=True)
def window_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19: last-touch marketing attribution with a 7-day lookback —
    every purchase credits the user's most recent click/view touch
    within the window, else the 'direct' bucket; per-channel
    conversion counts, attributed revenue and conversion share. The
    revenue-allocation readout every growth/ads pipeline computes, and
    the classic case where naive SQL goes quadratic (per-purchase
    correlated subquery over touches).

    Shape at 100 TB: the D9 union-and-carry contract — touches and
    conversions union into ONE stream, one shuffle + sort per user
    carries the latest touch forward with last(ignorenulls) (two
    carried columns null out on the same rows, so they always travel
    from the same touch row), the lookback is an integer-microsecond
    predicate on the carried timestamp, and the channel rollup is a
    channels-bounded hash agg. No inequality join, no per-conversion
    probe; the share normalizer windows over the channel-count
    relation.

    Parity: exact integer microseconds, exact decimal revenue summed
    order-independently and cast once to double, share snapped via the
    floor(x*1e9 + 0.5)/1e9 textual sequence (the OLS tie-regression
    remedy — conversion shares are small-denominator rationals)."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        us.alias("us"),
        "event_type",
        F.lit(0).alias("kind"),
        "event_id",
        F.lit(None).cast("decimal(12,2)").alias("rev"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        us.alias("us"),
        "event_type",
        F.lit(1).alias("kind"),
        "event_id",
        dec("value").alias("rev"),
    )
    t = touches.unionByName(purchases)
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "kind", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    is_touch = F.col("kind") == 0
    c = t.select(
        "*",
        F.last(F.when(is_touch, F.col("us")), ignorenulls=True)
        .over(w)
        .alias("t_us"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("t_ch"),
    )
    p = c.filter(F.col("kind") == 1).select(
        F.when(
            F.col("t_us").isNotNull()
            & (F.col("t_us") >= F.col("us") - _ATTR_LOOKBACK_US),
            F.col("t_ch"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel"),
        "rev",
    )
    a = p.groupBy("channel").agg(
        F.count("*").alias("n_conversions"),
        F.sum("rev").alias("srev"),
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    share = (
        F.col("n_conversions").cast("double")
        / F.sum("n_conversions").over(wall)
    )
    return a.select(
        "channel",
        "n_conversions",
        F.col("srev").cast("double").alias("revenue"),
        (F.floor(share * 1e9 + 0.5) / 1e9).alias("share"),
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# F20 — CUSUM changepoint screen over daily metric series
# ---------------------------------------------------------------------------

# Excursion threshold on the normalized CUSUM |S_k / (n·T)|. S_k is the
# cumulative sum of scaled deviations n·x_i − T, so S_k/(n·T) is the
# running "fraction of total spend ahead of / behind schedule" — 0.02
# flags a sustained ±2% drift, the conventional screening level.
_CUSUM_THR = "0.02"

_CUSUM_ORACLE = f"""
WITH d AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) * 100
              AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(x) OVER (PARTITION BY event_type) AS t
  FROM d
),
s AS (
  SELECT *,
         SUM(CAST(n AS DECIMAL(38,0)) * x - t) OVER (
             PARTITION BY event_type ORDER BY day_num
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cus,
         CAST(n AS DECIMAL(38,0)) * t AS nt
  FROM m
),
z AS (
  SELECT *, MAX(ABS(cus)) OVER (PARTITION BY event_type) AS mx
  FROM s
),
zz AS (
  SELECT *, MIN(CASE WHEN ABS(cus) = mx THEN day_num END)
             OVER (PARTITION BY event_type) AS cp_day
  FROM z
)
SELECT event_type, day_num, x AS day_cents,
       CAST(cus AS DOUBLE) AS cusum_scaled,
       CASE WHEN t > 0 THEN
         FLOOR((CAST(cus AS DOUBLE) / CAST(nt AS DOUBLE)) * 1e9 + 0.5)
           / 1e9 END AS cusum_rel,
       COALESCE(ABS(CASE WHEN t > 0 THEN
         FLOOR((CAST(cus AS DOUBLE) / CAST(nt AS DOUBLE)) * 1e9 + 0.5)
           / 1e9 END) > CAST({_CUSUM_THR} AS DOUBLE), FALSE) AS breach,
       day_num = cp_day AS is_changepoint
FROM zz
ORDER BY event_type, day_num
"""


@query("window-cusum-changepoint", oracle=_CUSUM_ORACLE, pure=True)
def window_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20: CUSUM changepoint screen (Page 1954) per daily metric
    series — the drift detector that catches what the pointwise
    screens miss: a small SUSTAINED level shift never trips a z-score
    (F14) or an EWMA band (F16), but its deviations accumulate
    linearly in the CUSUM. Emits the running statistic, a normalized
    excursion flag, and the classic changepoint estimate: the day of
    maximum |CUSUM| is the maximum-likelihood split point for a
    single mean shift (ties → earliest day, exact-integer argmax).

    Exact-arithmetic formulation: with n days and total T cents,
    deviation from the series mean is scaled by n — d_k = n·x_k − T —
    so the cumulative S_k stays an exact DECIMAL(38,0) integer
    (division-free; S_n telescopes to 0). The normalized statistic
    S_k/(n·T) is "fraction of total volume ahead/behind schedule";
    both it and the breach flag come from ONE double division over
    exact operands, snapped (floor(x·1e9+0.5)/1e9), the flag
    branching on the SNAPPED value. The argmax day needs NO floats:
    |S_k| = max|S| is a DECIMAL comparison.

    Shape at 100 TB: one hash aggregate collapses the corpus to
    (series, day) rows; every window after that — totals, running
    sum, max, argmax — rides ONE exchange on event_type and one sort
    by day over the day-cardinality relation. Series whose day count
    outgrows a partition shard by (series, year) with per-shard
    offsets (the F12 escape hatch). Degenerate series (T = 0) yield
    NULL normalized CUSUM and FALSE breach in both engines."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day_num"),
    ).agg(
        F.coalesce((F.sum(dec("value")) * 100).cast("long"), F.lit(0))
        .alias("x")
    )
    wp = W.partitionBy("event_type")
    wrun = wp.orderBy("day_num").rowsBetween(W.unboundedPreceding, 0)
    m = d.select(
        "event_type",
        "day_num",
        "x",
        F.count("*").over(wp).alias("n"),
        F.sum("x").over(wp).alias("t"),
    )
    s = m.select(
        "*",
        F.sum(
            F.expr("CAST(n AS DECIMAL(38,0)) * x - t")
        )
        .over(wrun)
        .alias("cus"),
        F.expr("CAST(n AS DECIMAL(38,0)) * t").alias("nt"),
    )
    z = s.select("*", F.max(F.abs(F.col("cus"))).over(wp).alias("mx"))
    zz = z.select(
        "*",
        F.min(
            F.when(F.abs(F.col("cus")) == F.col("mx"), F.col("day_num"))
        )
        .over(wp)
        .alias("cp_day"),
    )
    rel = (
        f"CASE WHEN t > 0 THEN FLOOR((CAST(cus AS DOUBLE)"
        f" / CAST(nt AS DOUBLE)) * 1e9 + 0.5) / 1e9 END"
    )
    return zz.selectExpr(
        "event_type",
        "day_num",
        "x AS day_cents",
        "CAST(cus AS DOUBLE) AS cusum_scaled",
        f"{rel} AS cusum_rel",
        f"COALESCE(ABS({rel}) > CAST({_CUSUM_THR} AS DOUBLE), FALSE)"
        " AS breach",
        "day_num = cp_day AS is_changepoint",
    ).orderBy("event_type", "day_num")


# ---------------------------------------------------------------------------
# F21 — rolling correlation between two daily series
# ---------------------------------------------------------------------------

_RCORR_DAYS = 13  # trailing window: current day + 13 preceding = 14 calendar days

# Shared textual fragments: operands cn (window day count BIGINT) and
# the centered DECIMAL(38,0) cross-products cxy/cxx/cyy. The window is
# RANGE-based on the integer day number — 14 CALENDAR days, so gapped
# series correlate over what actually happened, not the last 14 rows.
_RCORR_R = (
    "CAST(cxy AS DOUBLE)"
    " / SQRT(CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE))"
)
_RCORR_OK = "cn >= 2 AND cxx > 0 AND cyy > 0"

_RCORR_ORACLE = f"""
WITH d AS (
  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
w AS (
  SELECT day_num, x, y,
         COUNT(*) OVER win AS cn,
         CAST(SUM(x) OVER win AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) OVER win AS DECIMAL(38,0)) AS sy,
         CAST(SUM(x * y) OVER win AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(x * x) OVER win AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(y * y) OVER win AS DECIMAL(38,0)) AS syy
  FROM d
  WINDOW win AS (ORDER BY day_num
                 RANGE BETWEEN {_RCORR_DAYS} PRECEDING AND CURRENT ROW)
),
c AS (
  SELECT day_num, x, y, cn,
         CAST(cn AS DECIMAL(38,0)) * sxy - sx * sy AS cxy,
         CAST(cn AS DECIMAL(38,0)) * sxx - sx * sx AS cxx,
         CAST(cn AS DECIMAL(38,0)) * syy - sy * sy AS cyy
  FROM w
)
SELECT day_num, x AS clicks, y AS purchases,
       CAST(cn AS BIGINT) AS n_days,
       CASE WHEN {_RCORR_OK} THEN
         FLOOR(({_RCORR_R}) * 1e9 + 0.5) / 1e9 END AS rolling_corr
FROM c ORDER BY day_num
"""


@query("window-rolling-corr", oracle=_RCORR_ORACLE, pure=True)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21: rolling Pearson correlation between two daily series —
    clicks vs purchases over a trailing 14-calendar-day window: the
    co-movement monitor ("did conversions decouple from traffic this
    week?") that completes the series toolkit — F14/F16/F20 watch ONE
    series for anomaly/drift/shift, this watches the RELATIONSHIP
    between two; a correlation collapse with stable volumes is the
    classic symptom of broken tracking or bot inflation. The same
    query correlates any metric pair by swapping the two conditional
    sums.

    The window is RANGE-based on the exact integer day number, not
    ROWS — gapped series (days with no events) correlate over the 14
    CALENDAR days that actually happened, and the day-count output
    exposes how full each window was (callers gate on n_days).

    Parity: daily counts are exact BIGINTs; the five window moments
    are exact sums; centered cross-products n·Σxy − ΣxΣy are
    DECIMAL(38,0) (the E24/E30 discipline); r is ONE double division
    over a product-of-casts denominator, snapped floor(x·1e9+0.5)/1e9;
    degenerate windows (single day, zero variance in either series)
    → NULL in both engines.

    Shape at 100 TB: one hash aggregate collapses the corpus to one
    row per day; ALL six window moments ride a single global
    day-ordered frame over that day-cardinality relation — for
    per-key correlations add the key to the partition clause and the
    exchange shuffles key-bounded rows, never raw events."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day_num")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    win = W.orderBy("day_num").rangeBetween(-_RCORR_DAYS, 0)
    d38 = "decimal(38,0)"
    w = d.select(
        "day_num",
        "x",
        "y",
        F.count("*").over(win).alias("cn"),
        F.sum("x").over(win).cast(d38).alias("sx"),
        F.sum("y").over(win).cast(d38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(win).cast(d38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(win).cast(d38).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).cast(d38).alias("syy"),
    )
    c = w.select(
        "day_num",
        "x",
        "y",
        "cn",
        F.expr("CAST(cn AS DECIMAL(38,0)) * sxy - sx * sy").alias("cxy"),
        F.expr("CAST(cn AS DECIMAL(38,0)) * sxx - sx * sx").alias("cxx"),
        F.expr("CAST(cn AS DECIMAL(38,0)) * syy - sy * sy").alias("cyy"),
    )
    return c.selectExpr(
        "day_num",
        "x AS clicks",
        "y AS purchases",
        "CAST(cn AS BIGINT) AS n_days",
        f"CASE WHEN {_RCORR_OK} THEN"
        f" FLOOR(({_RCORR_R}) * 1e9 + 0.5) / 1e9 END AS rolling_corr",
    ).orderBy("day_num")


# ---------------------------------------------------------------------------
# F22 — inter-order gap cadence per market segment
# ---------------------------------------------------------------------------

_IOG_ORACLE = """
WITH o AS (
  SELECT o_custkey,
         CAST(o_orderdate AS DATE) AS d,
         o_orderkey
  FROM orders
),
g AS (
  SELECT o_custkey,
         CAST(d - LAG(d) OVER (PARTITION BY o_custkey
                               ORDER BY d, o_orderkey) AS BIGINT)
           AS gap_days
  FROM o
),
seg AS (
  SELECT c_mktsegment AS segment, gap_days
  FROM g JOIN customer ON o_custkey = c_custkey
  WHERE gap_days IS NOT NULL
),
m AS (
  SELECT segment,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_days) AS DECIMAL(38,0)) AS s,
         CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
         CAST(MAX(gap_days) AS BIGINT) AS max_gap_days,
         CAST(SUM(CASE WHEN gap_days <= 7 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_within_week
  FROM seg GROUP BY segment
)
SELECT segment, n_gaps, min_gap_days, max_gap_days,
       FLOOR((CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)) * 1e9 + 0.5)
         / 1e9 AS avg_gap_days,
       FLOOR((CAST(n_within_week AS DOUBLE) / CAST(n_gaps AS DOUBLE))
             * 1e9 + 0.5) / 1e9 AS within_week_share
FROM m ORDER BY segment
"""


@query("window-interorder-gap", oracle=_IOG_ORACLE, pure=True)
def window_interorder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F22: inter-order gap cadence — days between a customer's
    consecutive orders, rolled up per market segment (count, min/max,
    mean, share of re-orders within a week). The purchase-CADENCE
    readout behind repeat-rate dashboards and churn features: E26's
    conversion-lag measures event→purchase latency inside a session
    window, this measures order→order rhythm across the lifetime —
    different join graph (orders×customer), different carrier (LAG
    over the order sequence).

    Shape at 100 TB: one orders shuffle on custkey + a (date, key)
    sort serves the LAG; gaps then collapse map-side BEFORE the
    segment attach, so the join moves one row per ORDER, never
    wide order payloads, and the final aggregate is
    |segments|-bounded. The LAG tiebreak on o_orderkey makes each
    engine's sequence deterministic under same-day orders.

    Parity: gaps are exact integer day differences; sums accumulate
    in DECIMAL(38,0); the two ratios are single double divisions over
    exact operands, snapped floor(x·1e9+0.5)/1e9. First orders (no
    predecessor) drop out identically in both engines via the
    IS NOT NULL gate; customers with one order contribute nothing;
    segments whose customers never re-order simply don't appear."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
    )
    w = W.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff(F.col("d"), F.lag("d").over(w))
        .cast("long")
        .alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    seg = g.join(c, "o_custkey")
    d38 = "decimal(38,0)"
    m = seg.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("gap_days").cast(d38).alias("s"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
        F.sum(F.when(F.col("gap_days") <= 7, 1).otherwise(0))
        .cast("long")
        .alias("n_within_week"),
    )
    return m.selectExpr(
        "segment",
        "n_gaps",
        "min_gap_days",
        "max_gap_days",
        "FLOOR((CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)) * 1e9 + 0.5)"
        " / 1e9 AS avg_gap_days",
        "FLOOR((CAST(n_within_week AS DOUBLE) / CAST(n_gaps AS DOUBLE))"
        " * 1e9 + 0.5) / 1e9 AS within_week_share",
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# F23 — RFM customer segmentation (quintile scores from exact boundaries)
# ---------------------------------------------------------------------------

# shared nearest-rank quintile machinery (the E19 identity): boundary
# b_q = smallest metric value whose cumulative customer count reaches
# ceil(q*n/100), scores = 1 + #(boundaries strictly below the value) —
# tie runs share one score by construction (every engine agrees), and
# the windows run over VALUE-distribution relations, never a global
# customer sort (the Gini r10 lesson, applied from day one here).
_RFM_QS = (20, 40, 60, 80)


def _rfm_bounds_sql(metric: str, src: str) -> str:
    """DuckDB CTE text: 4 quintile boundaries of ``metric`` over
    per-customer relation ``src`` as a single row b1..b4."""
    picks = ", ".join(
        f"MIN(CASE WHEN cum >= (({q} * nn) + 99) // 100 THEN v END)"
        f" AS b{i + 1}"
        for i, q in enumerate(_RFM_QS)
    )
    return f"""(
  SELECT {picks} FROM (
    SELECT v, SUM(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(c) OVER () AS nn
    FROM (SELECT {metric} AS v, COUNT(*) AS c FROM {src} GROUP BY 1)
  )
)"""


_RFM_ORACLE = f"""
WITH pc AS (
  SELECT o_custkey AS custkey,
         CAST(MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
           AS last_day,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS m_cents
  FROM orders GROUP BY o_custkey
),
rb AS {_rfm_bounds_sql("last_day", "pc")},
fb AS {_rfm_bounds_sql("n_orders", "pc")},
mb AS {_rfm_bounds_sql("m_cents", "pc")}
SELECT custkey, last_day, n_orders, m_cents,
       1 + CAST(last_day > rb.b1 AS INT) + CAST(last_day > rb.b2 AS INT)
         + CAST(last_day > rb.b3 AS INT) + CAST(last_day > rb.b4 AS INT)
         AS r_score,
       1 + CAST(n_orders > fb.b1 AS INT) + CAST(n_orders > fb.b2 AS INT)
         + CAST(n_orders > fb.b3 AS INT) + CAST(n_orders > fb.b4 AS INT)
         AS f_score,
       1 + CAST(m_cents > mb.b1 AS INT) + CAST(m_cents > mb.b2 AS INT)
         + CAST(m_cents > mb.b3 AS INT) + CAST(m_cents > mb.b4 AS INT)
         AS m_score,
       100 * (1 + CAST(last_day > rb.b1 AS INT)
                + CAST(last_day > rb.b2 AS INT)
                + CAST(last_day > rb.b3 AS INT)
                + CAST(last_day > rb.b4 AS INT))
       + 10 * (1 + CAST(n_orders > fb.b1 AS INT)
                 + CAST(n_orders > fb.b2 AS INT)
                 + CAST(n_orders > fb.b3 AS INT)
                 + CAST(n_orders > fb.b4 AS INT))
       + (1 + CAST(m_cents > mb.b1 AS INT) + CAST(m_cents > mb.b2 AS INT)
            + CAST(m_cents > mb.b3 AS INT) + CAST(m_cents > mb.b4 AS INT))
         AS rfm_code
FROM pc, rb, fb, mb
ORDER BY custkey
"""


_RFM_METRICS = ("last_day", "n_orders", "m_cents")


_RFM_ENGINE_SQL = """
WITH pc AS (
  SELECT o_custkey AS custkey,
         CAST(MAX(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01'))
              AS BIGINT) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS m_cents
  FROM rfm_orders_v GROUP BY o_custkey
),
melt AS (
  SELECT stack(3, 0, last_day, 1, n_orders, 2, m_cents) AS (metric, v)
  FROM pc
),
dist AS (SELECT metric, v, COUNT(*) AS c FROM melt GROUP BY metric, v),
d AS (
  SELECT metric, v,
         SUM(c) OVER (PARTITION BY metric ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY metric) AS nn
  FROM dist
),
b AS (
  SELECT
    {picks}
  FROM d
)
SELECT /*+ BROADCAST(b) */
       custkey, last_day, n_orders, m_cents,
       CAST({r} AS INT) AS r_score,
       CAST({f} AS INT) AS f_score,
       CAST({m} AS INT) AS m_score,
       CAST(100 * ({r}) + 10 * ({f}) + ({m}) AS INT) AS rfm_code
FROM pc CROSS JOIN b
ORDER BY custkey
""".format(
    picks=",\n    ".join(
        f"MIN(CASE WHEN metric = {mi} AND cum >= (({q} * nn) + 99) DIV 100"
        f" THEN v END) AS {col}_b{i + 1}"
        for mi, col in enumerate(_RFM_METRICS)
        for i, q in enumerate(_RFM_QS)
    ),
    **{
        band: " + ".join(
            ["1"] + [f"CAST({col} > {col}_b{i + 1} AS INT)" for i in range(4)]
        )
        for band, col in (
            ("r", "last_day"),
            ("f", "n_orders"),
            ("m", "m_cents"),
        )
    },
)


@query("window-rfm-segment", oracle=_RFM_ORACLE, pure=True)
def window_rfm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F23: RFM segmentation — the CRM/lifecycle-marketing staple:
    every customer scored 1-5 on Recency (last order day), Frequency
    (order count) and Monetary (lifetime spend), combined into the
    three-digit RFM code ('555' = best) that campaign targeting and
    churn models consume.

    Scores come from EXACT nearest-rank quintile boundaries (the E19
    identity) rather than a global ntile: the per-customer relation
    collapses to three VALUE distributions (bounded by value
    cardinality), one cumulative window each picks the four
    boundaries, and each customer's scores are map-side comparisons
    against the broadcast one-row boundary relation — no
    customer-cardinality sort anywhere (the Gini scale lesson,
    plan-pinned), and tie runs share a score deterministically (a
    global ntile splits equal-value customers arbitrarily across
    buckets, which is exactly what a reproducible segmentation must
    not do).

    Shape at 100 TB: one corpus shuffle to per-customer; ALL
    boundaries come from one additional pass over that relation (the
    three metrics melt map-side into a single (metric, value)
    distribution, one window pair partitioned by metric picks every
    boundary), and one one-row crossJoin broadcasts the 12 boundaries
    back. Exact integers end to end (epoch-day, count, DECIMAL-cents
    sum).

    The whole statement ships as ONE ``spark.sql`` text
    (``_RFM_ENGINE_SQL``): the Column-API form re-ran eager analysis
    per DataFrame op over a tree that carries the per-customer
    aggregate twice — profiled at ~0.7 s of per-invocation driver
    latency against ~0.7 s of execution at sf0.1 (the embed-matryoshka
    r15 lesson, whole-query flavor). The SQL text parses and analyzes
    JVM-side once and produces the identical Catalyst plan
    (hash-verified)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "rfm_orders_v"
    )
    return spark.sql(_RFM_ENGINE_SQL)


# ---------------------------------------------------------------------------
# F24 — interval concurrency via sweep-line (max concurrent open orders)
# ---------------------------------------------------------------------------

_SWEEP_ORACLE = """
WITH iv AS (
  SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS sd,
         CAST(epoch_us(o_orderdate) // 86400000000
              + (o_orderkey % 14) + 1 AS BIGINT) AS ed
  FROM orders
),
delta AS (
  SELECT day, SUM(d) AS net, SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END)
           AS n_start,
         SUM(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS n_end
  FROM (
    SELECT sd AS day, 1 AS d FROM iv
    UNION ALL
    SELECT ed AS day, -1 AS d FROM iv
  ) GROUP BY day
),
c AS (
  SELECT day,
         CAST(n_start AS BIGINT) AS n_start,
         CAST(n_end AS BIGINT) AS n_end,
         CAST(SUM(net) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS concurrency
  FROM delta
)
SELECT day, n_start, n_end, concurrency,
       CAST(MAX(concurrency) OVER () AS BIGINT) AS max_concurrency
FROM c ORDER BY day
"""


@query("window-concurrency-sweep", oracle=_SWEEP_ORACLE, pure=True)
def window_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F24: interval-concurrency profile by SWEEP-LINE — how many
    orders are simultaneously open on each change day, plus the global
    peak: the capacity-planning / max-concurrent-sessions /
    license-peak query. The naive form is a range self-join (every day
    x every interval covering it — quadratic in busy windows); the
    sweep line is the linear classic: each interval contributes
    (+1 at start, -1 past end), deltas collapse to per-day nets, and
    the running sum of nets IS the concurrency. Intervals are
    synthesized from orders (start = order day, duration =
    (o_orderkey % 14) + 1 days — the G9/G11 synthesize-then-parse
    contract) so every concurrency level is oracle-predictable.

    Shape at 100 TB: the +-1 delta stream collapses MAP-SIDE to one
    row per distinct day (bounded by the calendar, not the order
    count) before the only exchange; both the running sum and the
    global max run over that day-bounded relation (E19 discipline —
    the unpartitioned window sorts days, never orders). Exact
    integers end to end; end day is exclusive (an interval ending
    day d stops counting ON d)."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
    ).cast("long")
    iv = o.select(
        day.alias("sd"),
        (day + (F.col("o_orderkey") % 14) + 1).alias("ed"),
    )
    deltas = iv.select(F.col("sd").alias("day"), F.lit(1).alias("d")).unionAll(
        iv.select(F.col("ed").alias("day"), F.lit(-1).alias("d"))
    )
    per_day = deltas.groupBy("day").agg(
        F.sum("d").alias("net"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_start"),
        F.sum(F.when(F.col("d") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_end"),
    )
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    c = per_day.select(
        "day",
        "n_start",
        "n_end",
        F.sum("net").over(wcum).cast("long").alias("concurrency"),
    )
    return c.select(
        "day",
        "n_start",
        "n_end",
        "concurrency",
        F.max("concurrency").over(wall).cast("long").alias(
            "max_concurrency"
        ),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# F25 — OHLC bars per hour per event type
# ---------------------------------------------------------------------------

_OHLC_ORACLE = """
WITH x AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS w, event_type,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts),
                            event_type ORDER BY ts, event_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts),
                            event_type ORDER BY ts DESC, event_id DESC) AS rd
  FROM events WHERE value IS NOT NULL
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(MAX(CASE WHEN ra = 1 THEN cents END) AS BIGINT) AS open_cents,
       CAST(MAX(cents) AS BIGINT) AS high_cents,
       CAST(MIN(cents) AS BIGINT) AS low_cents,
       CAST(MAX(CASE WHEN rd = 1 THEN cents END) AS BIGINT) AS close_cents,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM x GROUP BY w, event_type
ORDER BY window_start, event_type
"""


@query("window-ohlc-bars", oracle=_OHLC_ORACLE, pure=True)
def window_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F25: OHLC candle bars — open/high/low/close of the value stream
    per (hour, event_type), plus count and exact total: the
    downsampling every finance/telemetry dashboard applies before
    plotting a high-frequency series, and the standard feature
    extraction for time-series models (a bar is the canonical lossy
    summary that preserves range + endpoints). Open/close are
    defined at the (ts, event_id) order — the tiebreak makes both
    engines pick the same row among same-timestamp observations.

    Parity: exact integer cents; open/close come from arg-min/arg-max
    aggregates keyed on the (ts, event_id) struct, the oracle
    re-derives them via the textbook double-ROW_NUMBER form; NULL
    values excluded in both engines (a bar summarizes observations,
    not their absence).

    Shape at 100 TB: ONE aggregate — min_by/max_by carry the
    (ts, event_id, cents) struct through map-side partial
    aggregation (sort-based, since struct-keyed argmin buffers are
    not hash-aggregatable — the per-task sort is on the group key,
    paid once, and partial combine still collapses event volume
    before the exchange), so the shuffle moves |windows|×|types|
    partials and the plan has NO window sort at all (the oracle's
    double row_number is the formulation this one structurally
    avoids: a per-(window,type) rank pays a second exchange + sort
    per direction)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    cents = (dec("value") * 100).cast("long")
    key = F.struct(F.col("ts"), F.col("event_id"))
    bars = e.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.min_by(cents, key).alias("open_cents"),
        F.max(cents).alias("high_cents"),
        F.min(cents).alias("low_cents"),
        F.max_by(cents, key).alias("close_cents"),
        F.count("*").cast("long").alias("n_obs"),
        F.sum(cents).cast("long").alias("total_cents"),
    )
    return bars.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "open_cents",
        "high_cents",
        "low_cents",
        "close_cents",
        "n_obs",
        "total_cents",
    ).orderBy("window_start", "event_type")


# ---------------------------------------------------------------------------
# F26 — month-to-date / year-to-date running revenue per day
# ---------------------------------------------------------------------------

_MTD_ORACLE = """
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2)) * 100), 0)
              AS DECIMAL(38,0)) AS cents
  FROM events GROUP BY 1
),
k AS (
  SELECT *,
         CAST(strftime(make_timestamp(day * 86400000000),
                       '%Y-%m') AS VARCHAR) AS ym,
         CAST(strftime(make_timestamp(day * 86400000000),
                       '%Y') AS VARCHAR) AS y
  FROM d
)
SELECT strftime(make_timestamp(day * 86400000000), '%Y-%m-%d') AS day_str,
       n_events,
       CAST(cents AS BIGINT) AS cents,
       CAST(SUM(cents) OVER (PARTITION BY ym ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS mtd_cents,
       CAST(SUM(cents) OVER (PARTITION BY y ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS ytd_cents
FROM k ORDER BY day
"""


@query("window-calendar-mtd-ytd", oracle=_MTD_ORACLE, pure=True)
def window_calendar_mtd_ytd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F26: per-day revenue with month-to-date and year-to-date
    running totals — the reporting-calendar query behind every
    finance/ops dashboard ("where are we against the month?"), and
    the period-reset flavor of running aggregation that
    window-period-over-period (F16) and gap-fill (F17) don't cover:
    the cumulative window RESETS at each calendar boundary, which is
    just PARTITION BY the calendar key.

    Parity: days are exact integers (G10 contract), cents sums exact
    DECIMAL(38,0) cast to BIGINT; the day string is formatted
    identically in both engines; no doubles anywhere.

    Shape at 100 TB: events collapse map-side to the calendar-bounded
    DAY relation (the E19 discipline) before ANY window; the two
    cumulative windows partition that ~365-rows-per-year relation by
    month/year keys — window state is bounded by days-per-period, and
    the single exchange carries day cells, never events."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        )
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.coalesce(F.sum(dec("value") * 100), F.lit(0))
        .cast("decimal(38,0)")
        .alias("cents"),
    )
    day_ts = F.timestamp_micros(F.col("day") * 86400000000)
    k = d.select(
        "day",
        "n_events",
        "cents",
        F.date_format(day_ts, "yyyy-MM").alias("ym"),
        F.date_format(day_ts, "yyyy").alias("y"),
    )
    wm = (
        W.partitionBy("ym")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wy = (
        W.partitionBy("y")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return k.select(
        F.date_format(day_ts, "yyyy-MM-dd").alias("day_str"),
        "n_events",
        F.col("cents").cast("long").alias("cents"),
        F.sum("cents").over(wm).cast("long").alias("mtd_cents"),
        F.sum("cents").over(wy).cast("long").alias("ytd_cents"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# F27 — order-independent table checksum (migration validation)
# ---------------------------------------------------------------------------

# the canonical row string: every column rendered by an explicit
# engine-portable rule — ints/strings raw, timestamps as epoch micros,
# money through the DECIMAL(18,2)-cents contract, NULLs as a sentinel
# that cannot collide with data ('\x01') — identical text in both
# engines, field-separated so adjacent columns cannot smear
_CKSUM_CANON = (
    "CAST(o_orderkey AS {s}) || '|' ||"
    " COALESCE(CAST(o_custkey AS {s}), chr(1)) || '|' ||"
    " COALESCE(o_orderstatus, chr(1)) || '|' ||"
    " COALESCE(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
    "                   AS BIGINT) AS {s}), chr(1)) || '|' ||"
    " COALESCE(CAST({epoch} AS {s}), chr(1)) || '|' ||"
    " COALESCE(o_orderpriority, chr(1))"
)

_CKSUM_ORACLE = f"""
WITH h AS (
  SELECT {MD5_PREFIX60_SQL.format(
      x=_CKSUM_CANON.format(epoch="epoch_us(o_orderdate)", s="VARCHAR")
  )} AS rh
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(COALESCE(SUM(rh), 0) AS DECIMAL(38,0)) AS VARCHAR)
         AS checksum_sum,
       CAST(COALESCE(BIT_XOR(rh), 0) AS BIGINT) AS checksum_xor,
       CAST(MIN(rh) AS BIGINT) AS min_row_hash,
       CAST(MAX(rh) AS BIGINT) AS max_row_hash
FROM h
"""


@query("etl-table-checksum", oracle=_CKSUM_ORACLE, pure=True)
def etl_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F27: order-independent table checksum — THE migration/copy
    validation for the reference's own audience (a file-mover's user
    asks exactly this after every move: "are the bytes I moved the
    rows I had?"): every row renders through an explicit canonical
    rule (ints/strings raw, timestamps as epoch micros, money through
    the DECIMAL cents contract, NULLs as an unambiguous sentinel,
    '|' field separation) into the shared md5-prefix-60 hash, and the
    table digests to commutative aggregates — SUM (exact DECIMAL) and
    BIT_XOR — that any two engines/copies can compare without sorting
    a row. min/max row hashes localize a mismatch fast (binary-search
    by hash range).

    Parity: the canonical string is ONE shared textual fragment (the
    md5-prefix-60 contract); SUM carries ~2⁶⁰·n so it leaves BIGINT
    at ~10 rows — DECIMAL(38,0) exact, emitted as a string (the
    driver compares strings; DECIMAL(38,0) is not BIGINT-safe);
    BIT_XOR/min/max exact BIGINTs. Empty table → zero digests.

    Shape at 100 TB: map-only hash + ONE one-row commutative
    aggregate with full map-side combine — no shuffle of anything but
    per-task partials, no sort, which is the entire point: a
    sort-based table diff moves the table, a commutative digest moves
    64 bytes per task."""
    o = load_table(spark, sf_dir, "orders")
    canon = _CKSUM_CANON.format(
        epoch="unix_micros(CAST(o_orderdate AS TIMESTAMP))", s="STRING"
    )
    h = o.select(
        F.conv(F.substring(F.md5(F.expr(canon)), 1, 15), 16, 10)
        .cast("long")
        .alias("rh")
    )
    return h.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.coalesce(F.sum(F.expr("CAST(rh AS DECIMAL(38,0))")), F.lit(0))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("checksum_sum"),
        F.coalesce(F.expr("BIT_XOR(rh)"), F.lit(0))
        .cast("long")
        .alias("checksum_xor"),
        F.min("rh").cast("long").alias("min_row_hash"),
        F.max("rh").cast("long").alias("max_row_hash"),
    )


# ---------------------------------------------------------------------------
# F28 — Pareto frontier (skyline) of customers in (spend, recency)
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH cust AS (
  SELECT o_custkey AS custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS spend_cents,
         CAST(MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
           AS last_day
  FROM orders GROUP BY o_custkey
)
SELECT c.custkey, c.spend_cents, c.last_day
FROM cust c
WHERE NOT EXISTS (
  SELECT 1 FROM cust o
  WHERE o.spend_cents >= c.spend_cents AND o.last_day >= c.last_day
    AND (o.spend_cents > c.spend_cents OR o.last_day > c.last_day)
)
ORDER BY c.spend_cents, c.custkey
"""


@query("window-pareto-frontier", oracle=_PARETO_ORACLE, pure=True)
def window_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F28: the Pareto frontier (skyline) of customers in
    (total spend, recency) space — customers no other customer beats
    on BOTH axes: the multi-objective shortlist query (best
    price/quality offers, strongest spend/recency accounts, fastest/
    cheapest routes) that single-key top-k (F4/F5) cannot express.
    Dominance is the textbook rule: o dominates c iff o ≥ c on both
    axes and > on at least one; equal-on-both points are mutually
    non-dominating and all kept.

    Parity: exact integer cents and epoch days end to end — dominance
    is a pure integer decision, no floats anywhere. The oracle is the
    quadratic NOT EXISTS dominance subquery, a genuinely independent
    derivation of the same set.

    Shape at 100 TB — the skyline WITHOUT the quadratic self-join or
    a customer sort: collapse to the spend VALUE distribution
    (meq(v) = best recency at spend v, bounded by value cardinality),
    one descending cumulative-max window gives mstrict(v) = best
    recency among STRICTLY higher spends, and the frontier condition
    is closed-form — a point is on the skyline iff its recency equals
    meq(v) (best at its spend level) and strictly beats mstrict(v).
    Frontier values then pull their customers back via one 16-byte
    (spend, day) equi join. One corpus shuffle to per-customer, one
    value-bounded window, one join — the oracle's O(n²) NOT EXISTS
    never materializes."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum((dec("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("spend_cents"),
        F.max(
            F.expr(
                "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                " DIV 86400000000 AS BIGINT)"
            )
        ).alias("last_day"),
    )
    sv = cust.groupBy("spend_cents").agg(F.max("last_day").alias("meq"))
    wdesc = W.orderBy(F.desc("spend_cents")).rowsBetween(
        W.unboundedPreceding, -1
    )
    frontier_vals = sv.select(
        "spend_cents",
        "meq",
        F.max("meq").over(wdesc).alias("mstrict"),
    ).filter(
        F.col("meq") > F.coalesce(F.col("mstrict"), F.lit(-(2**62)))
    )
    fv = frontier_vals.select(
        F.col("spend_cents").alias("f_spend"), F.col("meq").alias("f_day")
    )
    return (
        cust.join(
            fv,
            (cust.spend_cents == fv.f_spend)
            & (cust.last_day == fv.f_day),
        )
        .select("custkey", "spend_cents", "last_day")
        .orderBy("spend_cents", "custkey")
    )


# ---------------------------------------------------------------------------
# F29 — exact per-hour percentile bands (the latency-panel query)
# ---------------------------------------------------------------------------

_PCTBANDS_ORACLE = """
WITH x AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS w,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
dist AS (
  SELECT w, cents, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY w, cents
),
runs AS (
  SELECT w, cents, c,
         CAST(SUM(c) OVER (PARTITION BY w ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(c) OVER (PARTITION BY w) AS BIGINT) AS n
  FROM dist
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(MAX(n) AS BIGINT) AS n_obs,
       CAST(MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN cents END)
            AS BIGINT) AS p50_cents,
       CAST(MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN cents END)
            AS BIGINT) AS p95_cents,
       CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN cents END)
            AS BIGINT) AS p99_cents
FROM runs GROUP BY w
ORDER BY window_start
"""


@query("window-percentile-bands", oracle=_PCTBANDS_ORACLE, pure=True)
def window_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F29: exact nearest-rank p50/p95/p99 of the value stream per
    hour — THE observability panel (latency/size/cost percentile
    bands over time), the grouped-by-time flavor of the global exact
    quantile (E19): a per-bucket percentile is what alerting
    thresholds and SLO burn-rates are defined on, and approx_percentile
    (E6) trades exactly the tail precision (p99) the panel exists for.

    Parity: exact integer cents; the nearest-rank boundary is the
    smallest value whose within-bucket cumulative count reaches
    ceil(p·n) — a conditional MIN per bucket, exact in both engines;
    NULL values excluded in both.

    Shape at 100 TB — the E19 discipline PER GROUP: events collapse
    map-side to the (hour, cents, count) distribution (bounded by
    buckets × value cardinality, never event count); ONE cumulative
    window partitioned by hour over that relation; all three
    percentiles come out of ONE conditional-MIN hash aggregate per
    bucket. No sort of raw events, no per-event window."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    dist = e.groupBy(
        F.window("ts", "1 hour").alias("w"),
        (dec("value") * 100).cast("long").alias("cents"),
    ).agg(F.count("*").cast("long").alias("c"))
    wcum = (
        W.partitionBy("w")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("w")
    runs = dist.select(
        "w",
        "cents",
        F.sum("c").over(wcum).cast("long").alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    return (
        runs.groupBy("w")
        .agg(
            F.max("n").cast("long").alias("n_obs"),
            F.min(
                F.expr(
                    "CASE WHEN cum >= (50 * n + 99) DIV 100"
                    " THEN cents END"
                )
            )
            .cast("long")
            .alias("p50_cents"),
            F.min(
                F.expr(
                    "CASE WHEN cum >= (95 * n + 99) DIV 100"
                    " THEN cents END"
                )
            )
            .cast("long")
            .alias("p95_cents"),
            F.min(
                F.expr(
                    "CASE WHEN cum >= (99 * n + 99) DIV 100"
                    " THEN cents END"
                )
            )
            .cast("long")
            .alias("p99_cents"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_obs",
            "p50_cents",
            "p95_cents",
            "p99_cents",
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# F30 — running-peak drawdown of the daily revenue series
# ---------------------------------------------------------------------------

_DRAWDOWN_ORACLE = """
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2)) * 100), 0)
              AS BIGINT) AS cents
  FROM events GROUP BY 1
),
r AS (
  SELECT day, cents,
         CAST(MAX(cents) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS peak_cents
  FROM d
)
SELECT strftime(make_timestamp(day * 86400000000), '%Y-%m-%d') AS day_str,
       cents, peak_cents,
       CAST(peak_cents - cents AS BIGINT) AS drawdown_cents,
       CASE WHEN peak_cents > 0 THEN
         FLOOR((CAST(peak_cents - cents AS DOUBLE)
                / CAST(peak_cents AS DOUBLE)) * 1e9 + 0.5) / 1e9
       END AS drawdown_frac,
       CAST(MAX(peak_cents - cents) OVER () AS BIGINT)
         AS max_drawdown_cents
FROM r ORDER BY day
"""


@query("window-drawdown", oracle=_DRAWDOWN_ORACLE, pure=True)
def window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F30: running-peak drawdown of the daily revenue series — per
    day, the gap to the best day seen SO FAR (absolute, fractional,
    and the global maximum drawdown): the slump-detection readout
    finance calls max drawdown and ops dashboards call
    days-below-peak; the running-max complement of the cumulative
    windows (F26) and the threshold-free cousin of the CUSUM
    changepoint screen (F20).

    Parity: exact integer cents; the running peak and drawdowns are
    integer decisions; the fraction is one snapped division (NULL
    when the running peak is 0 — an all-zero prefix).

    Shape at 100 TB: events collapse map-side to the calendar-bounded
    DAY relation before any window (the E19/F26 discipline); the
    running-max and global-max windows rank ~365 rows per year,
    never events."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        )
    ).agg(
        F.coalesce(F.sum(dec("value") * 100), F.lit(0))
        .cast("long")
        .alias("cents")
    )
    wpeak = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    r = d.select(
        "day",
        "cents",
        F.max("cents").over(wpeak).cast("long").alias("peak_cents"),
    )
    return r.selectExpr(
        "date_format(timestamp_micros(day * 86400000000), 'yyyy-MM-dd')"
        " AS day_str",
        "cents",
        "peak_cents",
        "CAST(peak_cents - cents AS BIGINT) AS drawdown_cents",
        "CASE WHEN peak_cents > 0 THEN"
        " FLOOR((CAST(peak_cents - cents AS DOUBLE)"
        " / CAST(peak_cents AS DOUBLE)) * 1e9 + 0.5) / 1e9"
        " END AS drawdown_frac",
    ).withColumn(
        "max_drawdown_cents",
        F.max("drawdown_cents").over(wall).cast("long"),
    ).orderBy("day_str")


# ---------------------------------------------------------------------------
# F31 — anchored VWAP with execution-quality readout per ship day
# ---------------------------------------------------------------------------

_VWAP_ORACLE = """
WITH fills AS (
  SELECT STRFTIME(l_shipdate, '%Y-%m-%d') AS ship_day,
         l_orderkey, l_linenumber,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
runs AS (
  SELECT ship_day, pc, qty,
         CAST(SUM(pc) OVER (PARTITION BY ship_day
              ORDER BY l_orderkey, l_linenumber, pc, qty
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_cents,
         CAST(SUM(qty) OVER (PARTITION BY ship_day
              ORDER BY l_orderkey, l_linenumber, pc, qty
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_qty,
         CAST(SUM(pc) OVER (PARTITION BY ship_day)
              AS BIGINT) AS day_cents,
         CAST(SUM(qty) OVER (PARTITION BY ship_day)
              AS BIGINT) AS day_qty
  FROM fills
),
scored AS (
  SELECT ship_day, day_cents, day_qty,
         FLOOR((CAST(cum_cents AS DOUBLE) / CAST(cum_qty AS DOUBLE)
                / 100.0) * 1e9 + 0.5) / 1e9 AS run_vwap,
         CASE WHEN CAST(pc AS DECIMAL(38,0)) * day_qty
                   > CAST(day_cents AS DECIMAL(38,0)) * qty
              THEN 1 ELSE 0 END AS above_final
  FROM runs
)
SELECT ship_day,
       CAST(COUNT(*) AS BIGINT) AS n_fills,
       MAX(day_qty) AS day_qty,
       FLOOR((CAST(MAX(day_cents) AS DOUBLE) / CAST(MAX(day_qty) AS DOUBLE)
              / 100.0) * 1e9 + 0.5) / 1e9 AS day_vwap,
       MAX(run_vwap) AS vwap_high,
       MIN(run_vwap) AS vwap_low,
       CAST(SUM(above_final) AS BIGINT) AS n_above_vwap,
       FLOOR((CAST(SUM(above_final) AS DOUBLE) / COUNT(*))
             * 1e9 + 0.5) / 1e9 AS frac_above_vwap
FROM scored GROUP BY ship_day ORDER BY ship_day
"""


@query("window-vwap-anchored", oracle=_VWAP_ORACLE, pure=True)
def window_vwap_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F31: anchored VWAP — the volume-weighted average unit price
    cumulated from each ship day's first fill, the execution-quality
    benchmark every trading/procurement desk reads ("did we fill
    above or below the day's volume-weighted price?"): per day, the
    running VWAP's high/low excursion plus how many fills executed
    above the day's FINAL VWAP. Fills are lineitem rows (notional =
    extendedprice, volume = quantity) in the deterministic execution
    sequence (l_orderkey, l_linenumber) — ship dates carry day
    granularity, so the sequence key IS the total order (the F1
    tie-breaker discipline).

    Shape at 100 TB: the F10 shared-exchange discipline — the
    cumulative spec and the full-frame day totals ride ONE hash
    exchange on ship_day + one in-partition sort, and the final
    per-day aggregate groups on the SAME key so it reuses that
    exchange too (one shuffle total); per-day partitions are bounded
    by day volume, never corpus size.

    Parity: notional accumulates as DECIMAL(38,0) exact cents and
    volume as BIGINT (quantities are integral by construction — the
    double→BIGINT cast is exact); each running VWAP is ONE double
    division chain over exact operands, snapped, so MAX/MIN over the
    snapped values are deterministic; above-final is the cross-
    multiplied compare pc·ΣQ > ΣPC·q with a relative-guarded double
    fast path — gaps > 1e-9 relative decide in double (provably
    sign-correct at any magnitude), near-ties fall back to the
    boundary-EXACT DECIMAL(38,0) compare (the E13 integer-compare
    discipline at the only rows where it matters).
    cum_qty ≥ 1 for every row (TPC-H quantity ≥ 1), so the division
    needs no zero guard in either engine."""
    li = load_table(spark, sf_dir, "lineitem")
    fills = li.select(
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        "l_orderkey",
        "l_linenumber",
        (dec("l_extendedprice") * 100).cast("long").alias("pc"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    wseq = (
        W.partitionBy("ship_day")
        # (okey, linenumber) is unique in real data; pc/qty extend the
        # key so on ANY corpus remaining ties are fully identical rows,
        # whose permutation cannot change a cumulative sum. The
        # SYNTHETIC corpus DOES carry duplicate (okey, linenumber)
        # pairs with different pc — an r12 sort-key "trim" flipped
        # vwap_high between sessions until the fresh-session probe
        # caught it; the extensions are LOAD-BEARING, do not remove.
        .orderBy("l_orderkey", "l_linenumber", "pc", "qty")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy("ship_day")
    runs = fills.select(
        "ship_day",
        "pc",
        "qty",
        # BIGINT cumulative cents (r12): window SUM over DECIMAL(38,0)
        # pays a per-row BigDecimal add; pc sums stay far inside a long
        # (9.2e18 cents) at any realistic day volume, and the overflow-
        # sensitive cross-multiply below still runs in DECIMAL(38,0)
        F.sum("pc").over(wseq).cast("long").alias("cum_cents"),
        F.sum("qty").over(wseq).cast("long").alias("cum_qty"),
        F.sum("pc").over(wtot).cast("long").alias("day_cents"),
        F.sum("qty").over(wtot).cast("long").alias("day_qty"),
    )
    scored = runs.selectExpr(
        "ship_day",
        "day_cents",
        "day_qty",
        "FLOOR((CAST(cum_cents AS DOUBLE) / CAST(cum_qty AS DOUBLE)"
        " / 100.0) * 1e9 + 0.5) / 1e9 AS run_vwap",
        # Relative-guarded double fast path for the cross-multiply
        # (r15): each double product carries ≤ ~2.2e-16 relative error,
        # so when the two sides differ by > 1e-9 RELATIVE the double
        # compare provably agrees with the exact one at ANY magnitude
        # (the guard is relative, not absolute, so it stays valid when
        # day volumes grow the products arbitrarily). Only near-ties
        # inside the band — a fill priced within 1e-9 of the day VWAP —
        # pay the boundary-EXACT DECIMAL(38,0) compare. Value-identical
        # to the all-decimal form (hash-verified at sf0.001/0.01/0.1);
        # the per-row BigDecimal multiplies were this key's largest
        # non-scan cost.
        "CASE WHEN abs(CAST(pc AS DOUBLE) * CAST(day_qty AS DOUBLE)"
        " - CAST(day_cents AS DOUBLE) * CAST(qty AS DOUBLE))"
        " > 1e-9 * greatest(CAST(pc AS DOUBLE) * CAST(day_qty AS DOUBLE),"
        " CAST(day_cents AS DOUBLE) * CAST(qty AS DOUBLE), 1.0)"
        " THEN CASE WHEN CAST(pc AS DOUBLE) * CAST(day_qty AS DOUBLE)"
        " > CAST(day_cents AS DOUBLE) * CAST(qty AS DOUBLE)"
        " THEN 1 ELSE 0 END"
        " ELSE CASE WHEN CAST(pc AS DECIMAL(38,0)) * day_qty"
        " > CAST(day_cents AS DECIMAL(38,0)) * qty"
        " THEN 1 ELSE 0 END END AS above_final",
    )
    return (
        scored.groupBy("ship_day")
        .agg(
            F.count("*").cast("long").alias("n_fills"),
            F.max("day_qty").alias("day_qty"),
            F.expr(
                "FLOOR((CAST(MAX(day_cents) AS DOUBLE)"
                " / CAST(MAX(day_qty) AS DOUBLE) / 100.0)"
                " * 1e9 + 0.5) / 1e9"
            ).alias("day_vwap"),
            F.max("run_vwap").alias("vwap_high"),
            F.min("run_vwap").alias("vwap_low"),
            F.sum("above_final").cast("long").alias("n_above_vwap"),
            F.expr(
                "FLOOR((CAST(SUM(above_final) AS DOUBLE) / COUNT(*))"
                " * 1e9 + 0.5) / 1e9"
            ).alias("frac_above_vwap"),
        )
        .orderBy("ship_day")
    )


# ---------------------------------------------------------------------------
# F32 — Bollinger bands over the daily revenue series (exact breaches)
# ---------------------------------------------------------------------------

# 20-day window, k = 2 sigma (the Bollinger defaults). The breach
# decision is the EXACT integer cross-multiply: with d = n·x − Σx and
# vn = n·Σx² − (Σx)² (both DECIMAL(38,0) over exact cents),
#   x > mean + 2·sd  ⟺  d > 0 AND d² > 4·vn      (k² = 4)
# so the flag never touches a double. z = d/√vn is bounded by √n ≤ √20
# (a window member is at most √n sigmas out), safely inside the snap
# envelope at ANY corpus size.
_BOLL_N = 20
_BOLL_K2 = 4  # k², for the squared compare

_BOLL_ORACLE = f"""
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) * 100
              AS BIGINT) AS cents
  FROM events GROUP BY 1
),
w AS (
  SELECT day, cents,
         CAST(COUNT(*) OVER f AS BIGINT) AS n,
         CAST(SUM(CAST(cents AS DECIMAL(38,0))) OVER f
              AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) OVER f
              AS DECIMAL(38,0)) AS sq
  FROM d
  WINDOW f AS (ORDER BY day
               ROWS BETWEEN {_BOLL_N - 1} PRECEDING AND CURRENT ROW)
),
x AS (
  SELECT day, cents, n,
         CAST(n AS DECIMAL(38,0)) * cents - s AS dd,
         CAST(n AS DECIMAL(38,0)) * sq - s * s AS vn
  FROM w
)
SELECT STRFTIME(TIMESTAMP '1970-01-01' + INTERVAL (day) DAY, '%Y-%m-%d')
         AS day_str,
       cents, n AS n_window,
       CAST(dd AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS dev_dollars,
       CASE WHEN vn > 0 THEN
         FLOOR((CAST(dd AS DOUBLE) / SQRT(CAST(vn AS DOUBLE)))
               * 1e9 + 0.5) / 1e9 END AS z_score,
       CASE WHEN dd > 0 AND dd * dd > {_BOLL_K2} * vn THEN 'above'
            WHEN dd < 0 AND dd * dd > {_BOLL_K2} * vn THEN 'below'
            ELSE 'inside' END AS band_state
FROM x ORDER BY day
"""


@query("window-bollinger", oracle=_BOLL_ORACLE, pure=True)
def window_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F32: Bollinger bands (Bollinger 1983: 20-day mean ± 2σ) over
    the daily revenue series — the volatility-scaled envelope that
    complements the running-peak drawdown (F30) and the fixed-window
    z-score anomaly screen (F14): F14 asks "is today odd vs a global
    reference?", this asks "is today outside its OWN recent
    volatility regime?" — the adaptive alert line dashboards want
    when variance itself drifts seasonally.

    Shape at 100 TB: events collapse map-side to the calendar-bounded
    DAY relation before any window (the F26/F30 discipline); the
    single rolling frame computes count/Σx/Σx² in one pass over ~365
    rows per year, never events.

    Parity: cents exact BIGINTs; d = n·x − Σx and vn = n·Σx² − (Σx)²
    are DECIMAL(38,0)-exact, so the band breach is an INTEGER
    decision (d² > k²·vn) — no double ever gates the label; the
    z-score d/√vn is bounded by √n ≤ √20, one IEEE division over
    exact-integer-derived doubles, snapped; dev_dollars is a pure
    division chain (davg precedent). Zero-variance windows (n = 1 or
    all-equal) → NULL z, 'inside' in both engines."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        )
    ).agg(
        F.coalesce(F.sum(dec("value") * 100), F.lit(0))
        .cast("long")
        .alias("cents")
    )
    f = W.orderBy("day").rowsBetween(-(_BOLL_N - 1), W.currentRow)
    w = d.select(
        "day",
        "cents",
        F.count(F.lit(1)).over(f).cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)"))
        .over(f)
        .cast("decimal(38,0)")
        .alias("s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .over(f)
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    x = w.selectExpr(
        "day",
        "cents",
        "n",
        "CAST(n AS DECIMAL(38,0)) * cents - s AS dd",
        "CAST(n AS DECIMAL(38,0)) * sq - s * s AS vn",
    )
    return x.selectExpr(
        "date_format(timestamp_micros(day * 86400000000), 'yyyy-MM-dd')"
        " AS day_str",
        "cents",
        "n AS n_window",
        "CAST(dd AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS dev_dollars",
        "CASE WHEN vn > 0 THEN"
        " FLOOR((CAST(dd AS DOUBLE) / SQRT(CAST(vn AS DOUBLE)))"
        " * 1e9 + 0.5) / 1e9 END AS z_score",
        f"CASE WHEN dd > 0 AND dd * dd > {_BOLL_K2} * vn THEN 'above'"
        f" WHEN dd < 0 AND dd * dd > {_BOLL_K2} * vn THEN 'below'"
        f" ELSE 'inside' END AS band_state",
    ).orderBy("day")


# ---------------------------------------------------------------------------
# F33 — RSI (relative strength index) over the daily revenue series
# ---------------------------------------------------------------------------

# Cutler's RSI (the simple-moving-average variant — Wilder's EWMA form
# is recursive and partition-order-dependent; the SMA form is the
# standard window-function formulation): RSI = 100·ΣG/(ΣG+ΣL) over the
# last 14 day-over-day deltas. Zone thresholds are the classic 70/30,
# compared against the SNAPPED rsi so the label is deterministic.
_RSI_N = 14
_RSI_OVERBOUGHT = "70.0"
_RSI_OVERSOLD = "30.0"

_RSI_ORACLE = f"""
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) * 100
              AS BIGINT) AS cents
  FROM events GROUP BY 1
),
dl AS (
  SELECT day, cents,
         cents - LAG(cents) OVER (ORDER BY day) AS delta
  FROM d
),
g AS (
  SELECT day, cents,
         CAST(SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER f
              AS BIGINT) AS sum_gain,
         CAST(SUM(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER f
              AS BIGINT) AS sum_loss,
         CAST(COUNT(delta) OVER f AS BIGINT) AS n_deltas
  FROM dl
  WINDOW f AS (ORDER BY day
               ROWS BETWEEN {_RSI_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT STRFTIME(TIMESTAMP '1970-01-01' + INTERVAL (day) DAY, '%Y-%m-%d')
         AS day_str,
       cents, n_deltas, sum_gain, sum_loss,
       CASE WHEN sum_gain + sum_loss > 0 THEN
         FLOOR((100.0 * CAST(sum_gain AS DOUBLE)
                / CAST(sum_gain + sum_loss AS DOUBLE)) * 1e9 + 0.5) / 1e9
       END AS rsi,
       CASE WHEN sum_gain + sum_loss IS NULL
              OR sum_gain + sum_loss = 0 THEN 'undefined'
            WHEN FLOOR((100.0 * CAST(sum_gain AS DOUBLE)
                 / CAST(sum_gain + sum_loss AS DOUBLE)) * 1e9 + 0.5) / 1e9
                 >= {_RSI_OVERBOUGHT} THEN 'overbought'
            WHEN FLOOR((100.0 * CAST(sum_gain AS DOUBLE)
                 / CAST(sum_gain + sum_loss AS DOUBLE)) * 1e9 + 0.5) / 1e9
                 <= {_RSI_OVERSOLD} THEN 'oversold'
            ELSE 'neutral' END AS zone
FROM g ORDER BY day
"""


@query("window-rsi", oracle=_RSI_ORACLE, pure=True)
def window_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F33: relative strength index (Cutler's SMA variant of Wilder
    1978) over the daily revenue series — the momentum readout that
    completes the finance-window family: OHLC (F25) summarizes the
    level, Bollinger (F32) the volatility envelope, RSI the gain/loss
    BALANCE of the last 14 deltas — "is the recent run-up exhausted?"
    (≥70 overbought / ≤30 oversold, the classic zones). The SMA form
    is deliberate: Wilder's EWMA smoothing is an order-dependent
    recursion (the F12 caveat), while the SMA form is a pure window
    frame — deterministic, restart-free, and identical cross-engine.

    Shape at 100 TB: the F30/F32 discipline — one map-side collapse
    to the calendar-bounded day relation, then LAG + one rolling
    frame over ~365 rows/year. One exchange, windows never see events.

    Parity: deltas/gains/losses exact BIGINTs (CASE on exact cents —
    GREATEST is avoided because engines disagree on NULL handling); RSI ∈ [0,100] is one textual division chain over exact
    operands, snapped (·1e9 ≤ 1e11, deep inside the envelope); zones
    compare the SNAPPED rsi against shared literals; a frame with no
    deltas (first day) or all-zero deltas → NULL rsi, 'undefined' in
    both engines."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        )
    ).agg(
        F.coalesce(F.sum(dec("value") * 100), F.lit(0))
        .cast("long")
        .alias("cents")
    )
    dl = d.select(
        "day",
        "cents",
        (F.col("cents") - F.lag("cents").over(W.orderBy("day"))).alias(
            "delta"
        ),
    )
    f = W.orderBy("day").rowsBetween(-(_RSI_N - 1), W.currentRow)
    g = dl.select(
        "day",
        "cents",
        F.sum(F.expr("CASE WHEN delta > 0 THEN delta ELSE 0 END"))
        .over(f)
        .cast("long")
        .alias("sum_gain"),
        F.sum(F.expr("CASE WHEN delta < 0 THEN -delta ELSE 0 END"))
        .over(f)
        .cast("long")
        .alias("sum_loss"),
        F.count("delta").over(f).cast("long").alias("n_deltas"),
    )
    rsi_expr = (
        "FLOOR((100.0 * CAST(sum_gain AS DOUBLE)"
        " / CAST(sum_gain + sum_loss AS DOUBLE)) * 1e9 + 0.5) / 1e9"
    )
    return g.selectExpr(
        "date_format(timestamp_micros(day * 86400000000), 'yyyy-MM-dd')"
        " AS day_str",
        "cents",
        "n_deltas",
        "sum_gain",
        "sum_loss",
        f"CASE WHEN sum_gain + sum_loss > 0 THEN {rsi_expr} END AS rsi",
        f"CASE WHEN sum_gain + sum_loss IS NULL"
        f" OR sum_gain + sum_loss = 0 THEN 'undefined'"
        f" WHEN {rsi_expr} >= {_RSI_OVERBOUGHT} THEN 'overbought'"
        f" WHEN {rsi_expr} <= {_RSI_OVERSOLD} THEN 'oversold'"
        f" ELSE 'neutral' END AS zone",
    ).orderBy("day")


# ---------------------------------------------------------------------------
# F34 — referential-integrity (foreign-key) audit across the star schema
# ---------------------------------------------------------------------------

# The seven FK edges of the schema, audited in one pass each:
# (relationship label, child table, child key col, parent table,
# parent key col). NULL child keys are counted separately — a NULL is
# a missing reference, not an orphan.
_FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
]


def _fk_audit_sql_one(
    rel: str, child: str, ckey: str, parent: str, pkey: str
) -> str:
    return f"""
SELECT '{rel}' AS relationship, child_rows, null_rows, distinct_keys,
       orphan_keys, orphan_rows,
       FLOOR((CAST(orphan_rows AS DOUBLE) / CAST(child_rows AS DOUBLE))
             * 1e9 + 0.5) / 1e9 AS orphan_frac
FROM (
  SELECT CAST(SUM(cnt) AS BIGINT) AS child_rows,
         CAST(COALESCE(SUM(CASE WHEN k IS NULL THEN cnt END), 0)
              AS BIGINT) AS null_rows,
         CAST(COUNT(k) AS BIGINT) AS distinct_keys,
         CAST(COALESCE(SUM(CASE WHEN k IS NOT NULL AND pk IS NULL
                                THEN 1 END), 0) AS BIGINT) AS orphan_keys,
         CAST(COALESCE(SUM(CASE WHEN k IS NOT NULL AND pk IS NULL
                                THEN cnt END), 0) AS BIGINT) AS orphan_rows
  FROM (SELECT {ckey} AS k, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {child} GROUP BY 1) c
  LEFT JOIN (SELECT DISTINCT {pkey} AS pk FROM {parent}) p ON c.k = p.pk
) a
"""


_FK_AUDIT_ORACLE = "\nUNION ALL\n".join(
    _fk_audit_sql_one(*e) for e in _FK_EDGES
) + "\nORDER BY relationship"


@query("etl-fk-audit", oracle=_FK_AUDIT_ORACLE, pure=True)
def etl_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F34: referential-integrity audit over every FK edge of the
    star schema — per relationship, total child rows, NULL
    references, distinct child keys, orphan KEYS (child keys with no
    parent) and orphan ROWS, plus the orphan fraction: the first
    query a data-platform team runs after any backfill/CDC load, and
    the structured complement of the column-level DQ audit (F18),
    which checks values in isolation while this checks the edges
    BETWEEN tables. One summary row per relationship.

    Shape at 100 TB: each edge collapses the child map-side to its
    DISTINCT-key relation (bounded by key cardinality, never row
    count) before any join; the parent side joins as a key-only
    projection — broadcastable for the dimension edges (nation,
    region, supplier) and an id-only shuffle for the fact edges;
    the NULL-reference group rides the SAME hash aggregate as the
    real keys, so row totals, NULL counts and orphan rows all derive
    from the bounded key relation — ONE scan per edge, no second
    pass over any child table.

    Parity: all counts exact BIGINTs; the fraction is one textual
    division over exact operands, snapped; a child table with all
    keys NULL degenerates to zero distinct keys and 0.0 fractions in
    both engines."""
    outs = []
    for rel, child, ckey, parent, pkey in _FK_EDGES:
        ch = load_table(spark, sf_dir, child)
        pa = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pkey).alias("pk"))
            .distinct()
        )
        # ONE child scan per edge: the NULL group rides the same
        # hash agg as the real keys, so totals/null counts/orphans
        # all derive from the bounded (key, cnt) relation.
        keys = ch.groupBy(F.col(ckey).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        joined = keys.join(pa, keys["k"] == pa["pk"], "left")
        agg = joined.agg(
            F.sum("cnt").cast("long").alias("child_rows"),
            F.coalesce(
                F.sum(F.when(F.col("k").isNull(), F.col("cnt"))), F.lit(0)
            )
            .cast("long")
            .alias("null_rows"),
            F.count("k").cast("long").alias("distinct_keys"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("k").isNotNull() & F.col("pk").isNull(), 1
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("orphan_keys"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("k").isNotNull() & F.col("pk").isNull(),
                        F.col("cnt"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("orphan_rows"),
        )
        outs.append(
            agg.selectExpr(
                f"'{rel}' AS relationship",
                "child_rows",
                "null_rows",
                "distinct_keys",
                "orphan_keys",
                "orphan_rows",
                "FLOOR((CAST(orphan_rows AS DOUBLE)"
                " / CAST(child_rows AS DOUBLE)) * 1e9 + 0.5) / 1e9"
                " AS orphan_frac",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("relationship")


# ---------------------------------------------------------------------------
# F35 — local extrema (peaks/troughs) of the daily revenue series
# ---------------------------------------------------------------------------

_EXTREMA_K = 3  # neighborhood radius in days (rows of the day series)

_EXTREMA_ORACLE = f"""
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) * 100
              AS BIGINT) AS cents
  FROM events GROUP BY 1
),
w AS (
  SELECT day, cents,
         MAX(cents) OVER bk AS mx_b, MIN(cents) OVER bk AS mn_b,
         MAX(cents) OVER fw AS mx_f, MIN(cents) OVER fw AS mn_f,
         COUNT(*) OVER bk AS n_b, COUNT(*) OVER fw AS n_f
  FROM d
  WINDOW bk AS (ORDER BY day
                ROWS BETWEEN {_EXTREMA_K} PRECEDING AND 1 PRECEDING),
         fw AS (ORDER BY day
                ROWS BETWEEN 1 FOLLOWING AND {_EXTREMA_K} FOLLOWING)
)
SELECT STRFTIME(TIMESTAMP '1970-01-01' + INTERVAL (day) DAY, '%Y-%m-%d')
         AS day_str,
       cents,
       CASE WHEN n_b = 0 OR n_f = 0 THEN 'edge'
            WHEN cents > mx_b AND cents > mx_f THEN 'peak'
            WHEN cents < mn_b AND cents < mn_f THEN 'trough'
            ELSE 'none' END AS kind,
       CASE WHEN n_b > 0 AND n_f > 0 AND cents > mx_b AND cents > mx_f
              THEN cents - CASE WHEN mx_b > mx_f THEN mx_b ELSE mx_f END
            WHEN n_b > 0 AND n_f > 0 AND cents < mn_b AND cents < mn_f
              THEN CASE WHEN mn_b < mn_f THEN mn_b ELSE mn_f END - cents
       END AS prominence_cents
FROM w ORDER BY day
"""


@query("window-local-extrema", oracle=_EXTREMA_ORACLE, pure=True)
def window_local_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F35: local extrema of the daily revenue series — a day is a
    PEAK when it strictly exceeds every day in its ±3-day
    neighborhood, a TROUGH when strictly below (the scipy
    find_peaks/argrelextrema semantics, window-function-shaped), with
    a prominence readout (gap to the nearest rival in the
    neighborhood): the event-detection primitive behind "flag the
    spike days" dashboards that CUSUM (F20, cumulative shift) and
    Bollinger (F32, volatility bands) do not answer — those detect
    REGIME changes, this finds POINT events. Edge days (incomplete
    neighborhood) are labeled 'edge', never silently classified.

    Shape at 100 TB: the F26/F30/F32 day-relation discipline — one
    map-side collapse to calendar-bounded days, then two small frames
    (3 preceding / 3 following) over ~365 rows per year. One
    exchange; windows never see events.

    Parity: exact integer cents; every classification is a strict
    integer comparison and prominence is integer subtraction — no
    doubles anywhere in the key."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        )
    ).agg(
        F.coalesce(F.sum(dec("value") * 100), F.lit(0))
        .cast("long")
        .alias("cents")
    )
    bk = W.orderBy("day").rowsBetween(-_EXTREMA_K, -1)
    fw = W.orderBy("day").rowsBetween(1, _EXTREMA_K)
    w = d.select(
        "day",
        "cents",
        F.max("cents").over(bk).alias("mx_b"),
        F.min("cents").over(bk).alias("mn_b"),
        F.max("cents").over(fw).alias("mx_f"),
        F.min("cents").over(fw).alias("mn_f"),
        F.count(F.lit(1)).over(bk).alias("n_b"),
        F.count(F.lit(1)).over(fw).alias("n_f"),
    )
    return w.selectExpr(
        "date_format(timestamp_micros(day * 86400000000), 'yyyy-MM-dd')"
        " AS day_str",
        "cents",
        "CASE WHEN n_b = 0 OR n_f = 0 THEN 'edge'"
        " WHEN cents > mx_b AND cents > mx_f THEN 'peak'"
        " WHEN cents < mn_b AND cents < mn_f THEN 'trough'"
        " ELSE 'none' END AS kind",
        "CASE WHEN n_b > 0 AND n_f > 0 AND cents > mx_b AND cents > mx_f"
        " THEN cents - CASE WHEN mx_b > mx_f THEN mx_b ELSE mx_f END"
        " WHEN n_b > 0 AND n_f > 0 AND cents < mn_b AND cents < mn_f"
        " THEN CASE WHEN mn_b < mn_f THEN mn_b ELSE mn_f END - cents"
        " END AS prominence_cents",
    ).orderBy("day")


# ---------------------------------------------------------------------------
# F36 — autocorrelation function (lags 1..7) of the daily revenue series
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7

_ACF_ORACLE = f"""
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) * 100
              AS BIGINT) AS cents
  FROM events GROUP BY 1
),
s AS (
  SELECT day, cents,
         CAST(COUNT(*) OVER () AS BIGINT) AS n,
         CAST(SUM(cents) OVER () AS BIGINT) AS tot
  FROM d
),
dd AS (
  SELECT day,
         CAST(n AS DECIMAL(38,0)) * cents - tot AS dv,
         n
  FROM s
),
lagged AS (
  SELECT dv, n,
         {', '.join(f'LAG(dv, {L}) OVER (ORDER BY day) AS dv{L}'
                    for L in range(1, _ACF_MAX_LAG + 1))}
  FROM dd
),
agg AS (
  SELECT MAX(n) AS n,
         CAST(SUM(dv * dv) AS DECIMAL(38,0)) AS den,
         {', '.join(
             f'CAST(COALESCE(SUM(dv * dv{L}), 0) AS DECIMAL(38,0)) AS num{L},'
             f' CAST(COUNT(dv{L}) AS BIGINT) AS np{L}'
             for L in range(1, _ACF_MAX_LAG + 1))}
  FROM lagged
)
{' UNION ALL '.join(
    f"SELECT CAST({L} AS BIGINT) AS lag, np{L} AS n_pairs,"
    f" CASE WHEN den > 0 THEN"
    f" FLOOR((CAST(num{L} AS DOUBLE) / CAST(den AS DOUBLE))"
    f" * 1e9 + 0.5) / 1e9 END AS acf FROM agg"
    for L in range(1, _ACF_MAX_LAG + 1))}
ORDER BY lag
"""


@query("window-autocorr", oracle=_ACF_ORACLE, pure=True)
def window_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F36: the autocorrelation function of the daily revenue series
    at lags 1..7 — THE time-series diagnostic read before any
    forecasting/anomaly model is chosen (a spike at lag 7 = weekly
    seasonality, confirming E35's day-of-week readout from the
    correlation side; slow decay = trend, CUSUM/F20 territory; ~0
    everywhere = white noise, so alerting on level is defensible).
    Standard ACF convention: every lag normalizes by the SERIES
    variance (denominator Σ(x−x̄)² over all days).

    Shape at 100 TB: the day-relation discipline — map-side collapse
    to calendar-bounded days, n/Σx via one full-frame window, LAG
    columns for the 7 shifts, ONE one-row aggregate, and a 7-row
    constant unpivot. Windows never see events.

    Parity: the mean never materializes — deviations are the n-scaled
    exact integers dv = n·x − Σx (the F32/I73 identity applied to
    covariance), so every numerator Σ dv_t·dv_{t−L} and the
    denominator Σ dv² are DECIMAL(38,0)-exact; each acf value is ONE
    snapped division; a zero-variance series → NULL acf at every lag
    in both engines."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        )
    ).agg(
        F.coalesce(F.sum(dec("value") * 100), F.lit(0))
        .cast("long")
        .alias("cents")
    )
    wall = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    s = d.select(
        "day",
        "cents",
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("cents").over(wall).cast("long").alias("tot"),
    )
    dd = s.selectExpr(
        "day", "CAST(n AS DECIMAL(38,0)) * cents - tot AS dv", "n"
    )
    worder = W.orderBy("day")
    lag_cols = [
        F.lag("dv", L).over(worder).alias(f"dv{L}")
        for L in range(1, _ACF_MAX_LAG + 1)
    ]
    lagged = dd.select("dv", "n", *lag_cols)
    aggs = [
        F.max("n").alias("n"),
        F.sum(F.expr("dv * dv")).cast("decimal(38,0)").alias("den"),
    ]
    for L in range(1, _ACF_MAX_LAG + 1):
        aggs.append(
            F.coalesce(F.sum(F.expr(f"dv * dv{L}")), F.lit(0))
            .cast("decimal(38,0)")
            .alias(f"num{L}")
        )
        aggs.append(F.count(f"dv{L}").cast("long").alias(f"np{L}"))
    agg = lagged.agg(*aggs)
    # one stack() unpivot = ONE consumer of the one-row agg (a 7-way
    # UNION of selects would re-execute the whole day pipeline per lag)
    stack_args = ", ".join(
        f"CAST({L} AS BIGINT), np{L},"
        f" CASE WHEN den > 0 THEN"
        f" FLOOR((CAST(num{L} AS DOUBLE) / CAST(den AS DOUBLE))"
        f" * 1e9 + 0.5) / 1e9 END"
        for L in range(1, _ACF_MAX_LAG + 1)
    )
    return agg.selectExpr(
        f"stack({_ACF_MAX_LAG}, {stack_args}) AS (lag, n_pairs, acf)"
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# F37 — gaps-and-islands: merge overlapping per-customer activity intervals
# ---------------------------------------------------------------------------

_ISLAND_DAYS = 30  # each order opens a [orderdate, orderdate+30d) interval

_ISLANDS_ORACLE = f"""
WITH iv AS (
  SELECT o_custkey AS cust,
         CAST(datediff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS BIGINT) AS s,
         CAST(datediff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS BIGINT)
           + {_ISLAND_DAYS} AS e
  FROM orders
),
m AS (
  SELECT cust, s, e,
         MAX(e) OVER (PARTITION BY cust ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM iv
),
fl AS (
  SELECT cust, s, e,
         CASE WHEN prev_max_e IS NULL OR s > prev_max_e
              THEN 1 ELSE 0 END AS new_island
  FROM m
),
isl AS (
  SELECT cust, s, e,
         CAST(SUM(new_island) OVER (PARTITION BY cust ORDER BY s, e
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
  FROM fl
)
SELECT cust AS c_custkey, island_id,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       STRFTIME(DATE '1970-01-01' + INTERVAL (MIN(s)) DAY, '%Y-%m-%d')
         AS island_start,
       STRFTIME(DATE '1970-01-01' + INTERVAL (MAX(e)) DAY, '%Y-%m-%d')
         AS island_end,
       CAST(MAX(e) - MIN(s) AS BIGINT) AS span_days
FROM isl GROUP BY cust, island_id
ORDER BY c_custkey, island_id
"""


@query("etl-interval-islands", oracle=_ISLANDS_ORACLE, pure=True)
def etl_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F37: gaps-and-islands interval coalescing — each order opens a
    30-day activity interval per customer; overlapping/touching
    intervals merge into ISLANDS (continuous-engagement spans with
    order counts and span length): the canonical SQL interval-merge
    pattern behind subscription-coverage, incident-window and
    machine-uptime queries, and the missing sibling of the family —
    F10 sessionizes POINT events by gap, D11 JOINS two interval sets,
    this COALESCES one set into its connected components. Pure
    windows: the island boundary is "start > running max of all
    previous ends" (not lag(e) — an interval can be swallowed by an
    earlier longer one, the classic wrong-answer shortcut), island id
    is the running sum of boundary flags.

    Shape at 100 TB: ONE hash exchange on customer + one in-partition
    sort carries both windows and the final group-by (the F10/F31
    shared-exchange discipline); per-customer partitions are bounded
    by order history, never corpus size.

    Parity: day indexes exact integers (epoch-µs div), flags/ids/
    spans exact integer arithmetic end to end — no doubles anywhere;
    the (s, e) sort key is total per customer because equal-s rows
    share e by construction."""
    o = load_table(spark, sf_dir, "orders")
    # datediff on the DATE part: o_orderdate is TIMESTAMP_NTZ, and an
    # NTZ->TIMESTAMP cast would shift by the SESSION time zone — the
    # date-part day index is time-zone-free in both engines
    iv = o.select(
        F.col("o_custkey").alias("cust"),
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE),"
            " DATE '1970-01-01') AS BIGINT)"
        ).alias("s"),
    ).withColumn("e", F.col("s") + _ISLAND_DAYS)
    wprev = (
        W.partitionBy("cust")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    fl = iv.select(
        "cust",
        "s",
        "e",
        F.when(
            F.max("e").over(wprev).isNull()
            | (F.col("s") > F.max("e").over(wprev)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    wcum = (
        W.partitionBy("cust")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    isl = fl.select(
        "cust",
        "s",
        "e",
        F.sum("new_island").over(wcum).cast("long").alias("island_id"),
    )
    return (
        isl.groupBy("cust", "island_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("s").alias("mins"),
            F.max("e").alias("maxe"),
        )
        .selectExpr(
            "cust AS c_custkey",
            "island_id",
            "n_orders",
            "CAST(date_add(DATE '1970-01-01', CAST(mins AS INT))"
            " AS STRING) AS island_start",
            "CAST(date_add(DATE '1970-01-01', CAST(maxe AS INT))"
            " AS STRING) AS island_end",
            "CAST(maxe - mins AS BIGINT) AS span_days",
        )
        .orderBy("c_custkey", "island_id")
    )


# ---------------------------------------------------------------------------
# F38 — additive seasonal decomposition (trend / day-of-week / residual)
# ---------------------------------------------------------------------------

# Classical additive decomposition with a centered 7-day trend window
# (3 preceding + current + 3 following). Every emitted double is a
# SHARED TEXTUAL CHAIN over exact integers — never snapped, because
# trend/seasonal/residual are revenue-SCALED (unbounded) quantities
# that would breach the floor-snap envelope at large corpora (the
# numerics.py magnitude hazard); identical chains hash identically.
_SD_TREND = "CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE) / 100.0"
# seasonal (dollars): mean over the dow group of (d7/n7), kept exact
# as Σ(d7·nlcm/n7) — n7 ∈ {4..7}, lcm 420 — so the group sum is an
# exact integer and seasonal = that / (420·cnt·100)
_SD_LCM = 420
_SD_SEAS = (
    f"CAST(sdow AS DOUBLE) / CAST(cdow AS DOUBLE) / {_SD_LCM}.0 / 100.0"
)

_SEASDECOMP_ORACLE = f"""
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) * 100
              AS BIGINT) AS cents
  FROM events GROUP BY 1
),
t AS (
  SELECT day, cents,
         CAST(SUM(cents) OVER w AS BIGINT) AS s7,
         CAST(COUNT(*) OVER w AS BIGINT) AS n7,
         CAST((day + 4) % 7 AS BIGINT) AS dow
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT day, cents, s7, n7, dow,
         CAST(n7 AS DECIMAL(38,0)) * cents - s7 AS d7n,
         CAST(({_SD_LCM} // n7) AS DECIMAL(38,0))
           * (CAST(n7 AS DECIMAL(38,0)) * cents - s7) AS dscaled
  FROM t
),
se AS (
  SELECT *,
         CAST(SUM(dscaled) OVER (PARTITION BY dow) AS DECIMAL(38,0))
           AS sdow,
         CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT) AS cdow
  FROM det
)
SELECT STRFTIME(TIMESTAMP '1970-01-01' + INTERVAL (day) DAY, '%Y-%m-%d')
         AS day_str,
       dow, cents,
       {_SD_TREND} AS trend,
       CAST(d7n AS DOUBLE) / CAST(n7 AS DOUBLE) / 100.0 AS detrended,
       {_SD_SEAS} AS seasonal,
       (CAST(d7n AS DOUBLE) / CAST(n7 AS DOUBLE) / 100.0)
         - ({_SD_SEAS}) AS residual
FROM se ORDER BY day
"""


@query("window-seasonal-decompose", oracle=_SEASDECOMP_ORACLE, pure=True)
def window_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F38: classical additive seasonal decomposition of the daily
    revenue series — centered 7-day trend, day-of-week seasonal
    index, residual (the decompose() every time-series workflow runs
    before modeling): E35 reports dow INDICES, this returns the full
    per-day trend/seasonal/residual panels an anomaly screen runs on
    (alert on RESIDUAL, not raw level — F14's z-score on residuals
    is the textbook upgrade).

    Parity without snapping: trend/seasonal/residual are revenue-
    scaled (UNBOUNDED) quantities, so the floor-snap envelope does
    not apply (the numerics.py magnitude hazard) — instead every
    emitted double is a SHARED TEXTUAL CHAIN over exact integers:
    detrended keeps n7·x − Σ7 exact; the dow group mean stays exact
    by scaling each term by lcm(4..7)/n7 = 420/n7 (an integer — edge
    windows have n7 ∈ {{4..7}}) before the group sum, leaving ONE
    division chain per output. dow = (day+4) % 7 is pure integer
    arithmetic on the epoch day (1970-01-01 was a Thursday).

    Shape at 100 TB: the day-relation discipline — one map-side
    collapse, one 7-row centered frame, one dow-partitioned window
    (7 partitions), all over calendar-bounded rows."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        )
    ).agg(
        F.coalesce(F.sum(dec("value") * 100), F.lit(0))
        .cast("long")
        .alias("cents")
    )
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    t = d.select(
        "day",
        "cents",
        F.sum("cents").over(w7).cast("long").alias("s7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("n7"),
        F.expr("CAST((day + 4) % 7 AS BIGINT)").alias("dow"),
    )
    det = t.selectExpr(
        "day",
        "cents",
        "s7",
        "n7",
        "dow",
        "CAST(n7 AS DECIMAL(38,0)) * cents - s7 AS d7n",
        f"CAST(({_SD_LCM} div n7) AS DECIMAL(38,0))"
        " * (CAST(n7 AS DECIMAL(38,0)) * cents - s7) AS dscaled",
    )
    wd = W.partitionBy("dow")
    se = det.select(
        "*",
        F.sum("dscaled").over(wd).cast("decimal(38,0)").alias("sdow"),
        F.count(F.lit(1)).over(wd).cast("long").alias("cdow"),
    )
    return se.selectExpr(
        "date_format(timestamp_micros(day * 86400000000), 'yyyy-MM-dd')"
        " AS day_str",
        "dow",
        "cents",
        f"{_SD_TREND} AS trend",
        "CAST(d7n AS DOUBLE) / CAST(n7 AS DOUBLE) / 100.0 AS detrended",
        f"{_SD_SEAS} AS seasonal",
        f"(CAST(d7n AS DOUBLE) / CAST(n7 AS DOUBLE) / 100.0)"
        f" - ({_SD_SEAS}) AS residual",
    ).orderBy("day")


# ---------------------------------------------------------------------------
# F39 — Parkinson range volatility over daily event-value bars
# ---------------------------------------------------------------------------

# Parkinson (1980): sigma² = mean(ln(H/L)²) / (4·ln2) over the last N
# range bars — ~5× more statistically efficient than close-to-close
# variance because it uses the intraday RANGE. ln(H/L) is snapped to
# integer nano-units per day (bounded: a log-ratio), the rolling sum
# of squared nano-lns stays exact DECIMAL, and sigma is one final
# chain over exact operands.
_PARKINSON_N = 20
_PK_4LN2 = "2.772588722239781"  # 4·ln2 as a shared literal

_PARKINSON_ORACLE = f"""
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(MAX(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS h,
         CAST(MIN(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS l
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
r AS (
  SELECT day, h, l,
         CASE WHEN l > 0 THEN
           CAST(FLOOR(LN(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))
                      * 1e9 + 0.5) AS BIGINT) END AS lr_nano
  FROM d
),
w AS (
  SELECT day, h, l, lr_nano,
         CAST(SUM(CAST(lr_nano AS DECIMAL(38,0)) * lr_nano) OVER f
              AS DECIMAL(38,0)) AS sq,
         CAST(COUNT(lr_nano) OVER f AS BIGINT) AS n
  FROM r
  WINDOW f AS (ORDER BY day
               ROWS BETWEEN {_PARKINSON_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT STRFTIME(TIMESTAMP '1970-01-01' + INTERVAL (day) DAY, '%Y-%m-%d')
         AS day_str,
       h AS high_cents, l AS low_cents, n AS n_bars,
       CASE WHEN n > 0 THEN
         FLOOR(SQRT(CAST(sq AS DOUBLE) / 1e18
                    / CAST(n AS DOUBLE) / {_PK_4LN2})
               * 1e9 + 0.5) / 1e9 END AS parkinson_sigma
FROM w ORDER BY day
"""


@query("window-parkinson-vol", oracle=_PARKINSON_ORACLE, pure=True)
def window_parkinson_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F39: Parkinson range volatility (Parkinson 1980) over daily
    event-value bars — σ = √(mean(ln(H/L)²)/(4·ln2)) on a 20-day
    window: the range-based estimator that squeezes ~5× the
    statistical efficiency of close-to-close variance out of the
    same days, and the volatility panel member OHLC bars (F25) feed
    in every finance/telemetry stack — F32's Bollinger reads LEVEL
    dispersion, this reads intraday RANGE dispersion.

    Shape at 100 TB: one map-side collapse to per-day (H, L) bars
    (calendar-bounded), one rolling frame over ~365 rows/yr.

    Parity: H/L exact integer cents; each day's ln(H/L) is a bounded
    LOG-RATIO snapped to integer nano-units (the E48/I73 mechanism),
    so the rolling Σ(lr²) is DECIMAL(38,0)-exact and order-free;
    sigma is one shared textual chain (÷1e18 restores units, ÷n,
    ÷ the 4·ln2 literal, √, snap); degenerate days (L = 0 or all
    values equal → lr 0/NULL) behave identically in both engines."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    d = e.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        )
    ).agg(
        F.max(dec("value") * 100).cast("long").alias("h"),
        F.min(dec("value") * 100).cast("long").alias("l"),
    )
    r = d.selectExpr(
        "day",
        "h",
        "l",
        "CASE WHEN l > 0 THEN"
        " CAST(FLOOR(LN(CAST(h AS DOUBLE) / CAST(l AS DOUBLE))"
        " * 1e9 + 0.5) AS BIGINT) END AS lr_nano",
    )
    f = W.orderBy("day").rowsBetween(-(_PARKINSON_N - 1), W.currentRow)
    w = r.select(
        "day",
        "h",
        "l",
        F.sum(F.expr("CAST(lr_nano AS DECIMAL(38,0)) * lr_nano"))
        .over(f)
        .cast("decimal(38,0)")
        .alias("sq"),
        F.count("lr_nano").over(f).cast("long").alias("n"),
    )
    return w.selectExpr(
        "date_format(timestamp_micros(day * 86400000000), 'yyyy-MM-dd')"
        " AS day_str",
        "h AS high_cents",
        "l AS low_cents",
        "n AS n_bars",
        f"CASE WHEN n > 0 THEN"
        f" FLOOR(SQRT(CAST(sq AS DOUBLE) / 1e18"
        f" / CAST(n AS DOUBLE) / {_PK_4LN2})"
        f" * 1e9 + 0.5) / 1e9 END AS parkinson_sigma",
    ).orderBy("day")


# ---------------------------------------------------------------------------
# F40 — MACD (moving average convergence/divergence) over the daily series
# ---------------------------------------------------------------------------

# Truncated-lag EMA horizons. The textbook EMA is an order-dependent
# recursion (the F12 caveat); the distributable form is the finite
# convolution ema_t = Σ_k w_k·x_{t-k} / Σ_k w_k (present-mass
# normalized), with w_k = α(1-α)^k truncated at K lags. K is chosen so
# the dropped tail mass is small and DOCUMENTED: (1-α)^K = (25/27)^40
# ≈ 4.6% for the slow EMA, (11/13)^40 ≈ 0.12% fast, (7/9)^24 ≈ 0.24%
# for the signal. Both engines evaluate the SAME Python-generated
# textual arithmetic over the SAME once-extracted lag columns, so the
# truncation is part of the operator's definition, not an
# approximation mismatch.
_MACD_FAST_N = 12
_MACD_SLOW_N = 26
_MACD_SIGNAL_N = 9
_MACD_K = 40
_MACD_SIG_K = 24


def _lag_layer(col: str, prefix: str, terms: int) -> list[str]:
    """One SELECT layer extracting each lag exactly once: ``LAG(col, k)
    OVER (ORDER BY day) AS {prefix}{k}``. Extracting lags into named
    columns BEFORE the weight chains matters for latency, not values:
    inlining the LAG calls put ~160 window expressions through the
    analyzer per build (4 chains × 40 terms before dedup), ~2× the
    whole key's budget in plan time; as column refs the window has
    exactly ``terms`` expressions and the chains are plain arithmetic."""
    return [
        f"LAG({col}, {k}) OVER (ORDER BY day) AS {prefix}{k}"
        for k in range(terms)
    ]


def _arr_lag_layer(prefix: str, terms: int, typ: str) -> list[str]:
    """The Spark-side twin of ``_lag_layer`` reading a bounded
    ``collect_list`` window column ``__a`` (frame ``terms - 1``
    PRECEDING..CURRENT, ORDER BY day): ``element_at(__a, size - k)``
    IS ``LAG(col, k)`` over that frame — same value, same NULL when
    the series is shorter than the lag — but costs the analyzer one
    window expression instead of ``terms`` (the r15 window-macd
    driver-latency fix; the oracle keeps the LAG text and certifies
    value parity)."""
    return [
        f"IF(size(__a) > {k}, element_at(__a, size(__a) - {k}),"
        f" CAST(NULL AS {typ})) AS {prefix}{k}"
        for k in range(terms)
    ]


def _ema_frags(prefix: str, period: int, terms: int) -> tuple[str, str]:
    """(numerator, denominator) SQL fragments of the truncated-lag EMA
    over the ``{prefix}k`` lag columns — identical text for both
    engines. Weights are repr'd Python floats wrapped in explicit
    DOUBLE casts (a bare decimal literal parses as DECIMAL in both
    engines, and Spark's decimal-sum precision rules then TRUNCATE the
    denominator chain to 6 fractional digits — observed as a 1e-6
    relative skew on every EMA), so both engines sum identical
    doubles in identical order."""
    alpha = 2.0 / (period + 1.0)
    num, den = [], []
    for k in range(terms):
        w = f"CAST({repr(alpha * (1.0 - alpha) ** k)} AS DOUBLE)"
        lag = f"{prefix}{k}"
        num.append(f"{w} * COALESCE(CAST({lag} AS DOUBLE), 0.0)")
        den.append(f"CASE WHEN {lag} IS NOT NULL THEN {w} ELSE 0.0 END")
    return " + ".join(num), " + ".join(den)


def _macd_exprs() -> tuple[str, str, str]:
    """(fast, slow, signal) snapped EMA expressions shared by the Spark
    build and the DuckDB oracle; fast/slow read the ``l{k}`` cents-lag
    columns, signal the ``m{k}`` macd-lag columns."""
    nf, df_ = _ema_frags("l", _MACD_FAST_N, _MACD_K)
    ns, ds = _ema_frags("l", _MACD_SLOW_N, _MACD_K)
    fast = f"FLOOR(({nf}) / ({df_}) * 1e6 + 0.5) / 1e6"
    slow = f"FLOOR(({ns}) / ({ds}) * 1e6 + 0.5) / 1e6"
    nsig, dsig = _ema_frags("m", _MACD_SIGNAL_N, _MACD_SIG_K)
    signal = f"FLOOR(({nsig}) / ({dsig}) * 1e6 + 0.5) / 1e6"
    return fast, slow, signal


def _macd_oracle() -> str:
    fast, slow, signal = _macd_exprs()
    lags1 = ",\n         ".join(_lag_layer("cents", "l", _MACD_K))
    lags2 = ",\n         ".join(_lag_layer("macd", "m", _MACD_SIG_K))
    return f"""
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) * 100
              AS BIGINT) AS cents
  FROM events GROUP BY 1
),
l AS (
  SELECT day, cents,
         {lags1}
  FROM d
),
m AS (
  SELECT day, cents, ({fast}) - ({slow}) AS macd FROM l
),
ml AS (
  SELECT day, cents, macd,
         {lags2}
  FROM m
),
s AS (
  SELECT day, cents, macd, {signal} AS signal_line FROM ml
)
SELECT STRFTIME(TIMESTAMP '1970-01-01' + INTERVAL (day) DAY, '%Y-%m-%d')
         AS day_str,
       cents, macd, signal_line,
       macd - signal_line AS histogram,
       CASE WHEN macd - signal_line > 0 THEN 'bullish'
            WHEN macd - signal_line < 0 THEN 'bearish'
            ELSE 'flat' END AS state
FROM s ORDER BY day
"""


@query("window-macd", oracle=_macd_oracle(), pure=True)
def window_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F40: MACD(12, 26, 9) over the daily revenue series — the
    trend-following momentum readout that completes the finance-window
    family's classic stack (OHLC level, Bollinger envelope, RSI
    gain/loss balance, Parkinson range volatility, MACD trend): fast
    EMA minus slow EMA, its own 9-period EMA as the signal line, and
    their difference as the histogram whose SIGN is the bullish /
    bearish state.

    EMAs are the truncated-lag convolution form (the F12 EWMA
    technique — the recursive definition is inherently serial and
    partition-order-dependent; the finite convolution is a pure window
    expression). Truncation horizons and dropped tail mass are
    declared constants (≈4.6% worst-case on the slow EMA); BOTH
    engines extract the same lag columns then evaluate the same
    Python-generated textual chain over them, weights baked as repr'd
    double literals (the embed-random-projection literal-parity
    technique), so every product and left-to-right sum is
    IEEE-identical cross-engine. Each EMA is snapped to 6 dp BEFORE
    macd/signal subtraction, making the derived columns exact
    differences of snapped values.

    Shape at 100 TB: the F30/F32/F33 discipline — events collapse
    map-side to the calendar-bounded day relation (one exchange);
    both lag layers are ORDER BY day windows over ~365 rows/year
    sharing one sort; the weight chains are plain projections over
    the extracted columns.

    r15: each lag layer is ONE bounded collect_list window plus
    element_at projections instead of 40 (resp. 24) LAG window
    expressions — ``element_at(arr, size(arr) - k)`` with an explicit
    size guard is definitionally LAG(col, k) over the same frame, so
    every extracted value (and hence every IEEE sum downstream) is
    bit-identical; what changes is DRIVER cost: 64 window expressions
    through the analyzer per action fell to 2, which halved the key's
    measured wall time (1.15 → 0.59 s sf0.1, hash-verified equal).
    Per-row cost adds one ≤40-element array copy on a calendar-bounded
    relation — noise. The oracle keeps the plain LAG text (DuckDB has
    no such analyzer tax), certifying the rewrite."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        )
    ).agg(
        F.coalesce(F.sum(dec("value") * 100), F.lit(0))
        .cast("long")
        .alias("cents")
    )
    fast, slow, signal = _macd_exprs()
    l = d.selectExpr(
        "day",
        "cents",
        f"collect_list(cents) OVER (ORDER BY day ROWS BETWEEN"
        f" {_MACD_K - 1} PRECEDING AND CURRENT ROW) AS __a",
    ).selectExpr("day", "cents", *_arr_lag_layer("l", _MACD_K, "BIGINT"))
    m = l.selectExpr("day", "cents", f"({fast}) - ({slow}) AS macd")
    ml = m.selectExpr(
        "day",
        "cents",
        "macd",
        f"collect_list(macd) OVER (ORDER BY day ROWS BETWEEN"
        f" {_MACD_SIG_K - 1} PRECEDING AND CURRENT ROW) AS __a",
    ).selectExpr(
        "day", "cents", "macd", *_arr_lag_layer("m", _MACD_SIG_K, "DOUBLE")
    )
    s = ml.selectExpr(
        "day", "cents", "macd", f"{signal} AS signal_line"
    )
    return s.selectExpr(
        "date_format(timestamp_micros(day * 86400000000), 'yyyy-MM-dd')"
        " AS day_str",
        "cents",
        "macd",
        "signal_line",
        "macd - signal_line AS histogram",
        "CASE WHEN macd - signal_line > 0 THEN 'bullish'"
        " WHEN macd - signal_line < 0 THEN 'bearish'"
        " ELSE 'flat' END AS state",
    ).orderBy("day")


# ---------------------------------------------------------------------------
# F41 — stochastic oscillator (%K / %D) over the daily series
# ---------------------------------------------------------------------------

_STOCH_N = 14  # %K lookback
_STOCH_D = 3  # %D smoothing
_STOCH_HI_NANO = 80 * 10**9  # zone thresholds at the nano scale
_STOCH_LO_NANO = 20 * 10**9

# %K at the NANO-INTEGER scale, shared verbatim by both engines:
# position of today's close inside the N-day low/high channel. Kept
# integer so the %D smoothing window sums BIGINTs (exact, association-
# free) — a window SUM over doubles may associate differently across
# engines (segment-tree vs running accumulation), which a snapped
# single division cannot repair.
_STOCH_KNANO_EXPR = (
    "CASE WHEN hi > lo THEN"
    " CAST(FLOOR((100.0 * CAST(cents - lo AS DOUBLE)"
    " / CAST(hi - lo AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) END"
)

_STOCH_ORACLE = f"""
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) * 100
              AS BIGINT) AS cents
  FROM events GROUP BY 1
),
c AS (
  SELECT day, cents,
         MIN(cents) OVER f AS lo,
         MAX(cents) OVER f AS hi
  FROM d
  WINDOW f AS (ORDER BY day
               ROWS BETWEEN {_STOCH_N - 1} PRECEDING AND CURRENT ROW)
),
k AS (
  SELECT day, cents, lo, hi, {_STOCH_KNANO_EXPR} AS k_nano FROM c
),
s AS (
  SELECT day, cents, lo, hi, k_nano,
         SUM(k_nano) OVER g AS sk,
         COUNT(k_nano) OVER g AS nk
  FROM k
  WINDOW g AS (ORDER BY day
               ROWS BETWEEN {_STOCH_D - 1} PRECEDING AND CURRENT ROW)
)
SELECT STRFTIME(TIMESTAMP '1970-01-01' + INTERVAL (day) DAY, '%Y-%m-%d')
         AS day_str,
       cents, lo AS low_cents, hi AS high_cents,
       CAST(k_nano AS DOUBLE) / 1e9 AS k_pct,
       CASE WHEN nk > 0 THEN
         FLOOR(CAST(sk AS DOUBLE) / CAST(nk AS DOUBLE) / 1e9 * 1e9 + 0.5)
           / 1e9 END AS d_pct,
       CASE WHEN k_nano IS NULL THEN 'undefined'
            WHEN k_nano >= {_STOCH_HI_NANO} THEN 'overbought'
            WHEN k_nano <= {_STOCH_LO_NANO} THEN 'oversold'
            ELSE 'neutral' END AS zone
FROM s ORDER BY day
"""


@query("window-stochastic-osc", oracle=_STOCH_ORACLE, pure=True)
def window_stochastic_osc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F41: stochastic oscillator %K/%D (Lane) over the daily revenue
    series — where today's close sits inside the 14-day low/high
    channel (0 = at the low, 100 = at the high), smoothed over 3 days
    for the %D signal; the range-position momentum readout that
    complements RSI's gain/loss balance (F33) with CHANNEL position.

    Parity: lo/hi are exact BIGINT MIN/MAX frames; %K is computed at
    the nano-INTEGER scale (one snapped division over exact operands,
    shared textual fragment, then floored to BIGINT) so the %D window
    sums BIGINTs — exact and association-free, where a window SUM over
    doubles may associate differently across engines; %D is then one
    snapped division of exact operands. Zones compare the integer
    k_nano against integer thresholds. A flat channel (hi = lo) yields
    NULL %K and 'undefined', never a division by zero.

    Shape at 100 TB: one map-side collapse to the day relation, then
    two ORDER BY day frames over ~365 rows/year — the F33 plan with a
    MIN/MAX frame instead of the gain/loss sums."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        )
    ).agg(
        F.coalesce(F.sum(dec("value") * 100), F.lit(0))
        .cast("long")
        .alias("cents")
    )
    f = W.orderBy("day").rowsBetween(-(_STOCH_N - 1), W.currentRow)
    c = d.select(
        "day",
        "cents",
        F.min("cents").over(f).alias("lo"),
        F.max("cents").over(f).alias("hi"),
    )
    k = c.selectExpr(
        "day", "cents", "lo", "hi", f"{_STOCH_KNANO_EXPR} AS k_nano"
    )
    g = W.orderBy("day").rowsBetween(-(_STOCH_D - 1), W.currentRow)
    s = k.withColumn("sk", F.sum("k_nano").over(g)).withColumn(
        "nk", F.count("k_nano").over(g)
    )
    return s.selectExpr(
        "date_format(timestamp_micros(day * 86400000000), 'yyyy-MM-dd')"
        " AS day_str",
        "cents",
        "lo AS low_cents",
        "hi AS high_cents",
        "CAST(k_nano AS DOUBLE) / 1e9 AS k_pct",
        "CASE WHEN nk > 0 THEN"
        " FLOOR(CAST(sk AS DOUBLE) / CAST(nk AS DOUBLE) / 1e9 * 1e9 + 0.5)"
        " / 1e9 END AS d_pct",
        f"CASE WHEN k_nano IS NULL THEN 'undefined'"
        f" WHEN k_nano >= {_STOCH_HI_NANO} THEN 'overbought'"
        f" WHEN k_nano <= {_STOCH_LO_NANO} THEN 'oversold'"
        f" ELSE 'neutral' END AS zone",
    ).orderBy("day")




# ---------------------------------------------------------------------------
# F42 — Ulcer Index: rolling RMS drawdown depth over the daily series
# ---------------------------------------------------------------------------

_ULCER_N = 14  # rolling window, matches the F33/F41 momentum horizon

_ULCER_ORACLE = f"""
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))), 0) * 100
              AS BIGINT) AS cents
  FROM events GROUP BY 1
),
p AS (
  SELECT day, cents,
         MAX(cents) OVER (ORDER BY day) AS peak
  FROM d
),
b AS (
  SELECT day, cents, peak,
         CASE WHEN peak > 0 THEN
           CAST(FLOOR(10000.0 * CAST(peak - cents AS DOUBLE)
                      / CAST(peak AS DOUBLE) + 0.5) AS BIGINT)
         END AS dd_bp
  FROM p
),
u AS (
  SELECT day, cents, peak, dd_bp,
         SUM(dd_bp * dd_bp) OVER f AS sq,
         COUNT(dd_bp) OVER f AS n
  FROM b
  WINDOW f AS (ORDER BY day
               ROWS BETWEEN {_ULCER_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT STRFTIME(TIMESTAMP '1970-01-01' + INTERVAL (day) DAY, '%Y-%m-%d')
         AS day_str,
       cents, peak, dd_bp, n AS n_window,
       CASE WHEN n > 0 THEN
         FLOOR(SQRT(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0
               * 1e9 + 0.5) / 1e9 END AS ulcer_pct
FROM u ORDER BY day
"""


@query("window-ulcer-index", oracle=_ULCER_ORACLE, pure=True)
def window_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F42: Ulcer Index (Martin & McCann 1989) over the daily revenue
    series — the root-mean-square of the last 14 days' percentage
    drawdowns below the running peak. Where F30's drawdown profile
    reports the CURRENT depth and the all-time maximum, the Ulcer
    Index integrates depth × duration into one rolling pain score
    (sitting 5% under the peak for two weeks hurts more than a one-day
    5% dip — max-drawdown can't see the difference), the denominator
    of the Martin ratio risk adjustment.

    Parity: the running peak and the per-day drawdown are exact BIGINT
    window arithmetic; depth is floored to integer BASIS POINTS by one
    snapped division, so the rolling Σdd² / count frame sums BIGINTs —
    exact and association-free (the F41 lesson: window SUMs over
    doubles may associate differently across engines); the final
    √(mean)/100 is a single textual expression over exact operands,
    snapped to 9 dp. A zero peak prefix yields NULL depth in both
    engines and falls out of the frame count.

    Shape at 100 TB: the F30/F32/F33/F41 discipline — events collapse
    map-side to the calendar-bounded day relation (one exchange); the
    cumulative peak and the 14-row RMS frame share the single ORDER BY
    day sort over ~365 rows/year."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        )
    ).agg(
        F.coalesce(F.sum(dec("value") * 100), F.lit(0))
        .cast("long")
        .alias("cents")
    )
    cum = W.orderBy("day")
    b = d.select(
        "day", "cents", F.max("cents").over(cum).alias("peak")
    ).selectExpr(
        "day",
        "cents",
        "peak",
        "CASE WHEN peak > 0 THEN"
        " CAST(FLOOR(10000.0 * CAST(peak - cents AS DOUBLE)"
        " / CAST(peak AS DOUBLE) + 0.5) AS BIGINT) END AS dd_bp",
    )
    f = W.orderBy("day").rowsBetween(-(_ULCER_N - 1), W.currentRow)
    u = b.select(
        "day",
        "cents",
        "peak",
        "dd_bp",
        F.sum(F.expr("dd_bp * dd_bp")).over(f).alias("sq"),
        F.count("dd_bp").over(f).alias("n"),
    )
    return u.selectExpr(
        "date_format(timestamp_micros(day * 86400000000), 'yyyy-MM-dd')"
        " AS day_str",
        "cents",
        "peak",
        "dd_bp",
        "n AS n_window",
        "CASE WHEN n > 0 THEN"
        " FLOOR(SQRT(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0"
        " * 1e9 + 0.5) / 1e9 END AS ulcer_pct",
    ).orderBy("day")
