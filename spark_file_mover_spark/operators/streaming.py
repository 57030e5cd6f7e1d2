"""Category H — streaming-shaped operators over ``events`` (SURVEY.md §2H).

Each operator is declared BATCH-FIRST: ``window()`` / ``session_window()``
/ ``dropDuplicates`` have identical semantics in batch and streaming, so
the declared (oracle-checked) query runs the batch plan, and
:func:`as_stream` + the tests exercise the same transformations as a real
Structured Streaming job (file source → watermark → availableNow trigger
→ memory sink) and assert the streamed result equals the batch result.

Scale/streaming posture: tumbling/sliding aggs shuffle on (window, key) —
partial aggregation applies, and the state store holds one row per open
window per key, bounded by the watermark horizon. Session windows keep
per-key session state, merged on arrival; ``withWatermark`` is what lets
Spark evict state and drop late data — without it a 100 TB/day stream
grows state without bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_file_mover_spark.llm._textnorm import MD5_PREFIX60_SQL
from spark_file_mover_spark.operators._parity import dec
from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import (
    ingest_artifact,
    load_table,
    scratch_dir,
)
from spark_file_mover_spark.numerics import snap

_TS_FMT = "yyyy-MM-dd HH:mm:ss"

# ---------------------------------------------------------------------------
# H1 — tumbling windows
# ---------------------------------------------------------------------------

_TUMBLING_ORACLE = """
SELECT
  strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("stream-tumbling", oracle=_TUMBLING_ORACLE)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: per-type counts + exact-decimal value sums in 1-hour tumbling
    windows. The window struct is projected to a formatted start string so
    results are flat and engine-comparable."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# H2 — sliding windows
# ---------------------------------------------------------------------------

# A 1h/15m sliding window assigns each event to exactly 4 windows whose
# starts are the four preceding 15-min grid points — expressed in DuckDB as
# a cross join with the offset set {0,15,30,45}.
_SLIDING_ORACLE = """
SELECT
  strftime(time_bucket(INTERVAL '15 minutes', ts) - INTERVAL (k.off) MINUTE,
           '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type,
  COUNT(*) AS n_events
FROM events
CROSS JOIN (VALUES (0), (15), (30), (45)) AS k(off)
GROUP BY 1, 2
"""


@query("stream-sliding", oracle=_SLIDING_ORACLE)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: 1-hour windows sliding every 15 minutes — each event lands in 4
    overlapping windows (Spark expands via its internal window generator;
    the oracle expands explicitly)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# H3 — session windows
# ---------------------------------------------------------------------------

# Gaps-and-islands oracle: a new session starts when the gap from the
# previous event of the same user exceeds 30 min; Spark's session_window
# end = last event + gap, mirrored below.
_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   >= INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
islands AS (
  SELECT user_id, ts, event_id,
         SUM(is_new) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM ordered
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events
FROM islands
GROUP BY user_id, session_no
"""


@query("stream-session", oracle=_SESSION_ORACLE)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3: session windows with a 30-minute inactivity gap per user.
    ``session_window`` merges adjacent events server-side; in streaming
    the same expression maintains per-user session state with watermark
    eviction. Oracle is the classic gaps-and-islands rewrite."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT).alias("session_start"),
            F.date_format("w.end", _TS_FMT).alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# H4 — dedup with late-data semantics
# ---------------------------------------------------------------------------

_DEDUP_ORACLE = """
WITH doubled AS (
  SELECT * FROM events UNION ALL SELECT * FROM events
)
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
  FROM doubled
) WHERE rn = 1
"""


@query("stream-dedup-late", oracle=_DEDUP_ORACLE)
def stream_dedup_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4: duplicate-event elimination — the stream is doubled to simulate
    at-least-once redelivery, then deduplicated on event_id keeping the
    earliest arrival. In streaming this is ``withWatermark +
    dropDuplicates``: the watermark bounds how long an event_id is
    remembered, which is exactly the late-data contract (a duplicate
    arriving later than the watermark horizon is NOT caught — state can't
    be infinite)."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    doubled = e.unionAll(e)
    w = W.partitionBy("event_id").orderBy("ts")
    return (
        doubled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", _TS_FMT).alias("ts_str"),
        )
    )


# ---------------------------------------------------------------------------
# H5 — custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

_STATEFUL_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
FROM events
GROUP BY user_id
"""


@query("stream-stateful-agg", oracle=_STATEFUL_ORACLE)
def stream_stateful_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H5: per-user lifetime profile (count / exact value sum / first+last
    seen). In batch this is a plain groupBy; in streaming the SAME result
    is maintained incrementally by a custom ``applyInPandasWithState``
    operator (see :func:`stateful_user_profile_stream` and the test that
    proves stream ≡ batch). This is the declared batch anchor the
    stateful operator is checked against.
    """
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(dec("value")).cast("double").alias("total_value"),
        F.date_format(F.min("ts"), _TS_FMT).alias("first_seen"),
        F.date_format(F.max("ts"), _TS_FMT).alias("last_seen"),
    )


# ---------------------------------------------------------------------------
# H8 — stream-stream interval join (view → purchase attribution)
# ---------------------------------------------------------------------------

_STREAM_JOIN_ORACLE = """
WITH v AS (SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       COUNT(*) AS n_views_1h
FROM p JOIN v ON v.user_id = p.user_id
 AND v.vts <= p.ts AND v.vts >= p.ts - INTERVAL 1 HOUR
GROUP BY p.event_id, p.user_id, p.ts
"""


@query("stream-join", oracle=_STREAM_JOIN_ORACLE)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H8: view→purchase attribution — for each purchase, the number of
    views by the same user in the preceding hour. This is the canonical
    stream-stream interval join: equi key (user_id) + event-time range
    condition; the streaming twin (see :func:`attribution_join_stream`
    and its test) runs the SAME join with watermarks on both sides, which
    is what lets Spark bound the join state (views older than the
    watermark + interval are evicted).

    Batch plan shape: shuffle both sides on user_id (equi join), range
    condition applied as a residual filter — never a nested-loop join;
    the subsequent per-purchase count reuses the same partitioning.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        p.join(v, "user_id")
        .filter(
            (F.col("vts") <= F.col("ts"))
            & (F.col("vts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("event_id", "user_id", "ts")
        .agg(F.count("*").alias("n_views_1h"))
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _TS_FMT).alias("purchase_ts"),
            "n_views_1h",
        )
    )


def attribution_join_stream(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """The streaming twin of ``stream-join``'s matching stage: inner
    stream-stream join of two watermarked event streams on user_id with
    a one-hour event-time interval. Emits matched (purchase, view) pairs
    in append mode; both watermarks + the range condition are what allow
    Spark to evict view state older than watermark − 1 h instead of
    keeping the full stream."""
    v = views.select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("vts")
    )
    p = purchases.select("event_id", "user_id", "ts")
    return p.join(
        v,
        F.expr(
            "v_user = user_id AND "
            "vts BETWEEN ts - INTERVAL 1 HOUR AND ts"
        ),
    ).select("event_id", "user_id", "ts", "vts")


def stateful_user_profile_stream(stream_df: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user running profile via
    ``applyInPandasWithState``. State = (count, value_sum_cents, first_ts,
    last_ts) per user, updated per micro-batch, emitted in UPDATE mode.

    Scale posture: state is a fixed-width tuple per user key held in the
    state store (RocksDB-backed on a real cluster) — O(#users), not
    O(#events); value accumulates in integer cents so the stream total is
    exact and batch-identical regardless of micro-batch boundaries.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            n, cents, first_us, last_us = state.get
        else:
            n, cents, first_us, last_us = 0, 0, None, None
        for pdf in pdfs:
            n += len(pdf)
            cents += int(round(pdf["value"].map(
                lambda v: int(round(v * 100))).sum()))
            # pin the unit before taking the integer view: a bare
            # astype('int64') yields whatever resolution Arrow handed
            # over (datetime64[ns] on some stacks = 1000x micros)
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, cents, first_us, last_us))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [cents / 100.0],
                "first_us": [first_us],
                "last_us": [last_us],
            }
        )

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_events long, total_value double, "
            "first_us long, last_us long"
        ),
        stateStructType="n long, cents long, first_us long, last_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming execution harness (used by tests; not a declared query)
# ---------------------------------------------------------------------------


def as_stream(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "10 minutes",
    n_files: int = 4,
    files_per_trigger: int | None = None,
    time_ordered: bool = False,
):
    """Materialize events as a real file-source stream: write the (nanos-
    normalized) table to a temp parquet dir (``n_files`` shards), open it
    with ``readStream``, apply the watermark. Tests drive this with
    trigger(availableNow=True) into a memory sink and compare against the
    batch plans above. Pass ``files_per_trigger=1`` to force one
    micro-batch per shard — the honest way to exercise cross-batch state
    merging instead of a single all-data batch. ``time_ordered=True``
    range-partitions the shards by ``ts`` so successive micro-batches
    replay the stream in event-time order — the arrival pattern under
    which the watermark ratchets forward batch over batch and state
    EVICTION (not just merging) is observable; with random shards the
    first batch jumps the watermark near max(ts) and later batches'
    old rows are dropped as late instead of ever entering state."""
    path = scratch_dir() + "/events"
    batch = load_table(spark, sf_dir, "events")
    if time_ordered:
        # The file source orders micro-batches by file MODIFICATION TIME
        # (path only breaks exact ties), so a parallel
        # repartitionByRange write — whose shards land within the same
        # millisecond in arbitrary order — does NOT replay in time
        # order (observed: mid-range shard first, watermark jumps,
        # earlier shards dropped as late). Write the n_files time
        # ranges SEQUENTIALLY instead: each append is one file with a
        # strictly later mtime, so one-file triggers replay event time
        # monotonically.
        from pyspark.sql import Window

        nt = batch.withColumn(
            "_b", F.ntile(n_files).over(Window.orderBy("ts"))
        )
        for i in range(1, n_files + 1):
            nt.filter(F.col("_b") == i).drop("_b").coalesce(1).write.mode(
                "append"
            ).parquet(path)
    else:
        batch.repartition(n_files).write.mode("overwrite").parquet(path)
    reader = spark.readStream.schema(batch.schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(path).withWatermark("ts", watermark)


def run_stream_to_memory(stream_df: DataFrame, name: str, mode: str = "append"):
    """Run a streaming query to completion on available data. Returns the
    terminated StreamingQuery handle — its ``recentProgress`` carries the
    per-micro-batch state-store metrics (numRowsTotal / numRowsRemoved)
    the bounded-state tests assert on; the result rows are in the memory
    table ``name``."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# ---------------------------------------------------------------------------
# H6 — funnel analysis over ordered event sequences
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH stages AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
),
per_user AS (
  SELECT user_id,
         CASE
           WHEN t_view IS NOT NULL AND t_click > t_view
                AND t_purchase > t_click THEN 3
           WHEN t_view IS NOT NULL AND t_click > t_view THEN 2
           WHEN t_view IS NOT NULL THEN 1
           ELSE 0
         END AS stage
  FROM stages
)
SELECT stage, COUNT(*) AS n_users FROM per_user GROUP BY stage
"""


@query("events-funnel", oracle=_FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6: ordered funnel (view → click → purchase) — how far did each
    user progress, requiring each stage to happen strictly AFTER the
    previous one (first occurrence each).

    Plan: conditional MIN per stage in ONE groupBy(user) — no window, no
    self-join, no explode; the per-user comparison is a post-agg map.
    This is the shape to insist on at 100 TB: the naive formulation
    (self-join events to events per stage pair) is quadratic per user,
    and the window formulation sorts every user's history; conditional
    aggregation does one pass and one shuffle of 3 timestamps per user.
    NULL comparisons resolve to false, collapsing the stage logic.
    """
    e = load_table(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    stages = e.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    stage = (
        F.when(
            F.col("t_view").isNotNull()
            & (F.col("t_click") > F.col("t_view"))
            & (F.col("t_purchase") > F.col("t_click")),
            3,
        )
        .when(
            F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")),
            2,
        )
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        stages.select("user_id", stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# H7 — hypertable-style hierarchical rollup
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT
  strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS approx_users_lower_bound
FROM events
GROUP BY 1, 2
"""


@query("rollup-hierarchical", oracle=_ROLLUP_ORACLE)
def rollup_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7: hypertable-style continuous-aggregate cascade — DAILY built by
    re-aggregating the HOURLY rollup, never the raw events.

    This is the property that makes multi-resolution time-series tables
    work: every aggregate kept in the hourly layer must be mergeable
    (count→sum, sum→sum, distinct→per-hour user sets carried as the
    grouping key until the final level). The oracle computes daily
    DIRECTLY from raw events, so a hash match proves the cascade is
    lossless. At 100 TB the hourly layer is what queries and the daily
    cascade read — raw events are scanned once per hour, ever.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
        "user_id",  # kept through the hourly layer for exact distinct
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(dec("value")).alias("total_value"),
    )
    daily = hourly.groupBy(
        F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("total_value").cast("double").alias("total_value"),
        F.countDistinct("user_id").alias("approx_users_lower_bound"),
    )
    return daily


# ---------------------------------------------------------------------------
# H9 — stream-disorder-metrics: out-of-order arrival accounting
# ---------------------------------------------------------------------------

_DISORDER_ORACLE = """
WITH arr AS (
  SELECT user_id, ts, {h} AS akey
  FROM events
),
w AS (
  SELECT user_id, ts,
         MAX(ts) OVER (PARTITION BY user_id ORDER BY akey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS wm
  FROM arr
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(COUNT(*) FILTER (WHERE ts < wm) AS BIGINT) AS n_late,
       CAST(COALESCE(MAX(CASE WHEN ts < wm
                              THEN date_diff('second', ts, wm) END), 0)
            AS BIGINT) AS max_late_s,
       FLOOR((CAST(COUNT(*) FILTER (WHERE ts < wm) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) / 1e6
         AS late_frac
FROM w GROUP BY user_id ORDER BY user_id
""".format(
    # the ONE shared md5-prefix-60 hash (llm/_textnorm.py contract)
    # renders the arrival key in the oracle, same as the Spark side
    h=MD5_PREFIX60_SQL.format(x="'arr:' || CAST(event_id AS VARCHAR)")
)


@query("stream-disorder-metrics", oracle=_DISORDER_ORACLE)
def stream_disorder_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H9: out-of-order arrival accounting — the data-quality panel a
    streaming ingest publishes to size its watermarks: per key, how
    many events arrived BEHIND the running event-time high-water mark,
    and how far behind. Too-tight watermarks silently drop exactly the
    events this query counts (stream-dedup-late shows the drop; this
    key measures the disorder that causes it, which is how the delay
    threshold is actually chosen in production).

    The testdata's events are perfectly ordered per user (lateness
    identically zero — a vacuous metric), so arrival order is a
    DETERMINISTIC md5-keyed permutation of each user's events
    (simulated network reordering, mirrored exactly in the oracle);
    the metric logic — per-key running max over arrival order, strict
    late compare, lateness depth — is the real pipeline and is what
    both engines hash-compare.

    Plan shape at scale: ONE window partitioned by user (the stream's
    key — this is exactly the state a per-key watermark tracker
    holds), then the groupBy collapses each partition; both shuffles
    are on the same key so the exchange is reused. No global-order
    window anywhere — a GLOBAL watermark needs the two-pass sharded
    running-max (the pack_offsets_sharded pattern at sampling.py),
    deliberately out of scope for the per-key panel."""
    from pyspark.sql import Window as W

    from spark_file_mover_spark.llm._textnorm import md5_prefix60

    e = load_table(spark, sf_dir, "events")
    arr = e.select(
        "user_id",
        "ts",
        md5_prefix60(
            F.concat(F.lit("arr:"), F.col("event_id").cast("string"))
        ).alias("akey"),
    )
    w = W.partitionBy("user_id").orderBy("akey")
    wm = F.max("ts").over(w.rowsBetween(W.unboundedPreceding, -1))
    marked = arr.select(
        "user_id",
        "ts",
        wm.alias("wm"),
    ).withColumn(
        "late_s",
        F.when(
            F.col("ts") < F.col("wm"),
            F.col("wm").cast("long") - F.col("ts").cast("long"),
        ),
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count("late_s").alias("n_late"),
            F.coalesce(F.max("late_s"), F.lit(0)).alias("max_late_s"),
            snap(F.count("late_s").cast("double") / F.count("*"), 6).alias("late_frac"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# H10 — exactly-once streaming sink: checkpointed writeStream + restart
# ---------------------------------------------------------------------------

_EOS_ORACLE = """
SELECT 'p1_initial' AS phase,
       (SELECT COUNT(*) FROM events WHERE event_id % 40 = 0) AS n_in_sink
UNION ALL
SELECT 'p2_restart_no_new_data',
       (SELECT COUNT(*) FROM events WHERE event_id % 40 = 0)
UNION ALL
SELECT 'p3_incremental_batch',
       (SELECT COUNT(*) FROM events WHERE event_id % 40 IN (0, 20))
ORDER BY phase
"""


@query("stream-sink-exactly-once", oracle=_EOS_ORACLE)
def stream_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H10: the exactly-once STREAMING WRITE path — the mechanism that
    makes restartable pipelines safe: a checkpointed ``writeStream``
    into a file sink commits each micro-batch through the sink's
    transaction log, so (p2) restarting the SAME query with the SAME
    checkpoint and no new data appends NOTHING (offsets already
    committed — the crash/redeploy case), and (p3) a new source file
    is processed INCREMENTALLY (only the delta, never a reprocess of
    old batches). H1-H8 cover streaming's query semantics; this key
    covers its delivery semantics, which is what "streaming" buys over
    rerunning batch jobs at 100 TB: restart cost is the delta, and
    double-billing a micro-batch is structurally impossible.

    Each phase runs ``Trigger.AvailableNow`` to completion (the
    batch-bounded execution mode the equivalence tests use), and the
    declared output is the sink's row count after each phase — the
    oracle states the exactly-once arithmetic (p1 == p2; p3 adds
    exactly the new slice) directly from the source predicates.

    Scale posture: the file sink's ``_spark_metadata`` log IS the
    manifest pattern of sink-snapshot-read, maintained by the engine;
    checkpoint + sink survive any number of restarts, and the source
    listing is incremental (maxFilesPerTrigger bounds batch size in a
    real deployment). Cost note: ~1.1-1.4 s/invocation warm (~0.5 s
    more on a process's FIRST streaming start), data-independent at
    ANY sf (the audio-meta flat-at-scale profile) — three sequential
    streaming-query startups are the floor; the r8 consolidation pass
    took the cheap slack (schema-pinned sink count reads below, and a
    1/40 source slice instead of 1/4 — the delivery-semantics proof is
    data-independent, so the slice only needs to be non-trivial; a hot
    r8 sweep measured the 1/4 form at 2.6 s against the 2 s budget)
    and the remaining cost is pure StreamExecution startup. Do not
    chase this key below ~1.1 s without changing the proof.

    Source-slice staging (the ingest-artifact contract): the two slice
    files are pure functions of the input — they are WRITTEN once per
    corpus into a staging dir and OS-copied into each invocation's
    fresh source dir (two Spark write jobs leave the hot path; the
    checkpoint/sink/restart machinery, the thing under proof, is
    rebuilt fresh every invocation)."""
    import os
    import shutil

    base = scratch_dir("stream-sink-exactly-once")
    src_dir, sink_dir, ckpt = (
        base + "/src",
        base + "/sink",
        base + "/ckpt",
    )
    e = load_table(spark, sf_dir, "events")
    schema = e.schema

    def stage_slices() -> str:
        stage = scratch_dir()
        e.filter(F.col("event_id") % 40 == 0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage + "/p1")
        e.filter(F.col("event_id") % 40 == 20).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage + "/p3")
        return stage

    stage = ingest_artifact("eos-slices", spark, sf_dir, stage_slices)
    shutil.copytree(stage + "/p1", src_dir)

    def land_delta() -> None:
        for f in os.listdir(stage + "/p3"):
            if f.endswith(".parquet"):
                shutil.copy(stage + "/p3/" + f, src_dir + "/" + f)

    def run_stream() -> None:
        q = (
            spark.readStream.schema(schema)
            .parquet(src_dir)
            .writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # Sink counts pin the stream's declared schema: the sink holds
    # exactly what the stream wrote, and skipping parquet footer
    # inference saves ~0.1 s per read (~0.35 s/invocation, measured).
    def sink_count() -> int:
        return spark.read.schema(schema).parquet(sink_dir).count()

    counts = {}
    run_stream()
    counts["p1_initial"] = sink_count()
    run_stream()  # same checkpoint, no new data -> must append nothing
    counts["p2_restart_no_new_data"] = sink_count()
    land_delta()  # a NEW file lands; restart processes ONLY the delta
    run_stream()
    counts["p3_incremental_batch"] = sink_count()
    return spark.createDataFrame(
        sorted(counts.items()), "phase string, n_in_sink long"
    ).orderBy("phase")


# ---------------------------------------------------------------------------
# H11 — time-BOUNDED funnel (max step gaps, per-step conversion)
# ---------------------------------------------------------------------------

_FW_GAP1_US = 3600 * 1_000_000  # view -> click within 1 hour
_FW_GAP2_US = 24 * 3600 * 1_000_000  # click -> purchase within 24 hours

_FUNNEL_WINDOWED_ORACLE = f"""
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, v.t_view, MIN(epoch_us(e.ts)) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND epoch_us(e.ts) >= v.t_view
    AND epoch_us(e.ts) <= v.t_view + {_FW_GAP1_US}
  GROUP BY e.user_id, v.t_view
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(e.ts) >= c.t_click
    AND epoch_us(e.ts) <= c.t_click + {_FW_GAP2_US}
  GROUP BY e.user_id
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_viewed,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_clicked_in_window,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchased_in_window,
       CASE WHEN (SELECT COUNT(*) FROM v) > 0 THEN
         FLOOR((CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
                / CAST((SELECT COUNT(*) FROM v) AS DOUBLE))
               * 1e9 + 0.5) / 1e9 END AS click_rate,
       CASE WHEN (SELECT COUNT(*) FROM c) > 0 THEN
         FLOOR((CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
                / CAST((SELECT COUNT(*) FROM c) AS DOUBLE))
               * 1e9 + 0.5) / 1e9 END AS purchase_rate
"""


@query("events-funnel-windowed", oracle=_FUNNEL_WINDOWED_ORACLE)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H11: the TIME-BOUNDED funnel — view -> click within 1 hour ->
    purchase within 24 hours of that click. The unbounded funnel (H6)
    credits a purchase a month after the view; real attribution
    windows expire, and the bound is what makes the metric comparable
    across periods. The step deadline depends on the PREVIOUS step's
    achieved time (not the funnel start), which is why H6's single
    conditional-MIN groupBy cannot express it.

    Shape at 100 TB: each stage is a per-user conditional MIN over a
    user-keyed equi join against the PREVIOUS stage's collapsed
    relation (one row per surviving user — the join input shrinks
    every stage, the time bound is a residual predicate on the equi
    join, never an inequality join); three user-keyed shuffles total,
    final counts are one-row aggregates. The view and click stage
    relations are each consumed TWICE (next stage's join + the funnel
    count), so they materialize via localCheckpoint — without it each
    consumer re-executes every upstream corpus slice (the r11
    scan-census catch: 6 events scans where the 3 disjoint
    event-type slices suffice). Exact integer microseconds; the two
    rates are snapped divisions; empty stages -> NULL rates in both
    engines."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("t_view"))
        .localCheckpoint(eager=True)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (us >= F.col("t_view"))
            & (us <= F.col("t_view") + _FW_GAP1_US)
        )
        .groupBy("user_id")
        .agg(F.min(us).alias("t_click"))
        .localCheckpoint(eager=True)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (us >= F.col("t_click"))
            & (us <= F.col("t_click") + _FW_GAP2_US)
        )
        .groupBy("user_id")
        .agg(F.min(us).alias("t_purchase"))
    )
    nv = v.agg(F.count("*").cast("long").alias("n_viewed"))
    nc = c.agg(F.count("*").cast("long").alias("n_clicked_in_window"))
    np_ = p.agg(F.count("*").cast("long").alias("n_purchased_in_window"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .selectExpr(
            "n_viewed",
            "n_clicked_in_window",
            "n_purchased_in_window",
            "CASE WHEN n_viewed > 0 THEN"
            " FLOOR((CAST(n_clicked_in_window AS DOUBLE)"
            " / CAST(n_viewed AS DOUBLE)) * 1e9 + 0.5) / 1e9 END"
            " AS click_rate",
            "CASE WHEN n_clicked_in_window > 0 THEN"
            " FLOOR((CAST(n_purchased_in_window AS DOUBLE)"
            " / CAST(n_clicked_in_window AS DOUBLE)) * 1e9 + 0.5) / 1e9"
            " END AS purchase_rate",
        )
    )


# ---------------------------------------------------------------------------
# H12 — top-k event types per tumbling window
# ---------------------------------------------------------------------------

_TOPKW_K = 3

_TOPKW_ORACLE = f"""
WITH cell AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS w,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY w
                               ORDER BY n_events DESC, event_type) AS rnk
  FROM cell
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(rnk AS INTEGER) AS rnk, event_type, n_events
FROM r WHERE rnk <= {_TOPKW_K}
ORDER BY window_start, rnk
"""


@query("stream-topk-windowed", oracle=_TOPKW_ORACLE)
def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12: the top-k event types per 1-hour tumbling window — the
    trending-now / leaderboard query every event platform serves
    (top pages per window, top errors per window, top products per
    window). Declared batch-first per the H-family contract; in
    streaming the windowed count IS the streaming aggregate (H1's
    state contract) and the bounded rank applies per closed window
    (foreachBatch or the downstream reader), since ranking functions
    don't stream incrementally. Ties broken by event_type so both
    engines rank identically.

    Shape at 100 TB: ONE shuffle to (window, type) cells with
    map-side partial aggregation absorbing event volume; the ranking
    window partitions by window over a TYPES-bounded relation (the
    rank input is |windows|x|types| cells, never events), and Spark
    plans it as WindowGroupLimit so each task keeps only k rows per
    window before the rank shuffle. Exact integers throughout."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    cell = e.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").cast("long").alias("n_events"))
    wr = W.partitionBy("w").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        cell.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _TOPKW_K)
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            F.col("rnk").cast("int").alias("rnk"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "rnk")
    )
