"""Category G — scalar function surface (SURVEY.md §2G, G1–G6).

One declared query per function domain, each exercising the family's core
functions as pure built-in column expressions (JVM-side, inside
whole-stage codegen — the entire point of this category is that NONE of it
needs Python). Every query is a narrow map over one table: column-pruned
scan, zero shuffles, embarrassingly parallel at any scale.

Cross-engine parity notes:
* dates/timestamps are emitted as formatted strings or integer parts —
  never raw timestamps (host-TZ hazard).
* double-typed math (pow/log/sqrt) is rounded to 6 dp on BOTH sides;
  libm implementations may differ in the last ulp.
* Spark ``levenshtein`` ≡ DuckDB ``levenshtein``; Spark ``ascii`` ≡
  DuckDB ``ascii`` (unicode code point of first char).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_file_mover_spark.llm._textnorm import toks
from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import load_table, wide_scan
from spark_file_mover_spark.numerics import snap

# ---------------------------------------------------------------------------
# G1 — strings
# ---------------------------------------------------------------------------

_STRING_ORACLE = """
SELECT c_custkey,
       upper(c_name) AS name_upper,
       lower(c_mktsegment) AS seg_lower,
       substr(c_name, 1, 8) AS name_prefix,
       length(c_name) AS name_len,
       concat(c_mktsegment, '#', CAST(c_custkey AS STRING)) AS seg_tag,
       trim(concat('  ', c_name, '  ')) AS name_trimmed,
       lpad(CAST(c_custkey AS STRING), 10, '0') AS key_padded,
       regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
       regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
       levenshtein(c_mktsegment, 'BUILDING') AS seg_lev,
       string_split(c_name, '#')[1] AS name_head,
       CASE WHEN c_name LIKE 'Customer%' THEN 1 ELSE 0 END AS is_customer
FROM customer
"""


@query("fn-string", oracle=_STRING_ORACLE, pure=True)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: the string workhorse set — case, substr, concat, trim, pad,
    regexp extract/replace, levenshtein, split, LIKE."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("#", "c_mktsegment", F.col("c_custkey").cast("string")).alias(
            "seg_tag"
        ),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias(
            "name_trimmed"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_digits"),
        F.regexp_replace("c_name", r"[0-9]+", "#").alias("name_masked"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("seg_lev"),
        F.split("c_name", "#").getItem(0).alias("name_head"),
        F.when(F.col("c_name").like("Customer%"), 1).otherwise(0).alias(
            "is_customer"
        ),
    )


# ---------------------------------------------------------------------------
# G2 — dates / timestamps
# ---------------------------------------------------------------------------

_DATE_ORACLE = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(year(o_orderdate) AS INTEGER) AS y,
       CAST(month(o_orderdate) AS INTEGER) AS m,
       CAST(day(o_orderdate) AS INTEGER) AS d,
       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,  -- DuckDB 0=Sun, Spark 1=Sun
       CAST(quarter(o_orderdate) AS INTEGER) AS q,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
       datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95,
       CAST(epoch(o_orderdate) AS BIGINT) AS unix_ts
FROM orders
"""


@query("fn-date", oracle=_DATE_ORACLE, pure=True)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: date decomposition, truncation, arithmetic, epoch conversion.
    Timestamps never leave the query raw — everything is a string or an
    integer part, so results are TZ-pinned and engine-portable."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("order_date"),
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("d"),
        F.dayofweek(d).alias("dow"),  # 1=Sunday, same convention as DuckDB+1
        F.quarter(d).alias("q"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(F.date_add(d.cast("date"), 30), "yyyy-MM-dd").alias(
            "due_date"
        ),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
        F.unix_timestamp(d).alias("unix_ts"),
    )


# ---------------------------------------------------------------------------
# G3 — math
# ---------------------------------------------------------------------------

_MATH_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey,
       FLOOR((l_extendedprice) * 1e1 + 0.5) / 1e1 AS price_r1,
       CAST(ABS(l_extendedprice - 1000) AS DOUBLE) AS abs_diff,
       CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
       CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
       FLOOR((POW(l_quantity, 2)) * 1e6 + 0.5) / 1e6 AS qty_sq,
       FLOOR((LN(l_extendedprice + 1)) * 1e6 + 0.5) / 1e6 AS price_ln,
       FLOOR((LOG10(l_extendedprice + 1)) * 1e6 + 0.5) / 1e6 AS price_log10,
       FLOOR((SQRT(l_quantity)) * 1e6 + 0.5) / 1e6 AS qty_sqrt,
       l_orderkey % 7 AS key_mod,
       CAST(SIGN(l_discount - 0.05) AS INTEGER) AS disc_sign,
       GREATEST(l_quantity, 25.0) AS qty_hi,
       LEAST(l_quantity, 25.0) AS qty_lo
FROM lineitem WHERE l_partkey % 7 = 0
"""


@query("fn-math", oracle=_MATH_ORACLE, pure=True)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: rounding, abs, floor/ceil, pow/log/sqrt (rounded 6 dp — libm
    ulp hazard), modulo, sign, greatest/least — over the deterministic
    1-in-7 partkey slice (the G14 sampling contract: the functions are
    per-row and the declared surface is the EXPRESSIONS, not the
    volume; the full-table variant is the same fused map plan)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 7 == 0
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        snap("l_extendedprice", 1).alias("price_r1"),
        F.abs(F.col("l_extendedprice") - 1000).alias("abs_diff"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil("l_quantity").alias("qty_ceil"),
        snap(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        snap(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        snap(F.log10(F.col("l_extendedprice") + 1), 6).alias("price_log10"),
        snap(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("disc_sign"),
        F.greatest("l_quantity", F.lit(25.0)).alias("qty_hi"),
        F.least("l_quantity", F.lit(25.0)).alias("qty_lo"),
    )


# ---------------------------------------------------------------------------
# G4 — arrays (incl. higher-order functions)
# ---------------------------------------------------------------------------

_ARRAY_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
)
SELECT doc_id,
       len(tk) AS n_toks,
       list_contains(tk, 'spark') AS has_spark,
       array_to_string(tk[1:5], ' ') AS first5,
       array_to_string(list_sort(list_distinct(tk[1:5])), ' ') AS first5_sorted,
       len(list_filter(tk, x -> length(x) > 4)) AS n_long,
       array_to_string(list_transform(tk[1:3], x -> upper(x)), ' ') AS head_upper,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(tk, x -> CAST(length(x) AS BIGINT))),
                   (a, b) -> a + b) AS total_len
FROM t
"""


@query("fn-array", oracle=_ARRAY_ORACLE, pure=True)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: size/contains/slice/sort/distinct plus higher-order
    filter/transform/aggregate — all codegen'd JVM lambdas, the idiomatic
    replacement for row-at-a-time Python list handling.

    Array-valued intermediates are serialized with ``array_join`` before
    output: the driver's correctness harness hashes cells via a pandas
    sort, which cannot canonicalize Python lists (r02 failure:
    'unhashable type: list'). Scalar output is the contract."""
    d = load_table(spark, sf_dir, "documents")
    tk = toks()
    return d.select(
        "doc_id",
        F.size(tk).alias("n_toks"),
        F.array_contains(tk, "spark").alias("has_spark"),
        F.array_join(F.slice(tk, 1, 5), " ").alias("first5"),
        F.array_join(
            F.array_sort(F.array_distinct(F.slice(tk, 1, 5))), " "
        ).alias("first5_sorted"),
        F.size(F.filter(tk, lambda x: F.length(x) > 4)).alias("n_long"),
        F.array_join(
            F.transform(F.slice(tk, 1, 3), lambda x: F.upper(x)), " "
        ).alias("head_upper"),
        F.aggregate(
            tk,
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.length(x).cast("bigint"),
        ).alias("total_len"),
    )


# ---------------------------------------------------------------------------
# G5 — map / JSON (events.props)
# ---------------------------------------------------------------------------

_MAPJSON_ORACLE = """
SELECT event_id, event_type,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k_value,
       CAST(json_extract_string(props, '$.k') AS STRING) AS k_string,
       json_valid(props) AS is_valid_json,
       CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
       CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) >= 50
            THEN 'high' ELSE 'low' END AS k_band
FROM events
"""


@query("fn-map-json", oracle=_MAPJSON_ORACLE, pure=True)
def fn_map_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: JSON parsing of events.props — ONE ``from_json`` into a
    generic map, every output column derived from it (r15: the
    original parsed the payload three times per row — typed struct +
    map + ``get_json_object`` — for values the single map parse
    already carries: the scalar-extraction string is the map value,
    the typed int is one cast of it, validity/introspection read the
    map itself; JSON decode was ~3× this key's map-only CPU). At
    100 TB the rule is unchanged: parse once, columnar after."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_id",
        "event_type",
        F.from_json("props", T.MapType(T.StringType(), T.StringType())).alias(
            "m"
        ),
    )
    ks = F.col("m").getItem("k")
    k = ks.cast("int")
    return parsed.select(
        "event_id",
        "event_type",
        k.alias("k_value"),
        ks.alias("k_string"),
        F.col("m").isNotNull().alias("is_valid_json"),
        F.size(F.map_keys("m")).alias("n_keys"),
        F.when(k >= 50, "high").otherwise("low").alias("k_band"),
    )


# ---------------------------------------------------------------------------
# G6 — case/when + casts
# ---------------------------------------------------------------------------

_CASE_CAST_ORACLE = """
SELECT o_orderkey,
       CASE o_orderstatus WHEN 'F' THEN 'finished'
                          WHEN 'O' THEN 'open'
                          ELSE 'pending' END AS status_name,
       CASE WHEN o_totalprice > 100000 THEN 'large'
            WHEN o_totalprice > 10000 THEN 'medium'
            ELSE 'small' END AS size_band,
       CAST(TRUNC(o_totalprice) AS BIGINT) AS price_int,  -- Spark cast truncates, DuckDB rounds
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING) AS price_str,
       CAST(o_orderkey AS DOUBLE) AS key_dbl,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS date_str,
       CAST(strptime('2024-06-15 12:30:00', '%Y-%m-%d %H:%M:%S')
            AS STRING) AS fixed_ts_str,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'was_pending') AS status_coalesced
FROM orders
"""


@query("fn-case-when-cast", oracle=_CASE_CAST_ORACLE, pure=True)
def fn_case_when_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: simple + searched CASE, numeric/string/date casts incl. a
    timestamp↔string round trip, NULLIF/COALESCE."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("pending")
        .alias("status_name"),
        F.when(F.col("o_totalprice") > 100000, "large")
        .when(F.col("o_totalprice") > 10000, "medium")
        .otherwise("small")
        .alias("size_band"),
        F.col("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias(
            "price_str"
        ),
        F.col("o_orderkey").cast("double").alias("key_dbl"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
            "date_str"
        ),
        F.to_timestamp(F.lit("2024-06-15 12:30:00"))
        .cast("string")
        .alias("fixed_ts_str"),
        F.coalesce(
            F.nullif("o_orderstatus", F.lit("P")), F.lit("was_pending")
        ).alias("status_coalesced"),
    )


# ---------------------------------------------------------------------------
# G7 — bitwise functions
# ---------------------------------------------------------------------------

_BITWISE_ORACLE = """
SELECT o_orderkey,
       o_orderkey & 255 AS lo_byte,
       o_orderkey | 4096 AS with_flag,
       xor(o_orderkey, 21845) AS toggled,
       o_orderkey << 3 AS shifted_up,
       o_orderkey >> 4 AS shifted_down,
       bit_count(CAST(o_orderkey AS BIGINT)) AS popcount
FROM orders WHERE o_orderkey % 100 = 0
"""


@query("fn-bitwise", oracle=_BITWISE_ORACLE, pure=True)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: bitwise AND/OR/XOR, shifts, popcount — flag fields, bitmap
    membership, hash mixing and bucket math all run on these; exact
    integer semantics make cross-engine parity bit-for-bit (shifts on
    BIGINT, no overflow at these operand sizes)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 100 == 0
    )
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("lo_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(21845)).alias("toggled"),
        F.shiftleft(k, 3).alias("shifted_up"),
        F.shiftright(k, 4).alias("shifted_down"),
        F.bit_count(k).alias("popcount"),
    )


# ---------------------------------------------------------------------------
# G8 — VARIANT semi-structured type (Spark 4)
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT event_id,
       CAST(props->>'k' AS BIGINT) AS k,
       CAST(props->>'k' AS BIGINT) % 10 AS k_bucket,
       TRUE AS paths_agree,
       'OBJECT<k: BIGINT>' AS vtype,
       CAST(props->>'missing' AS BIGINT) AS missing_field
FROM events
WHERE event_id % 20 = 0
ORDER BY event_id
"""


@query("fn-variant-json", oracle=_VARIANT_ORACLE, pure=True)
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8: the VARIANT semi-structured type (new in Spark 4) — the
    engine-native answer to JSON columns: ``parse_json`` decodes once
    into a typed binary encoding, after which every path access
    (``try_variant_get``) is a direct read, not a re-parse — on a
    100 TB events table with string JSON, every ``get_json_object``
    call re-parses the full document per row per path, which is
    exactly the cost VARIANT deletes (and why ingest should convert
    JSON strings to VARIANT at write time).

    The declared output cross-checks the two access paths on the same
    rows (``paths_agree`` pins variant_get ≡ get_json_object),
    surfaces the inferred variant schema (``schema_of_variant`` — a
    constant for this corpus, asserted literally by the oracle), and
    pins missing-path semantics (NULL, never an error, matching JSON
    ``->>`` on an absent key). The oracle reads the raw JSON with
    DuckDB's native operators — two independent decoders agreeing on
    every value.

    Scale: map-only expression work fused into the scan; the
    event_id slice is row-bounded output hygiene, not data-plane."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 20 == 0
    )
    v = F.parse_json("props")
    kv = F.try_variant_get(v, "$.k", "long")
    klegacy = F.get_json_object("props", "$.k").cast("long")
    return e.select(
        "event_id",
        kv.alias("k"),
        (kv % 10).alias("k_bucket"),
        (
            kv.eqNullSafe(klegacy)
        ).alias("paths_agree"),
        F.schema_of_variant(v).alias("vtype"),
        F.try_variant_get(v, "$.missing", "long").alias("missing_field"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# G9 — URL component extraction via shared regexes
# ---------------------------------------------------------------------------

# One regex per component, shared VERBATIM by both engines (Java regex
# and RE2 agree on this subset: character classes, anchors, greedy
# quantifiers — no lookarounds, no backrefs). Spark's parse_url is
# rejected for the registered key because DuckDB has no counterpart;
# a deployment on Spark alone would use it (same plan shape).
_URL_RE = {
    "scheme": "^([a-z][a-z0-9+.-]*)://",
    "host": "://([^/:?#]*)",
    "port": "://[^/:?#]*:([0-9]+)",
    "path": "://[^/?#]*(/[^?#]*)",
    "q_lang": "[?&]lang=([^&#]*)",
    "fragment": "#(.*)$",
}

_URL_SYNTH_SQL = (
    "'https://' || source || '.example.com:' || (8000 + doc_id % 3)"
    " || '/docs/' || (doc_id // 100) || '/' || doc_id"
    " || '?lang=' || lang || '&page=' || (doc_id % 7)"
    " || CASE WHEN doc_id % 2 = 0 THEN '#s' || (doc_id % 5) ELSE '' END"
)

_URLPARSE_ORACLE = f"""
WITH u AS (SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents)
SELECT doc_id, url,
       regexp_extract(url, '{_URL_RE["scheme"]}', 1) AS scheme,
       regexp_extract(url, '{_URL_RE["host"]}', 1) AS host,
       regexp_extract(url, '{_URL_RE["port"]}', 1) AS port,
       regexp_extract(url, '{_URL_RE["path"]}', 1) AS path,
       regexp_extract(url, '{_URL_RE["q_lang"]}', 1) AS q_lang,
       regexp_extract(url, '{_URL_RE["fragment"]}', 1) AS fragment
FROM u ORDER BY doc_id
"""


@query("fn-url-parse", oracle=_URLPARSE_ORACLE, pure=True)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9: URL component extraction (scheme, host, port, path, one
    query parameter, fragment) — the parse every crawl/referrer
    pipeline runs before domain filtering, dedup keys, or blocklist
    joins. URLs are SYNTHESIZED from doc_id formulas (the multimodal
    contract) with doc_id-varying port, path depth, query values and
    an only-sometimes-present fragment, so every extraction has to
    actually navigate the grammar rather than read fixed offsets.

    Each component is ONE regexp_extract with a regex shared VERBATIM
    between the engines (the subset where Java regex and RE2 agree:
    classes, anchors, greedy quantifiers — no lookarounds). Spark's
    builtin ``parse_url`` is the production alternative (same map-only
    plan); rejected here only because the oracle engine lacks it.

    Scale: map-only, fused into the scan; zero shuffles. Non-matching
    components extract as '' in both engines (pinned by the
    fragment-absent rows)."""
    d = load_table(spark, sf_dir, "documents")
    # built explicitly (not via _URL_SYNTH_SQL) because the synth uses
    # DuckDB's `//` integer division, which Spark spells DIV
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com:"),
        (8000 + F.col("doc_id") % 3).cast("string"),
        F.lit("/docs/"),
        F.expr("doc_id DIV 100").cast("string"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&page="),
        (F.col("doc_id") % 7).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("#s"), (F.col("doc_id") % 5).cast("string")),
        ).otherwise(F.lit("")),
    )
    t = d.select("doc_id", url.alias("url"))
    return t.select(
        "doc_id",
        "url",
        *[
            F.regexp_extract(F.col("url"), pat, 1).alias(name)
            for name, pat in _URL_RE.items()
        ],
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# G10 — time bucketing (the GROUP BY keys of every time-series rollup)
# ---------------------------------------------------------------------------

_US_15M = 15 * 60 * 1_000_000
_US_1H_G10 = 3600 * 1_000_000
_US_1D = 86400 * 1_000_000

_TIMEBUCKET_ORACLE = f"""
WITH e AS (SELECT event_id, epoch_us(ts) AS us,
                  CAST(ts AS DATE) - DATE '1970-01-01' AS day_num
           FROM events)
SELECT event_id, us,
       us - us % {_US_15M} AS bucket_15m_us,
       us - us % {_US_1H_G10} AS bucket_1h_us,
       us - us % {_US_1D} AS bucket_1d_us,
       day_num - (day_num + 3) % 7 AS iso_week_start_day,
       CAST((us % {_US_1D}) // {_US_1H_G10} AS BIGINT) AS hour_of_day,
       CAST((day_num + 4) % 7 AS BIGINT) AS day_of_week
FROM e ORDER BY event_id
"""


@query("fn-time-buckets", oracle=_TIMEBUCKET_ORACLE, pure=True)
def fn_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10: time bucketing — 15-minute / hourly / daily bucket starts,
    ISO week start, hour-of-day and day-of-week, all as EXACT integer
    arithmetic on epoch microseconds / epoch days. These are the GROUP
    BY keys of every time-series rollup; doing them as integer
    floor-division (rather than engine date_trunc calls) makes the
    bucket boundary an arithmetic fact both engines — and any future
    engine — agree on bit-for-bit, and keeps the expression inside
    whole-stage codegen.

    Week convention: epoch day 0 (1970-01-01) is a Thursday, so the
    ISO (Monday-start) week begins at ``day − (day+3) mod 7`` and
    day-of-week is ``(day+4) mod 7`` with 0 = Sunday … matching both
    engines' strftime %w. Timestamps are UTC microseconds (the
    session pins UTC; buckets are timezone-free by construction).

    Scale: map-only, fused into the scan; zero shuffles."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day_num"),
    )
    us, day = F.col("us"), F.col("day_num")
    return e.select(
        "event_id",
        "us",
        (us - us % _US_15M).alias("bucket_15m_us"),
        (us - us % _US_1H_G10).alias("bucket_1h_us"),
        (us - us % _US_1D).alias("bucket_1d_us"),
        (day - (day + 3) % 7).alias("iso_week_start_day"),
        F.expr(f"(us % {_US_1D}) DIV {_US_1H_G10}").alias("hour_of_day"),
        ((day + 4) % 7).alias("day_of_week"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# G11 — IPv4 parse + CIDR classification
# ---------------------------------------------------------------------------

# RFC 1918 private blocks as integer ranges (o1*2^24 + o2*2^16 + ...):
_IP10_LO, _IP10_HI = 10 * 2**24, 11 * 2**24 - 1
_IP172_LO = 172 * 2**24 + 16 * 2**16
_IP172_HI = 172 * 2**24 + 32 * 2**16 - 1
_IP192_LO = 192 * 2**24 + 168 * 2**16
_IP192_HI = 192 * 2**24 + 169 * 2**16 - 1

_IP_ORACLE = f"""
WITH synth AS (
  SELECT event_id,
         CAST(CASE event_id % 5
              WHEN 0 THEN 10 WHEN 1 THEN 172 WHEN 2 THEN 192
              ELSE 1 + (event_id * 7) % 223 END AS STRING)
         || '.' ||
         CAST(CASE event_id % 5
              WHEN 1 THEN 16 + event_id % 16 WHEN 2 THEN 168
              ELSE (event_id * 11) % 256 END AS STRING)
         || '.' || CAST((event_id * 13) % 256 AS STRING)
         || '.' || CAST(1 + (event_id * 3) % 254 AS STRING) AS ip
  FROM events WHERE event_id % 17 = 0
),
parsed AS (
  SELECT event_id, ip,
         CAST(split_part(ip, '.', 1) AS BIGINT) AS o1,
         CAST(split_part(ip, '.', 2) AS BIGINT) AS o2,
         CAST(split_part(ip, '.', 3) AS BIGINT) AS o3,
         CAST(split_part(ip, '.', 4) AS BIGINT) AS o4
  FROM synth
),
num AS (
  SELECT event_id, ip, o1, o2, o3,
         o1 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS ip_num
  FROM parsed
)
SELECT event_id, ip, ip_num,
       CASE
         WHEN ip_num BETWEEN {_IP10_LO} AND {_IP10_HI} THEN 'private-10'
         WHEN ip_num BETWEEN {_IP172_LO} AND {_IP172_HI}
           THEN 'private-172-16'
         WHEN ip_num BETWEEN {_IP192_LO} AND {_IP192_HI}
           THEN 'private-192-168'
         ELSE 'public'
       END AS cidr_class,
       CAST(o1 AS STRING) || '.' || CAST(o2 AS STRING) || '.'
         || CAST(o3 AS STRING) || '.0/24' AS net24
FROM num ORDER BY event_id
"""


@query("fn-ip-cidr", oracle=_IP_ORACLE, pure=True)
def fn_ip_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11: IPv4 parsing + CIDR-block classification — the access-log
    staple: split dotted-quad strings into octets, rebuild the 32-bit
    integer form, classify against the RFC 1918 private ranges as
    INTEGER RANGE predicates (the form a planner can prune and an
    analyst can index — never string prefixes, which misclassify
    '1921.6...' style accidents), and emit the /24 network the
    rate-limit / geo rollups group by.

    The synthesize-then-parse contract (G9 url-parse, I52 gif-meta):
    the fixture derives deterministic dotted quads from event_id with
    different moduli per octet (no aliasing between fields) and forces
    all three private families into the population; the PARSER then
    re-derives every output from the string alone — both engines run
    the same split/cast/arithmetic, so results are exact integers and
    strings end to end.

    Shape at 100 TB: map-only — fused into the scan, no shuffle, no
    UDF (split_part + integer arithmetic are whole-stage-codegen
    expressions in Spark and vectorized in DuckDB); the modulus filter
    is only row-bounding for the driver compare."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 17 == 0
    )
    eid = F.col("event_id")
    m = eid % 5
    o1s = (
        F.when(m == 0, F.lit(10))
        .when(m == 1, F.lit(172))
        .when(m == 2, F.lit(192))
        .otherwise(1 + (eid * 7) % 223)
    )
    o2s = (
        F.when(m == 1, 16 + eid % 16)
        .when(m == 2, F.lit(168))
        .otherwise((eid * 11) % 256)
    )
    synth = e.select(
        "event_id",
        F.concat_ws(
            ".",
            o1s.cast("string"),
            o2s.cast("string"),
            ((eid * 13) % 256).cast("string"),
            (1 + (eid * 3) % 254).cast("string"),
        ).alias("ip"),
    )
    o1 = F.split_part(F.col("ip"), F.lit("."), F.lit(1)).cast("long")
    o2 = F.split_part(F.col("ip"), F.lit("."), F.lit(2)).cast("long")
    o3 = F.split_part(F.col("ip"), F.lit("."), F.lit(3)).cast("long")
    o4 = F.split_part(F.col("ip"), F.lit("."), F.lit(4)).cast("long")
    parsed = synth.select(
        "event_id",
        "ip",
        o1.alias("o1"),
        o2.alias("o2"),
        o3.alias("o3"),
        (o1 * 16777216 + o2 * 65536 + o3 * 256 + o4).alias("ip_num"),
    )
    ipn = F.col("ip_num")
    return parsed.select(
        "event_id",
        "ip",
        "ip_num",
        F.when(ipn.between(_IP10_LO, _IP10_HI), F.lit("private-10"))
        .when(ipn.between(_IP172_LO, _IP172_HI), F.lit("private-172-16"))
        .when(ipn.between(_IP192_LO, _IP192_HI), F.lit("private-192-168"))
        .otherwise(F.lit("public"))
        .alias("cidr_class"),
        F.concat_ws(
            ".",
            F.col("o1").cast("string"),
            F.col("o2").cast("string"),
            F.concat(F.col("o3").cast("string"), F.lit(".0/24")),
        ).alias("net24"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# G12 — user-agent parse + bot classification
# ---------------------------------------------------------------------------

# Synthesized UA population (6 shapes cycling on event_id, versions
# varied by different moduli so no field aliases another): Chrome and
# Firefox on desktop, Safari on macOS, Chrome-on-iOS (the CriOS
# precedence trap — contains Safari AND Mobile), Googlebot, curl. The
# synth is ONE shared SQL fragment evaluated verbatim by both engines
# (the G11 synthesize-then-parse contract).
_UA_SYNTH = """CASE event_id % 6
  WHEN 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64; x64)'
    || ' AppleWebKit/537.36 (KHTML, like Gecko) Chrome/'
    || CAST(100 + event_id % 30 AS STRING) || '.0.0.0 Safari/537.36'
  WHEN 1 THEN 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7)'
    || ' AppleWebKit/605.1.15 (KHTML, like Gecko) Version/'
    || CAST(14 + event_id % 4 AS STRING) || '.0 Safari/605.1.15'
  WHEN 2 THEN 'Mozilla/5.0 (X11; Linux x86_64; rv:'
    || CAST(90 + event_id % 20 AS STRING)
    || '.0) Gecko/20100101 Firefox/'
    || CAST(90 + event_id % 20 AS STRING) || '.0'
  WHEN 3 THEN 'Mozilla/5.0 (iPhone; CPU iPhone OS 16_5 like Mac OS X)'
    || ' AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/'
    || CAST(100 + event_id % 30 AS STRING)
    || '.0.0.0 Mobile/15E148 Safari/604.1'
  WHEN 4 THEN
    'Mozilla/5.0 (compatible; Googlebot/2.1;'
    || ' +http://www.google.com/bot.html)'
  ELSE 'curl/8.' || CAST(event_id % 10 AS STRING) || '.0'
END"""

# Family precedence is the classic UA-parse ordering (uap-core):
# bots first (Googlebot claims Mozilla/5.0), then CLI tools, then
# CriOS BEFORE Safari (Chrome-on-iOS carries the Safari token), then
# Firefox/Chrome, then Version/+Safari = real Safari.
_UA_FAMILY = """CASE
  WHEN ua LIKE '%bot%' OR ua LIKE '%Bot%' THEN 'bot'
  WHEN ua LIKE 'curl/%' THEN 'curl'
  WHEN ua LIKE '%CriOS/%' THEN 'chrome'
  WHEN ua LIKE '%Firefox/%' THEN 'firefox'
  WHEN ua LIKE '%Chrome/%' THEN 'chrome'
  WHEN ua LIKE '%Version/%' AND ua LIKE '%Safari/%' THEN 'safari'
  ELSE 'other'
END"""

_UA_MAJOR = """CAST(NULLIF(CASE
  WHEN ua LIKE '%bot%' OR ua LIKE '%Bot%'
    THEN regexp_extract(ua, 'bot/([0-9]+)', 1)
  WHEN ua LIKE 'curl/%' THEN regexp_extract(ua, 'curl/([0-9]+)', 1)
  WHEN ua LIKE '%CriOS/%' THEN regexp_extract(ua, 'CriOS/([0-9]+)', 1)
  WHEN ua LIKE '%Firefox/%'
    THEN regexp_extract(ua, 'Firefox/([0-9]+)', 1)
  WHEN ua LIKE '%Chrome/%' THEN regexp_extract(ua, 'Chrome/([0-9]+)', 1)
  WHEN ua LIKE '%Version/%' AND ua LIKE '%Safari/%'
    THEN regexp_extract(ua, 'Version/([0-9]+)', 1)
  ELSE '' END, '') AS BIGINT)"""

_UA_OS = """CASE
  WHEN ua LIKE '%Windows NT%' THEN 'windows'
  WHEN ua LIKE '%iPhone%' THEN 'ios'
  WHEN ua LIKE '%Mac OS X%' THEN 'macos'
  WHEN ua LIKE '%Linux%' THEN 'linux'
  ELSE 'other'
END"""

_UA_IS_BOT = "ua LIKE '%bot%' OR ua LIKE '%Bot%' OR ua LIKE 'curl/%'"
_UA_IS_MOBILE = "ua LIKE '%Mobile%' OR ua LIKE '%iPhone%'"

_UA_ORACLE = f"""
WITH synth AS (
  SELECT event_id, {_UA_SYNTH} AS ua
  FROM events WHERE event_id % 13 = 0
)
SELECT event_id, ua,
       {_UA_FAMILY} AS family,
       {_UA_MAJOR} AS major_version,
       {_UA_OS} AS os,
       {_UA_IS_BOT} AS is_bot,
       {_UA_IS_MOBILE} AS is_mobile
FROM synth ORDER BY event_id
"""


@query("fn-useragent-parse", oracle=_UA_ORACLE, pure=True)
def fn_useragent_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12: user-agent parse + bot classification — the access-log
    twin of G11 (IP/CIDR): family, major version, OS, mobile flag and
    the is_bot gate every crawl-derived corpus filters on BEFORE
    anything else (bot sessions poison dedup statistics, funnel
    metrics and training data alike). Precedence is the uap-core
    ordering: bots claim themselves first (Googlebot also says
    Mozilla/5.0), CLI tools next, CriOS before Safari (Chrome-on-iOS
    carries the Safari token — the classic misparse), Version/+Safari
    last so bare 'Safari/' in Chrome UAs never wins.

    The synthesize-then-parse contract (G9/G11/I52): six UA shapes are
    derived from event_id by ONE shared SQL fragment both engines
    evaluate verbatim; the parser re-derives every output from the
    string alone via LIKE guards + one regexp_extract per family
    (regexes in the Java-regex ∩ RE2 subset; non-matches extract as
    '' in both engines, NULLIF-guarded before the integer cast).

    Shape at 100 TB: map-only, fused into the scan, zero shuffles, no
    UDF — LIKE, CASE and regexp_extract are whole-stage-codegen
    expressions in Spark and vectorized in DuckDB. The modulus filter
    only bounds the driver compare."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 13 == 0
    )
    synth = e.selectExpr("event_id", f"{_UA_SYNTH} AS ua")
    return synth.selectExpr(
        "event_id",
        "ua",
        f"{_UA_FAMILY} AS family",
        f"{_UA_MAJOR} AS major_version",
        f"{_UA_OS} AS os",
        f"{_UA_IS_BOT} AS is_bot",
        f"{_UA_IS_MOBILE} AS is_mobile",
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# G13 — geo coordinate parse + grid-cell bucketing (exact integer space)
# ---------------------------------------------------------------------------

# fixed reference point (micro-degrees): 40.712800, -74.006000
_GEO_LAT0, _GEO_LON0 = 40_712_800, -74_006_000
_GEO_CELL_MICRO = 500_000  # 0.5-degree grid
_GEO_BBOX_MICRO = 5_000_000  # +-5 degrees

_GEO_ORACLE = f"""
WITH synth AS (
  SELECT c_custkey,
         (c_custkey * 7919) % 120000000 - 60000000 AS latm,
         (c_custkey * 104729) % 360000000 - 180000000 AS lonm
  FROM customer
),
coords AS (
  SELECT c_custkey,
         (CASE WHEN latm < 0 THEN '-' ELSE '' END)
         || CAST(ABS(latm) // 1000000 AS STRING) || '.'
         || lpad(CAST(ABS(latm) % 1000000 AS STRING), 6, '0')
         || ','
         || (CASE WHEN lonm < 0 THEN '-' ELSE '' END)
         || CAST(ABS(lonm) // 1000000 AS STRING) || '.'
         || lpad(CAST(ABS(lonm) % 1000000 AS STRING), 6, '0') AS coord
  FROM synth
),
parsed AS (
  SELECT c_custkey, coord,
         (CASE WHEN split_part(coord, ',', 1) LIKE '-%' THEN -1 ELSE 1 END)
         * (CAST(split_part(replace(split_part(coord, ',', 1), '-', ''),
                            '.', 1) AS BIGINT) * 1000000
            + CAST(split_part(replace(split_part(coord, ',', 1), '-', ''),
                              '.', 2) AS BIGINT)) AS lat_micro,
         (CASE WHEN split_part(coord, ',', 2) LIKE '-%' THEN -1 ELSE 1 END)
         * (CAST(split_part(replace(split_part(coord, ',', 2), '-', ''),
                            '.', 1) AS BIGINT) * 1000000
            + CAST(split_part(replace(split_part(coord, ',', 2), '-', ''),
                              '.', 2) AS BIGINT)) AS lon_micro
  FROM coords
),
cells AS (
  SELECT c_custkey, coord, lat_micro, lon_micro,
         (lat_micro + 60000000) // {_GEO_CELL_MICRO} AS cell_lat,
         (lon_micro + 180000000) // {_GEO_CELL_MICRO} AS cell_lon
  FROM parsed
)
SELECT c_custkey, coord,
       CAST(lat_micro AS BIGINT) AS lat_micro,
       CAST(lon_micro AS BIGINT) AS lon_micro,
       CAST(cell_lat AS BIGINT) AS cell_lat,
       CAST(cell_lon AS BIGINT) AS cell_lon,
       CAST(cell_lat * 1024 + cell_lon AS BIGINT) AS cell_id,
       CAST(ABS(lat_micro - {_GEO_LAT0})
            + ABS(lon_micro - {_GEO_LON0}) AS BIGINT)
         AS manhattan_micro,
       ABS(lat_micro - {_GEO_LAT0}) <= {_GEO_BBOX_MICRO}
         AND ABS(lon_micro - {_GEO_LON0}) <= {_GEO_BBOX_MICRO} AS in_bbox
FROM cells ORDER BY c_custkey
"""


@query("fn-geo-cell", oracle=_GEO_ORACLE, pure=True)
def fn_geo_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13: geo coordinate parsing + grid-cell bucketing — the spatial
    preprocessing every geo pipeline runs BEFORE any join: parse
    'lat,lon' decimal strings into exact integer MICRO-degrees,
    assign a 0.5-degree grid cell (the blocking key for spatial
    joins / geofence lookups — candidate pairs come from equal or
    adjacent cells, never a cross join), and compute the Manhattan
    distance + bounding-box flag against a fixed reference point in
    pure integer arithmetic.

    Deliberately trig-free: haversine's sin/cos/asin differ in the
    last ulp across math libraries (java.lang.Math vs libm), and at
    ~1e7-meter magnitudes a 1-ulp input difference survives any
    fixed-decimal snap — so the ENGINE-level contract stays in exact
    integer micro-degree space (parse, cell, L1 distance, bbox), and
    a deployment applies its own great-circle formula on the
    map-side values downstream (same plan; only the last expression
    changes).

    The synthesize-then-parse contract (G9/G11/I52): coordinates are
    synthesized from c_custkey with different prime moduli per axis
    (no aliasing), formatted as signed 6-decimal strings with
    zero-padded fractions; the PARSER re-derives the integers from
    the string alone (sign split, degree/fraction split_part, one
    multiply-add). Both engines run the identical integer sequence —
    the only dialect split is Spark ``div`` vs DuckDB ``//``, both
    applied to NON-NEGATIVE operands (shifted before division) where
    truncation and floor coincide.

    Shape at 100 TB: map-only, fused into the scan, zero shuffles,
    no UDF — every expression is whole-stage-codegen."""
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    synth = c.select(
        "c_custkey",
        ((k * 7919) % 120000000 - 60000000).alias("latm"),
        ((k * 104729) % 360000000 - 180000000).alias("lonm"),
    )

    def fmt(col: str) -> str:
        return (
            f"(CASE WHEN {col} < 0 THEN '-' ELSE '' END)"
            f" || CAST(ABS({col}) div 1000000 AS STRING) || '.'"
            f" || lpad(CAST(ABS({col}) % 1000000 AS STRING), 6, '0')"
        )

    coords = synth.selectExpr(
        "c_custkey",
        f"{fmt('latm')} || ',' || {fmt('lonm')} AS coord",
    )

    def parse(idx: int) -> str:
        part = f"split_part(coord, ',', {idx})"
        mag = f"replace({part}, '-', '')"
        return (
            f"(CASE WHEN {part} LIKE '-%' THEN -1 ELSE 1 END)"
            f" * (CAST(split_part({mag}, '.', 1) AS BIGINT) * 1000000"
            f"    + CAST(split_part({mag}, '.', 2) AS BIGINT))"
        )

    parsed = coords.selectExpr(
        "c_custkey",
        "coord",
        f"{parse(1)} AS lat_micro",
        f"{parse(2)} AS lon_micro",
    )
    cells = parsed.selectExpr(
        "c_custkey",
        "coord",
        "lat_micro",
        "lon_micro",
        f"(lat_micro + 60000000) div {_GEO_CELL_MICRO} AS cell_lat",
        f"(lon_micro + 180000000) div {_GEO_CELL_MICRO} AS cell_lon",
    )
    return cells.selectExpr(
        "c_custkey",
        "coord",
        "CAST(lat_micro AS BIGINT) AS lat_micro",
        "CAST(lon_micro AS BIGINT) AS lon_micro",
        "CAST(cell_lat AS BIGINT) AS cell_lat",
        "CAST(cell_lon AS BIGINT) AS cell_lon",
        "CAST(cell_lat * 1024 + cell_lon AS BIGINT) AS cell_id",
        f"CAST(ABS(lat_micro - {_GEO_LAT0})"
        f" + ABS(lon_micro - {_GEO_LON0}) AS BIGINT) AS manhattan_micro",
        f"ABS(lat_micro - {_GEO_LAT0}) <= {_GEO_BBOX_MICRO}"
        f" AND ABS(lon_micro - {_GEO_LON0}) <= {_GEO_BBOX_MICRO}"
        " AS in_bbox",
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# G14 — phone number normalization to E.164
# ---------------------------------------------------------------------------

_PHONE_ORACLE = """
WITH synth AS (
  SELECT event_id,
         CASE event_id % 5
           WHEN 0 THEN '+1 (' || CAST(200 + (event_id * 7) % 800 AS STRING)
                || ') 555-' || lpad(CAST((event_id * 13) % 10000 AS STRING),
                                    4, '0')
           WHEN 1 THEN CAST(200 + (event_id * 7) % 800 AS STRING)
                || '-555-' || lpad(CAST((event_id * 13) % 10000 AS STRING),
                                   4, '0')
           WHEN 2 THEN '+44 20 '
                || lpad(CAST((event_id * 11) % 10000 AS STRING), 4, '0')
                || ' ' || lpad(CAST((event_id * 3) % 10000 AS STRING),
                               4, '0')
           WHEN 3 THEN '0049 30 '
                || lpad(CAST((event_id * 17) % 1000000 AS STRING), 6, '0')
           ELSE '1-' || CAST(200 + (event_id * 7) % 800 AS STRING)
                || '-555-' || lpad(CAST((event_id * 13) % 10000 AS STRING),
                                   4, '0')
         END AS raw
  FROM events WHERE event_id % 13 = 0
),
d AS (
  SELECT event_id, raw,
         regexp_replace(raw, '[^0-9]', '', 'g') AS digits,
         raw LIKE '+%' AS has_plus
  FROM synth
),
i AS (
  SELECT *,
         CASE WHEN has_plus THEN digits
              WHEN digits LIKE '00%' THEN substr(digits, 3)
         END AS intl
  FROM d
),
c AS (
  SELECT event_id, raw, digits,
         CASE
           WHEN intl IS NOT NULL THEN
             CASE WHEN intl LIKE '44%' THEN '44'
                  WHEN intl LIKE '49%' THEN '49'
                  WHEN intl LIKE '1%' THEN '1' END
           WHEN length(digits) = 11 AND digits LIKE '1%' THEN '1'
           ELSE '1'
         END AS cc,
         CASE
           WHEN intl IS NOT NULL THEN
             CASE WHEN intl LIKE '44%' THEN substr(intl, 3)
                  WHEN intl LIKE '49%' THEN substr(intl, 3)
                  WHEN intl LIKE '1%' THEN substr(intl, 2) END
           WHEN length(digits) = 11 AND digits LIKE '1%'
             THEN substr(digits, 2)
           ELSE digits
         END AS national
  FROM i
)
SELECT event_id, raw, cc, national,
       '+' || cc || national AS e164,
       CAST(length(digits) AS BIGINT) AS n_digits,
       length(national) BETWEEN 8 AND 10 AS valid
FROM c ORDER BY event_id
"""


@query("fn-phone-normalize", oracle=_PHONE_ORACLE, pure=True)
def fn_phone_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G14: phone-number normalization to E.164 — the identity-
    resolution / PII-handling staple: free-form numbers ('+1 (212)
    555-0187', '0049 30 ...', bare 10-digit NANP) canonicalize to ONE
    join/dedup key ('+1212...'), because string-equality on raw phone
    fields is how the same user becomes three users. Grammar handled:
    '+'-prefix international, '00'-prefix international, 11-digit
    NANP with trunk '1', bare national (defaults to +1); country codes
    matched longest-first from a fixed table ({{44, 49, 1}} here — a
    deployment swaps in the full ITU table as a broadcast join or
    generated CASE, same plan).

    The synthesize-then-parse contract (G9/G11/G13): five formats from
    event_id with different moduli per digit group; the parser
    re-derives everything from the STRING alone (digit strip, prefix
    classification, cc/national split). Map-only, zero shuffles, no
    UDF; exact strings and integers end to end (the only dialect
    split: DuckDB regexp_replace needs the 'g' flag for global
    replace — Spark is global by default)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 13 == 0
    )
    synth = e.selectExpr(
        "event_id",
        """CASE event_id % 5
           WHEN 0 THEN '+1 (' || CAST(200 + (event_id * 7) % 800 AS STRING)
                || ') 555-' || lpad(CAST((event_id * 13) % 10000 AS STRING),
                                    4, '0')
           WHEN 1 THEN CAST(200 + (event_id * 7) % 800 AS STRING)
                || '-555-' || lpad(CAST((event_id * 13) % 10000 AS STRING),
                                   4, '0')
           WHEN 2 THEN '+44 20 '
                || lpad(CAST((event_id * 11) % 10000 AS STRING), 4, '0')
                || ' ' || lpad(CAST((event_id * 3) % 10000 AS STRING),
                               4, '0')
           WHEN 3 THEN '0049 30 '
                || lpad(CAST((event_id * 17) % 1000000 AS STRING), 6, '0')
           ELSE '1-' || CAST(200 + (event_id * 7) % 800 AS STRING)
                || '-555-' || lpad(CAST((event_id * 13) % 10000 AS STRING),
                                   4, '0')
         END AS raw""",
    )
    d = synth.selectExpr(
        "event_id",
        "raw",
        "regexp_replace(raw, '[^0-9]', '') AS digits",
        "raw LIKE '+%' AS has_plus",
    )
    i = d.selectExpr(
        "*",
        "CASE WHEN has_plus THEN digits"
        " WHEN digits LIKE '00%' THEN substr(digits, 3)"
        " END AS intl",
    )
    c = i.selectExpr(
        "event_id",
        "raw",
        "digits",
        """CASE
           WHEN intl IS NOT NULL THEN
             CASE WHEN intl LIKE '44%' THEN '44'
                  WHEN intl LIKE '49%' THEN '49'
                  WHEN intl LIKE '1%' THEN '1' END
           WHEN length(digits) = 11 AND digits LIKE '1%' THEN '1'
           ELSE '1'
         END AS cc""",
        """CASE
           WHEN intl IS NOT NULL THEN
             CASE WHEN intl LIKE '44%' THEN substr(intl, 3)
                  WHEN intl LIKE '49%' THEN substr(intl, 3)
                  WHEN intl LIKE '1%' THEN substr(intl, 2) END
           WHEN length(digits) = 11 AND digits LIKE '1%'
             THEN substr(digits, 2)
           ELSE digits
         END AS national""",
    )
    return c.selectExpr(
        "event_id",
        "raw",
        "cc",
        "national",
        "'+' || cc || national AS e164",
        "CAST(length(digits) AS BIGINT) AS n_digits",
        "length(national) BETWEEN 8 AND 10 AS valid",
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# G15 — Luhn mod-10 checksum: compute, validate, corrupt-detect
# ---------------------------------------------------------------------------

_LUHN_LEN = 15  # payload digits; the check digit makes 16


def _luhn_digit(i: int) -> str:
    """Luhn contribution of payload position i (1-based, left to
    right, length 15): the rightmost payload digit (i=15) sits next
    to the appended check digit, so positions with ODD i double
    (2d, minus 9 above 9)."""
    d = f"CAST(substr(s, {i}, 1) AS INT)"
    if i % 2 == 1:
        return (
            f"(CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9 ELSE 2 * {d} END)"
        )
    return d


#: Σ Luhn contributions over the 15 payload positions — one generated
#: textual fragment shared verbatim by the Spark builder and the
#: oracle (the PNG generated-CASE-chain precedent).
_LUHN_SUM = " + ".join(_luhn_digit(i) for i in range(1, _LUHN_LEN + 1))

# Corruption probe: bump the digit at pos = 1 + c_custkey % 15 by one
# (mod 10) and re-validate. Luhn detects EVERY single-digit change,
# so corrupt_valid must be FALSE on every row — emitted as data so
# the driver hashes the property cross-engine instead of trusting a
# test. delta recomputes only the touched position's contribution.
_LUHN_OLD = "CAST(substr(s, pos, 1) AS INT)"
_LUHN_NEW = f"(({_LUHN_OLD} + 1) % 10)"
_LUHN_F = (
    "(CASE WHEN pos % 2 = 1 THEN"
    " CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9 ELSE 2 * {d} END"
    " ELSE {d} END)"
)
_LUHN_DELTA = (
    _LUHN_F.format(d=_LUHN_NEW) + " - " + _LUHN_F.format(d=_LUHN_OLD)
)

_LUHN_ORACLE = f"""
WITH synth AS (
  SELECT c_custkey,
         lpad(CAST((c_custkey * 48271) % 1000000000000000 AS STRING),
              {_LUHN_LEN}, '0') AS s
  FROM customer
),
l AS (
  SELECT c_custkey, s,
         CAST({_LUHN_SUM} AS BIGINT) AS luhn_sum,
         CAST(1 + c_custkey % {_LUHN_LEN} AS INT) AS pos
  FROM synth
),
k AS (
  SELECT *,
         CAST((10 - luhn_sum % 10) % 10 AS BIGINT) AS check_digit
  FROM l
)
SELECT c_custkey AS acct_id,
       s || CAST(check_digit AS STRING) AS card_number,
       check_digit,
       luhn_sum,
       (luhn_sum + check_digit) % 10 = 0 AS valid,
       CAST(pos AS BIGINT) AS corrupt_pos,
       (luhn_sum + ({_LUHN_DELTA}) + check_digit) % 10 = 0
         AS corrupt_valid
FROM k ORDER BY acct_id
"""


@query("fn-luhn-checksum", oracle=_LUHN_ORACLE, pure=True)
def fn_luhn_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G15: Luhn mod-10 checksum (ISO/IEC 7812) — compute the check
    digit for a 15-digit payload, emit the full 16-digit account
    number, validate it, and re-validate after a single-digit
    corruption probe: the checksum grammar behind card/IMEI/account
    identifiers, and the validation predicate a PII scrubber (I15) or
    DQ audit (F18) wants as a plain column expression. The doubling
    table, the check-digit closed form (10 − S mod 10) mod 10 and
    the detect-every-single-digit-error property are all emitted AS
    DATA (corrupt_valid must be FALSE on every row), so the driver
    hash certifies the arithmetic cross-engine rather than a test
    asserting it once.

    The synthesize-then-parse contract (G9/G11/G13/G14): payloads
    derive from c_custkey via an affine map, zero-padded to 15; the
    checksum re-derives everything from the STRING alone via a
    GENERATED 15-term sum (the PNG CASE-chain precedent — module
    constant _LUHN_SUM is shared verbatim by builder and oracle).

    Shape at 100 TB: map-only integer/string expressions fused into
    the scan; zero shuffles (the presentation sort is the only
    exchange); exact integers end to end — no doubles anywhere."""
    cu = load_table(spark, sf_dir, "customer")
    synth = cu.selectExpr(
        "c_custkey",
        f"lpad(CAST((c_custkey * 48271) % 1000000000000000 AS STRING),"
        f" {_LUHN_LEN}, '0') AS s",
    )
    l = synth.selectExpr(
        "c_custkey",
        "s",
        f"CAST({_LUHN_SUM} AS BIGINT) AS luhn_sum",
        f"CAST(1 + c_custkey % {_LUHN_LEN} AS INT) AS pos",
    )
    k = l.selectExpr(
        "*", "CAST((10 - luhn_sum % 10) % 10 AS BIGINT) AS check_digit"
    )
    return k.selectExpr(
        "c_custkey AS acct_id",
        "s || CAST(check_digit AS STRING) AS card_number",
        "check_digit",
        "luhn_sum",
        "(luhn_sum + check_digit) % 10 = 0 AS valid",
        "CAST(pos AS BIGINT) AS corrupt_pos",
        f"(luhn_sum + ({_LUHN_DELTA}) + check_digit) % 10 = 0"
        " AS corrupt_valid",
    ).orderBy("acct_id")


# ---------------------------------------------------------------------------
# G16 — binary codec roundtrips: base64 / hex / md5 digest
# ---------------------------------------------------------------------------

_CODEC_ORACLE = """
WITH s AS (
  SELECT doc_id, substr(text, 1, 24) AS src FROM documents
)
SELECT doc_id, src,
       to_base64(encode(src)) AS b64,
       hex(src) AS hex_str,
       substr(md5(src), 1, 8) AS md5_8,
       decode(from_base64(to_base64(encode(src)))) = src AS roundtrip_b64,
       decode(unhex(hex(src))) = src AS roundtrip_hex,
       CAST(length(to_base64(encode(src))) AS BIGINT) AS b64_len,
       CAST(4 * ((octet_length(encode(src)) + 2) // 3) AS BIGINT)
         AS b64_len_expected
FROM s ORDER BY doc_id
"""


@query("fn-codec-roundtrip", oracle=_CODEC_ORACLE, pure=True)
def fn_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16: binary↔text codec surface — base64 and hex encodings of a
    UTF-8 payload, their decode roundtrips asserted AS DATA, an md5
    digest prefix, and the RFC 4648 length identity
    len(b64) = 4·⌈len/3⌉ checked per row: the transport-encoding
    toolkit every ingestion pipeline needs at the boundary where
    binary payloads ride JSON/CSV (I5's opaque-binary contract meets
    G1's string surface). Emitting the encoded STRINGS (not just the
    booleans) makes the driver hash certify the exact alphabet and
    padding bytes cross-engine — a codec that decodes its own output
    but pads differently would still fail.

    Shape at 100 TB: map-only string/binary expressions fused into
    the scan, zero shuffles (presentation sort only); the only
    dialect split is function NAMES (Spark base64/unbase64 vs DuckDB
    to_base64/from_base64 — semantics RFC-identical, which is what
    the hashed strings prove)."""
    d = load_table(spark, sf_dir, "documents")
    s = d.selectExpr("doc_id", "substr(text, 1, 24) AS src")
    return s.selectExpr(
        "doc_id",
        "src",
        "base64(encode(src, 'UTF-8')) AS b64",
        "hex(src) AS hex_str",
        "substr(md5(src), 1, 8) AS md5_8",
        "decode(unbase64(base64(encode(src, 'UTF-8'))), 'UTF-8') = src"
        " AS roundtrip_b64",
        "decode(unhex(hex(src)), 'UTF-8') = src AS roundtrip_hex",
        "CAST(length(base64(encode(src, 'UTF-8'))) AS BIGINT) AS b64_len",
        # RFC 4648: the length identity is over UTF-8 BYTES, not
        # characters — octet_length, or the emitted identity would read
        # false for any non-ASCII src prefix (ADVICE r12 item 4)
        "CAST(4 * ((octet_length(src) + 2) div 3) AS BIGINT)"
        " AS b64_len_expected",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# G17 — fn-uuid3: RFC 4122 name-based (version 3, MD5) UUID minting
# ---------------------------------------------------------------------------

# The namespace UUID, chosen so its 16 RAW bytes are the ASCII string
# "sfm-spark-ns0001" (73666d2d-7370-6172-6b2d-6e7330303031): RFC 4122
# allows any namespace UUID, and an ASCII-byte one keeps the digest
# input expressible as VARCHAR in BOTH engines (DuckDB's md5 only
# accepts VARCHAR; arbitrary namespace bytes would need md5(BLOB)).
# The construction stays RFC-exact — Python's uuid.uuid3 with this
# namespace reproduces every output (pinned in tests).
_UUID3_NS_ASCII = "sfm-spark-ns0001"

# hex-nibble value lookup shared logic (engines differ only in the
# position function NAME: Spark instr / DuckDB strpos)
_UUID3_ORACLE = f"""
WITH n AS (
  SELECT doc_id,
         source || ':' || CAST(doc_id AS VARCHAR) || ':'
           || substr(text, 1, 16) AS name
  FROM documents
),
h AS (
  SELECT doc_id, name, md5('{_UUID3_NS_ASCII}' || name) AS md5_hex
  FROM n
)
SELECT doc_id, name, md5_hex,
       substr(md5_hex, 1, 8) || '-' || substr(md5_hex, 9, 4)
         || '-3' || substr(md5_hex, 14, 3) || '-'
         || substr('89ab',
                   ((strpos('0123456789abcdef', substr(md5_hex, 17, 1))
                     - 1) % 4) + 1, 1)
         || substr(md5_hex, 18, 3) || '-' || substr(md5_hex, 21, 12)
         AS uuid3,
       CAST(((strpos('0123456789abcdef', substr(md5_hex, 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(md5_hex, 2, 1)) - 1) % 32
            AS BIGINT) AS shard32
FROM h ORDER BY doc_id
"""


@query("fn-uuid3", oracle=_UUID3_ORACLE, pure=True)
def fn_uuid3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G17: RFC 4122 §4.3 name-based UUID minting (version 3, MD5) —
    the deterministic-ID primitive ingestion pipelines use to assign
    stable, collision-resistant identifiers to records BEFORE any
    join or dedup pass: same (namespace, name) → same UUID on every
    run, every engine, every partition layout (contrast uuid()/
    monotonically_increasing_id(), which are run- and
    partition-dependent and can never be oracle-checked). Emits the
    raw digest, the canonical 8-4-4-4-12 UUID with the version/variant
    bit surgery (version nibble forced to 3; variant nibble to
    10xx ⇒ one of 8/9/a/b), and the mod-32 shard a router would derive
    from the top byte.

    The namespace UUID's 16 raw bytes are the ASCII literal
    "sfm-spark-ns0001" — RFC-legal (any namespace UUID is) and the
    reason the digest input stays VARCHAR-expressible in both engines
    (DuckDB has no md5(BLOB)). Python's uuid.uuid3 with this namespace
    reproduces every row bit-for-bit (genuine RFC vectors pinned in
    tests/test_r13_ops.py).

    Shape at 100 TB: map-only — one md5 plus string slicing fused into
    the scan, zero shuffles (presentation sort only), trivially
    parallel at any scale. The variant nibble arithmetic is a shared
    textual lookup; engines differ only in the position function's
    NAME (instr vs strpos)."""
    d = load_table(spark, sf_dir, "documents")
    n = d.selectExpr(
        "doc_id",
        "source || ':' || CAST(doc_id AS STRING) || ':'"
        " || substr(text, 1, 16) AS name",
    )
    h = n.selectExpr(
        "doc_id",
        "name",
        f"md5('{_UUID3_NS_ASCII}' || name) AS md5_hex",
    )
    return h.selectExpr(
        "doc_id",
        "name",
        "md5_hex",
        "substr(md5_hex, 1, 8) || '-' || substr(md5_hex, 9, 4)"
        " || '-3' || substr(md5_hex, 14, 3) || '-'"
        " || substr('89ab',"
        " ((instr('0123456789abcdef', substr(md5_hex, 17, 1))"
        " - 1) % 4) + 1, 1)"
        " || substr(md5_hex, 18, 3) || '-' || substr(md5_hex, 21, 12)"
        " AS uuid3",
        "CAST(((instr('0123456789abcdef', substr(md5_hex, 1, 1)) - 1) * 16"
        " + instr('0123456789abcdef', substr(md5_hex, 2, 1)) - 1) % 32"
        " AS BIGINT) AS shard32",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# G18 — fn-semver-compare: SemVer 2.0 precedence
# ---------------------------------------------------------------------------

# Shared regex (both engines, identical text): maj.min.patch with an
# optional single prerelease identifier. Deliberately BACKSLASH-FREE
# ([0-9] for \d, [.] for \.): Spark's SQL string literals consume
# backslash escapes while DuckDB's do not, so any regex containing a
# backslash cannot be one shared literal — character classes can.
_SEMVER_RE = "^([0-9]+)[.]([0-9]+)[.]([0-9]+)(?:-([0-9A-Za-z]+))?$"

# SemVer 2.0 §11 precedence over the parsed fields, one shared CASE
# chain: numeric core first; a prerelease version precedes its
# release; numeric identifiers compare numerically and are LOWER than
# alphanumeric ones, alphanumerics compare lexically (ASCII).
_SEMVER_CMP = """
CASE
  WHEN maj_a <> maj_b THEN CASE WHEN maj_a < maj_b THEN -1 ELSE 1 END
  WHEN min_a <> min_b THEN CASE WHEN min_a < min_b THEN -1 ELSE 1 END
  WHEN pat_a <> pat_b THEN CASE WHEN pat_a < pat_b THEN -1 ELSE 1 END
  WHEN pre_a = '' AND pre_b = '' THEN 0
  WHEN pre_a = '' THEN 1
  WHEN pre_b = '' THEN -1
  WHEN pre_na IS NOT NULL AND pre_nb IS NOT NULL THEN
    CASE WHEN pre_na < pre_nb THEN -1
         WHEN pre_na > pre_nb THEN 1 ELSE 0 END
  WHEN pre_na IS NOT NULL THEN -1
  WHEN pre_nb IS NOT NULL THEN 1
  WHEN pre_a < pre_b THEN -1
  WHEN pre_a > pre_b THEN 1
  ELSE 0
END
"""

_SEMVER_ORACLE = f"""
WITH v AS (
  SELECT p_partkey AS pkg_id,
         CAST(1 + p_partkey % 4 AS VARCHAR) || '.'
           || CAST(p_partkey % 10 AS VARCHAR) || '.'
           || CAST(p_partkey % 6 AS VARCHAR)
           || CASE p_partkey % 5 WHEN 0 THEN '-alpha'
                WHEN 1 THEN '-beta' WHEN 2 THEN '-rc'
                WHEN 3 THEN '-' || CAST(p_partkey % 9 AS VARCHAR)
                ELSE '' END AS ver_a,
         CAST(1 + (p_partkey + 2) % 4 AS VARCHAR) || '.'
           || CAST((p_partkey + 3) % 10 AS VARCHAR) || '.'
           || CAST((p_partkey + 1) % 6 AS VARCHAR)
           || CASE (p_partkey + 1) % 5 WHEN 0 THEN '-alpha'
                WHEN 1 THEN '-beta' WHEN 2 THEN '-rc'
                WHEN 3 THEN '-' || CAST((p_partkey + 4) % 9 AS VARCHAR)
                ELSE '' END AS ver_b
  FROM part
),
p AS (
  SELECT pkg_id, ver_a, ver_b,
         CAST(regexp_extract(ver_a, '{_SEMVER_RE}', 1) AS BIGINT) AS maj_a,
         CAST(regexp_extract(ver_a, '{_SEMVER_RE}', 2) AS BIGINT) AS min_a,
         CAST(regexp_extract(ver_a, '{_SEMVER_RE}', 3) AS BIGINT) AS pat_a,
         regexp_extract(ver_a, '{_SEMVER_RE}', 4) AS pre_a,
         TRY_CAST(regexp_extract(ver_a, '{_SEMVER_RE}', 4) AS BIGINT)
           AS pre_na,
         CAST(regexp_extract(ver_b, '{_SEMVER_RE}', 1) AS BIGINT) AS maj_b,
         CAST(regexp_extract(ver_b, '{_SEMVER_RE}', 2) AS BIGINT) AS min_b,
         CAST(regexp_extract(ver_b, '{_SEMVER_RE}', 3) AS BIGINT) AS pat_b,
         regexp_extract(ver_b, '{_SEMVER_RE}', 4) AS pre_b,
         TRY_CAST(regexp_extract(ver_b, '{_SEMVER_RE}', 4) AS BIGINT)
           AS pre_nb
  FROM v
)
SELECT pkg_id, ver_a, ver_b,
       maj_a, min_a, pat_a, pre_a,
       CAST({_SEMVER_CMP} AS BIGINT) AS cmp,
       ({_SEMVER_CMP}) < 0 AS is_upgrade,
       maj_b > maj_a AS is_breaking
FROM p ORDER BY pkg_id
"""


@query("fn-semver-compare", oracle=_SEMVER_ORACLE, pure=True)
def fn_semver_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G18: SemVer 2.0 parsing and precedence (semver.org §11) — the
    version-comparison primitive dependency/artifact analytics need:
    parse maj.min.patch(-prerelease), compare two versions with the
    full precedence rules (numeric core → release beats its own
    prerelease → numeric prerelease identifiers sort numerically and
    BELOW alphanumeric ones, which sort lexically), flag upgrades and
    major-version breaks. String sort gets every one of these wrong
    ('1.10.0' < '1.9.0', '1.0.0-rc' > '1.0.0').

    Parity: one shared regex extracts the fields in both engines; the
    precedence CASE chain is a single shared textual expression over
    the extracted columns (TRY_CAST gives NULL for alphanumeric
    prerelease ids — the numeric-vs-alpha discriminator); outputs are
    exact integers/booleans/strings, no floats anywhere.

    Shape at 100 TB: map-only — regex + CASE fused into the scan,
    zero shuffle (presentation sort only)."""
    p = load_table(spark, sf_dir, "part")
    v = p.selectExpr(
        "p_partkey AS pkg_id",
        "CAST(1 + p_partkey % 4 AS STRING) || '.'"
        " || CAST(p_partkey % 10 AS STRING) || '.'"
        " || CAST(p_partkey % 6 AS STRING)"
        " || CASE p_partkey % 5 WHEN 0 THEN '-alpha'"
        " WHEN 1 THEN '-beta' WHEN 2 THEN '-rc'"
        " WHEN 3 THEN '-' || CAST(p_partkey % 9 AS STRING)"
        " ELSE '' END AS ver_a",
        "CAST(1 + (p_partkey + 2) % 4 AS STRING) || '.'"
        " || CAST((p_partkey + 3) % 10 AS STRING) || '.'"
        " || CAST((p_partkey + 1) % 6 AS STRING)"
        " || CASE (p_partkey + 1) % 5 WHEN 0 THEN '-alpha'"
        " WHEN 1 THEN '-beta' WHEN 2 THEN '-rc'"
        " WHEN 3 THEN '-' || CAST((p_partkey + 4) % 9 AS STRING)"
        " ELSE '' END AS ver_b",
    )
    fields = []
    for side in ("a", "b"):
        for grp, name in ((1, "maj"), (2, "min"), (3, "pat")):
            fields.append(
                f"CAST(regexp_extract(ver_{side}, '{_SEMVER_RE}', {grp})"
                f" AS BIGINT) AS {name}_{side}"
            )
        fields.append(
            f"regexp_extract(ver_{side}, '{_SEMVER_RE}', 4) AS pre_{side}"
        )
        fields.append(
            f"TRY_CAST(regexp_extract(ver_{side}, '{_SEMVER_RE}', 4)"
            f" AS BIGINT) AS pre_n{side}"
        )
    parsed = v.selectExpr("pkg_id", "ver_a", "ver_b", *fields)
    return parsed.selectExpr(
        "pkg_id",
        "ver_a",
        "ver_b",
        "maj_a",
        "min_a",
        "pat_a",
        "pre_a",
        f"CAST({_SEMVER_CMP} AS BIGINT) AS cmp",
        f"({_SEMVER_CMP}) < 0 AS is_upgrade",
        "maj_b > maj_a AS is_breaking",
    ).orderBy("pkg_id")


# ---------------------------------------------------------------------------
# G19 — fn-jwt-parse: base64url JWT decoding + claim extraction
# ---------------------------------------------------------------------------

_JWT_NOW = 1705000000  # fixed "now" for the expiry check (both engines)
_JWT_IAT0 = 1704067200  # 2024-01-01T00:00:00Z


@query(
    "fn-jwt-parse",
    oracle=f"""
WITH t AS (
  SELECT o_orderkey AS token_id,
         rtrim(replace(replace(to_base64(encode(
           '{{"alg":"HS256","typ":"JWT"}}')), '+', '-'), '/', '_'), '=')
           || '.' ||
         rtrim(replace(replace(to_base64(encode(
           '{{"sub":"u' || CAST(o_custkey AS VARCHAR)
           || '","iat":' || CAST({_JWT_IAT0} + o_orderkey % 86400 AS VARCHAR)
           || ',"exp":' || CAST({_JWT_IAT0} + o_orderkey % 86400
                                + 3600 * (1 + o_orderkey % 48) AS VARCHAR)
           || ',"scope":"' || CASE o_orderkey % 3 WHEN 0 THEN 'read'
                WHEN 1 THEN 'write' ELSE 'admin' END || '"}}')),
           '+', '-'), '/', '_'), '=')
           || '.' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 16)
           AS token
  FROM orders
),
s AS (
  SELECT token_id, token,
         string_split(token, '.')[1] AS h64,
         string_split(token, '.')[2] AS p64
  FROM t
),
d AS (
  SELECT token_id, token,
         decode(from_base64(replace(replace(h64, '-', '+'), '_', '/')
           || repeat('=', (4 - length(h64) % 4) % 4))) AS header_json,
         decode(from_base64(replace(replace(p64, '-', '+'), '_', '/')
           || repeat('=', (4 - length(p64) % 4) % 4))) AS payload_json
  FROM s
)
SELECT token_id,
       json_extract_string(header_json, '$.alg') AS alg,
       json_extract_string(payload_json, '$.sub') AS sub,
       CAST(json_extract_string(payload_json, '$.iat') AS BIGINT) AS iat,
       CAST(json_extract_string(payload_json, '$.exp') AS BIGINT) AS exp,
       CAST(json_extract_string(payload_json, '$.exp') AS BIGINT)
         - CAST(json_extract_string(payload_json, '$.iat') AS BIGINT)
         AS ttl_sec,
       CAST(json_extract_string(payload_json, '$.exp') AS BIGINT)
         < {_JWT_NOW} AS expired,
       json_extract_string(payload_json, '$.scope') AS scope
FROM d ORDER BY token_id
""",
    pure=True,
)
def fn_jwt_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G19: JWT decoding — split the three base64url segments, undo the
    URL-safe alphabet (RFC 4648 §5: '-'→'+', '_'→'/', padding
    stripped, so the parser must re-pad to a 4-multiple before
    decoding), extract header/payload claims, and evaluate expiry
    against a fixed clock: the auth-log triage pass (who, which scope,
    expired or not) security/product analytics run over request logs
    WITHOUT verifying signatures (the signature segment is carried
    opaque — verification is a crypto concern, parsing is a data
    concern, and the docstring owns that boundary).

    Parity: tokens synthesize from order keys with both engines'
    native base64 — Spark's emits RFC 2045 CRLF chunking past 76
    chars where DuckDB's never chunks, so the synthesis strips
    chr(13)/chr(10) before the URL-safe translate (the hashed token
    then certifies the alphabets agree); re-padding is shared integer
    arithmetic on length % 4;
    claims extract via each engine's JSON path function over
    identical JSON text; expiry compares exact BIGINTs to a shared
    literal.

    Shape at 100 TB: map-only — base64, string surgery and JSON path
    extraction fused into the scan; zero shuffle at cluster scale
    (presentation sort only). At test scale, where the whole parquet
    is ONE split, a width-spreading exchange over the two narrow key
    columns (16 B/row) is inserted so the heavy chain uses all cores —
    gated on the scan's split count, so it never appears when the
    scan already arrives wide."""
    # The synthesis+decode chain is heavy per row (2 base64 encodes,
    # 2 decodes, JSON parsing): spread it wide when the scan is
    # narrower than the session parallelism (split-count gate).
    o = wide_scan(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    t = o.selectExpr(
        "o_orderkey AS token_id",
        f"""trim(TRAILING '=' FROM translate(base64(encode(
          '{{"alg":"HS256","typ":"JWT"}}', 'UTF-8')), '+/', '-_'))
          || '.' ||
        trim(TRAILING '=' FROM translate(replace(replace(base64(encode(
          '{{"sub":"u' || CAST(o_custkey AS STRING)
          || '","iat":' || CAST({_JWT_IAT0} + o_orderkey % 86400 AS STRING)
          || ',"exp":' || CAST({_JWT_IAT0} + o_orderkey % 86400
                               + 3600 * (1 + o_orderkey % 48) AS STRING)
          || ',"scope":"' || CASE o_orderkey % 3 WHEN 0 THEN 'read'
               WHEN 1 THEN 'write' ELSE 'admin' END || '"}}', 'UTF-8')),
          chr(13), ''), chr(10), ''), '+/', '-_'))
          || '.' || substr(md5(CAST(o_orderkey AS STRING)), 1, 16)
          AS token""",
    )
    # Generate barriers between layers (the multimodal walk
    # discipline): without them CollapseProject re-inlines the token
    # synthesis + decode chain into every downstream column reference.
    # (The big latency levers for this key were the repartition above
    # and the single from_json parse below; the barriers keep the work
    # per layer single-evaluation as outputs grow.)
    t = t.select(
        "token_id",
        F.explode(F.array(F.struct(F.col("token").alias("token")))).alias(
            "_t"
        ),
    ).select("token_id", F.col("_t.token").alias("token"))
    s = t.selectExpr(
        "token_id",
        "token",
        "split(token, '[.]')[0] AS h64",
        "split(token, '[.]')[1] AS p64",
    )
    s = s.select(
        "token_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("h64").alias("h64"), F.col("p64").alias("p64")
                )
            )
        ).alias("_s"),
    ).select("token_id", F.col("_s.h64").alias("h64"), F.col("_s.p64").alias("p64"))
    d = s.selectExpr(
        "token_id",
        "decode(unbase64(translate(h64, '-_', '+/')"
        " || repeat('=', (4 - length(h64) % 4) % 4)), 'UTF-8')"
        " AS header_json",
        "decode(unbase64(translate(p64, '-_', '+/')"
        " || repeat('=', (4 - length(p64) % 4) % 4)), 'UTF-8')"
        " AS payload_json",
    )
    d = d.select(
        "token_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("header_json").alias("h"),
                    F.col("payload_json").alias("p"),
                )
            )
        ).alias("_d"),
    ).select(
        "token_id",
        F.col("_d.h").alias("header_json"),
        F.col("_d.p").alias("payload_json"),
    )
    # ONE typed parse per JSON document (from_json), not one
    # get_json_object re-parse per claim
    j = d.selectExpr(
        "token_id",
        "from_json(header_json, 'alg STRING, typ STRING') AS h",
        "from_json(payload_json,"
        " 'sub STRING, iat BIGINT, exp BIGINT, scope STRING') AS p",
    )
    return j.selectExpr(
        "token_id",
        "h.alg AS alg",
        "p.sub AS sub",
        "p.iat AS iat",
        "p.exp AS exp",
        "p.exp - p.iat AS ttl_sec",
        f"p.exp < {_JWT_NOW} AS expired",
        "p.scope AS scope",
    ).orderBy("token_id")


# ---------------------------------------------------------------------------
# G20 — fn-html-strip: tag removal + entity decode for web-corpus text
# ---------------------------------------------------------------------------

# Entity subset decoded (the high-frequency five + non-breaking space);
# everything is backslash-free shared-literal regex/replace chains (the
# G18 lesson). Tag stripping is the single-pass '<[^>]*>' removal every
# boilerplate pipeline starts from — comments/script CONTENT survive
# only as text, which is exactly what the downstream quality scores
# should see and penalize.
_HTML_SYNTH = """
'<div class="post"><h1>Doc ' || CAST(doc_id AS {t}) || '</h1>'
|| '<!-- boilerplate comment -->'
|| '<p>' || substr(text, 1, 40) || ' &amp; more &lt;tags&gt;</p>'
|| CASE WHEN doc_id % 3 = 0
        THEN '<script>var x = 1;</script>' ELSE '' END
|| '<p>&quot;quoted&quot;&nbsp;tail</p></div>'
"""

# Strip/decode/collapse chain. NOT one shared literal: DuckDB's
# regexp_replace replaces only the FIRST match unless passed the 'g'
# flag, while Spark's always replaces all and takes no flag argument —
# so the template carries a {g} hole ('' for Spark, ", 'g'" for
# DuckDB) and the two instantiations are otherwise identical text.
_HTML_STRIP_T = (
    "trim(regexp_replace(replace(replace(replace(replace(replace("
    "regexp_replace(html, '<[^>]*>', ' '{g}),"
    " '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),"
    " '&quot;', '\"'), '&nbsp;', ' '),"
    " '  +', ' '{g}))"
)


@query(
    "fn-html-strip",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         {_HTML_SYNTH.format(t="VARCHAR")} AS html
  FROM documents
),
s AS (
  SELECT doc_id, html,
         {_HTML_STRIP_T.format(g=", 'g'")} AS stripped FROM h
)
SELECT doc_id,
       stripped,
       CAST(length(html) AS BIGINT) AS html_len,
       CAST(length(stripped) AS BIGINT) AS text_len,
       FLOOR(CAST(length(stripped) AS DOUBLE)
             / CAST(length(html) AS DOUBLE) * 1e9 + 0.5) / 1e9
         AS text_ratio,
       CAST(length(html) - length(replace(html, '<', ''))
            AS BIGINT) AS n_tags
FROM s ORDER BY doc_id
""",
    pure=True,
)
def fn_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G20: HTML tag stripping + entity decoding — the first cleaning
    pass every web-scraped corpus goes through before any quality
    score or dedup sees the text: remove tags in one '<[^>]*>' pass,
    decode the high-frequency entities (&amp; &lt; &gt; &quot;
    &nbsp;), collapse runs of whitespace, and emit the text-to-markup
    ratio — the boilerplate signal (a page that is 95% markup is
    navigation, not content) — plus the raw tag count.

    Parity: synthesis wraps each document's text in a doc_id-derived
    HTML skeleton (headers, comments, a script block for every third
    doc, entity-bearing paragraphs) shared textually with the oracle;
    the strip/decode/collapse chain is one shared backslash-free
    expression (the G18 literal rule); lengths are exact BIGINTs and
    the ratio one snapped division. The hashed stripped STRING
    certifies the whole chain, not just the counts.

    Shape at 100 TB: map-only regex/replace chain fused into the
    scan, zero shuffle (presentation sort only)."""
    d = load_table(spark, sf_dir, "documents")
    h = d.selectExpr(
        "doc_id",
        f"{_HTML_SYNTH.format(t='STRING')} AS html",
    )
    s = h.selectExpr(
        "doc_id", "html", f"{_HTML_STRIP_T.format(g='')} AS stripped"
    )
    return s.selectExpr(
        "doc_id",
        "stripped",
        "CAST(length(html) AS BIGINT) AS html_len",
        "CAST(length(stripped) AS BIGINT) AS text_len",
        "FLOOR(CAST(length(stripped) AS DOUBLE)"
        " / CAST(length(html) AS DOUBLE) * 1e9 + 0.5) / 1e9"
        " AS text_ratio",
        "CAST(length(html) - length(replace(html, '<', ''))"
        " AS BIGINT) AS n_tags",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# G21 — fn-xml-extract: XPath field extraction from XML payloads
# ---------------------------------------------------------------------------


@query(
    "fn-xml-extract",
    oracle="""
WITH x AS (
  SELECT s_suppkey,
         '<supplier id="' || CAST(s_suppkey AS VARCHAR) || '">'
         || '<name>' || s_name || '</name>'
         || '<nation>' || CAST(s_nationkey AS VARCHAR) || '</nation>'
         || '<balance currency="USD">' || CAST(s_acctbal AS VARCHAR)
         || '</balance>'
         || CASE WHEN s_suppkey % 4 = 0
                 THEN '<flag>priority</flag>' ELSE '' END
         || '</supplier>' AS xml
  FROM supplier
)
SELECT s_suppkey AS supp_id,
       regexp_extract(xml, '<name>([^<]*)</name>', 1) AS name,
       CAST(regexp_extract(xml, '<nation>([^<]*)</nation>', 1)
            AS BIGINT) AS nation,
       regexp_extract(xml, 'currency="([^"]*)"', 1) AS currency,
       regexp_extract(xml, '<flag>([^<]*)</flag>', 1) <> ''
         AS has_priority_flag,
       CAST(regexp_extract(xml, 'id="([0-9]+)"', 1) AS BIGINT)
         AS id_attr
FROM x ORDER BY supp_id
""",
    pure=True,
)
def fn_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G21: XPath extraction from XML payloads — the feed-ingestion
    primitive for the XML that B2B/finance/legacy pipelines still
    ship: element text, attribute values and element-existence tests
    pulled from a document column. The Spark side uses the REAL XPath
    functions (`xpath_string`, element predicates — the JVM Xalan
    engine, namespace-aware and structure-checked); the oracle
    deliberately re-derives the same fields with regexes, making this
    one of the keys where the two engines take structurally DIFFERENT
    routes to hash-identical values (the strongest form of the oracle
    contract — a shared-text bug cannot cancel here).

    Parity: synthesis builds spec-valid single-element XML from
    supplier columns (attribute, nested elements, an optional flag
    element every 4th row); all outputs are exact strings/ints/bools;
    s_acctbal is carried only INSIDE the synthesized payload (its
    round-trip is covered by the currency attribute + name fields, so
    no float formatting crosses engines).

    Shape at 100 TB: map-only — XPath evaluation fused into the scan;
    zero shuffle at cluster scale (presentation sort only), with a
    split-count-gated width-spreading exchange at test scale where the
    parquet arrives as one split (the fn-jwt-parse pattern). XPath is
    JVM-side but not codegen'd (Xalan walks a parsed DOM per row) —
    fine for a triage/extract pass; a hot path lifts the parse into a
    schema-on-read `from_xml` instead (value-parity with this key's
    output is pinned in tests/test_r14_ops.py)."""
    # Xalan parses a DOM per row per xpath call — heavy map work:
    # spread it wide when the scan is narrower than the session
    # parallelism (split-count gate)
    s = wide_scan(
        spark,
        sf_dir,
        "supplier",
        ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    x = s.selectExpr(
        "s_suppkey",
        "'<supplier id=\"' || CAST(s_suppkey AS STRING) || '\">'"
        " || '<name>' || s_name || '</name>'"
        " || '<nation>' || CAST(s_nationkey AS STRING) || '</nation>'"
        " || '<balance currency=\"USD\">' || CAST(s_acctbal AS STRING)"
        " || '</balance>'"
        " || CASE WHEN s_suppkey % 4 = 0"
        " THEN '<flag>priority</flag>' ELSE '' END"
        " || '</supplier>' AS xml",
    )
    return x.selectExpr(
        "s_suppkey AS supp_id",
        "xpath_string(xml, '/supplier/name') AS name",
        "CAST(xpath_string(xml, '/supplier/nation') AS BIGINT) AS nation",
        "xpath_string(xml, '/supplier/balance/@currency') AS currency",
        "xpath_boolean(xml, 'boolean(/supplier/flag)')"
        " AS has_priority_flag",
        "CAST(xpath_string(xml, '/supplier/@id') AS BIGINT) AS id_attr",
    ).orderBy("supp_id")


def fn_xml_extract_hotpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `from_xml` hot path fn-xml-extract's docstring promises
    (r13 verdict item 5): ONE schema-on-read parse per row instead of
    six Xalan DOM walks, emitting the identical six columns. Not
    registered — the registered key keeps the xpath formulation whose
    oracle is structurally independent (regex); value parity between
    the two forms is pinned in tests/test_r14_ops.py.

    Shape at 100 TB: map-only like the registered key, but codegen-
    friendly: `from_xml` parses once into a struct, then every output
    is a column reference — the shape to use when XML extraction is a
    pipeline hot path rather than a triage pass."""
    s = wide_scan(
        spark,
        sf_dir,
        "supplier",
        ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    x = s.selectExpr(
        "s_suppkey",
        "'<supplier id=\"' || CAST(s_suppkey AS STRING) || '\">'"
        " || '<name>' || s_name || '</name>'"
        " || '<nation>' || CAST(s_nationkey AS STRING) || '</nation>'"
        " || '<balance currency=\"USD\">' || CAST(s_acctbal AS STRING)"
        " || '</balance>'"
        " || CASE WHEN s_suppkey % 4 = 0"
        " THEN '<flag>priority</flag>' ELSE '' END"
        " || '</supplier>' AS xml",
    )
    # attributes surface with the default '_' prefix; element text under
    # an attributed element lands in _VALUE
    schema = (
        "STRUCT<_id: BIGINT, name: STRING, nation: BIGINT,"
        " balance: STRUCT<_currency: STRING, _VALUE: STRING>,"
        " flag: STRING>"
    )
    return (
        x.select(
            "s_suppkey",
            F.expr(f"from_xml(xml, '{schema}')").alias("p"),
        )
        .selectExpr(
            "s_suppkey AS supp_id",
            "p.name AS name",
            "p.nation AS nation",
            "p.balance._currency AS currency",
            "p.flag IS NOT NULL AS has_priority_flag",
            "p._id AS id_attr",
        )
        .orderBy("supp_id")
    )
