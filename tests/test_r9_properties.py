"""Randomized DIFFERENTIAL tests for the r9 operators: hypothesis
generates random input tables, writes them as parquet into a tmp corpus
dir, and both engines run the REGISTERED query + oracle over the same
bytes — any data-dependent divergence (tie handling, empty windows,
singleton groups, boundary values) fails here before the driver sees
it. This also exercises the r9 fingerprinted-cache contract for real:
every example REWRITES the same tmp path in place, so a stale artifact
cache would serve the previous example's data and mismatch.

Each example pays a Spark round trip, so example counts are small and
the value universes are chosen to force collisions (few users, few
distinct cents, same-timestamp events)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spark_file_mover_spark import registry
from spark_file_mover_spark.profile import oracle_connection
from tests.parity import compare

registry.load_all()

_BASE = datetime(2024, 1, 1)

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _write_events(path, rows):
    """rows: list of (user_id, day_offset, sub_us, event_type, cents)."""
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [
                    _BASE + timedelta(days=d, microseconds=us)
                    for _, d, us, _, _ in rows
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, *_ in rows], pa.int64()),
            "event_type": pa.array(
                [t for *_, t, _ in rows], pa.string()
            ),
            "value": pa.array(
                [c / 100.0 for *_, c in rows], pa.float64()
            ),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(path / "events.parquet"))


def _run_both(key, spark, corpus_dir, tables):
    con = oracle_connection(corpus_dir, tables)
    try:
        return compare(
            registry.QUERIES[key](spark, str(corpus_dir)),
            con.sql(registry.ORACLES[key]),
            allow_empty=True,
        )
    finally:
        con.close()


# few users / types / cents / days -> dense tie and boundary collisions
_EVENT_ROW = st.tuples(
    st.integers(min_value=0, max_value=3),  # user_id
    st.integers(min_value=0, max_value=29),  # day offset
    st.sampled_from([0, 1, 10**6, 1799_999_999, 1800_000_001]),  # sub µs
    st.sampled_from(["click", "view"]),  # event_type
    st.integers(min_value=1, max_value=30000),  # exact cents
)


@given(rows=st.lists(_EVENT_ROW, min_size=2, max_size=25))
@settings(**_SETTINGS)
def test_ks_drift_differential(rows, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ksd")
    _write_events(d, rows)
    ok, msg = _run_both("agg-ks-drift", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_hist_logbucket_differential(rows, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("hist")
    _write_events(d, rows)
    ok, msg = _run_both("agg-hist-logbucket", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_session_batch_differential(rows, spark, tmp_path_factory):
    # the sub-µs strategy values straddle the 30-min gap boundary
    # (1800_000_001 µs ≈ 30 min + 1 µs after a same-day 0-offset event)
    d = tmp_path_factory.mktemp("sess")
    _write_events(d, rows)
    ok, msg = _run_both("window-session-batch", spark, d, ["events"])
    assert ok, msg


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["srcA", "srcB", "srcC"]),
            st.sampled_from(["en", "de"]),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_interleave_differential(docs, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ilv")
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(
                [f"doc {i} words here" for i in range(len(docs))],
                pa.string(),
            ),
            "lang": pa.array([l for _, l in docs], pa.string()),
            "source": pa.array([s for s, _ in docs], pa.string()),
            "n_chars": pa.array([17] * len(docs), pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    ok, msg = _run_both(
        "sample-interleave-sources", spark, d, ["documents"]
    )
    assert ok, msg


@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # custkey = user_id
            st.integers(min_value=0, max_value=40),  # order day
        ),
        min_size=0,
        max_size=15,
    ),
    n_events=st.integers(min_value=1, max_value=10),
)
@settings(**_SETTINGS)
def test_asof_nearest_differential(orders, n_events, spark, tmp_path_factory):
    """Random order/event streams: same-date order collisions, keys
    with zero orders, exact-midpoint distances (backward must win)."""
    d = tmp_path_factory.mktemp("asofn")
    # events table: event_id drives the oracle's era-folded asof_ts
    _write_events(
        d,
        [(i % 4, i % 30, 0, "click", 100) for i in range(n_events)],
    )
    obase = datetime(1995, 1, 1)
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(len(orders)), pa.int64()),
            "o_custkey": pa.array([c for c, _ in orders], pa.int64()),
            "o_orderstatus": pa.array(["O"] * len(orders), pa.string()),
            "o_totalprice": pa.array([1.0] * len(orders), pa.float64()),
            "o_orderdate": pa.array(
                [obase + timedelta(days=dd) for _, dd in orders],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                ["1-URGENT"] * len(orders), pa.string()
            ),
        }
    )
    pq.write_table(tbl, str(d / "orders.parquet"))
    ok, msg = _run_both(
        "join-asof-nearest", spark, d, ["events", "orders"]
    )
    assert ok, msg


@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=0,
        max_size=15,
    ),
    n_events=st.integers(min_value=1, max_value=10),
)
@settings(**_SETTINGS)
def test_scd2_temporal_differential(orders, n_events, spark, tmp_path_factory):
    """Random version histories: same-date version collisions (the
    zero-length-interval case), keys without history, events before
    the first version."""
    d = tmp_path_factory.mktemp("scd2j")
    _write_events(
        d,
        [(i % 4, i % 30, 0, "click", 100) for i in range(n_events)],
    )
    obase = datetime(1995, 1, 1)
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(len(orders)), pa.int64()),
            "o_custkey": pa.array([c for c, _ in orders], pa.int64()),
            "o_orderstatus": pa.array(
                ["O" if i % 2 else "F" for i in range(len(orders))],
                pa.string(),
            ),
            "o_totalprice": pa.array([1.0] * len(orders), pa.float64()),
            "o_orderdate": pa.array(
                [obase + timedelta(days=dd) for _, dd in orders],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                ["1-URGENT"] * len(orders), pa.string()
            ),
        }
    )
    pq.write_table(tbl, str(d / "orders.parquet"))
    ok, msg = _run_both(
        "join-scd2-temporal", spark, d, ["events", "orders"]
    )
    assert ok, msg


# Differential sweep over PRE-EXISTING events-only keys: the fixed
# fixture is one draw; random draws exercise tie/boundary paths these
# keys have never seen (empty stages in the funnel, single-value MAD
# distributions, one-user cohorts). JSON-extraction keys are excluded
# on purpose — engine JSON dialects differ on inputs outside the
# testdata contract; everything here is pure integer/timestamp math.
_EVENTS_KEYS = [
    "agg-retention-cohort",
    "agg-outlier-mad",
    "agg-mode-exact",
    "agg-sketch-cms",
    "events-funnel",
    "rollup-hierarchical",
]

_FUNNEL_ROW = st.tuples(
    st.integers(min_value=0, max_value=3),
    st.integers(min_value=0, max_value=29),
    st.sampled_from([0, 1, 10**6]),
    st.sampled_from(["signup", "view", "click", "purchase", "error"]),
    st.integers(min_value=1, max_value=30000),
)


@pytest.mark.parametrize("key", _EVENTS_KEYS)
@given(rows=st.lists(_FUNNEL_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_events_keys_differential(key, rows, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("evk")
    _write_events(d, rows)
    ok, msg = _run_both(key, spark, d, ["events"])
    assert ok, f"{key}: {msg}"


# Documents differential: random ASCII corpora with FORCED duplicate
# structure (whole-doc dups, shared paragraphs, repeated n-grams) and
# boundary shapes (one-word docs, long runs of one token) through the
# text/dedup family. Vocab stays ASCII-words-and-punctuation — the
# cross-engine tokenizer contract (_textnorm) is defined on that class;
# unicode-whitespace dialect differences are out of declared scope.
_WORDS = ["the", "cat", "sat", "on", "a", "mat", "dogs", "run", "fast."]


@st.composite
def _doc_corpus(draw):
    n = draw(st.integers(min_value=2, max_value=12))
    docs = []
    for i in range(n):
        words = draw(
            st.lists(st.sampled_from(_WORDS), min_size=1, max_size=30)
        )
        docs.append(" ".join(words))
    # force duplicate structure: copy a prefix of docs over a suffix
    n_dup = draw(st.integers(min_value=0, max_value=n // 2))
    for j in range(n_dup):
        docs[n - 1 - j] = docs[j]
    return docs


_DOC_KEYS = [
    "dedup-exact",
    "dedup-paragraph",
    "text-token-count",
    "text-fingerprint",
    "text-chunk-sliding",
    "text-ngram-freq",
    "text-repetition",
    "sample-pack-sequences",
    "text-dup-span",
    "text-dup-cut",
    # duplicate-heavy corpora force multi-doc clusters through the
    # group-fold assignment (hash-group ≡ string-group, checksum)
    "sample-group-kfold",
]


@pytest.mark.parametrize("key", _DOC_KEYS)
@given(docs=_doc_corpus())
@settings(**_SETTINGS)
def test_doc_keys_differential(key, docs, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("dock")
    langs = ["en", "de"]
    srcs = ["srcA", "srcB"]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs, pa.string()),
            "lang": pa.array(
                [langs[i % 2] for i in range(len(docs))], pa.string()
            ),
            "source": pa.array(
                [srcs[i % 2] for i in range(len(docs))], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    ok, msg = _run_both(key, spark, d, ["documents"])
    assert ok, f"{key}: {msg}"


# Relational differential: random orders/customer tables through the
# pure-compute relational keys (write-path and audit-band keys stay
# out: file fixtures and tuned tolerance bands are fixture-scale
# contracts, not data-independent ones). Money is generated as exact
# 2-decimal cents/100 per the FIXTURES contract.
def _write_orders(path, rows):
    """rows: (custkey, day, status, cents, priority)."""
    obase = datetime(1995, 1, 1)
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(len(rows)), pa.int64()),
            "o_custkey": pa.array([c for c, *_ in rows], pa.int64()),
            "o_orderstatus": pa.array(
                [s for _, _, s, _, _ in rows], pa.string()
            ),
            "o_totalprice": pa.array(
                [c / 100.0 for *_, c, _ in rows], pa.float64()
            ),
            "o_orderdate": pa.array(
                [obase + timedelta(days=d) for _, d, *_ in rows],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                [p for *_, p in rows], pa.string()
            ),
        }
    )
    pq.write_table(tbl, str(path / "orders.parquet"))


def _write_customer(path, rows):
    """rows: (nationkey, cents_bal, segment)."""
    tbl = pa.table(
        {
            "c_custkey": pa.array(range(len(rows)), pa.int64()),
            "c_name": pa.array(
                [f"Customer#{i:09d}" for i in range(len(rows))],
                pa.string(),
            ),
            "c_nationkey": pa.array([n for n, *_ in rows], pa.int32()),
            "c_acctbal": pa.array(
                [c / 100.0 for _, c, _ in rows], pa.float64()
            ),
            "c_mktsegment": pa.array([s for *_, s in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(path / "customer.parquet"))


_ORDER_ROW = st.tuples(
    st.integers(min_value=0, max_value=4),  # custkey: forces join fanout
    st.integers(min_value=0, max_value=40),  # order-date day (collisions)
    st.sampled_from(["O", "F", "P"]),
    st.integers(min_value=1, max_value=500000),  # exact cents
    st.sampled_from(["1-URGENT", "3-MEDIUM", "5-LOW"]),
)
_CUST_ROW = st.tuples(
    st.integers(min_value=0, max_value=4),  # nationkey
    st.integers(min_value=-99999, max_value=999999),  # acctbal cents
    st.sampled_from(["BUILDING", "AUTOMOBILE", "MACHINERY"]),
)

_ORDERS_ONLY_KEYS = [
    "agg-incremental-merge",
    "agg-pivot",
    "agg-unpivot",
    "etl-cdc-apply",
    "etl-scd2",
    "filter-pred",
    "fn-bitwise",
    "fn-case-when-cast",
    "fn-date",
    "window-analytic",
    "sort-limit",
]
_CUSTOMER_ONLY_KEYS = [
    "filter-scalar-subquery",
    "fn-string",
    "project-select",
    "set-union-intersect-except",
    "topk-per-group",
    "window-distribution",
    "window-ranking",
]
_JOIN_KEYS = [
    "join-inner-equi",
    "join-semi-anti",
    "join-lateral-topk",
    "join-bloom-prefilter",
]


@pytest.mark.parametrize("key", _ORDERS_ONLY_KEYS)
@given(rows=st.lists(_ORDER_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_orders_keys_differential(key, rows, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ordk")
    _write_orders(d, rows)
    ok, msg = _run_both(key, spark, d, ["orders"])
    assert ok, f"{key}: {msg}"


@pytest.mark.parametrize("key", _CUSTOMER_ONLY_KEYS)
@given(rows=st.lists(_CUST_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_customer_keys_differential(key, rows, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cusk")
    _write_customer(d, rows)
    ok, msg = _run_both(key, spark, d, ["customer"])
    assert ok, f"{key}: {msg}"


@pytest.mark.parametrize("key", _JOIN_KEYS)
@given(
    orows=st.lists(_ORDER_ROW, min_size=0, max_size=20),
    crows=st.lists(_CUST_ROW, min_size=1, max_size=10),
)
@settings(**_SETTINGS)
def test_join_keys_differential(key, orows, crows, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("joink")
    _write_orders(d, orows)
    _write_customer(d, crows)
    ok, msg = _run_both(key, spark, d, ["orders", "customer"])
    assert ok, f"{key}: {msg}"


# Embeddings differential: the exact-integer clustering/ANN family on
# random float32 vectors — the quantize-once / integer-everything
# parity strategy must hold for ANY vectors, not just the fixture's.
# All ten embeddings-plane keys run, including the full Lloyd unroll
# (kmeans/semdedup/ivfpq) and the brute-force/IVF/LSH searches.
_EMB_DIM = 64
_EMB_KEYS = [
    "embed-quantize-int8",
    "embed-random-projection",
    "embed-kmeans-lloyd",
    "embed-pq-encode",
    "dedup-embedding-cosine",
    "dedup-semdedup",
    "sim-search-topk",
    "sim-search-ivf",
    "sim-search-lsh",
    "embed-ann-ivfpq",
    # prefix-zero vectors (first d dims all zero) exercise I58's
    # per-budget zero-norm exclusion; grid values its fold parity
    "embed-matryoshka",
]


@st.composite
def _emb_corpus(draw):
    n = draw(st.integers(min_value=10, max_value=30))
    # integer grid mapped to floats: st.floats trips hypothesis's FTZ
    # detector in this process (a native lib in the JVM/Arrow stack
    # flushes subnormals), and a /1000 grid exercises the quantizers'
    # rounding boundaries anyway
    comp = st.integers(min_value=-600, max_value=600)
    vecs = [
        [v / 1000.0 for v in draw(
            st.lists(comp, min_size=_EMB_DIM, max_size=_EMB_DIM)
        )]
        for _ in range(n)
    ]
    # force near-duplicate structure for the dedup keys
    n_dup = draw(st.integers(min_value=0, max_value=3))
    for j in range(min(n_dup, n // 2)):
        vecs[n - 1 - j] = list(vecs[j])
    return vecs


@pytest.mark.parametrize("key", _EMB_KEYS)
@given(vecs=_emb_corpus())
@settings(**_SETTINGS)
def test_embeddings_keys_differential(key, vecs, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("embk")
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                vecs, pa.list_(pa.float32())
            ),
            "label": pa.array(
                [i % 10 for i in range(len(vecs))], pa.int32()
            ),
        }
    )
    pq.write_table(tbl, str(d / "embeddings.parquet"))
    ok, msg = _run_both(key, spark, d, ["embeddings"])
    assert ok, f"{key}: {msg}"


# Lineitem/part differential: the decimal-exact money arithmetic and
# regex/windows over random TPC-H-ish rows. Sketch-audit keys (approx
# distinct, HLL merge, theta set ops) stay out: their TRUE-expected
# tolerance bands are calibrated for fixture-scale cardinalities and
# legitimately fail on 25-row samples.
def _write_lineitem(path, rows):
    """rows: (okey, pkey, qty, cents_price, disc_pct, flagidx, day)."""
    lbase = datetime(1994, 1, 1)
    flags = ["A", "N", "R"]
    tbl = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            "l_suppkey": pa.array(
                [r[1] % 5 for r in rows], pa.int64()
            ),
            "l_linenumber": pa.array(
                [i % 7 + 1 for i in range(len(rows))], pa.int32()
            ),
            "l_quantity": pa.array(
                [float(r[2]) for r in rows], pa.float64()
            ),
            "l_extendedprice": pa.array(
                [r[3] / 100.0 for r in rows], pa.float64()
            ),
            "l_discount": pa.array(
                [r[4] / 100.0 for r in rows], pa.float64()
            ),
            "l_tax": pa.array(
                [(r[4] % 8) / 100.0 for r in rows], pa.float64()
            ),
            "l_returnflag": pa.array(
                [flags[r[5] % 3] for r in rows], pa.string()
            ),
            "l_linestatus": pa.array(
                ["O" if r[5] % 2 else "F" for r in rows], pa.string()
            ),
            "l_shipdate": pa.array(
                [lbase + timedelta(days=r[6] * 90) for r in rows],
                pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(tbl, str(path / "lineitem.parquet"))


def _write_part(path, n):
    brands = ["Brand#1", "Brand#2", "Brand#3"]
    types = ["ECONOMY BRUSHED TIN", "STANDARD POLISHED COPPER",
             "LARGE PLATED STEEL"]
    tbl = pa.table(
        {
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": pa.array(
                [f"part {i} olive {'azure' if i % 3 else 'navy'}"
                 for i in range(n)],
                pa.string(),
            ),
            "p_brand": pa.array(
                [brands[i % 3] for i in range(n)], pa.string()
            ),
            "p_type": pa.array(
                [types[i % 3] for i in range(n)], pa.string()
            ),
            "p_size": pa.array([i % 25 + 1 for i in range(n)], pa.int32()),
            "p_retailprice": pa.array(
                [round(900 + i * 1.5, 2) for i in range(n)], pa.float64()
            ),
        }
    )
    pq.write_table(tbl, str(path / "part.parquet"))


_LI_ROW = st.tuples(
    st.integers(min_value=0, max_value=8),  # orderkey
    st.integers(min_value=0, max_value=9),  # partkey
    st.integers(min_value=1, max_value=60),  # quantity (HAVING boundary)
    st.integers(min_value=1, max_value=900000),  # price cents
    st.integers(min_value=0, max_value=10),  # discount pct
    st.integers(min_value=0, max_value=5),  # flag selector
    st.integers(min_value=0, max_value=30),  # shipdate quarter
)

_LINEITEM_KEYS = [
    "agg-hash",
    "agg-distinct",
    "agg-having",
    "agg-rollup-cube-gsets",
    "agg-stats",
    "fn-math",
    "window-frame-agg",
]


@pytest.mark.parametrize("key", _LINEITEM_KEYS)
@given(rows=st.lists(_LI_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_lineitem_keys_differential(key, rows, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("lik")
    _write_lineitem(d, rows)
    ok, msg = _run_both(key, spark, d, ["lineitem"])
    assert ok, f"{key}: {msg}"


@given(
    rows=st.lists(_LI_ROW, min_size=1, max_size=25),
    n_parts=st.integers(min_value=1, max_value=10),
)
@settings(**_SETTINGS)
def test_range_theta_differential(rows, n_parts, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("rtk")
    _write_lineitem(d, rows)
    _write_part(d, n_parts)
    ok, msg = _run_both("join-range-theta", spark, d, ["lineitem", "part"])
    assert ok, f"join-range-theta: {msg}"


@given(n_parts=st.integers(min_value=1, max_value=25))
@settings(**_SETTINGS)
def test_like_regexp_differential(n_parts, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("lrk")
    _write_part(d, n_parts)
    ok, msg = _run_both("filter-like-regexp", spark, d, ["part"])
    assert ok, f"filter-like-regexp: {msg}"


# --- r9 continuation: the five session-2 keys ---------------------------


def _write_docs_tbl(path, rows):
    """rows: (text, lang, source)."""
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": pa.array([t for t, *_ in rows], pa.string()),
            "lang": pa.array([l for _, l, _ in rows], pa.string()),
            "source": pa.array([s for *_, s in rows], pa.string()),
            "n_chars": pa.array(
                [len(t) for t, *_ in rows], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(path / "documents.parquet"))


def _write_graph_events(path, rows):
    """rows: (user_id, k) — events whose props carry a real entity id."""
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array(
                [_BASE + timedelta(hours=i) for i in range(len(rows))],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([u for u, _ in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(
                ['{"k": %d}' % k for _, k in rows], pa.string()
            ),
        }
    )
    pq.write_table(tbl, str(path / "events.parquet"))


@given(rows=st.lists(_ORDER_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_quantile_exact_differential(rows, spark, tmp_path_factory):
    """Random duplicate-heavy price sets: singleton groups (p50=p99),
    all-equal groups, rank boundaries at tiny n."""
    d = tmp_path_factory.mktemp("qex")
    _write_orders(d, rows)
    ok, msg = _run_both("agg-quantile-exact", spark, d, ["orders"])
    assert ok, msg


_DOC_ROW = st.tuples(
    st.sampled_from(
        ["", "a", "a b", "a b a", "a  b   a b", "x y z w v u t s",
         "a b a b a b a b a b", "the quick brown fox jumps"]
    ),
    st.sampled_from(["en", "de", "fr"]),
    st.sampled_from(["web", "book"]),
)


@given(rows=st.lists(_DOC_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_entropy_differential(rows, spark, tmp_path_factory):
    """Singleton sources (entropy 0, gini 0), single-lang sources,
    char-weight vs count-weight divergence."""
    d = tmp_path_factory.mktemp("ent")
    _write_docs_tbl(d, rows)
    ok, msg = _run_both("agg-entropy", spark, d, ["documents"])
    assert ok, msg


@given(rows=st.lists(_DOC_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_winnowing_differential(rows, spark, tmp_path_factory):
    """Token-count boundaries: <k tokens (absent), k..w+k-2 (no full
    window, absent), repeated-gram docs (dense kmin ties, the DISTINCT
    path), multi-space splits."""
    d = tmp_path_factory.mktemp("winn")
    _write_docs_tbl(d, rows)
    ok, msg = _run_both("text-winnowing", spark, d, ["documents"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_range_rolling_differential(rows, spark, tmp_path_factory):
    """Timestamp peers (same user+ts → shared frame), events exactly
    7 days apart (inclusive boundary), single-event users."""
    d = tmp_path_factory.mktemp("rroll")
    _write_events(d, rows)
    ok, msg = _run_both("window-range-rolling", spark, d, ["events"])
    assert ok, msg


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),  # user_id
            st.integers(min_value=0, max_value=6),  # entity k
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_bfs_levels_differential(rows, spark, tmp_path_factory):
    """Random sparse graphs: no-seed components (absent nodes), seeds
    with no edges (dist 0 only), chains longer than 4 hops (distance
    capped by rounds), frontier-vs-full-relaxation equivalence."""
    d = tmp_path_factory.mktemp("bfs")
    # every-20th-event edge sampling: event ids 0,20,40,... — pad the
    # row list so several rows land on sampled ids
    padded = [rows[i % len(rows)] for i in range(20 * len(rows))]
    _write_graph_events(d, padded)
    ok, msg = _run_both("graph-bfs-levels", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_ewma_decay_differential(rows, spark, tmp_path_factory):
    """Timestamp ties (the (ts_us, event_id) total order pins lag
    rows), partial history (< 8 events), single-event users
    (ewma == value)."""
    d = tmp_path_factory.mktemp("ewma")
    _write_events(d, rows)
    ok, msg = _run_both("window-ewma-decay", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_LI_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_benford_digit_differential(rows, spark, tmp_path_factory):
    """Random cents force uneven digit histograms: missing digits
    (absent rows), single-digit flags (chi2 from one term), flag
    singletons."""
    d = tmp_path_factory.mktemp("benf")
    _write_lineitem(d, rows)
    ok, msg = _run_both("agg-benford-digit", spark, d, ["lineitem"])
    assert ok, msg


_BITMAP_EVENT_ROW = st.tuples(
    # user ids straddling the 62-bit word boundaries (61|62, 123|124)
    st.sampled_from([0, 1, 3, 61, 62, 63, 123, 124, 200]),
    st.integers(min_value=0, max_value=29),
    st.sampled_from([0, 10**6]),
    st.sampled_from(["click", "view"]),
    st.integers(min_value=1, max_value=30000),
)


@given(rows=st.lists(_BITMAP_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_distinct_bitmap_differential(rows, spark, tmp_path_factory):
    """Word-boundary ids (61/62, 123/124 land in different buckets),
    single-user types, repeated ids folding into one set bit."""
    d = tmp_path_factory.mktemp("bmap")
    _write_events(d, rows)
    ok, msg = _run_both("agg-distinct-bitmap", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_proportion_ztest_differential(rows, spark, tmp_path_factory):
    """Tiny populations force the degenerate branches: every user
    converting on a type (pooled p = 1 → NULL z, FALSE flag), a hash
    variant with zero users (n = 0 → NULL z), single-user variants."""
    d = tmp_path_factory.mktemp("ztst")
    _write_events(d, rows)
    ok, msg = _run_both("agg-proportion-ztest", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_streaks_differential(rows, spark, tmp_path_factory):
    """Random day sets: singleton islands, full-range runs, duplicate
    (user, day) events collapsing to one active day, tie resolution
    when two streaks share the max length (earliest start wins)."""
    d = tmp_path_factory.mktemp("strk")
    _write_events(d, rows)
    ok, msg = _run_both("window-streaks", spark, d, ["events"])
    assert ok, msg


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),  # user_id
            st.integers(min_value=0, max_value=4),  # entity k
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_triangle_count_differential(rows, spark, tmp_path_factory):
    """Random dense-ish co-interaction graphs: isolated users (degree
    rows with tri_count 0), degree ties (orientation falls back to id
    order), multi-entity duplicate pairs collapsing to one edge."""
    d = tmp_path_factory.mktemp("tri")
    padded = [rows[i % len(rows)] for i in range(20 * len(rows))]
    _write_graph_events(d, padded)
    ok, msg = _run_both("graph-triangle-count", spark, d, ["events"])
    assert ok, msg


def test_triangle_count_hot_entity_cap(spark, tmp_path_factory):
    """The projection cap: an entity with > 64 distinct users is
    dropped by BOTH engines before the pair join — the triangle through
    the hot entity disappears, triangles through cold entities stay."""
    d = tmp_path_factory.mktemp("trihot")
    # entity 0: 70 users (hot, dropped). entities 1-3: a cold triangle
    # among users 100, 101, 102.
    rows = [(u, 0) for u in range(70)]
    rows += [(100, 1), (101, 1), (101, 2), (102, 2), (100, 3), (102, 3)]
    # row i must land on a SAMPLED event id (20*i): i // 20, not i % n
    padded = [rows[i // 20] for i in range(20 * len(rows))]
    _write_graph_events(d, padded)
    ok, msg = _run_both("graph-triangle-count", spark, d, ["events"])
    assert ok, msg
    from spark_file_mover_spark import registry as _r

    out = {
        r.node_id: r.tri_count
        for r in _r.QUERIES["graph-triangle-count"](spark, str(d)).collect()
    }
    assert out.get(100) == 1 and out.get(101) == 1 and out.get(102) == 1
    # hot-entity users survive only if a cold entity connects them
    assert all(t == 0 for n, t in out.items() if n < 70)


@given(rows=st.lists(_DOC_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_edit_distance_differential(rows, spark, tmp_path_factory):
    """Duplicate-heavy random docs: exact dups (lev 0), short docs with
    no fingerprints (absent), shared-prefix families crossing the 20%
    threshold, hot fingerprints from repeated tiny texts (the cap)."""
    d = tmp_path_factory.mktemp("edd")
    _write_docs_tbl(d, rows)
    ok, msg = _run_both("dedup-edit-distance", spark, d, ["documents"])
    assert ok, msg


@given(rows=st.lists(_DOC_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_gif_meta_differential(rows, spark, tmp_path_factory):
    """doc_id-formula synthesis at random corpus sizes (ids dense from
    0): every field parses back bit-exactly."""
    d = tmp_path_factory.mktemp("gifm")
    _write_docs_tbl(d, rows)
    ok, msg = _run_both("multimodal-gif-meta", spark, d, ["documents"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_zscore_anomaly_differential(rows, spark, tmp_path_factory):
    """Short histories (abstention boundary at 4), constant-value
    users (zero variance), timestamp ties pinned by the total order."""
    d = tmp_path_factory.mktemp("zsc")
    _write_events(d, rows)
    ok, msg = _run_both("window-zscore-anomaly", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_ols_trend_differential(rows, spark, tmp_path_factory):
    """Singleton groups (n < 2 → NULL), all-same-day groups (zero
    x-variance), constant-value groups (zero y-variance → NULL r²)."""
    d = tmp_path_factory.mktemp("ols")
    _write_events(d, rows)
    ok, msg = _run_both("agg-ols-trend", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_ORDER_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_snapshot_diff_differential(rows, spark, tmp_path_factory):
    """Random key sets hit every diff class; duplicate prices cross
    the decimal comparison; tiny tables exercise empty classes."""
    d = tmp_path_factory.mktemp("sdiff")
    _write_orders(d, rows)
    ok, msg = _run_both("etl-snapshot-diff", spark, d, ["orders"])
    assert ok, msg


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_jaccard_neighbors_differential(rows, spark, tmp_path_factory):
    """Random bipartite graphs: jaccard ties broken by (shared, id),
    single-entity users (jaccard 1 with twins), isolated users."""
    d = tmp_path_factory.mktemp("jacn")
    padded = [rows[i % len(rows)] for i in range(20 * len(rows))]
    _write_graph_events(d, padded)
    ok, msg = _run_both("graph-jaccard-neighbors", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_DOC_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_text_lines_differential(rows, spark, tmp_path_factory):
    """Round trip at random corpus sizes; empty/whitespace texts hash
    through trim+lower identically."""
    d = tmp_path_factory.mktemp("txtl")
    _write_docs_tbl(d, rows)
    ok, msg = _run_both("scan-text-lines", spark, d, ["documents"])
    assert ok, msg


@given(rows=st.lists(_DOC_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_url_parse_differential(rows, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("urlp")
    _write_docs_tbl(d, rows)
    ok, msg = _run_both("fn-url-parse", spark, d, ["documents"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_period_over_period_differential(rows, spark, tmp_path_factory):
    """Gap days (is_consecutive false), zero-base days (NULL pct),
    single-day types."""
    d = tmp_path_factory.mktemp("pop")
    _write_events(d, rows)
    ok, msg = _run_both("window-period-over-period", spark, d, ["events"])
    assert ok, msg


_FUNNEL_EVENT_ROW = st.tuples(
    st.integers(min_value=0, max_value=3),
    st.integers(min_value=0, max_value=29),
    st.sampled_from([0, 1, 10**6]),
    st.sampled_from(["signup", "purchase", "view"]),
    st.integers(min_value=1, max_value=30000),
)


@given(rows=st.lists(_FUNNEL_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_conversion_lag_differential(rows, spark, tmp_path_factory):
    """Purchase-before-signup users (not converted), zero-lag
    conversions (same timestamp), no-signup corpora (NULL rate)."""
    d = tmp_path_factory.mktemp("clag")
    _write_events(d, rows)
    ok, msg = _run_both("agg-conversion-lag", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_markov_transitions_differential(rows, spark, tmp_path_factory):
    """Single-event users (pure _START rows), timestamp ties pinned by
    the (ts_us, event_id) order, single-type corpora."""
    d = tmp_path_factory.mktemp("mkv")
    _write_events(d, rows)
    ok, msg = _run_both("agg-markov-transitions", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_DOC_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_collocations_pmi_differential(rows, spark, tmp_path_factory):
    """Repeated-token docs force high-support bigrams at tiny corpus
    size; single-token and empty docs contribute no bigrams."""
    d = tmp_path_factory.mktemp("pmi")
    _write_docs_tbl(d, rows)
    ok, msg = _run_both("text-collocations-pmi", spark, d, ["documents"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_time_buckets_differential(rows, spark, tmp_path_factory):
    """Bucket boundaries: the sub-µs strategy values land exactly on
    and one µs after 15-min/hour edges."""
    d = tmp_path_factory.mktemp("tbk")
    _write_events(d, rows)
    ok, msg = _run_both("fn-time-buckets", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_DOC_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_langid_confusion_differential(rows, spark, tmp_path_factory):
    """Tiny corpora: empty cells absent, single-lang corpora, 'und'
    predictions from marker-free docs."""
    d = tmp_path_factory.mktemp("conf")
    _write_docs_tbl(d, rows)
    ok, msg = _run_both("text-langid-confusion", spark, d, ["documents"])
    assert ok, msg


@given(rows=st.lists(_DOC_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_dedup_profile_differential(rows, spark, tmp_path_factory):
    """The sampled-text strategy forces big exact-dup clusters at tiny
    corpus size; whitespace-variant texts collapse via normalization."""
    d = tmp_path_factory.mktemp("dprof")
    _write_docs_tbl(d, rows)
    ok, msg = _run_both("dedup-profile", spark, d, ["documents"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_null_safe_join_differential(rows, spark, tmp_path_factory):
    """user_id 0 (the NULL bucket) present/absent on each side; keys
    on one side only (full-outer fringes)."""
    d = tmp_path_factory.mktemp("nsj")
    _write_events(d, rows)
    ok, msg = _run_both("join-null-safe-eq", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_ORDER_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_dynamic_overwrite_differential(rows, spark, tmp_path_factory):
    """Random key/status mixes: corpora with no 'O' rows (dynamic
    write of an EMPTY frame), single-status corpora."""
    d = tmp_path_factory.mktemp("dyno")
    _write_orders(d, rows)
    ok, msg = _run_both("sink-overwrite-dynamic", spark, d, ["orders"])
    assert ok, msg


@given(rows=st.lists(_DOC_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_json_nested_differential(rows, spark, tmp_path_factory):
    """Docs with <3 tokens (short arrays), empty text (single empty
    token after split)."""
    d = tmp_path_factory.mktemp("njson")
    _write_docs_tbl(d, rows)
    ok, msg = _run_both("scan-json-nested", spark, d, ["documents"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_gap_fill_differential(rows, spark, tmp_path_factory):
    """Random sparse daily series: single-day users (no gaps), multi-
    day gaps (run explode), same-day duplicate events (decimal sums),
    and day boundaries straddled by the sub-µs offsets."""
    d = tmp_path_factory.mktemp("gapf")
    _write_events(d, rows)
    ok, msg = _run_both("window-gap-fill", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_cuped_differential(rows, spark, tmp_path_factory):
    """Degenerate covariates on purpose: all users in one variant, a
    constant/absent pre-period (var(X)=0 → NULL theta, not a 0/0 NaN),
    single-user populations."""
    d = tmp_path_factory.mktemp("cuped")
    _write_events(d, rows)
    ok, msg = _run_both("agg-cuped", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_ip_cidr_differential(rows, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ipc")
    _write_events(d, rows)
    ok, msg = _run_both("fn-ip-cidr", spark, d, ["events"])
    assert ok, msg


@given(
    orows=st.lists(_ORDER_ROW, min_size=0, max_size=20),
    lrows=st.lists(_LI_ROW, min_size=0, max_size=20),
)
@settings(**_SETTINGS)
def test_dq_audit_differential(orows, lrows, spark, tmp_path_factory):
    """Dirty-by-chance corpora: duplicate order keys (uniqueness),
    lineitem FKs pointing past the order range (RI orphans), and EMPTY
    tables (NULLIF-guarded rates, NULL min — both engines must agree
    on the vacuous-pass flags)."""
    d = tmp_path_factory.mktemp("dqa")
    _write_orders(d, orows)
    _write_lineitem(d, lrows)
    ok, msg = _run_both(
        "etl-dq-audit", spark, d, ["orders", "lineitem"]
    )
    assert ok, msg


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # user
            st.integers(min_value=0, max_value=4),  # entity k
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_kcore_differential(rows, spark, tmp_path_factory):
    """Random sparse graphs: full-peel graphs (everything degree-1),
    stable cores, cascade removals across the 3 bounded rounds,
    zero-degree survivors of a final-round neighbor removal."""
    d = tmp_path_factory.mktemp("kcore")
    padded = [rows[i % len(rows)] for i in range(20 * len(rows))]
    _write_graph_events(d, padded)
    ok, msg = _run_both("graph-kcore", spark, d, ["events"])
    assert ok, msg


# _EVENT_ROW only emits click/view — the eval/attribution trio needs
# purchases in the population (AUC's positive class, attribution's
# conversions); same collision-forcing universes otherwise
_EVENT_ROW_P = st.tuples(
    st.integers(min_value=0, max_value=3),
    st.integers(min_value=0, max_value=29),
    st.sampled_from([0, 1, 10**6, 1799_999_999, 1800_000_001]),
    st.sampled_from(["click", "view", "purchase"]),
    st.integers(min_value=1, max_value=30000),
)


@given(rows=st.lists(_EVENT_ROW_P, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_auc_rank_differential(rows, spark, tmp_path_factory):
    """Duplicate-heavy scores force the tied-pair half-credit path;
    single-class corpora (all-click or all-purchase draws) must yield
    NULL AUC in both engines."""
    d = tmp_path_factory.mktemp("auc")
    _write_events(d, rows)
    ok, msg = _run_both("agg-auc-rank", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW_P, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_attribution_differential(rows, spark, tmp_path_factory):
    """Random touch/purchase interleavings: purchases with no prior
    touch (direct), touches outside the 7-day lookback (the day
    offsets span 29 days), same-timestamp touch+purchase ordering."""
    d = tmp_path_factory.mktemp("attr")
    _write_events(d, rows)
    ok, msg = _run_both("window-attribution", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW_P, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_srm_differential(rows, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("srm")
    _write_events(d, rows)
    ok, msg = _run_both("agg-srm-check", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW_P, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_welch_ttest_differential(rows, spark, tmp_path_factory):
    """Random user/spend draws: single-variant corpora (all users hash
    to one side -> NULL t), singleton cohorts (n=1 -> NULL), zero
    pooled variance (every user identical spend), NULL-value users."""
    d = tmp_path_factory.mktemp("welch")
    _write_events(d, rows)
    ok, msg = _run_both("agg-welch-ttest", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW_P, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_chisq_differential(rows, spark, tmp_path_factory):
    """Sparse contingency tables exercise the zero-cell completion
    (missing (bucket, type) pairs contribute expected-only cells),
    single-row / single-column tables hit the residual guard, and
    duplicate-heavy draws land contributions on 9-dp ties."""
    d = tmp_path_factory.mktemp("chisq")
    _write_events(d, rows)
    ok, msg = _run_both("agg-chisq-independence", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW_P, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_cusum_differential(rows, spark, tmp_path_factory):
    """Random daily series: single-day series (CUSUM telescopes to 0,
    that day is the changepoint), tied |CUSUM| maxima (earliest-day
    rule), zero-total series (NULL normalized statistic)."""
    d = tmp_path_factory.mktemp("cusum")
    _write_events(d, rows)
    ok, msg = _run_both("window-cusum-changepoint", spark, d, ["events"])
    assert ok, msg


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # user
            st.integers(min_value=0, max_value=4),  # entity k
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_assortativity_differential(rows, spark, tmp_path_factory):
    """Random sparse graphs: empty edge sets (no co-interaction pair
    -> zero-row moments, NULL r), regular graphs (zero degree
    variance -> den=0 -> NULL), stars (strongly negative r)."""
    d = tmp_path_factory.mktemp("assort")
    padded = [rows[i % len(rows)] for i in range(20 * len(rows))]
    _write_graph_events(d, padded)
    ok, msg = _run_both("graph-assortativity", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW_P, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_rolling_corr_differential(rows, spark, tmp_path_factory):
    """Random daily series: windows with one day (NULL), constant
    series (zero variance -> NULL), gapped days exercising the RANGE
    frame (a 29-day offset span vs the 14-day window)."""
    d = tmp_path_factory.mktemp("rcorr")
    _write_events(d, rows)
    ok, msg = _run_both("window-rolling-corr", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW_P, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_gini_differential(rows, spark, tmp_path_factory):
    """Duplicate-heavy spends force tie runs through the rank
    identity; singleton populations (gini=0), NULL-value users
    (zero-cent contributors), decile boundaries at tiny n."""
    d = tmp_path_factory.mktemp("gini")
    _write_events(d, rows)
    ok, msg = _run_both("agg-gini-coefficient", spark, d, ["events"])
    assert ok, msg


@given(rows=st.lists(_EVENT_ROW_P, min_size=1, max_size=25))
@settings(**_SETTINGS)
def test_useragent_differential(rows, spark, tmp_path_factory):
    """The synth fragment is deterministic in event_id, so this pins
    that both engines evaluate the shared synth+parse SQL identically
    across arbitrary event_id populations (including none selected by
    the modulus filter)."""
    d = tmp_path_factory.mktemp("ua")
    _write_events(d, rows)
    ok, msg = _run_both("fn-useragent-parse", spark, d, ["events"])
    assert ok, msg


@given(
    orows=st.lists(_ORDER_ROW, min_size=1, max_size=25),
    crows=st.lists(_CUST_ROW, min_size=1, max_size=10),
)
@settings(**_SETTINGS)
def test_hhi_differential(orows, crows, spark, tmp_path_factory):
    """Orphan orders (custkey beyond the customer table) drop out of
    the join in both engines; single-customer segments read HHI=1."""
    d = tmp_path_factory.mktemp("hhi")
    _write_orders(d, orows)
    _write_customer(d, crows)
    ok, msg = _run_both(
        "agg-hhi-concentration", spark, d, ["orders", "customer"]
    )
    assert ok, msg


@given(
    orows=st.lists(_ORDER_ROW, min_size=1, max_size=25),
    crows=st.lists(_CUST_ROW, min_size=1, max_size=10),
)
@settings(**_SETTINGS)
def test_interorder_gap_differential(orows, crows, spark, tmp_path_factory):
    """Same-day duplicate orders exercise the orderkey tiebreak and
    zero-day gaps; single-order customers contribute nothing."""
    d = tmp_path_factory.mktemp("iog")
    _write_orders(d, orows)
    _write_customer(d, crows)
    ok, msg = _run_both(
        "window-interorder-gap", spark, d, ["orders", "customer"]
    )
    assert ok, msg
