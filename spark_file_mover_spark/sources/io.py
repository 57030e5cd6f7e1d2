"""Table loading for the driver testdata star schema.

``load_table`` is the single entry point every declared query uses; it
keeps the scan declarative (``spark.read.parquet``) so Catalyst gets
predicate pushdown, column pruning and partition pruning for free.
At 100 TB the same call works against a partitioned table directory —
nothing here assumes a single file. Table reads and their split counts
are cached like every other per-corpus value, as
:func:`ingest_artifact` entries.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def corpus_fingerprint(sf_dir: str) -> tuple:
    """Cheap content fingerprint of the testdata tables under ``sf_dir``:
    every ``*.parquet`` entry's (name, size, mtime_ns), as a tuple —
    equality is all callers need, and the raw tuple can't collide.

    Regenerating a corpus IN PLACE at the same path rewrites the files,
    so their sizes/mtimes change and every artifact cache keyed through
    :func:`artifact_cache_key` misses instead of silently serving
    results computed from the old bytes (the r8 cache-contract gap: the
    (appId, sf_dir) key only detected *switching* directories). Cost is
    ~10 stat calls per lookup — re-statted every call on purpose, since
    caching the fingerprint would reintroduce the staleness it exists
    to catch. Directory-shaped tables (partitioned/multi-file datasets)
    are walked one level of files deep, which covers any rewrite that
    replaces or appends data files."""
    parts: list[tuple[str, int, int]] = []
    try:
        entries = sorted(os.scandir(sf_dir), key=lambda e: e.name)
    except FileNotFoundError:
        return ()
    for e in entries:
        if not e.name.endswith(".parquet"):
            continue
        if e.is_file():
            st = e.stat()
            parts.append((e.name, st.st_size, st.st_mtime_ns))
        elif e.is_dir():
            for root, _dirs, files in os.walk(e.path):
                for fname in sorted(files):
                    st = os.stat(os.path.join(root, fname))
                    parts.append(
                        (f"{e.name}/{fname}", st.st_size, st.st_mtime_ns)
                    )
    return tuple(parts)


def artifact_cache_key(spark: SparkSession, sf_dir: str) -> tuple:
    """Key for cross-invocation materialized artifacts derived from a
    corpus (minhash bands, IVF assignments, span gram relations, Bloom
    summaries, graph adjacency, kmeans models, …): a cache entry is
    valid only while (a) the SparkContext that owns its blocks is alive
    (applicationId) and (b) the input files are byte-identical
    (:func:`corpus_fingerprint`)."""
    return (
        spark.sparkContext.applicationId,
        sf_dir,
        corpus_fingerprint(sf_dir),
    )


# (artifact_cache_key, name) → value built by ingest_artifact's ``build``.
_ARTIFACTS: dict[tuple, object] = {}
# (artifact_cache_key, query name) → built (lazy) DataFrame; see cached_plan.
_QUERY_PLAN_CACHE: dict[tuple, DataFrame] = {}
# name → (applicationId, value); see session_memo.
_SESSION_MEMOS: dict[str, tuple[str, object]] = {}


def _lookup(
    store: dict, name: str, spark: SparkSession, sf_dir: str, build, evict
):
    """(value, hit) for ``name`` over the corpus at ``sf_dir``: one live
    entry per name, older entries passed to ``evict`` BEFORE ``build``
    runs. An entry whose scratch directory is gone (an OS temp reaper)
    is a miss."""
    key = (artifact_cache_key(spark, sf_dir), name)
    if key in store and all(
        os.path.exists(p) for p in _scratch_paths(store[key])
    ):
        return store[key], True
    for k in [k for k in store if k[1] == name]:
        evict(store.pop(k))
    store[key] = build()
    return store[key], False


def _leaves(value):
    """Every non-container value in ``value`` (tuples, lists and dict
    values walked)."""
    if isinstance(value, (tuple, list)):
        for v in value:
            yield from _leaves(v)
    elif isinstance(value, dict):
        for v in value.values():
            yield from _leaves(v)
    else:
        yield value


def _release(value) -> None:
    """Free what an evicted artifact holds: every DataFrame in ``value``
    is unpersisted, a DataFrame that IS a ``LogicalRDD`` (a checkpoint)
    also unpersists that RDD — ``DataFrame.unpersist()`` alone leaves
    ``localCheckpoint`` blocks registered — and every path inside a
    :func:`scratch_dir` directory removes that directory."""
    from py4j.protocol import Py4JError

    for path in _scratch_paths(value):
        top = os.path.relpath(path, _SCRATCH_ROOT).split(os.sep)[0]
        shutil.rmtree(os.path.join(_SCRATCH_ROOT, top), ignore_errors=True)
    for df in _leaves(value):
        if not isinstance(df, DataFrame):
            continue
        try:
            df.unpersist()
            plan = df._jdf.queryExecution().logical()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)
        except Py4JError:
            pass  # the entry belongs to a stopped SparkContext


def ingest_artifact(name: str, spark: SparkSession, sf_dir: str, build):
    """Return the ingest artifact ``name`` for the corpus at ``sf_dir``,
    calling the zero-arg ``build`` on a miss. THE cache for relations
    (and driver-side values such as counts or centroids) that are a
    pure function of the input files — table reads and split counts,
    minhash bands, span grams, IVF indexes, graph adjacency, k-means
    models: a deployment builds them once at ingest, so every query
    after the first pays only its own operator. The contract, for every
    artifact:

    * key ``(artifact_cache_key(spark, sf_dir), name)`` — a restarted
      SparkContext, another directory or an in-place rewrite of the
      files misses; sibling names (``km-8``/``km-64``) coexist;
    * one live entry per name: the superseded entry is evicted BEFORE
      ``build`` runs and every DataFrame in it is released (unpersist,
      plus the RDD of a checkpoint) — a persisted relation of the old
      bytes left behind would be matched by Spark's CacheManager
      against the rebuilt plan of a same-path rewrite and serve the
      old corpus;
    * files: a value may hold paths inside anonymous
      :func:`scratch_dir` directories (written fixtures); eviction
      removes those directories, and a hit whose directory is gone is
      a miss.

    Not thread-safe: one query builds at a time."""
    return _lookup(_ARTIFACTS, name, spark, sf_dir, build, _release)[0]


# This process's scratch root; see scratch_dir.
_SCRATCH_ROOT: str | None = None
# name → the directory scratch_dir last handed out for it.
_SCRATCH_NAMED: dict[str, str] = {}
_ROOT_RE = re.compile(r"sfm-(\d+)-")


def owner_alive(pid: int) -> bool:
    """Whether process ``pid`` exists — the predicate every sweep of a
    dead process's files uses. Only ``ProcessLookupError`` means dead:
    ``PermissionError`` is a live process owned by another user."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _scratch_root() -> str:
    """This process's scratch root ``<tmp>/sfm-<pid>-*``, made on first
    use after removing the roots of dead processes, and removed at
    exit."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        tmp = tempfile.gettempdir()
        for entry in os.listdir(tmp):
            m = _ROOT_RE.match(entry)
            if m and not owner_alive(int(m.group(1))):
                shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix=f"sfm-{os.getpid()}-")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return _SCRATCH_ROOT


def _scratch_paths(value) -> list[str]:
    """The paths in ``value`` that lie inside this process's scratch
    root."""
    if _SCRATCH_ROOT is None:
        return []
    root = _SCRATCH_ROOT + os.sep
    return [
        v for v in _leaves(value) if isinstance(v, str) and v.startswith(root)
    ]


def scratch_dir(name: str | None = None) -> str:
    """A fresh directory for files a query writes — THE owner of
    scratch space in the package. Every directory lives under one
    per-process root that is removed at exit; the first call also
    removes the roots left by dead processes.

    With a ``name`` (a query key), the directory handed out for that
    name by the previous call is removed first: a returned DataFrame
    reads its files lazily, so a key's output stays readable until the
    key is invoked again, and each name holds at most one directory.
    Without a ``name`` the directory lives until exit, or until the
    :func:`ingest_artifact` entry whose value holds a path inside it is
    evicted — the form for fixtures cached across invocations."""
    root = _scratch_root()
    if name is None:
        return tempfile.mkdtemp(dir=root)
    prev = _SCRATCH_NAMED.pop(name, None)
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    _SCRATCH_NAMED[name] = tempfile.mkdtemp(prefix=f"{name}-", dir=root)
    return _SCRATCH_NAMED[name]


def session_memo(name: str, spark: SparkSession, build):
    """Return the value ``build()`` made for ``name`` in this
    SparkContext, rebuilding after a restart (keyed on
    applicationId). For unresolved Column trees: immutable expressions
    bound to no plan or corpus, so reuse across queries is safe, and
    their py4j construction (hundreds of gateway round trips on the
    binary-walk and fold-heavy keys) is paid once per context."""
    app = spark.sparkContext.applicationId
    hit = _SESSION_MEMOS.get(name)
    if hit is None or hit[0] != app:
        hit = _SESSION_MEMOS[name] = (app, build())
    return hit[1]


def cached_plan(spark: SparkSession, sf_dir: str, name: str, make):
    """Return the built plan for query ``name`` or build it via the
    zero-arg ``make`` — keyed like :func:`ingest_artifact`.
    The registry calls it for every ``@query(..., pure=True)`` key (see
    :func:`~spark_file_mover_spark.registry.query`). A PLAN cache, not
    a result cache: the returned DataFrame re-executes on every action,
    only the Column-tree construction and eager analysis (0.2-0.8 s on
    expression-heavy keys) are paid once per (SparkContext, corpus).
    Evicted plans are dropped, not released — they own no storage."""
    df, hit = _lookup(
        _QUERY_PLAN_CACHE, name, spark, sf_dir, make, lambda _df: None
    )
    # HIT: hand back a fresh no-op projection over the cached logical
    # plan, not the stored Dataset itself — a Dataset that has already
    # executed renders its AQE FINAL plan on explain (isFinalPlan=true),
    # which would make plan dumps order-dependent. select("*") is
    # removed by RemoveNoopOperators, so the physical plan is identical
    # to a cold build; the cost is ONE analyzer pass over the resolved
    # tree instead of the per-operator construction+analysis chain.
    return df.select("*") if hit else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan), an
    :func:`ingest_artifact` named ``table-<name>``: repeat calls for
    the same corpus return the same object and skip the driver-side
    footer read and file listing (~0.1 s a table).

    Every call — hit or miss — pins the session timezone to UTC so
    timestamp-derived values are stable regardless of driver host
    timezone (runtime-settable conf; direct callers outside the
    registry's ``tune_session`` wrapper rely on this)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def read() -> DataFrame:
        if name != "events":
            return spark.read.parquet(f"{sf_dir}/{name}.parquet")
        # events.ts has shipped in two physical encodings across testdata
        # generations: parquet INT64 TIMESTAMP(NANOS) (which Spark's reader
        # rejects unless nanosAsLong is set) and plain timestamp[us]. Read
        # with nanosAsLong enabled, then normalize whatever surfaced to
        # TimestampType:
        #   long           → raw nanos: integer-divide to µs (float division
        #                    would lose sub-µs bits above 2^53); DuckDB
        #                    truncates ns→µs the same way, so oracles agree.
        #   timestamp_ntz  → value-preserving cast to TIMESTAMP (session tz
        #                    is pinned UTC above, so the wall-clock is kept).
        # The legacy conf is scoped to this read (set → plan → restore) so
        # it doesn't leak into how other nanos parquet columns are decoded.
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            ts_type = df.schema["ts"].dataType.typeName()
            if ts_type in ("long", "integer"):
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif ts_type != "timestamp":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        return df

    return ingest_artifact(f"table-{name}", spark, sf_dir, read)


def wide_scan(
    spark: SparkSession, sf_dir: str, table: str, cols: list[str]
) -> DataFrame:
    """``cols`` of ``table``, spread across all cores when — and ONLY
    when — the scan arrives in fewer splits than the session's default
    parallelism. At test scale a small parquet is one split, so without
    an exchange the heavy per-row map work downstream runs on one core;
    at cluster scale the scan already arrives wide and NO exchange is
    added, so a well-partitioned input never pays a gratuitous shuffle.

    The split count is probed with ``rdd.getNumPartitions()`` (a plan →
    RDD conversion, ~0.1 s of driver latency), not a file count: 1 000
    multi-GB parquet files scan as hundreds of thousands of splits, and
    mistaking that for "under-parallel" would add the exact full shuffle
    the gate exists to avoid. Within one SparkContext the count depends
    only on the files, so it is the ingest artifact ``splits-<table>``,
    probed once per (SparkContext, corpus)."""
    df = load_table(spark, sf_dir, table)
    splits = ingest_artifact(
        f"splits-{table}", spark, sf_dir, lambda: df.rdd.getNumPartitions()
    )
    target = spark.sparkContext.defaultParallelism
    narrow = df.select(*cols)
    return narrow.repartition(target) if splits < target else narrow
