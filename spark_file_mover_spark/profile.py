"""One measurement path for the tools, the tests and ``bench.py``: the
materializing consume, formatted plan text, DuckDB oracle views, the
plan-cache bypass, the seconds and Spark jobs of a call, and the
warm-build audit of the ``pure`` keys.

Jobs are counted by the job-id window around a call, not by job group:
with one client every job in the window is the call's, including jobs
it submits from its own threads, and the caller's job group is left
alone.
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Callable, Iterator
from typing import NamedTuple, TypeVar

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_file_mover_spark import registry
from spark_file_mover_spark.sources import io as sio
from spark_file_mover_spark.sources.io import TABLES

T = TypeVar("T")


def materialize(df: DataFrame) -> int:
    """Execute the full plan: xxhash64 over all output columns, folded
    with bit_xor (overflow-free under ANSI mode). Every column of every
    row is computed and consumed; the collected result is one row.
    ``df.count()`` is no substitute: it lets Catalyst delete projections
    and windows that do not change cardinality."""
    return _materialized(df)[0]


def _materialized(df: DataFrame) -> tuple[int, DataFrame]:
    """:func:`materialize`'s hash and the one-row DataFrame it executed:
    once run, that DataFrame's :func:`formatted_plan` is AQE's final
    plan (``isFinalPlan=true``) of ``df``'s query, while ``df``'s own
    never executed and shows the initial one."""
    ran = df.select(
        F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).alias("h")
    ).agg(F.bit_xor("h").alias("s"))
    return ran.collect()[0][0] or 0, ran


def formatted_plan(df: DataFrame) -> str:
    """``df.explain('formatted')`` as a string. Runs no job."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def final_plan(ran: DataFrame) -> str:
    """:func:`formatted_plan` of a DataFrame that has executed, its tree
    cut to AQE's final plan (``isFinalPlan=true``): each operator that
    ran appears once, with stage reuse as ReusedExchange. The uncut
    tree also prints the initial plan, whose scans no reuse removed."""
    tree, _, details = formatted_plan(ran).partition("\n\n")
    return tree.split("+- == Initial Plan ==")[0] + "\n\n" + details


def oracle_connection(sf_dir: str, tables=TABLES):
    """A DuckDB connection with each of ``tables`` registered as a view
    over ``<sf_dir>/<table>.parquet``; the caller closes it."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@contextlib.contextmanager
def plan_cache_bypassed() -> Iterator[None]:
    """Within the block every ``pure`` key runs its real build instead of
    a ``sources.io.cached_plan`` hit; the cache is restored on exit,
    also when the block raises."""
    real = sio.cached_plan
    sio.cached_plan = lambda spark, sf_dir, name, make: make()
    try:
        yield
    finally:
        sio.cached_plan = real


def _jobs_submitted(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def counted(spark, fn: Callable[[], T]) -> tuple[T, float, int]:
    """``(fn(), seconds, jobs)``: the Spark jobs submitted while ``fn``
    ran, by job-id window."""
    j0 = _jobs_submitted(spark)
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    return out, dt, _jobs_submitted(spark) - j0


class Timing(NamedTuple):
    # the DataFrame the exec phase ran; its plan is the executed one
    ran: DataFrame
    hash: int
    build_s: float
    exec_s: float
    build_jobs: int
    exec_jobs: int

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


def timed(spark, key: str, sf_dir: str) -> Timing:
    """One invocation of registry key ``key``: the build, then
    :func:`materialize`, each timed and job-counted."""
    df, build_s, build_jobs = counted(
        spark, lambda: registry.QUERIES[key](spark, sf_dir)
    )
    (h, ran), exec_s, exec_jobs = counted(spark, lambda: _materialized(df))
    return Timing(ran, h, build_s, exec_s, build_jobs, exec_jobs)


class BuildAudit(NamedTuple):
    key: str
    first_jobs: int | None
    second_jobs: int | None
    error: Exception | None = None


def warm_build_audit(spark, sf_dir: str) -> Iterator[BuildAudit]:
    """For every ``pure`` key, in sorted order and with the plan cache
    bypassed: the jobs of a first build (which warms the key's declared
    ingest artifacts) and of a second one. A pure key's second build must
    run no job, or a plan-cache hit would serve a materialized
    intermediate. A key whose build raises yields its error."""

    def build_jobs(key: str) -> int:
        return counted(spark, lambda: registry.QUERIES[key](spark, sf_dir))[2]

    with plan_cache_bypassed():
        for key in sorted(registry.PURE):
            try:
                first, second = build_jobs(key), build_jobs(key)
            except Exception as exc:  # noqa: BLE001 — reported per key
                yield BuildAudit(key, None, None, exc)
                continue
            yield BuildAudit(key, first, second)
