"""``profile``'s job counting and plan-cache bypass on ``spark.range``
(data-free)."""

from __future__ import annotations

import pytest

from spark_file_mover_spark import registry
from spark_file_mover_spark.profile import (
    counted,
    final_plan,
    formatted_plan,
    materialize,
    plan_cache_bypassed,
    timed,
)
from spark_file_mover_spark.sources import io as sio


def test_eager_build_counts_jobs_lazy_build_none(spark):
    _, _, eager = counted(spark, lambda: spark.range(1000).localCheckpoint())
    _, _, lazy = counted(spark, lambda: spark.range(1000).selectExpr("id * 2 AS x"))
    assert eager >= 1
    assert lazy == 0


def test_execution_counts_jobs(spark):
    df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    rows, seconds, jobs = counted(spark, df.collect)
    assert len(rows) == 7
    assert seconds > 0
    assert jobs >= 1


def test_jobs_from_inheritable_threads_are_counted(spark):
    """A job submitted on a thread the call starts is the call's job,
    whatever job group that thread carries."""
    from pyspark import InheritableThread

    def on_a_thread():
        t = InheritableThread(target=lambda: spark.range(10).collect())
        t.start()
        t.join()

    assert counted(spark, on_a_thread)[2] >= 1


def test_bypass_restores_cached_plan_after_raise():
    real = sio.cached_plan
    with pytest.raises(RuntimeError):
        with plan_cache_bypassed():
            assert sio.cached_plan is not real
            assert sio.cached_plan(None, "", "k", lambda: 42) == 42
            raise RuntimeError("build failed")
    assert sio.cached_plan is real


def test_timed_keeps_the_executed_final_plan(spark, monkeypatch):
    """``Timing.ran`` is what the exec phase ran. Its final plan shows
    the self-join's second aggregate as stage reuse over ONE range scan;
    the uncut text also prints the initial plan's two scans, and the
    built DataFrame itself never executes."""
    agg = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    df = agg.join(agg.withColumnRenamed("count", "n"), "k")
    monkeypatch.setitem(registry.QUERIES, "range-self-join", lambda s, d: df)
    t = timed(spark, "range-self-join", "")
    final = final_plan(t.ran)
    tree = final.split("\n\n")[0]
    assert "isFinalPlan=true" in final
    assert tree.count("Range (") == 1 and tree.count("ReusedExchange") == 1
    uncut = formatted_plan(t.ran).split("\n\n")[0]
    assert uncut.count("Range (") == 3
    assert "isFinalPlan=false" in formatted_plan(df)
    assert t.hash == materialize(df)
