"""r16 (verdict item 1): the plan cache may never become a result
cache.

Two contracts, pinned with Spark job counts:

* a plan-cache HIT must still run Spark jobs below the former barrier
  — the corpus scan re-executes per action (for a key whose r15 build
  ran an eager ``localCheckpoint``, a hit used to serve the
  materialized intermediate and only the tiny post-barrier remainder
  executed);
* a key whose build legitimately KEEPS an eager barrier (collect /
  range-bound determinism / scale-critical materialization) must not
  be ``pure`` at all: its second invocation re-runs the barrier jobs
  at BUILD time.

Plus the registry-wide invariant the r16 audit enforces: no key in
``registry.PURE`` runs jobs during a warm (artifact caches populated)
build.
"""

from __future__ import annotations

from spark_file_mover_spark import registry
from spark_file_mover_spark.profile import counted, warm_build_audit
from spark_file_mover_spark.sources import io as sio

registry.load_all()

SF = "/root/testdata/sf0.001"

# r15 offenders de-barriered in r16: build is pure lazy construction,
# the key stays ``pure`` — a hit must re-read parquet on every action.
DEBARRIERED = "agg-kendall-tau"
# r15 offenders whose barrier is load-bearing: not ``pure`` — the
# second invocation must re-run the barrier jobs in the build.
STRIPPED = "agg-tukey-fences"


def test_plan_cache_hit_runs_corpus_jobs(spark):
    # cold: populate the plan cache
    df1 = registry.QUERIES[DEBARRIERED](spark, SF)
    rows1 = df1.collect()

    # hit: build must be job-free, the ACTION must run >0 jobs (the
    # corpus scan re-executes below the former barrier)
    df2, _, build_jobs = counted(
        spark, lambda: registry.QUERIES[DEBARRIERED](spark, SF)
    )
    assert build_jobs == 0, "plan-cached build ran Spark jobs"
    assert any(k[1] == DEBARRIERED for k in sio._QUERY_PLAN_CACHE)
    rows2, _, action_jobs = counted(spark, df2.collect)
    assert action_jobs > 0, "cache hit executed no jobs: result caching"
    assert rows1 == rows2
    # the hit plan's leaves are the parquet inputs, not a materialized
    # intermediate (LogicalRDD / Scan ExistingRDD)
    analyzed = df2._jdf.queryExecution().analyzed().toString()
    assert "Relation" in analyzed and "parquet" in analyzed
    assert "LogicalRDD" not in analyzed


def test_stripped_barrier_key_rebuilds_per_invocation(spark):
    # first invocation: barrier runs
    df1, _, jobs1 = counted(spark, lambda: registry.QUERIES[STRIPPED](spark, SF))
    assert jobs1 > 0, "expected the eager barrier to run at build time"
    # second invocation: NOT plan-cached, barrier runs again
    df2, _, jobs2 = counted(spark, lambda: registry.QUERIES[STRIPPED](spark, SF))
    assert jobs2 > 0, (
        "second build ran no jobs — the key is result-cached somewhere"
    )
    assert not any(k[1] == STRIPPED for k in sio._QUERY_PLAN_CACHE)
    assert df1.collect() == df2.collect()


def test_no_pure_key_has_eager_build(spark):
    """Registry-wide: every ``pure`` key's SECOND build (artifact
    caches warm) is job-free. Runs at sf0.001 so the sweep stays
    cheap; ``tools/audit_build_jobs.py`` runs the same
    ``profile.warm_build_audit`` at sf0.01."""
    # the 197 former decorator keys plus the 15 multimodal asset keys
    assert len(registry.PURE) >= 212
    offenders = {}
    for a in warm_build_audit(spark, SF):
        if a.error is not None:
            raise a.error
        if a.second_jobs:
            offenders[a.key] = a.second_jobs
    assert not offenders, f"pure keys with eager builds: {offenders}"
