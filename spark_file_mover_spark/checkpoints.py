"""Plan-only gate for derived-relation materialization barriers.

Many builders truncate lineage (and pay a relation's build cost once)
with ``localCheckpoint(eager=True)`` — Pregel round state, the
events-funnel window relations, metadata-scale stats relations consumed
by several joins. Eager is the right production default: the checkpoint
IS the ingest artifact, and paying it at build time keeps per-consumer
cost honest in bench numbers. But it made merely CONSTRUCTING those
DataFrames run Spark jobs, so plan-only tooling
(``tools/dump_plans.py``) was not side-effect-free (ADVICE r11 item 3 /
r12 verdict item 4).

Why not just ``eager=False``: a lazy ``localCheckpoint`` still calls
``queryExecution.toRdd`` at build time, and converting a physical plan
to an RDD *prepares* it — under AQE the final-plan resolution executes
every shuffle stage below the barrier, and even with AQE off,
``prepare()`` submits broadcast futures and blocks on scalar
subqueries. Observed: one to four real corpus jobs per builder either
way. The only barrier that runs NOTHING is one that never converts the
child plan at all.

So :func:`lazy_checkpoints` swaps ``DataFrame.localCheckpoint`` for a
substitute that returns an ``emptyRDD``-backed leaf with the original
schema. Properties that make this faithful for plan tooling:

* the leaf is the SAME node class a real checkpoint leaves behind
  (``LogicalRDD`` / ``Scan ExistingRDD``), so dumped plans and the
  scan-signature census keep their production shape above the barrier;
* an RDD-backed relation is opaque to the optimizer (unlike an empty
  ``LocalRelation``), so ``PropagateEmptyRelation`` cannot rewrite the
  joins above it away;
* nothing below the barrier plans or runs — zero jobs at build time
  (pinned in tests/test_plans.py).

The swap is scoped to the ``with`` block and is TOOLING-ONLY: the
production path (driver, bench, tests' correctness runs) never enters
it and keeps verbatim eager behavior. Builders that consume their
relation at build time (documented bounded-metadata collects: k-means
centroid rounds, pack-sequences shard totals, the dedup-components
convergence count) still run those actions over the empty leaf — they
return empty/zero and the builder composes a plan for an empty corpus,
which is exactly what plan-only tooling can promise.
"""

from __future__ import annotations

import contextlib

# True while inside :func:`lazy_checkpoints`. Cross-invocation caches
# (sources.io.ingest_artifact, and the cached_plan behind every
# ``pure`` registry key) BYPASS both cache read and write under the
# plan-only mode: a plan built against the
# substituted empty-leaf barrier is tooling-shaped, and caching it
# would leak empty relations into later production-mode invocations in
# the same session (observed: the scan-census test suite shares one
# session across lazy and eager tests).
LAZY_ACTIVE = False


@contextlib.contextmanager
def lazy_checkpoints():
    """Build DataFrames without running their checkpoint jobs — see
    the module docstring for why substitution (not ``eager=False``) is
    the only genuinely job-free barrier. For plan-only tooling and
    tests; never active on the production path."""
    from pyspark.sql import DataFrame

    # PySpark 4 splits the public DataFrame (abstract) from the classic
    # implementation subclass; patching only the base would be shadowed
    # by the subclass override, so patch every concrete class we find.
    classes = [DataFrame]
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _Classic

        classes.append(_Classic)
    except ImportError:  # pre-4.0 layout: one class only
        pass

    def _plan_only_barrier(self, eager=True):  # noqa: ANN001 — Spark sig
        spark = self.sparkSession
        return spark.createDataFrame(
            spark.sparkContext.emptyRDD(), self.schema
        )

    origs = [(cls, cls.__dict__.get("localCheckpoint")) for cls in classes]
    for cls in classes:
        cls.localCheckpoint = _plan_only_barrier
    global LAZY_ACTIVE
    prev_active = LAZY_ACTIVE
    LAZY_ACTIVE = True
    try:
        yield
    finally:
        LAZY_ACTIVE = prev_active
        for cls, orig in origs:
            if orig is None:
                del cls.localCheckpoint
            else:
                cls.localCheckpoint = orig
