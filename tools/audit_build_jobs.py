"""Audit: which ``pure`` registry keys run Spark jobs at BUILD time?

A key registered with ``@query(..., pure=True)`` must be lazy
construction only: on a cache hit the stored plan re-executes from the
parquet inputs, so anything the BUILD executes eagerly (localCheckpoint
barriers, collects, persist().count() outside a declared artifact
cache) is computed once and silently served from the materialized
intermediate afterwards — result caching, not plan caching.

Method (``profile.warm_build_audit``): for every key in
``registry.PURE``, bypass the plan cache (so the real build runs) and
count the Spark jobs submitted DURING CONSTRUCTION (no action). The
first build warms the declared per-(SparkContext, corpus) ingest
artifacts (tf relation, minhash bands, asset corpora, …) whose build
jobs are blessed paid-once ingest; the SECOND build's job count is the
per-invocation eager work. Keys with second-build jobs > 0 may not be
``pure``.

Usage: python tools/audit_build_jobs.py [sf_dir]
Prints one line per pure key: key, first-build jobs, second-build
jobs, and OFFENDER for second-build > 0. Exits 1 when any key is an
OFFENDER or fails to build.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from spark_file_mover_spark import profile, registry
    from spark_file_mover_spark.session import get_spark

    registry.load_all()
    spark = get_spark("audit-build-jobs")
    print(f"# {len(registry.PURE)} pure keys", file=sys.stderr)

    offenders, errors = [], []
    for a in profile.warm_build_audit(spark, sf_dir):
        if a.error is not None:
            print(f"{a.key}\tERROR\t{a.error}")
            errors.append(a.key)
            continue
        flag = "OFFENDER" if a.second_jobs > 0 else "ok"
        print(f"{a.key}\t{a.first_jobs}\t{a.second_jobs}\t{flag}")
        if a.second_jobs > 0:
            offenders.append(a.key)
    print(f"# offenders ({len(offenders)}): {offenders}", file=sys.stderr)
    if errors:
        print(f"# errors ({len(errors)}): {errors}", file=sys.stderr)
    return 1 if offenders or errors else 0


if __name__ == "__main__":
    sys.exit(main())
