"""One-off probe: for the de-barriered keys, verify the shared
aggregate subtree is executed ONCE per action (AQE stage reuse), count
jobs on plan-cache hit, and print the scan census of the final plan.

Usage: python tools/probe_reuse.py [sf_dir] key [key ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

from bench import materialize  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.1"
    keys = [a for a in args if "/" not in a]
    from spark_file_mover_spark import registry
    from spark_file_mover_spark.session import get_spark

    registry.load_all()
    spark = get_spark("probe-reuse")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    for key in keys:
        # cold build + action
        g = f"cold-{key}"
        sc.setJobGroup(g, key)
        t0 = time.perf_counter()
        df = registry.QUERIES[key](spark, sf_dir)
        t1 = time.perf_counter()
        h1 = materialize(df)
        t2 = time.perf_counter()
        sc.setJobGroup(None, None)
        cold_jobs = len(tracker.getJobIdsForGroup(g))

        # hit build + action
        g2 = f"hit-{key}"
        sc.setJobGroup(g2, key)
        t3 = time.perf_counter()
        df2 = registry.QUERIES[key](spark, sf_dir)
        t4 = time.perf_counter()
        h2 = materialize(df2)
        t5 = time.perf_counter()
        sc.setJobGroup(None, None)
        hit_jobs = len(tracker.getJobIdsForGroup(g2))
        assert h1 == h2, (key, h1, h2)

        # final executed plan: count parquet scans + reused stages
        final = df2._jdf.queryExecution().executedPlan().toString()
        n_scan = final.count("Scan parquet")
        n_reused = final.count("ReusedQueryStage") + final.count(
            "ReusedExchange"
        )
        print(
            f"{key}\tbuild_cold={t1 - t0:.2f}s exec_cold={t2 - t1:.2f}s"
            f" jobs_cold={cold_jobs}\tbuild_hit={t4 - t3:.2f}s"
            f" exec_hit={t5 - t4:.2f}s jobs_hit={hit_jobs}"
            f"\tfinal_scans={n_scan} reused={n_reused}",
            flush=True,
        )


if __name__ == "__main__":
    main()
