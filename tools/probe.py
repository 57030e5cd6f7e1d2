"""Per-invocation probe of named keys: plan-cache reuse, then warm
build/exec timing.

    python tools/probe.py [--bypass-plan-cache] sf_dir KEY...

Per key, two lines:

* ``reuse`` — a cold invocation (build + materialize) and a second one
  (a plan-cache hit for a ``pure`` key): build and exec seconds and
  Spark jobs of each, a check that both hash equal, and the parquet
  scans and ReusedExchange nodes of the plan the second invocation
  executed (AQE's final plan).
* ``warm`` — min and median build, exec and total seconds over 4 more
  invocations.

With ``--bypass-plan-cache`` every ``pure`` key builds for real on every
invocation (the honest per-invocation cost of a barrier form); without
it, a pure key's invocations after the first are plan-cache hits (the
honest cost of a lazy form).
"""

from __future__ import annotations

import contextlib
import statistics
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

REPS = 4


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--bypass-plan-cache"]
    bypass = "--bypass-plan-cache" in sys.argv
    sf_dir, keys = args[0], args[1:]
    from spark_file_mover_spark import profile, registry
    from spark_file_mover_spark.planaudit import scan_census
    from spark_file_mover_spark.session import get_spark

    registry.load_all()
    spark = get_spark("probe")
    with profile.plan_cache_bypassed() if bypass else contextlib.nullcontext():
        for key in keys:
            cold = profile.timed(spark, key, sf_dir)
            hit = profile.timed(spark, key, sf_dir)
            assert cold.hash == hit.hash, (key, cold.hash, hit.hash)
            plan = profile.final_plan(hit.ran)
            tree = plan.split("\n\n")[0]
            print(
                f"{key}\treuse build_cold={cold.build_s:.2f}s"
                f" exec_cold={cold.exec_s:.2f}s"
                f" jobs_cold={cold.build_jobs}+{cold.exec_jobs}"
                f"\tbuild_hit={hit.build_s:.2f}s exec_hit={hit.exec_s:.2f}s"
                f" jobs_hit={hit.build_jobs}+{hit.exec_jobs}"
                f"\tscans={sum(scan_census(plan).values())}"
                f" reused={tree.count('ReusedExchange')}",
                flush=True,
            )
            reps = [profile.timed(spark, key, sf_dir) for _ in range(REPS)]
            cols = {
                "build": [r.build_s for r in reps],
                "exec": [r.exec_s for r in reps],
                "tot": [r.total_s for r in reps],
            }
            print(
                f"{key}\twarm "
                + " ".join(
                    f"{name}_min={min(v):.3f} {name}_med={statistics.median(v):.3f}"
                    for name, v in cols.items()
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
