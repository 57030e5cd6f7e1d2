"""Warm per-invocation timing probe.

For each key: 2 unmeasured warm passes (JIT/codegen), then N reps of
(build + materialize) timed separately. With --bypass-plan-cache the
``sources.io.cached_plan`` behind every ``pure`` registry key is
disabled, so every rep pays the build (the honest per-invocation cost
of a barrier form); without it, a pure key's reps after the first are
plan-cache hits (the honest cost of a lazy form).

Usage: python tools/probe_ab.py [--bypass-plan-cache] sf_dir key...
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

from bench import materialize  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--bypass-plan-cache"]
    bypass = "--bypass-plan-cache" in sys.argv
    sf_dir = args[0]
    keys = args[1:]
    from spark_file_mover_spark import registry
    from spark_file_mover_spark.session import get_spark
    from spark_file_mover_spark.sources import io as sio

    registry.load_all()
    spark = get_spark("probe-ab")
    if bypass:
        sio.cached_plan = lambda spark, sf_dir, name, make: make()

    reps = 4
    for key in keys:
        for _ in range(2):  # warm: JIT + artifact caches + plan cache
            materialize(registry.QUERIES[key](spark, sf_dir))
        rows = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = registry.QUERIES[key](spark, sf_dir)
            t1 = time.perf_counter()
            materialize(df)
            t2 = time.perf_counter()
            rows.append((t1 - t0, t2 - t1))
        builds = sorted(b for b, _ in rows)
        execs = sorted(e for _, e in rows)
        tots = sorted(b + e for b, e in rows)
        print(
            f"{key}\tbuild_min={builds[0]:.3f} exec_min={execs[0]:.3f}"
            f" tot_min={tots[0]:.3f} tot_med={tots[len(tots) // 2]:.3f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
