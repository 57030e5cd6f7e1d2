"""Dump `.explain('formatted')` for named keys into plans/<round>/.

    python tools/plan_key.py --suffix after --out plans/r15 KEY [KEY...]

Each key is built through the production path, so the dumped plan is
the plan that runs. Run from any tree: paths resolve relative to this
file's repo.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--out", default="plans/r15")
    args = ap.parse_args()

    from spark_file_mover_spark import registry
    from spark_file_mover_spark.profile import formatted_plan
    from spark_file_mover_spark.session import get_spark

    registry.load_all()
    spark = get_spark("plankey", cpus=8)
    outdir = Path(args.out)
    outdir.mkdir(parents=True, exist_ok=True)
    for key in args.keys:
        plan = formatted_plan(registry.QUERIES[key](spark, args.sf))
        path = outdir / f"{key}_{args.suffix}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
