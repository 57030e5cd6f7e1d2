"""Simulate the grading driver's t2 correctness run end-to-end: a plain
SparkSession (no engine session factory), every ``queries()`` key in
scoring order (or just the named keys), DuckDB oracle compare where
declared, rows-only otherwise. Prints per-key status, wall time and the
oracle's own DuckDB time, a slowest-last summary and a final tally — run
under a non-UTC TZ to also catch host-timezone dependence:

    TZ=America/New_York python tools/driver_sim.py [KEY ...] [--sf DIR] [--show]

``--show`` prints the head of each key's Spark result. A full run (no
KEY) starts with the driver's ``entry()`` smoke.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*", help="subset of keys (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--show", action="store_true", help="print spark head")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from parity import compare
    from spark_file_mover_spark.profile import oracle_connection

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    if not args.keys:
        t0 = time.perf_counter()
        assert len(e.entry(spark).collect()) > 0, "entry() smoke failed"
        print(f"entry() smoke OK ({time.perf_counter() - t0:.1f}s)")

    qs, osql = e.queries(), e.oracle_sql()
    con = oracle_connection(args.sf)

    t_start = time.perf_counter()
    n_pass = n_rows_only = 0
    failures: list[str] = []
    timings: list[tuple[str, float, float]] = []
    for key in args.keys or qs:
        if key not in qs:
            print(f"{key}: NOT REGISTERED")
            failures.append(key)
            continue
        t0 = time.perf_counter()
        t_duck = 0.0
        try:
            df = qs[key](spark, args.sf)
            if args.show:
                df.show(10, truncate=80)
            if key in osql:
                ok, msg = compare(df, con.sql(osql[key]))
                status = "pass" if ok else f"FAIL {msg}"
                n_pass += ok
                # the oracle's own time, from a second run: inside
                # compare it interleaves with Spark's collect
                t1 = time.perf_counter()
                con.sql(osql[key]).fetchall()
                t_duck = time.perf_counter() - t1
            else:
                n = len(df.collect())
                ok = n > 0
                status = f"rows-only ({n})" if ok else "FAIL empty"
                n_rows_only += ok
            if not ok:
                failures.append(key)
        except Exception as ex:  # noqa: BLE001 — driver records errors per key
            status = f"ERROR {type(ex).__name__}: {ex}"
            failures.append(key)
        dt = time.perf_counter() - t0 - t_duck
        timings.append((key, dt, t_duck))
        print(f"{key:32s} {dt:5.2f}s duck={t_duck:5.2f}s {status}", flush=True)

    total = time.perf_counter() - t_start
    if len(timings) > 1:
        print("\n--- slowest last ---")
        for key, dt, t_duck in sorted(timings, key=lambda t: t[1]):
            print(f"{key:32s} {dt:5.2f}s duck={t_duck:5.2f}s")
    print(
        f"\n{n_pass} hash-pass + {n_rows_only} rows-only of "
        f"{len(args.keys or qs)} keys in {total:.1f}s; "
        f"failures: {failures or 'none'}"
    )
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
