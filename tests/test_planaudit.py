"""The scan census of ``planaudit`` on plan text alone (data-free): one
parser for the census and the signatures, one census order for every
hash seed, and no random file name as a census key."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from spark_file_mover_spark.planaudit import (
    max_signature_count,
    scan_census,
    scan_signatures,
)

REPO = Path(__file__).resolve().parent.parent


def _plan(*scans: tuple[str, str]) -> str:
    """A formatted plan with one parquet-scan leaf per (Location,
    PushedFilters) pair. The tree prints leaf 1 twice, as AQE prints a
    node under both its initial and its final plan: one node id, one
    execution."""
    n = len(scans)
    tree = ["== Physical Plan ==", f"Union ({n + 1})"]
    tree += [f":- Scan parquet  ({i})" for i in [1, *range(1, n + 1)]]
    blocks = [
        f"({i}) Scan parquet \nLocation: InMemoryFileIndex [{location}]\n"
        f"PushedFilters: [{filters}]\nReadSchema: struct<x:int>"
        for i, (location, filters) in enumerate(scans, 1)
    ]
    return "\n\n".join(["\n".join(tree), *blocks])


PLAN = _plan(
    ("file:/sf/orders.parquet", ""),
    ("file:/sf/orders.parquet", ""),
    ("file:/sf/orders.parquet", "IsNotNull(o)"),
    ("file:/sf/lineitem.parquet", ""),
)
# A Location that lists data files names the first one, whose name is
# random per write; its directory is stable.
FILES_PLAN = _plan(
    (
        "file:/t/b=1/part-00001-adc7.c000.parquet, "
        "file:/t/b=2/part-00002-adc7.c000.parquet",
        "",
    ),
    ("file:/t/b=1/part-00001-adc7.c000.parquet", ""),
)
# One scan of each of eight tables: a census built in set order comes out
# sorted for almost no hash seed.
TABLES = [f"t{i}.parquet" for i in range(8)]
WIDE_PLAN = _plan(*((f"file:/sf/{t}", "") for t in TABLES))


def test_census_sums_signatures():
    schema = "ReadSchema: struct<x:int>"
    assert scan_signatures(PLAN) == {
        ("orders.parquet", "PushedFilters: []", schema): 2,
        ("orders.parquet", "PushedFilters: [IsNotNull(o)]", schema): 1,
        ("lineitem.parquet", "PushedFilters: []", schema): 1,
    }
    assert max_signature_count(PLAN) == 2
    assert scan_census(PLAN) == {"lineitem.parquet": 1, "orders.parquet": 3}


def test_census_is_sorted_by_table():
    assert list(scan_census(PLAN)) == ["lineitem.parquet", "orders.parquet"]


def test_part_file_leaf_maps_to_its_directory():
    assert scan_census(FILES_PLAN) == {"b=1": 2}


def test_census_order_is_the_same_for_every_hash_seed():
    """The census text a PLANS.md line prints, from processes whose
    string hashes differ."""
    code = (
        "import sys; sys.path[:0] = sys.argv[1:];"
        "from test_planaudit import WIDE_PLAN;"
        "from spark_file_mover_spark.planaudit import scan_census;"
        "print(scan_census(WIDE_PLAN))"
    )
    want = str({t: 1 for t in TABLES}) + "\n"
    for seed in ("0", "1", "2", "3"):
        got = subprocess.run(
            [sys.executable, "-c", code, str(REPO), str(REPO / "tests")],
            env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        assert got == want, (seed, got)
