"""K1 pagerank, K15 personalized pagerank and K4 BFS levels on both
sides of the one-task gate: the Arrow kernel path (the session's
broadcast threshold) and the shuffled Pregel loop (threshold -1) must
both pass the oracle and fold to the same value hash."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from graph_reference import loop_path
from parity import compare
from spark_file_mover_spark import registry
from spark_file_mover_spark.profile import formatted_plan, materialize

registry.load_all()

KERNEL_KEYS = [
    "graph-pagerank",
    "graph-personalized-pagerank",
    "graph-bfs-levels",
]


@pytest.mark.parametrize("key", KERNEL_KEYS)
def test_kernel_and_loop_paths_agree(spark, sf_dir, duck, key):
    fn = registry.QUERIES[key]
    kernel = fn(spark, sf_dir)
    with loop_path(spark):
        loop = fn(spark, sf_dir)
        loop_hash = materialize(loop)
        loop_ok = compare(loop, duck.sql(registry.ORACLES[key]))
    assert "MapInPandas" in formatted_plan(kernel)
    assert "MapInPandas" not in formatted_plan(loop)
    assert compare(kernel, duck.sql(registry.ORACLES[key])) == (True, "ok")
    assert loop_ok == (True, "ok")
    assert materialize(kernel) == loop_hash != 0


def test_ppr_without_seeds_raises_on_both_paths(spark, tmp_path):
    """No user id is a multiple of 16: every seed quota divides by a
    zero seed count, so both paths raise instead of ranking nothing."""
    users, ks = [1, 3, 5, 7], [2, 3, 4, 2]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(users)), pa.int64()),
                "ts": pa.array([0] * len(users), pa.timestamp("us")),
                "user_id": pa.array(users, pa.int64()),
                "event_type": pa.array(["click"] * len(users)),
                "value": pa.array([1.0] * len(users)),
                "props": pa.array(['{"k": %d}' % k for k in ks]),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    fn = registry.QUERIES["graph-personalized-pagerank"]
    with pytest.raises(ZeroDivisionError):
        fn(spark, str(tmp_path))
    with loop_path(spark), pytest.raises(ZeroDivisionError):
        fn(spark, str(tmp_path))
