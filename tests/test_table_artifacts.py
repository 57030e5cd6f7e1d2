"""Table reads and scan split counts are ingest artifacts
(``sources.io.load_table`` and ``sources.io.wide_scan``), checked on a
tiny parquet corpus written under ``tmp_path``. Data-free."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.rdd import RDD

from spark_file_mover_spark.sources import io as sio


def _write_orders(sf_dir, keys, n_files: int = 1) -> None:
    """``orders`` under ``sf_dir``: one parquet file, or a directory of
    ``n_files`` part files (a multi-split table)."""
    table = pa.table(
        {"o_orderkey": list(keys), "o_custkey": [k % 5 for k in keys]}
    )
    path = sf_dir / "orders.parquet"
    if n_files == 1:
        pq.write_table(table, path)
        return
    path.mkdir()
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i}.parquet")


def _corpus(tmp_path, name: str, keys, n_files: int = 1) -> str:
    sf_dir = tmp_path / name
    sf_dir.mkdir()
    _write_orders(sf_dir, keys, n_files)
    return str(sf_dir)


def _entries(name: str) -> list[tuple]:
    return [k for k in sio._ARTIFACTS if k[1] == name]


def test_repeat_load_returns_the_same_object(spark, tmp_path):
    sf = _corpus(tmp_path, "a", range(10))
    first = sio.load_table(spark, sf, "orders")
    assert sio.load_table(spark, sf, "orders") is first
    assert _entries("table-orders") == [
        (sio.artifact_cache_key(spark, sf), "table-orders")
    ]


def test_inplace_rewrite_returns_new_data(spark, tmp_path):
    sf = _corpus(tmp_path, "a", range(10))
    before = sio.load_table(spark, sf, "orders")
    assert before.count() == 10
    (tmp_path / "a" / "orders.parquet").unlink()
    _write_orders(tmp_path / "a", range(100, 103))
    after = sio.load_table(spark, sf, "orders")
    assert after is not before
    assert sorted(r.o_orderkey for r in after.collect()) == [100, 101, 102]


def test_corpus_switch_keeps_one_entry_per_table(spark, tmp_path):
    a = _corpus(tmp_path, "a", range(10))
    b = _corpus(tmp_path, "b", range(20))
    for sf in (a, b, a, b):
        sio.load_table(spark, sf, "orders")
    assert _entries("table-orders") == [
        (sio.artifact_cache_key(spark, b), "table-orders")
    ]


def test_split_probe_runs_once_per_corpus(spark, tmp_path, monkeypatch):
    probes = []
    real = RDD.getNumPartitions

    def counting(rdd):
        probes.append(rdd)
        return real(rdd)

    monkeypatch.setattr(RDD, "getNumPartitions", counting)
    a = _corpus(tmp_path, "a", range(10))
    b = _corpus(tmp_path, "b", range(20))
    for _ in range(3):
        sio.wide_scan(spark, a, "orders", ["o_orderkey"])
    assert len(probes) == 1
    for _ in range(3):
        sio.wide_scan(spark, b, "orders", ["o_orderkey"])
    assert len(probes) == 2
    assert len(_entries("splits-orders")) == 1


# ---------------------------------------------------------------------------
# wide_scan: the width gate adds an exchange ONLY for under-parallel
# scans (the keys' 'zero shuffle at cluster scale' claim, pinned
# structurally)
# ---------------------------------------------------------------------------


def test_wide_scan_gates_on_split_count(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip(
            "one split is not narrower than defaultParallelism=1 — "
            "the width gate correctly adds no exchange on a 1-core runner"
        )
    cols = ["o_orderkey", "o_custkey"]

    def n_exchanges(df) -> int:
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")

    narrow = _corpus(tmp_path, "narrow", range(1000))
    # one file per core: a cluster-scale multi-split scan
    wide = _corpus(tmp_path, "wide", range(1000), n_files=par)
    assert len(os.listdir(os.path.join(wide, "orders.parquet"))) == par
    assert n_exchanges(sio.wide_scan(spark, narrow, "orders", cols)) == 1
    # already-wide input: the gate must add NOTHING beyond the input's
    # own exchange
    assert n_exchanges(sio.wide_scan(spark, wide, "orders", cols)) == (
        n_exchanges(sio.load_table(spark, wide, "orders").select(*cols))
    )
