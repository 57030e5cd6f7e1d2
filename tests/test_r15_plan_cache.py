"""r15 built-plan cache (sources.io.cached_plan behind every
``@query(..., pure=True)`` key): construction is cached per (appId,
corpus fingerprint, key), execution happens on every action.

Pins the two ways the cache could go wrong:

* a HIT that stops re-executing (result caching) — disproved by
  mutating a copied corpus between actions on the SAME returned
  DataFrame object and watching the values change;
* a corpus change that serves a stale plan — the fingerprint component
  must miss and rebuild.

Plus the registry owns the cache: every cached name is a key in
``registry.PURE``.
"""

from __future__ import annotations

import shutil

from spark_file_mover_spark import registry
from spark_file_mover_spark.sources import io as sio

registry.load_all()

SF = "/root/testdata/sf0.001"
KEY = "text-zipf-fit"  # pure, fast at sf0.001
ASSET_KEY = "multimodal-gif-meta"  # pure, over an asset corpus


def test_plan_cache_hit_returns_same_plan_and_reexecutes(spark):
    df1 = registry.QUERIES[KEY](spark, SF)
    n_before = len(sio._QUERY_PLAN_CACHE)
    df2 = registry.QUERIES[KEY](spark, SF)
    # second invocation hits the built-plan cache (no new entry; the
    # returned object is a fresh no-op projection over the cached plan
    # so explain output stays order-independent)
    assert len(sio._QUERY_PLAN_CACHE) == n_before
    assert any(k[1] == KEY for k in sio._QUERY_PLAN_CACHE)
    assert df1.schema == df2.schema
    # execution still happens per action (lazy plan, not a result)
    assert df1.collect() == df2.collect()


def test_plan_cache_misses_on_corpus_change(spark, tmp_path):
    corpus = tmp_path / "sf"
    shutil.copytree(SF, corpus)
    df1 = registry.QUERIES[KEY](spark, str(corpus))
    rows1 = df1.collect()
    # in-place rewrite: double the documents table
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM '{corpus}/documents.parquet' UNION ALL "
        f"SELECT doc_id + 1000000, text, lang, source, n_chars "
        f"FROM '{corpus}/documents.parquet') TO "
        f"'{corpus}/documents.parquet' (FORMAT PARQUET)"
    )
    df2 = registry.QUERIES[KEY](spark, str(corpus))
    assert df1 is not df2, "fingerprint change must rebuild the plan"
    assert df2.collect() != rows1


def test_plan_cache_holds_only_pure_keys(spark):
    for key in (KEY, ASSET_KEY):
        assert key in registry.PURE
        for _ in range(2):
            registry.QUERIES[key](spark, SF)
    names = {k[1] for k in sio._QUERY_PLAN_CACHE}
    assert {KEY, ASSET_KEY} <= names
    assert names <= registry.PURE, names - registry.PURE
