"""The ingest-artifact cache contract (``sources.io.ingest_artifact``):
relations that are pure functions of the immutable input files (minhash
bands, the IVF assigned relation, the span-family tok/gram/dup-position
trio, the containment guarded shingles, graph adjacency, k-means
models, …) persist per artifact_cache_key — (appId, sf_dir, corpus
fingerprint) — and are evicted + rebuilt when the corpus changes,
including an IN-PLACE rewrite at the same path (tests/test_r9_ops.py
pins that case).

These tests pin the two paths a cached key can take wrong: a HIT that
returns stale/incorrect results, and an EVICTION that fails to rebuild
for a new corpus. Each cached key runs against a DIFFERENT sf_dir
first, then oracle-compares at the test sf_dir (evict-rebuild), then
oracle-compares again (hit) — both must hash-match DuckDB.
"""

from __future__ import annotations

import pytest

from spark_file_mover_spark import registry
from tests.parity import compare

registry.load_all()

OTHER_SF = "/root/testdata/sf0.001"

CACHED_KEYS = [
    "dedup-near-minhash",
    "sim-search-ivf",
    "text-dup-span",
    "text-dup-cut",
    "text-containment",
    "dedup-image-phash",
    "stream-sink-exactly-once",
    "text-tfidf-topk",
    "text-perplexity-proxy",
    "text-ccnet-buckets",
    "dedup-cross-bloom",
    "text-decontaminate",
    "dedup-components",
    "dedup-ngram-jaccard",
    "text-boilerplate-lines",
    "text-novelty-ratio",
    "embed-ann-ivfpq",
    "dedup-semdedup",
    "graph-pagerank",
    # written file fixtures
    "move-list-files",
    "sink-compact",
    "scan-dpp-join",
    "sink-expire-snapshots",
]


@pytest.mark.parametrize("key", CACHED_KEYS)
def test_cache_evict_rebuild_then_hit(key, spark, sf_dir, duck):
    # warm the cache against a DIFFERENT corpus...
    registry.QUERIES[key](spark, OTHER_SF).collect()
    # ...then the test corpus must evict + rebuild correctly...
    ok, msg = compare(
        registry.QUERIES[key](spark, sf_dir), duck.sql(registry.ORACLES[key])
    )
    assert ok, f"{key} evict-rebuild: {msg}"
    # ...and a repeat invocation (cache hit) must stay correct.
    ok, msg = compare(
        registry.QUERIES[key](spark, sf_dir), duck.sql(registry.ORACLES[key])
    )
    assert ok, f"{key} cache hit: {msg}"
