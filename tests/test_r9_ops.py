"""Round-9 pins: the HLL empty-sketch semantics the theta-setops union
relies on, and the in-place-corpus-rewrite half of the artifact cache
contract (the r8 ADVICE gap: (appId, sf_dir) keys only detected
*switching* directories, not regenerating data at the same path)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from spark_file_mover_spark import registry
from spark_file_mover_spark.profile import oracle_connection
from spark_file_mover_spark.sources.io import (
    TABLES,
    artifact_cache_key,
    corpus_fingerprint,
)
from tests.parity import compare

registry.load_all()

SRC_SF = "/root/testdata/sf0.001"

# One consumer of every ingest artifact (sources.io.ingest_artifact),
# every synthetic asset corpus (multimodal._asset_corpus) and every
# written file fixture — the keys that can serve a corpus-derived
# relation or file across invocations.
# Further consumers of an artifact already listed (graph-hits and
# graph-reciprocity beside graph-personalized-pagerank, …) add run
# time, not coverage.
ARTIFACT_KEYS = [
    "dedup-components",  # components-labels, jaccard-grams
    "dedup-cross-bloom",  # cross-bloom, minhash-nh
    "dedup-edit-distance",
    "dedup-image-phash",
    "dedup-near-minhash",  # minhash-bands, minhash-nh
    "dedup-semdedup",  # km-64, semdedup-side
    "embed-ann-ivfpq",  # km-8, ivfpq-index, ivfpq-exprs
    "graph-jaccard-neighbors",
    "graph-label-propagation",  # lpa-adjacency, lpa-edge-count
    "graph-personalized-pagerank",  # pr-edges, pr-nodes
    "graph-triangle-count",
    "multimodal-audio-meta",
    "multimodal-avi-meta",
    "multimodal-bmp-meta",
    "multimodal-flac-meta",
    "multimodal-gif-meta",
    "multimodal-ico-meta",
    "multimodal-image-dims",
    "multimodal-image-exif",
    "multimodal-mp3-meta",
    "multimodal-ogg-meta",
    "multimodal-pdf-meta",
    "multimodal-png-meta",
    "multimodal-srt-meta",
    "multimodal-tar-meta",
    "multimodal-video-meta",
    "multimodal-webp-meta",
    "multimodal-zip-meta",
    "move-list-files",  # a1-fixture (nation)
    "scan-dpp-join",  # dpp-tables (orders)
    "sim-search-ivf",
    "sink-compact",  # compact-fragments (orders)
    "sink-expire-snapshots",  # expire-template (orders)
    "text-boilerplate-lines",
    "text-ccnet-buckets",  # tf, xent
    "text-containment",
    "text-decontaminate",
    "text-dup-span",
    "text-novelty-ratio",
    "text-perplexity-proxy",  # tf, xent
    "text-tfidf-topk",  # tf
]


def test_hll_union_with_empty_side(spark):
    """hll_sketch_agg over an all-NULL input returns an EMPTY (non-null)
    sketch whose union is identity — the fact that lets theta-setops use
    a plain hll_union with no null guard (aggregates.py est_union). If a
    Spark upgrade ever starts returning SQL NULL here, this fails before
    the driver does."""
    df = spark.createDataFrame(
        [("R", 1), ("R", 2), ("R", 3)], "flag string, k int"
    )
    row = (
        df.groupBy("flag")
        .agg(
            F.hll_sketch_agg(
                F.when(F.lit(True), F.col("k"))
            ).alias("sk_a"),
            # every input conditionally nulled -> the "empty side"
            F.hll_sketch_agg(
                F.when(F.lit(False), F.col("k"))
            ).alias("sk_b"),
        )
        .select(
            F.col("sk_b").isNotNull().alias("b_non_null"),
            F.hll_sketch_estimate("sk_b").alias("est_b"),
            F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias(
                "est_union"
            ),
        )
        .collect()[0]
    )
    assert row["b_non_null"] is True  # empty sketch, NOT SQL NULL
    assert row["est_b"] == 0.0
    assert round(row["est_union"]) == 3  # union-with-empty = identity


def _rewrite_in_place(
    sf_dir: Path, tables=("documents",), keep: int = 2
) -> None:
    """Replace each table's parquet file with one holding its first
    1/``keep`` rows at the SAME path (what a regenerate-in-place
    pipeline does)."""
    import pyarrow.parquet as pq

    for name in tables:
        path = sf_dir / f"{name}.parquet"
        table = pq.read_table(path)
        pq.write_table(table.slice(0, table.num_rows // keep), path)


def test_corpus_fingerprint_detects_inplace_rewrite(tmp_path, spark):
    shutil.copy(Path(SRC_SF) / "documents.parquet", tmp_path)
    fp1 = corpus_fingerprint(str(tmp_path))
    key1 = artifact_cache_key(spark, str(tmp_path))
    assert isinstance(fp1, tuple)
    assert fp1 and fp1 == corpus_fingerprint(str(tmp_path))
    _rewrite_in_place(tmp_path)
    assert corpus_fingerprint(str(tmp_path)) != fp1
    assert artifact_cache_key(spark, str(tmp_path)) != key1


@pytest.mark.parametrize("key", ARTIFACT_KEYS)
def test_cached_key_survives_inplace_rewrite(key, tmp_path, spark):
    """End-to-end: run a cached-artifact key, rewrite the corpus at the
    same path, run again — the second result must match DuckDB over the
    NEW bytes. A stale hit has two sources: a key without the corpus
    fingerprint, and a persisted relation of the old bytes left in
    Spark's CacheManager, which matches the rebuilt plan of the same
    path and serves the old rows."""
    for name in TABLES:
        shutil.copy(Path(SRC_SF) / f"{name}.parquet", tmp_path)
    # warm caches; a stale hit is only visible if the old corpus had rows
    assert registry.QUERIES[key](spark, str(tmp_path)).collect(), key
    # the tables every corpus artifact and file fixture derives from
    _rewrite_in_place(
        tmp_path, ("documents", "events", "embeddings", "orders")
    )
    # nation's region keys cycle 0-4, so its first half still holds all
    # five regions; a tenth holds two, so move-list-files' stale
    # five-dir listing would show
    _rewrite_in_place(tmp_path, ("nation",), keep=10)
    con = oracle_connection(tmp_path)
    try:
        ok, msg = compare(
            registry.QUERIES[key](spark, str(tmp_path)),
            con.sql(registry.ORACLES[key]),
            # halving can empty a key's result (text-containment's one
            # pair at sf0.001): 0 rows against the old rows is the check
            allow_empty=True,
        )
    finally:
        con.close()
    assert ok, f"{key} after in-place rewrite: {msg}"


def test_winnowing_theory_invariants(spark):
    """Winnowing guarantees (Schleimer et al. §3): expected density
    2/(w+1) = 0.4 over random-ish text, and EVERY fingerprint position
    lies in [w-1, n_grams-1] (each window selects from itself). A
    selection-rule regression (e.g. leftmost ties, off-by-one frame)
    shifts the density or breaks coverage before the oracle compare
    would localize it."""
    df = registry.QUERIES["text-winnowing"](spark, SRC_SF)
    rows = df.collect()
    assert rows, "no fingerprints at sf0.001"
    n_fp = sum(r.n_fp for r in rows)
    windows = sum(r.n_grams - 3 for r in rows if r.n_grams > 3)
    density = n_fp / windows
    assert 0.3 < density < 0.5, density
    for r in rows:
        # selected positions live in [0, n_grams-1]; the LAST window
        # ([n-4, n-1]) guarantees a fingerprint in its own span — the
        # coverage property that makes winnowing a local sketch
        assert 0 <= r.first_pos <= r.last_pos <= r.n_grams - 1, r
        assert r.last_pos >= r.n_grams - 4, r
