"""Query registry: the declared operator contract of SURVEY.md §2.

Every implemented operator registers itself here with a ``queries()``
callable ``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a
DuckDB oracle SQL string over the pre-registered views
``region nation customer supplier part orders lineitem events documents
embeddings``. The driver hash-compares Spark vs DuckDB results at sf0.01,
so column names/aliases MUST match between the two.

Numeric-parity rules used across all registered queries:

* Money columns in the testdata are exact 2-decimal doubles (verified in
  FIXTURES.md terms); all money arithmetic is done in DECIMAL so sums are
  exact and engine-identical, then the final value is cast to DOUBLE.
* Derived floating values (averages, similarities) are rounded to a fixed
  scale in BOTH engines before output.
* Timestamps are never emitted raw: they are formatted to strings or
  decomposed to date parts identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Keys registered with ``pure=True``: their built plans are cached.
PURE: set[str] = set()


def query(
    key: str, oracle: Optional[str] = None, *, pure: bool = False
) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a declared query (and optional DuckDB oracle).

    Every registered callable first applies :func:`tune_session` to the
    session it is handed: the driver calls ``queries()[k](spark, sf_dir)``
    on a PLAIN SparkSession (default ``spark.sql.shuffle.partitions=200``,
    host timezone), and without the tune each small-SF shuffle fans out to
    200 near-empty tasks and timestamp queries depend on the host TZ.

    ``pure=True`` declares the build side-effect-free lazy construction:
    no writes, fresh temp dirs or streaming queries, and no Spark job
    once the declared ingest artifacts are warm. Such a key's plan is
    built once per (SparkContext, corpus) through
    ``sources.io.cached_plan`` and re-executed on every action. A build
    that runs an eager barrier (``localCheckpoint``, collect) must not
    be pure: a cache hit would serve the materialized intermediate, a
    result cache (``tools/audit_build_jobs.py`` checks every pure key).
    The decorator returns the raw function, so direct module-level calls
    bypass the cache.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key {key!r}")

        def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
            from spark_file_mover_spark.session import tune_session
            from spark_file_mover_spark.sources import io as sio

            tune_session(spark)
            if pure:
                # looked up per call, so a monkeypatched bypass reaches it
                return sio.cached_plan(
                    spark, sf_dir, key, lambda: fn(spark, sf_dir)
                )
            return fn(spark, sf_dir)

        tuned.__name__ = fn.__name__
        tuned.__doc__ = fn.__doc__
        tuned.__wrapped__ = fn
        QUERIES[key] = tuned
        if oracle is not None:
            ORACLES[key] = oracle
        if pure:
            PURE.add(key)
        return fn

    return deco


# Scoring priority for round 16. The driver consumes ``queries()`` in
# dict insertion order under a wall-clock budget (~50 keys/round), so
# ``load_all`` rebuilds the registry dict in this order after all
# modules import. Generated by `python tools/make_priority.py --round
# 16`: changed-output/--head keys first, then the full
# registry in driver-ledger staleness order (never-scored keys sort to
# the front of that order on their own).
_PRIORITY_R16 = [
    "join-asof-nearest",
    "agg-ks-drift",
    "agg-hist-logbucket",
    "window-session-batch",
    "join-bloom-prefilter",
    "sample-interleave-sources",
    "text-ccnet-buckets",
    "agg-new-vs-returning",
    "agg-seasonality-dow",
    "window-rfm-segment",
    "window-concurrency-sweep",
    "text-readability",
    "fn-geo-cell",
    "multimodal-bmp-meta",
    "join-geo-cell-nearest",
    "agg-spearman-corr",
    "agg-power-mde",
    "sample-quota-allocate",
    "text-novelty-ratio",
    "fn-phone-normalize",
    "graph-degree-histogram",
    "agg-cohort-ltv",
    "sample-downsample-negatives",
    "agg-gini-coefficient",
    "sample-pack-sequences",
    "agg-cuped",
    "agg-welch-ttest",
    "agg-auc-rank",
    "etl-dq-audit",
    "sink-compact",
    "repartition-n",
    "scan-csv-roundtrip",
    "scan-csv-corrupt-recover",
    "etl-scd2",
    "etl-cdc-apply",
    "stream-tumbling",
    "stream-sliding",
    "stream-session",
    "stream-dedup-late",
    "stream-stateful-agg",
    "stream-join",
    "events-funnel",
    "rollup-hierarchical",
    "join-inner-equi",
    "join-left-right-full",
    "agg-theil-index",
    "agg-bootstrap-ci",
    "graph-hits",
    "multimodal-webp-meta",
    "window-ohlc-bars",
    "sample-temporal-split",
    "multimodal-flac-meta",
    "window-calendar-mtd-ytd",
    "agg-stickiness-dau-mau",
    "etl-table-checksum",
    "window-pareto-frontier",
    "agg-survival-km",
    "window-percentile-bands",
    "agg-assoc-lift",
    "window-drawdown",
    "agg-lorenz-deciles",
    "agg-winsorized-stats",
    "graph-global-clustering",
    "text-zipf-fit",
    "stream-topk-windowed",
    "graph-reciprocity",
    "events-funnel-windowed",
    "agg-chisq-independence",
    "set-union-intersect-except",
    "join-multiway-star",
    "join-skew-salted",
    "join-range-binned",
    "join-asof",
    "join-lateral-topk",
    "dedup-components",
    "dedup-paragraph",
    "text-dup-span",
    "sim-search-ivf",
    "text-decontaminate",
    "text-repetition",
    "filter-scalar-subquery",
    "fn-bitwise",
    "multimodal-image-dims",
    "multimodal-audio-meta",
    "move-list-files",
    "move-rename",
    "scan-jsonl-roundtrip",
    "sink-merge-upsert",
    "join-semi-anti",
    "join-broadcast",
    "join-range-theta",
    "dedup-exact",
    "dedup-near-minhash",
    "dedup-simhash",
    "dedup-keep-best",
    "window-parkinson-vol",
    "window-seasonal-decompose",
    "multimodal-ico-meta",
    "agg-mann-kendall",
    "sample-rolling-origin",
    "text-burstiness",
    "etl-interval-islands",
    "scan-csv-quoted-multiline",
    "agg-confusion-mcc",
    "agg-capture-recapture",
    "window-autocorr",
    "text-hapax-ratio",
    "agg-overdispersion",
    "sample-epoch-shuffle",
    "agg-tukey-fences",
    "window-local-extrema",
    "fn-codec-roundtrip",
    "embed-standardize",
    "agg-kendall-tau",
    "graph-modularity",
    "multimodal-mp3-meta",
    "agg-cramers-v",
    "agg-jsd-drift",
    "window-bollinger",
    "window-rsi",
    "etl-fk-audit",
    "fn-luhn-checksum",
    "text-logodds-monroe",
    "sample-length-buckets",
    "agg-mann-whitney",
    "agg-psi-drift",
    "agg-hill-tail",
    "window-vwap-anchored",
    "graph-adamic-adar",
    "multimodal-png-meta",
    "udf-map-in-pandas",
    "sink-partition-stats",
    "dedup-cross-bloom",
    "dedup-ngram-jaccard",
    "text-dup-cut",
    "sim-search-topk",
    "dedup-embedding-cosine",
    "sim-search-lsh",
    "sample-train-split",
    "sample-hash-stratified",
    "sample-temperature-weights",
    "text-url-normalize",
    "text-chunk-sliding",
    "text-tfidf-topk",
    "sample-neyman-allocation",
    "multimodal-srt-meta",
    "join-bbox-overlap",
    "graph-personalized-pagerank",
    "fn-html-strip",
    "fn-xml-extract",
    "agg-bh-fdr",
    "multimodal-pdf-meta",
    "sink-expire-snapshots",
    "agg-poisson-rate-test",
    "agg-diff-in-diff",
    "fn-semver-compare",
    "fn-jwt-parse",
    "text-boilerplate-lines",
    "multimodal-ogg-meta",
    "window-macd",
    "window-stochastic-osc",
    "window-ulcer-index",
    "agg-ratio-delta-ci",
    "fn-uuid3",
    "sample-ess-weights",
    "embed-centroid-drift",
    "multimodal-avi-meta",
    "multimodal-tar-meta",
    "multimodal-zip-meta",
    "multimodal-image-exif",
    "fn-math",
    "sink-bucketed",
    "embed-quantize-int8",
    "project-select",
    "filter-pred",
    "filter-like-regexp",
    "fn-string",
    "fn-date",
    "fn-array",
    "fn-map-json",
    "fn-case-when-cast",
    "multimodal-binary",
    "multimodal-frame-sample",
    "multimodal-video-meta",
    "text-analysis",
    "text-token-count",
    "text-langid",
    "text-quality-score",
    "text-fingerprint",
    "text-pii-scrub",
    "text-ngram-freq",
    "move-partition-extract",
    "move-template",
    "move-collision-guard",
    "write-single-file",
    "scan-parquet",
    "scan-table-manifest",
    "scan-orc-roundtrip",
    "sink-sorted-pruning",
    "sink-partitioned",
    "sink-overwrite",
    "dedup-image-phash",
    "embed-kmeans-lloyd",
    "embed-pq-encode",
    "embed-ann-ivfpq",
    "embed-random-projection",
    "text-bpe-pairs",
    "text-containment",
    "text-gopher-rules",
    "sample-reservoir-weighted",
    "sample-balanced-downsample",
    "graph-pagerank",
    "graph-label-propagation",
    "sink-zorder",
    "sink-snapshot-read",
    "scan-dpp-join",
    "scan-schema-evolution",
    "agg-retention-cohort",
    "agg-sketch-hll-merge",
    "agg-sketch-cms",
    "agg-sketch-theta-setops",
    "agg-outlier-mad",
    "agg-mode-exact",
    "join-interval-overlap",
    "join-asof-tolerance",
    "window-distribution",
    "fn-variant-json",
    "stream-disorder-metrics",
    "stream-sink-exactly-once",
    "udf-scalar-pandas",
    "udaf-grouped-pandas",
    "udtf-explode-like",
    "text-perplexity-proxy",
    "agg-hash",
    "agg-distinct",
    "agg-approx-distinct",
    "agg-rollup-cube-gsets",
    "agg-having",
    "agg-approx-quantile",
    "agg-pivot",
    "agg-stats",
    "agg-unpivot",
    "agg-incremental-merge",
    "window-ranking",
    "window-analytic",
    "window-frame-agg",
    "topk-per-group",
    "sort-limit",
    "agg-hhi-concentration",
    "window-interorder-gap",
    "fn-useragent-parse",
    "window-rolling-corr",
    "window-cusum-changepoint",
    "graph-assortativity",
    "window-attribution",
    "agg-srm-check",
    "window-gap-fill",
    "embed-matryoshka",
    "graph-kcore",
    "fn-ip-cidr",
    "sample-group-kfold",
    "sink-overwrite-dynamic",
    "scan-json-nested",
    "embed-norm-outliers",
    "text-langid-confusion",
    "dedup-profile",
    "join-null-safe-eq",
    "sim-search-hard-negatives",
    "agg-markov-transitions",
    "text-collocations-pmi",
    "fn-time-buckets",
    "scan-text-lines",
    "fn-url-parse",
    "window-period-over-period",
    "agg-conversion-lag",
    "window-zscore-anomaly",
    "agg-ols-trend",
    "etl-snapshot-diff",
    "graph-jaccard-neighbors",
    "dedup-edit-distance",
    "multimodal-gif-meta",
    "agg-distinct-bitmap",
    "agg-proportion-ztest",
    "window-streaks",
    "graph-triangle-count",
    "window-ewma-decay",
    "agg-benford-digit",
    "agg-quantile-exact",
    "agg-entropy",
    "window-range-rolling",
    "graph-bfs-levels",
    "text-winnowing",
    "join-scd2-temporal",
    "dedup-semdedup",
]


def load_all() -> None:
    """Import every operator module so registrations run, then rebuild
    the registry dict in scoring-priority order (see ``_PRIORITY_R16``) —
    dict insertion order IS the driver's scoring order."""
    # Imports are at call time so `import spark_file_mover_spark` stays cheap.
    from spark_file_mover_spark.operators import (  # noqa: F401
        aggregates,
        windows,
        setops,
        streaming,
        joins,
    )
    from spark_file_mover_spark.llm import (  # noqa: F401
        dedup,
        similarity,
        sampling,
        decontam,
        features,
    )
    from spark_file_mover_spark.llm import clustering  # noqa: F401
    from spark_file_mover_spark.operators import graph, relational  # noqa: F401
    from spark_file_mover_spark.functions import scalar  # noqa: F401
    from spark_file_mover_spark.llm import multimodal, text  # noqa: F401
    from spark_file_mover_spark import filemover_queries, udfs  # noqa: F401
    from spark_file_mover_spark.sources import sourcesink  # noqa: F401

    ordered = [k for k in _PRIORITY_R16 if k in QUERIES]
    ordered += [k for k in QUERIES if k not in _PRIORITY_R16]
    for mapping in (QUERIES, ORACLES):
        snapshot = {k: mapping[k] for k in ordered if k in mapping}
        mapping.clear()
        mapping.update(snapshot)
