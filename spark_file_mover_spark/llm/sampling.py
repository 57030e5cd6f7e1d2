"""Sampling & splitting operators for training-data pipelines.

Both queries use DETERMINISTIC selection (key arithmetic / key hash), not
``df.sample``: Bernoulli sampling draws per-partition random streams, so
its output changes whenever partitioning changes — unacceptable for
reproducible dataset builds. Hash/modulo selection is stable across
cluster size, partitioning, and reruns, and costs one map-side predicate
(pushable, shuffle-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_file_mover_spark.llm._textnorm import (
    MD5_PREFIX60_SQL,
    md5_prefix60,
    toks,
)
from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import load_table
from spark_file_mover_spark.numerics import snap

_SPLIT_ORACLE = """
SELECT doc_id, lang,
       CASE WHEN doc_id % 10 < 8 THEN 'train'
            WHEN doc_id % 10 = 8 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@query("sample-train-split", oracle=_SPLIT_ORACLE)
def sample_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment from key arithmetic — every
    engine and every run agrees on the split. Sequential ids make modulo
    uniform here; for arbitrary ids use ``pmod(xxhash64(id), 10)`` (same
    plan shape, engine-specific hash so no cross-engine oracle)."""
    d = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 10
    return d.select(
        "doc_id",
        "lang",
        F.when(m < 8, "train").when(m == 8, "val").otherwise("test").alias(
            "split"
        ),
    )


_STRATIFIED_ORACLE = f"""
WITH s AS (
  SELECT lang,
         COUNT(*) AS n_total,
         CAST(SUM(CASE WHEN {MD5_PREFIX60_SQL.format(x='CAST(doc_id AS VARCHAR)')}
                            % 100 < 20
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
  FROM documents GROUP BY lang
)
SELECT lang, n_total, n_sampled,
       CAST(n_sampled AS DOUBLE) / n_total AS achieved_frac,
       (n_total < 1000)
         OR abs(CAST(n_sampled AS DOUBLE) / n_total - CAST(0.2 AS DOUBLE))
            <= 3 * sqrt(CAST(0.16 AS DOUBLE) / n_total) AS in_band
FROM s ORDER BY lang
"""


@query("sample-hash-stratified", oracle=_STRATIFIED_ORACLE, pure=True)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 20% sample per language via stable key hashing —
    hash-modulo selection picks the same documents on any cluster at any
    partitioning, the reproducibility property ``df.sampleBy`` cannot
    give.

    The selection hash is the md5-hex-prefix 60-bit integer (same idiom
    as dedup-simhash) because BOTH engines compute it bit-identically, so
    the oracle verifies the EXACT per-stratum sampled count — not just a
    statistical band. Production swaps in ``xxhash64(doc_id)`` (~5×
    cheaper, no cross-engine twin); the plan shape — one map-side
    predicate, one groupBy — is identical. Output carries ``n_sampled``
    and ``achieved_frac`` so an out-of-band stratum is diagnosable from
    the result itself, plus the ``in_band`` 3-binomial-sigma audit gated
    on stratum size ≥ 1000 (below that the band is wider than the
    [0,1] fraction range is informative for, and a tiny stratum could
    deterministically fail a correct hash). All audit inputs are
    identical integers in both engines, so in_band is computed — exact —
    rather than assumed TRUE."""
    d = load_table(spark, sf_dir, "documents")
    picked = (
        F.pmod(md5_prefix60(F.col("doc_id").cast("string")), F.lit(100)) < 20
    )
    g = (
        d.select("lang", picked.cast("int").alias("picked"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("picked").cast("long").alias("n_sampled"),
        )
    )
    frac = F.col("n_sampled").cast("double") / F.col("n_total")
    tol = 3 * F.sqrt(F.lit(0.16) / F.col("n_total"))
    in_band = (F.col("n_total") < 1000) | (F.abs(frac - F.lit(0.2)) <= tol)
    return g.select(
        "lang",
        "n_total",
        "n_sampled",
        frac.alias("achieved_frac"),
        in_band.alias("in_band"),
    ).orderBy("lang")


_SEQ_LEN = 2048

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, n_tok,
         SUM(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t
)
SELECT doc_id, n_tok,
       CAST(cum - n_tok AS BIGINT) AS start_offset,
       CAST((cum - n_tok) // {_SEQ_LEN} AS BIGINT) AS first_seq,
       CAST(((cum - 1) // {_SEQ_LEN}) - ((cum - n_tok) // {_SEQ_LEN}) + 1
            AS BIGINT) AS n_seqs_spanned
FROM c ORDER BY doc_id
"""


@query("sample-pack-sequences", oracle=_PACK_ORACLE)
# Not ``pure``: the build localCheckpoints the sharded relation
# (RangePartitioner bound determinism) and collects shard totals —
# eager build-time work that a plan-cache hit would silently skip
# (result caching). Every invocation pays the barrier + collect in
# the timed region.
def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing layout for pretraining: documents are concatenated
    in doc_id order into one token stream sliced into fixed
    2048-token training sequences; each document gets its byte-exact
    stream offset, first sequence index, and the number of sequences it
    spans (documents DO straddle boundaries — that is how GPT-style
    packing works, vs padding each doc to its own sequence).

    The REGISTERED query runs the shard-parallel two-pass layout
    (:func:`pack_offsets_sharded`): per-shard token totals (bounded —
    n_shards rows) prefix-summed on the driver, each shard computing
    offsets locally from its shard base under a window PARTITIONED BY
    shard — no unpartitioned running-sum window anywhere in the plan
    (the r9 verdict's scale caveat, now the declared path; plan-pinned).
    Pure integer math either way, so the oracle keeps the one-window
    form it can mirror literally, and :func:`pack_offsets_single`
    remains the small-input reference tested identical across shard
    counts (tests/test_sampling_sharded.py)."""
    return pack_offsets_sharded(spark, sf_dir)


def pack_offsets_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-window reference form of :func:`sample_pack_sequences`
    (a single global running sum — correct, but single-partition; kept
    as the differential reference for the sharded path)."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(toks()).alias(
            "n_tok"
        ),
    )
    w = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    start = F.col("cum") - F.col("n_tok")
    return c.select(
        "doc_id",
        "n_tok",
        start.alias("start_offset"),
        F.floor(start / _SEQ_LEN).alias("first_seq"),
        (
            F.floor((F.col("cum") - 1) / _SEQ_LEN)
            - F.floor(start / _SEQ_LEN)
            + 1
        ).alias("n_seqs_spanned"),
    ).orderBy("doc_id")


def pack_offsets_sharded(
    spark: SparkSession, sf_dir: str, n_shards: int = 8
) -> DataFrame:
    """The 100 TB path for :func:`sample_pack_sequences`: identical
    output, shard-parallel execution (no single global window).

    Two passes:

    1. Range-partition the ``(doc_id, n_tok)`` relation into contiguous
       doc_id shards (``repartitionByRange`` — Spark's RangePartitioner
       assigns ascending key ranges to ascending partition ids, so
       partition id order IS doc_id order), then aggregate ONE token
       total per shard. Only ``n_shards`` rows reach the driver — the
       bounded-metadata collect this module's header prescribes.
    2. Prefix-sum the shard totals driver-side into per-shard base
       offsets, broadcast them back as a literal map, and compute each
       document's offset as ``shard_base + local running sum`` with a
       window PARTITIONED BY shard — every shard's window runs in
       parallel, the global sort never materializes on one machine.

    The sharded relation is localCheckpointed so pass 1's totals and
    pass 2's offsets see the SAME partitioning (RangePartitioner samples
    its bounds; re-planning between actions must not re-draw them). The
    checkpoint holds two longs + a shard id per document — metadata
    scale, not corpus scale."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(toks()).alias("n_tok"))
    sharded = (
        t.repartitionByRange(n_shards, "doc_id")
        .withColumn("shard", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = {
        r["shard"]: r["tot"]
        for r in sharded.groupBy("shard")
        .agg(F.sum("n_tok").alias("tot"))
        .collect()
    }
    bases: dict[int, int] = {}
    acc = 0
    for shard in sorted(totals):
        bases[shard] = acc
        acc += totals[shard]
    base_map = (
        F.create_map(
            *[F.lit(x) for kv in sorted(bases.items()) for x in kv]
        )
        if bases
        # empty corpus: an argless map() is untyped VOID→VOID and
        # fails analysis at map[shard] — give the empty literal the
        # real type
        else F.expr("CAST(map() AS MAP<INT, BIGINT>)")
    )
    lw = W.partitionBy("shard").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = sharded.withColumn(
        "cum", base_map[F.col("shard")] + F.sum("n_tok").over(lw)
    )
    start = F.col("cum") - F.col("n_tok")
    return c.select(
        "doc_id",
        "n_tok",
        start.alias("start_offset"),
        F.floor(start / _SEQ_LEN).alias("first_seq"),
        (
            F.floor((F.col("cum") - 1) / _SEQ_LEN)
            - F.floor(start / _SEQ_LEN)
            + 1
        ).alias("n_seqs_spanned"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# sample-temperature-weights — multi-source mixture rebalancing
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.7
_TEMP_BUDGET = 100_000

_TEMP_ORACLE = f"""
WITH s AS (
  SELECT lang,
         COUNT(*) AS n_docs,
         CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+')))
              AS BIGINT) AS n_toks
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, n_docs, n_toks,
         pow(n_docs, {_TEMP_ALPHA}) AS pd,
         pow(n_toks, {_TEMP_ALPHA}) AS pt
  FROM s
),
t AS (
  SELECT list_reduce(list_sort(list(pd)), (a, b) -> a + b) AS spd,
         list_reduce(list_sort(list(pt)), (a, b) -> a + b) AS spt
  FROM w
)
SELECT lang, n_docs, n_toks,
       FLOOR((pd / spd) * 1e9 + 0.5) / 1e9 AS w_docs,
       FLOOR((pt / spt) * 1e9 + 0.5) / 1e9 AS w_toks,
       CAST(floor({_TEMP_BUDGET} * FLOOR((pd / spd) * 1e9 + 0.5) / 1e9 + 0.5) AS BIGINT)
         AS expected_docs
FROM w CROSS JOIN t ORDER BY lang
"""


@query("sample-temperature-weights", oracle=_TEMP_ORACLE, pure=True)
def sample_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture rebalancing — the standard multilingual /
    multi-source recipe: sampling weight ∝ n^α (α=0.7 here, the common
    pretraining default) renormalized across strata, which up-weights
    low-resource strata relative to proportional sampling without
    letting them dominate. Emitted per language: document and token
    counts, both weightings, and the expected document draw for a
    100 000-doc budget.

    Parity: counts are exact integers. The per-stratum ``pow`` values
    feed a normalizer that is summed via a SORTED sequential fold in
    BOTH engines (``aggregate(array_sort(collect_list(...)))`` ≡
    ``list_reduce(list_sort(list(...)))``) — a plain double ``SUM``'s
    partial-aggregation order is partition-dependent, which is this
    repo's named hazard for any float that feeds a hash-compared value
    (see sim-search-ivf's centroid fold). The final ratio is then
    snapped to 9 dp in both engines before the hash and before any
    derived integer, so residual libm pow ULP (the tfidf-ln class of
    risk) cannot leak past the snap. One tiny groupBy (|langs| rows) +
    a broadcast scalar normalizer — at 100 TB the whole key costs one
    corpus scan with map-side partial counts."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks())).cast("long").alias("n_toks"),
    )
    w = s.select(
        "*",
        F.pow("n_docs", F.lit(_TEMP_ALPHA)).alias("pd"),
        F.pow("n_toks", F.lit(_TEMP_ALPHA)).alias("pt"),
    )

    def _sorted_sum(col: str):
        return F.aggregate(
            F.array_sort(F.collect_list(col)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    tot = w.agg(
        _sorted_sum("pd").alias("spd"), _sorted_sum("pt").alias("spt")
    )
    w_docs = snap(F.col("pd") / F.col("spd"), 9)
    w_toks = snap(F.col("pt") / F.col("spt"), 9)
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_toks",
            w_docs.alias("w_docs"),
            w_toks.alias("w_toks"),
            F.floor(_TEMP_BUDGET * w_docs + F.lit(0.5))
            .cast("long")
            .alias("expected_docs"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# sample-reservoir-weighted — deterministic weighted priority sampling
# ---------------------------------------------------------------------------

_RES_K = 50
_RES_U_DEN = float(2**60)  # exactly representable power of two

_RES_ORACLE = f"""
WITH w AS (
  SELECT doc_id, n_chars AS weight,
         CAST(n_chars AS DOUBLE)
           / (CAST({{h}} + 1 AS DOUBLE) / {_RES_U_DEN}) AS priority
  FROM documents
),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rn
  FROM w
),
tau AS (
  SELECT COALESCE(MAX(CASE WHEN rn = {_RES_K} + 1 THEN priority END), 0.0)
           AS tau
  FROM r
)
SELECT doc_id, weight, priority,
       CASE WHEN CAST(weight AS DOUBLE) > tau
            THEN CAST(weight AS DOUBLE) ELSE tau END AS est_weight
FROM r CROSS JOIN tau
WHERE rn <= {_RES_K}
ORDER BY doc_id
""".format(
    h=MD5_PREFIX60_SQL.format(x="'res:' || CAST(doc_id AS VARCHAR)")
)


@query("sample-reservoir-weighted", oracle=_RES_ORACLE, pure=True)
def sample_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling via PRIORITY SAMPLING (Duffield,
    Lund & Thorup 2007): each document draws a deterministic uniform
    u ∈ (0, 1] from the shared md5-prefix-60 hash, gets priority
    q = weight / u, and the k = 50 highest-priority docs are the
    sample; τ (the (k+1)-th priority) yields the Horvitz-Thompson
    weight estimator ŵ = max(w, τ), which makes subset-sum estimates
    from the sample unbiased — the standard way to keep a fixed-size
    weighted sample of an unbounded corpus (here weight = n_chars, the
    "sample long documents proportionally more" curation rule).

    Exactness WITHOUT libm: u = (h+1)/2⁶⁰ and q = w/u are single IEEE
    divisions (correctly rounded by the standard, so bit-identical in
    both engines — unlike pow/ln whose last-ulp behavior is
    library-specific; this is why priority sampling is declared here
    rather than the pow-based Efraimidis-Spirakis keys). Priorities are
    hash-compared at full double precision; ties break by doc_id.

    Plan shape at scale: the priority is a map-side expression on the
    scan; top-(k+1) is Spark's TakeOrderedAndProject (per-partition
    heap of k+1 rows, then one merge of P·(k+1) candidates — no global
    sort, no full shuffle); τ is a one-row aggregate over the k+1
    relation broadcast back. The reservoir is maintainable
    incrementally: a new batch's top-(k+1) unions with the stored
    sample and the same operator re-runs over ≤ 2(k+1) rows."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        md5_prefix60(
            F.concat(F.lit("res:"), F.col("doc_id").cast("string"))
        )
        + F.lit(1)
    ).cast("double") / F.lit(_RES_U_DEN)
    w = docs.select(
        "doc_id",
        F.col("n_chars").alias("weight"),
        (F.col("n_chars").cast("double") / u).alias("priority"),
    )
    topk1 = w.orderBy(F.col("priority").desc(), "doc_id").limit(_RES_K + 1)
    from pyspark.sql import Window

    win = Window.orderBy(F.col("priority").desc(), "doc_id")
    ranked = topk1.withColumn("rn", F.row_number().over(win))
    tau = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == _RES_K + 1, F.col("priority"))),
            F.lit(0.0),
        ).alias("tau")
    )
    return (
        ranked.filter(F.col("rn") <= _RES_K)
        .crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            "weight",
            "priority",
            F.greatest(F.col("weight").cast("double"), F.col("tau")).alias(
                "est_weight"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# sample-balanced-downsample — majority-class downsampling to parity
# ---------------------------------------------------------------------------

_BAL_ORACLE = """
WITH sizes AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
),
target AS (SELECT MIN(n) AS t FROM sizes),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {h}, doc_id) AS rn
  FROM documents
)
SELECT r.lang,
       CAST(s.n AS BIGINT) AS n_before,
       COUNT(*) AS n_after,
       CAST(MIN(r.doc_id) AS BIGINT) AS min_kept_doc,
       CAST(SUM(r.doc_id) AS BIGINT) AS kept_doc_sum
FROM ranked r
JOIN sizes s USING (lang)
CROSS JOIN target t
WHERE r.rn <= t.t
GROUP BY r.lang, s.n
ORDER BY r.lang
""".format(h=MD5_PREFIX60_SQL.format(x="'bal:' || CAST(doc_id AS VARCHAR)"))


@query("sample-balanced-downsample", oracle=_BAL_ORACLE)
def sample_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling — the rebalancing step for skewed
    training corpora: every language keeps exactly ``min(class size)``
    documents, so the balanced output has uniform class mass without
    upsampling duplicates. Selection within a class is a DETERMINISTIC
    hash order (md5-keyed, doc_id tie-break) — a stable "random"
    sample that reproduces across runs, partitionings and engines,
    exactly like sample-hash-stratified's rate-based cousin (this key
    is count-based: the target adapts to the rarest class).

    Output carries per-class before/after sizes plus kept-set
    aggregates (min + sum of kept ids), so the driver hash-verifies
    the SELECTION, not just the counts.

    Plan shape at scale: class sizes are a tiny groupBy broadcast back
    as a one-row global minimum; the per-class pick is one window over
    the class partition (the WindowGroupLimit pattern — each task
    keeps only its running top-t) + the final per-class aggregate
    reuses the same exchange. Nothing global-sorts."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    sizes = d.groupBy("lang").agg(F.count("*").alias("n_before"))
    target = sizes.agg(F.min("n_before").alias("t"))
    key = md5_prefix60(
        F.concat(F.lit("bal:"), F.col("doc_id").cast("string"))
    )
    ranked = d.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(W.partitionBy("lang").orderBy(key, F.col("doc_id")))
        .alias("rn"),
    )
    return (
        ranked.crossJoin(F.broadcast(target))
        .filter(F.col("rn") <= F.col("t"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_after"),
            F.min("doc_id").alias("min_kept_doc"),
            F.sum("doc_id").alias("kept_doc_sum"),
        )
        .join(F.broadcast(sizes), "lang")
        .select(
            "lang", "n_before", "n_after", "min_kept_doc", "kept_doc_sum"
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# I47 — deterministic weighted interleave of sources into one stream
# ---------------------------------------------------------------------------

_ILV_LIMIT = 200  # emitted prefix of the interleaved stream
_ILV_ALPHA = 0.5  # mixing temperature: per-source rate ∝ n_source^alpha

_ILV_ORACLE = f"""
WITH r AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n_s
  FROM documents
),
v AS (
  SELECT source, doc_id,
         CAST(rn AS DOUBLE) / pow(CAST(n_s AS DOUBLE), {_ILV_ALPHA}) AS vt
  FROM r
),
t AS (SELECT * FROM v ORDER BY vt, source, doc_id LIMIT {_ILV_LIMIT})
SELECT CAST(row_number() OVER (ORDER BY vt, source, doc_id) AS BIGINT)
         AS pos,
       source, doc_id, FLOOR((vt) * 1e9 + 0.5) / 1e9 AS vt
FROM t ORDER BY pos
"""


@query("sample-interleave-sources", oracle=_ILV_ORACLE)
def sample_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I47: deterministic weighted interleave — serialize N corpus
    sources into ONE training stream where source s advances at rate
    ∝ n_s^alpha (alpha = 0.5: the sub-proportional mix that keeps big
    sources from drowning small ones — the streaming twin of
    sample-temperature-weights, which computes the weights but not the
    ORDER). Every document gets a virtual timestamp rn/w_s; the merged
    stream is the virtual-time order. Deterministic by construction:
    no RNG, stable under repartitioning and reruns (the module-top
    contract), which is what makes a training run reproducible.

    Shape at 100 TB: one window partitioned by source assigns rn and
    n_s in a single exchange+sort; the stream prefix is
    TakeOrderedAndProject (per-task top-k + driver merge — no global
    sort materialization, the F5 plan), and the emitted positions come
    from a window over the LIMITED prefix (k rows), not the corpus.
    Parity: rn and n_s are exact integers; vt is one IEEE division by
    a correctly-rounded pow — bit-identical cross-engine — and the
    (vt, source, doc_id) order is total; vt is snapped to 9 dp in the
    output only."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    wsrc = W.partitionBy("source")
    r = d.select(
        "source",
        "doc_id",
        F.row_number().over(wsrc.orderBy("doc_id")).alias("rn"),
        F.count("*").over(wsrc).alias("n_s"),
    )
    vt = F.col("rn").cast("double") / F.pow(
        F.col("n_s").cast("double"), F.lit(_ILV_ALPHA)
    )
    t = (
        r.select("source", "doc_id", vt.alias("vt"))
        .orderBy("vt", "source", "doc_id")
        .limit(_ILV_LIMIT)
    )
    return t.select(
        F.row_number()
        .over(W.orderBy("vt", "source", "doc_id"))
        .cast("long")
        .alias("pos"),
        "source",
        "doc_id",
        snap("vt", 9).alias("vt"),
    ).orderBy("pos")


# ---------------------------------------------------------------------------
# I59 — leakage-safe group k-fold assignment
# ---------------------------------------------------------------------------

_KFOLD_K = 5

_KFOLD_ORACLE = f"""
WITH normed AS (
  SELECT doc_id, lang,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         MIN(doc_id) OVER (PARTITION BY norm_text) AS rep
  FROM normed
),
f AS (
  SELECT doc_id, lang, rep,
         {MD5_PREFIX60_SQL.format(x="CAST(rep AS VARCHAR)")} % {_KFOLD_K}
           AS fold
  FROM r
)
SELECT fold, lang,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT rep) AS n_clusters,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM f GROUP BY fold, lang ORDER BY fold, lang
"""


@query("sample-group-kfold", oracle=_KFOLD_ORACLE)
def sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I59: leakage-safe GROUP k-fold assignment — every document goes
    to one of k=5 folds by hashing its exact-duplicate CLUSTER
    representative (min doc_id over the I1 normalized-text group), so
    verbatim copies can never straddle a train/eval boundary. Plain
    row-hash splits (I17) leak: a duplicated document lands in
    different folds with probability (k-1)/k, and eval scores inherit
    memorized copies — group-wise assignment is the standard fix
    (sklearn GroupKFold semantics, dedup-cluster-as-group). Output is
    the per-(fold, lang) audit a split ships with: doc count, cluster
    count, and the selection checksum (sum of assigned doc_ids) so the
    driver verifies the ASSIGNMENT, not just marginals.

    Shape at 100 TB: the cluster key is xxhash64(norm_text) computed
    map-side, so the grouping window shuffles (8-byte hash, doc_id,
    lang) — text never crosses the wire (the I1 argument, collision
    odds documented there); fold = md5-prefix-60 of the representative
    id modulo k is one scalar expression; the final rollup is a
    k x langs-bounded hash aggregate. One corpus-sized shuffle total,
    everything else metadata-scale.

    Parity: Spark partitions the window by xxhash64(norm_text), the
    oracle by norm_text itself — hash-group equality equals
    string-group equality up to 64-bit collisions (I1/I56 precedent);
    fold hashing goes through the shared md5-prefix-60 contract
    (engine-exact), and all outputs are exact integers."""
    from pyspark.sql import Window as W

    from spark_file_mover_spark.llm.dedup import _norm_hash

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("nh")
    r = d.select(
        "doc_id", "lang", _norm_hash().alias("nh")
    ).withColumn("rep", F.min("doc_id").over(w))
    f = r.withColumn(
        "fold",
        F.pmod(
            md5_prefix60(F.col("rep").cast("string")), F.lit(_KFOLD_K)
        ),
    )
    return (
        f.groupBy("fold", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("fold", "lang")
    )


# ---------------------------------------------------------------------------
# sample-quota-allocate — largest-remainder (Hamilton) budget apportionment
# ---------------------------------------------------------------------------

_QUOTA_BUDGET = 10_000

_QUOTA_ORACLE = f"""
WITH s AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY lang
),
t AS (
  SELECT *, CAST(SUM(n_docs) OVER () AS BIGINT) AS total FROM s
),
b AS (
  SELECT lang, n_docs, total,
         CAST(({_QUOTA_BUDGET} * n_docs) // total AS BIGINT) AS base,
         CAST(({_QUOTA_BUDGET} * n_docs) % total AS BIGINT) AS rem
  FROM t
),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rr,
         CAST({_QUOTA_BUDGET} - SUM(base) OVER () AS BIGINT) AS leftover
  FROM b
)
SELECT lang, n_docs,
       CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS quota
FROM r ORDER BY lang
"""


@query("sample-quota-allocate", oracle=_QUOTA_ORACLE)
def sample_quota_allocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed sampling
    budget across languages, proportional to class mass — the exact
    integer answer to "we can afford 10k docs; how many from each
    language?" that naive rounding gets wrong (floors undershoot the
    budget, per-class rounding overshoots it; Hamilton distributes the
    leftover to the largest fractional remainders, so the quotas SUM
    TO THE BUDGET exactly, by construction).

    Everything stays in exact integer space: base = (B*n) div N,
    remainder = (B*n) mod N (never a float share), leftover ranks over
    the |langs|-bounded relation with a deterministic (remainder desc,
    lang) order. Downstream, the per-class quota feeds the I45-style
    deterministic hash pick.

    Shape at 100 TB: one map-side-combined count per language; every
    window runs over the |langs|-bounded relation. The corpus is
    scanned once, for the counts."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    b = s.select(
        "lang",
        "n_docs",
        F.sum("n_docs").over(wall).cast("long").alias("total"),
    ).selectExpr(
        "lang",
        "n_docs",
        "total",
        f"CAST(({_QUOTA_BUDGET} * n_docs) DIV total AS BIGINT) AS base",
        f"CAST(({_QUOTA_BUDGET} * n_docs) % total AS BIGINT) AS rem",
    )
    wr = W.orderBy(F.col("rem").desc(), "lang")
    r = b.select(
        "lang",
        "n_docs",
        "base",
        F.row_number().over(wr).alias("rr"),
        (F.lit(_QUOTA_BUDGET) - F.sum("base").over(wall))
        .cast("long")
        .alias("leftover"),
    )
    return r.select(
        "lang",
        "n_docs",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# I64 — class-imbalance negative downsampling with importance weights
# ---------------------------------------------------------------------------

_NEG_RATE_PCT = 10  # keep 10% of negatives, weight 10x

_NEG_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_type,
         event_type = 'purchase' AS is_pos,
         {MD5_PREFIX60_SQL.format(x="CAST(event_id AS VARCHAR)")} % 100
           < {_NEG_RATE_PCT} AS neg_picked
  FROM events
),
k AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN is_pos OR neg_picked THEN 1 ELSE 0 END)
              AS BIGINT) AS n_kept,
         CAST(SUM(CASE WHEN is_pos THEN 1
                       WHEN neg_picked THEN {100 // _NEG_RATE_PCT}
                       ELSE 0 END) AS BIGINT) AS weighted_kept
  FROM e GROUP BY event_type
)
SELECT event_type, n_total, n_kept, weighted_kept,
       FLOOR((CAST(n_kept AS DOUBLE) / CAST(n_total AS DOUBLE))
             * 1e9 + 0.5) / 1e9 AS kept_frac
FROM k ORDER BY event_type
"""


@query("sample-downsample-negatives", oracle=_NEG_ORACLE)
def sample_downsample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I64: class-imbalance correction for CTR/conversion training
    sets — keep EVERY positive (purchases) and a deterministic 10%
    hash sample of negatives, each kept negative carrying importance
    weight 10 so downstream counts/losses stay unbiased (the standard
    negative-downsampling + inverse-propensity-weight recipe; at
    real CTR ratios this cuts training volume ~10x at equal signal).
    Selection is the shared md5-prefix-60 hash of event_id — stable
    across partitioning, reruns and engines (the I18 contract), never
    df.sample's partition-dependent RNG.

    Output is the per-class audit: totals, kept counts, the exact
    weighted-kept sum (each negative contributes its weight — the
    unbiasedness bookkeeping a training job logs), and the kept
    fraction. The training-set projection itself is the same
    predicate applied as a filter (map-side, pushable).

    Shape at 100 TB: one scan, map-side predicate + conditional sums,
    output bounded by event types. Exact integers; one snapped
    division."""
    e = load_table(spark, sf_dir, "events")
    is_pos = F.col("event_type") == "purchase"
    neg_picked = (
        F.pmod(md5_prefix60(F.col("event_id").cast("string")), F.lit(100))
        < _NEG_RATE_PCT
    )
    w = 100 // _NEG_RATE_PCT
    k = (
        e.select(
            "event_type",
            is_pos.alias("is_pos"),
            neg_picked.alias("neg_picked"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum(
                F.when(F.col("is_pos") | F.col("neg_picked"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("is_pos"), 1)
                .when(F.col("neg_picked"), w)
                .otherwise(0)
            )
            .cast("long")
            .alias("weighted_kept"),
        )
    )
    return k.selectExpr(
        "event_type",
        "n_total",
        "n_kept",
        "weighted_kept",
        "FLOOR((CAST(n_kept AS DOUBLE) / CAST(n_total AS DOUBLE))"
        " * 1e9 + 0.5) / 1e9 AS kept_frac",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# I67 — leakage-audited temporal train/test split
# ---------------------------------------------------------------------------

_TSPLIT_ORACLE = """
WITH e AS (
  SELECT user_id,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
  FROM events
),
dist AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY day
),
runs AS (
  SELECT day, c,
         CAST(SUM(c) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(c) OVER () AS BIGINT) AS n
  FROM dist
),
cut AS (
  SELECT CAST(MIN(CASE WHEN cum >= (8 * n + 9) // 10 THEN day END)
              AS BIGINT) AS cutoff_day
  FROM runs
),
pu AS (
  SELECT user_id, MIN(day) AS dmin, MAX(day) AS dmax FROM e GROUP BY user_id
),
m AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN dmin <= c.cutoff_day THEN 1 END), 0)
              AS BIGINT) AS n_users_train,
         CAST(COALESCE(SUM(CASE WHEN dmax > c.cutoff_day THEN 1 END), 0)
              AS BIGINT) AS n_users_test,
         CAST(COALESCE(SUM(CASE WHEN dmin <= c.cutoff_day
                                 AND dmax > c.cutoff_day THEN 1 END), 0)
              AS BIGINT) AS n_users_overlap
  FROM pu, cut c
),
ev AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN day <= c.cutoff_day THEN cnt.c END),
                       0) AS BIGINT) AS n_train,
         CAST(COALESCE(SUM(CASE WHEN day > c.cutoff_day THEN cnt.c END),
                       0) AS BIGINT) AS n_test
  FROM dist cnt, cut c
)
SELECT cut.cutoff_day, ev.n_train, ev.n_test,
       m.n_users_train, m.n_users_test, m.n_users_overlap
FROM cut, ev, m
"""


@query("sample-temporal-split", oracle=_TSPLIT_ORACLE)
def sample_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I67: the TEMPORAL train/test split with its leakage audit — the
    other standard split next to the random-hash one (I17): models
    evaluated on the future, trained on the past. The cutoff day is
    the exact 80%-of-events nearest-rank day (train = day <= cutoff),
    and the payload is the split report every such pipeline logs:
    event counts per side and the USER OVERLAP count — users active
    on both sides of the cut, the population whose test behavior a
    memorizing model can cheat on (the number a leakage review asks
    for first; the random split's analogue is group-kfold's
    cluster-straddle audit, I59).

    Parity: days are exact integers (epoch_us div 86400000000 — the
    G10 contract); the cutoff is a nearest-rank order statistic over
    the day distribution; all six outputs exact BIGINTs. Empty corpus
    → NULL cutoff and zero counts in both engines.

    Shape at 100 TB: the cutoff comes from the DAY distribution
    (calendar-bounded — the E19 discipline), never a sort of events;
    the per-side event counts reuse the SAME day relation; user-level
    numbers are one per-user (min_day, max_day) collapse with
    map-side combine + ONE one-row conditional aggregate with the
    cutoff broadcast via one-row crossJoin. Two pushed-filter-free
    passes over events (day distribution + per-user bounds), both
    collapsing map-side."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias(
            "day"
        ),
    )
    dist = e.groupBy("day").agg(F.count("*").cast("long").alias("c"))
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    runs = dist.select(
        "day",
        "c",
        F.sum("c").over(wcum).cast("long").alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
    ).localCheckpoint(eager=True)
    cut = runs.agg(
        F.min(
            F.expr("CASE WHEN cum >= (8 * n + 9) DIV 10 THEN day END")
        )
        .cast("long")
        .alias("cutoff_day")
    )
    ev = (
        runs.crossJoin(F.broadcast(cut))
        .agg(
            F.coalesce(
                F.sum(F.expr("CASE WHEN day <= cutoff_day THEN c END")),
                F.lit(0),
            )
            .cast("long")
            .alias("n_train"),
            F.coalesce(
                F.sum(F.expr("CASE WHEN day > cutoff_day THEN c END")),
                F.lit(0),
            )
            .cast("long")
            .alias("n_test"),
        )
    )
    pu = e.groupBy("user_id").agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    )
    m = pu.crossJoin(F.broadcast(cut)).agg(
        F.coalesce(
            F.sum(F.expr("CASE WHEN dmin <= cutoff_day THEN 1 END")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_users_train"),
        F.coalesce(
            F.sum(F.expr("CASE WHEN dmax > cutoff_day THEN 1 END")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_users_test"),
        F.coalesce(
            F.sum(
                F.expr(
                    "CASE WHEN dmin <= cutoff_day"
                    " AND dmax > cutoff_day THEN 1 END"
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_users_overlap"),
    )
    return (
        F.broadcast(cut)
        .crossJoin(ev)
        .crossJoin(m)
        .select(
            "cutoff_day",
            "n_train",
            "n_test",
            "n_users_train",
            "n_users_test",
            "n_users_overlap",
        )
    )


# ---------------------------------------------------------------------------
# I71 — length-bucketed batching audit (power-of-2 buckets, padding waste)
# ---------------------------------------------------------------------------

_LENBUCKET_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(trim(text)), '\s+'))
              AS BIGINT) AS n_tok
  FROM documents
),
b AS (
  SELECT doc_id, n_tok,
         CASE WHEN n_tok <= 1 THEN CAST(1 AS BIGINT)
              ELSE CAST(1 AS BIGINT) << LENGTH(bin(n_tok - 1))
         END AS bucket_ceil
  FROM d
),
g AS (
  SELECT bucket_ceil,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         CAST(SUM(bucket_ceil - n_tok) AS BIGINT) AS padding_tokens
  FROM b GROUP BY 1
),
t AS (
  SELECT *, CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total FROM g
)
SELECT bucket_ceil, n_docs, total_tokens, padding_tokens,
       FLOOR((CAST(padding_tokens AS DOUBLE)
              / CAST(n_docs * bucket_ceil AS DOUBLE)) * 1e9 + 0.5) / 1e9
         AS waste_frac,
       FLOOR((CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))
             * 1e9 + 0.5) / 1e9 AS doc_share
FROM t ORDER BY bucket_ceil
"""


@query("sample-length-buckets", oracle=_LENBUCKET_ORACLE)
def sample_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I71: length-bucketed batching audit — assign every document to
    the power-of-2 token-length bucket trainers pad to (the dynamic-
    batching scheme every LLM data loader uses to keep GPU batches
    rectangular), and report per bucket the padding waste that choice
    buys: Σ(ceil − len) tokens burned vs the bucket ceiling, the
    fraction of the padded batch that is padding, and each bucket's
    share of the corpus. The complement of I23 (pack-sequences packs
    documents INTO a fixed context; this audits the pad-to-bucket
    alternative) — reading waste_frac across buckets is how you pick
    between the two strategies.

    Bucket assignment is EXACT INTEGER arithmetic, not log2 doubles:
    ceil(log2(n)) = LENGTH(bin(n−1)) for n ≥ 2 (both engines ship the
    same binary-string builtin), then 1 << e — a double log2 at an
    exact power of 2 is precision-roulette at the bucket boundary;
    the bit-length form cannot misassign.

    Shape at 100 TB: one scan, token counts computed map-side from
    the shared tokenizer (never materializing token arrays past the
    count), hash agg onto the ~⌈log2(max_len)⌉-row bucket relation,
    one window over that bounded relation for shares. Text never
    shuffles.

    Parity: counts/paddings exact BIGINTs; the two fractions are
    single textual division chains over exact operands, snapped."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(toks()).cast("long").alias("n_tok")
    )
    b = d.selectExpr(
        "doc_id",
        "n_tok",
        "CASE WHEN n_tok <= 1 THEN CAST(1 AS BIGINT)"
        " ELSE shiftleft(CAST(1 AS BIGINT), LENGTH(bin(n_tok - 1)))"
        " END AS bucket_ceil",
    )
    g = b.groupBy("bucket_ceil").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum(F.col("bucket_ceil") - F.col("n_tok"))
        .cast("long")
        .alias("padding_tokens"),
    )
    from pyspark.sql import Window as W

    t = g.withColumn(
        "n_total",
        F.sum("n_docs")
        .over(
            W.partitionBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        .cast("long"),
    )
    return t.selectExpr(
        "bucket_ceil",
        "n_docs",
        "total_tokens",
        "padding_tokens",
        "FLOOR((CAST(padding_tokens AS DOUBLE)"
        " / CAST(n_docs * bucket_ceil AS DOUBLE)) * 1e9 + 0.5) / 1e9"
        " AS waste_frac",
        "FLOOR((CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))"
        " * 1e9 + 0.5) / 1e9 AS doc_share",
    ).orderBy("bucket_ceil")


# ---------------------------------------------------------------------------
# I74 — deterministic per-epoch shuffle order (reproducible data order)
# ---------------------------------------------------------------------------

_EPOCHS = 3
_SHUF_TOPK = 10

_EPOCH_SHUFFLE_ORACLE = f"""
WITH ep AS (SELECT unnest(range(0, {_EPOCHS})) AS epoch),
keyed AS (
  SELECT ep.epoch, d.doc_id,
         {MD5_PREFIX60_SQL.format(
             x="CAST(ep.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)"
         )} AS shuffle_key
  FROM documents d CROSS JOIN ep
),
r AS (
  SELECT epoch, doc_id, shuffle_key,
         CAST(ROW_NUMBER() OVER (PARTITION BY epoch
                                 ORDER BY shuffle_key, doc_id)
              AS BIGINT) AS rank
  FROM keyed
),
topk AS (SELECT * FROM r WHERE rank <= {_SHUF_TOPK}),
ov AS (
  SELECT a.epoch,
         CAST(COUNT(b.doc_id) AS BIGINT) AS overlap_with_prev
  FROM topk a LEFT JOIN topk b
    ON b.epoch = a.epoch - 1 AND b.doc_id = a.doc_id
  GROUP BY a.epoch
)
SELECT t.epoch, t.rank, t.doc_id, t.shuffle_key, ov.overlap_with_prev
FROM topk t JOIN ov ON ov.epoch = t.epoch
ORDER BY t.epoch, t.rank
"""


@query("sample-epoch-shuffle", oracle=_EPOCH_SHUFFLE_ORACLE)
# Not ``pure``: the build localCheckpoints the k·epochs top-k
# relation — the doc-scale rank window runs at BUILD time, so a
# plan-cache hit would serve its materialized output (result
# caching). The barrier stays (re-running the window per consumer is
# the worse trade at scale); the key is not ``pure``.
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I74: deterministic per-epoch shuffle order — rank every
    document by md5(epoch ':' doc_id) per training epoch: the
    reproducible data-ordering contract multi-epoch training needs
    (restart epoch 2 on any cluster, get the SAME order — no
    partition-dependent RNG, the I17/I18 hash-determinism doctrine
    applied to ORDER instead of membership), emitting each epoch's
    k-prefix plus its overlap with the previous epoch's prefix — the
    sanity readout that the per-epoch orders are actually decorrelated
    (expected overlap k²/N ≈ 0) rather than one epoch's order reused.

    Shape at 100 TB: a shuffle at scale is realized as a SORT by the
    hash key (or bucket-write by key prefix) — here the k-prefix per
    epoch is TakeOrderedAndProject-shaped per epoch partition
    (row_number + rank filter = WindowGroupLimit, no full sort
    materialization); the epoch dimension is a 3-row broadcast
    cross-join, and the overlap join runs on the k·epochs-bounded
    prefix relation.

    Parity: the shared md5-prefix-60 hash (the I18 contract) keyed on
    epoch ':' doc_id; ranks from the (key, doc_id) total order; all
    exact integers."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    ep = spark.range(_EPOCHS).select(F.col("id").alias("epoch"))
    keyed = d.crossJoin(F.broadcast(ep)).select(
        "epoch",
        "doc_id",
        md5_prefix60(
            F.concat_ws(
                ":",
                F.col("epoch").cast("string"),
                F.col("doc_id").cast("string"),
            )
        ).alias("shuffle_key"),
    )
    r = keyed.select(
        "*",
        F.row_number()
        .over(W.partitionBy("epoch").orderBy("shuffle_key", "doc_id"))
        .cast("long")
        .alias("rank"),
    )
    topk = r.filter(F.col("rank") <= _SHUF_TOPK).localCheckpoint(
        eager=True
    )  # k·epochs rows, consumed by both sides of the overlap join
    b = topk.select(
        (F.col("epoch") + 1).alias("epoch"), F.col("doc_id").alias("bdoc")
    )
    ov = (
        topk.join(
            b,
            (topk["epoch"] == b["epoch"]) & (topk["doc_id"] == b["bdoc"]),
            "left",
        )
        .groupBy(topk["epoch"])
        .agg(F.count("bdoc").cast("long").alias("overlap_with_prev"))
    )
    return (
        topk.join(ov, "epoch")
        .select("epoch", "rank", "doc_id", "shuffle_key",
                "overlap_with_prev")
        .orderBy("epoch", "rank")
    )


# ---------------------------------------------------------------------------
# I76 — rolling-origin (walk-forward) evaluation folds
# ---------------------------------------------------------------------------

_RO_FOLDS = [(1, 50), (2, 65), (3, 80)]  # (fold id, train % of events)

_ROLLING_ORIGIN_ORACLE = f"""
WITH dd AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
cum AS (
  SELECT day, c,
         CAST(SUM(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cm,
         CAST(SUM(c) OVER () AS BIGINT) AS n
  FROM dd
),
cuts AS (
  SELECT
    {', '.join(f"MIN(CASE WHEN cm >= ({p} * n + 99) // 100 THEN day END)"
               f" AS cut{k}" for k, p in _RO_FOLDS)}
  FROM cum
),
pu AS (
  SELECT user_id,
         CAST(MIN(epoch_us(ts) // 86400000000) AS BIGINT) AS mind,
         CAST(MAX(epoch_us(ts) // 86400000000) AS BIGINT) AS maxd
  FROM events GROUP BY user_id
),
ev AS (
  SELECT
    {', '.join(
        f"CAST(SUM(CASE WHEN day <= cut{k} THEN c ELSE 0 END) AS BIGINT)"
        f" AS tr{k}, CAST(SUM(CASE WHEN day > cut{k} THEN c ELSE 0 END)"
        f" AS BIGINT) AS te{k}" for k, p in _RO_FOLDS)}
  FROM dd CROSS JOIN cuts
),
us AS (
  SELECT
    {', '.join(
        f"CAST(SUM(CASE WHEN mind <= cut{k} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS utr{k},"
        f" CAST(SUM(CASE WHEN maxd > cut{k} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS ute{k},"
        f" CAST(SUM(CASE WHEN mind <= cut{k} AND maxd > cut{k}"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS ulk{k}"
        for k, p in _RO_FOLDS)}
  FROM pu CROSS JOIN cuts
)
{' UNION ALL '.join(
    f"SELECT CAST({k} AS BIGINT) AS fold, CAST({p} AS BIGINT) AS train_pct,"
    f" STRFTIME(DATE '1970-01-01' + INTERVAL (cut{k}) DAY, '%Y-%m-%d')"
    f" AS cutoff_day, tr{k} AS n_train_events, te{k} AS n_test_events,"
    f" utr{k} AS n_train_users, ute{k} AS n_test_users,"
    f" ulk{k} AS n_straddle_users"
    f" FROM cuts CROSS JOIN ev CROSS JOIN us" for k, p in _RO_FOLDS)}
ORDER BY fold
"""


@query("sample-rolling-origin", oracle=_ROLLING_ORIGIN_ORACLE)
def sample_rolling_origin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I76: rolling-origin (walk-forward) evaluation folds — three
    nested temporal cutoffs at 50/65/80% of events, each with train/
    test event counts and the user-overlap (straddle) count: the
    time-series cross-validation protocol (Tashman 2000) that
    replaces k-fold when order matters — I67 audits ONE split, this
    builds the nested fold LADDER a forecasting/churn evaluation
    actually trains on, and the per-fold straddle count is the
    leakage budget a memorizing model exploits at each origin.

    Shape at 100 TB: the cutoffs come from one cumulative window over
    the calendar-bounded day relation (E19 discipline); users from
    ONE per-user (min_day, max_day) collapse; each aggregate
    cross-joins the one-row cutoff relation and answers ALL folds in
    single conditional passes; the fold rows are a stack() unpivot —
    no per-fold corpus passes, at any fold count.

    Parity: day indexes, cutoffs and counts exact integers
    (nearest-rank via the integer ceil identity); train = day ≤ cut,
    test = day > cut, both engines textually aligned."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    dayx = F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)")
    dd = (
        ev.groupBy(dayx.alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # consumed twice (cutoff window + per-fold event counts)
        .localCheckpoint(eager=True)
    )
    cum = dd.select(
        "day",
        "c",
        F.sum("c")
        .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("cm"),
        F.sum("c")
        .over(
            W.partitionBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        .cast("long")
        .alias("n"),
    )
    cuts = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cm") >= F.expr(f"({p} * n + 99) div 100"),
                    F.col("day"),
                )
            ).alias(f"cut{k}")
            for k, p in _RO_FOLDS
        ]
    )
    pu = ev.groupBy("user_id").agg(
        F.min(dayx).cast("long").alias("mind"),
        F.max(dayx).cast("long").alias("maxd"),
    )
    ev_agg = dd.crossJoin(cuts).agg(
        *[
            agg
            for k, p in _RO_FOLDS
            for agg in (
                F.sum(
                    F.when(F.col("day") <= F.col(f"cut{k}"), F.col("c"))
                    .otherwise(0)
                )
                .cast("long")
                .alias(f"tr{k}"),
                F.sum(
                    F.when(F.col("day") > F.col(f"cut{k}"), F.col("c"))
                    .otherwise(0)
                )
                .cast("long")
                .alias(f"te{k}"),
            )
        ]
    )
    us = pu.crossJoin(cuts).agg(
        *[
            agg
            for k, p in _RO_FOLDS
            for agg in (
                F.sum(
                    F.when(F.col("mind") <= F.col(f"cut{k}"), 1).otherwise(0)
                )
                .cast("long")
                .alias(f"utr{k}"),
                F.sum(
                    F.when(F.col("maxd") > F.col(f"cut{k}"), 1).otherwise(0)
                )
                .cast("long")
                .alias(f"ute{k}"),
                F.sum(
                    F.when(
                        (F.col("mind") <= F.col(f"cut{k}"))
                        & (F.col("maxd") > F.col(f"cut{k}")),
                        1,
                    ).otherwise(0)
                )
                .cast("long")
                .alias(f"ulk{k}"),
            )
        ]
    )
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), CAST({p} AS BIGINT),"
        f" date_format(date_add(DATE '1970-01-01', CAST(cut{k} AS INT)),"
        f" 'yyyy-MM-dd'), tr{k}, te{k}, utr{k}, ute{k}, ulk{k}"
        for k, p in _RO_FOLDS
    )
    return (
        cuts.crossJoin(ev_agg)
        .crossJoin(us)
        .selectExpr(
            f"stack({len(_RO_FOLDS)}, {stack_args})"
            " AS (fold, train_pct, cutoff_day, n_train_events,"
            " n_test_events, n_train_users, n_test_users,"
            " n_straddle_users)"
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# I80 — sample-ess-weights: importance-weight diagnostics per source
# ---------------------------------------------------------------------------

_ESS_SCALE = 10**12  # integer weight scale: w = SCALE div n_chars
_ESS_CLIP_K = 3  # clip screen at K x mean weight

_ESS_ORACLE = f"""
WITH w AS (
  SELECT source, doc_id,
         CAST({_ESS_SCALE} AS BIGINT) // n_chars AS w_int
  FROM documents WHERE n_chars > 0
),
t AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(w_int) AS sum_w,
         SUM(CAST(w_int AS DECIMAL(38,0)) * w_int) AS sum_w2,
         MAX(w_int) AS max_w
  FROM w GROUP BY source
),
c AS (
  SELECT w.source,
         COUNT(CASE WHEN w.w_int * t.n_docs
                         > {_ESS_CLIP_K} * t.sum_w THEN 1 END)
           AS n_clipped,
         CAST(COALESCE(SUM(CASE WHEN w.w_int * t.n_docs
                                     > {_ESS_CLIP_K} * t.sum_w
                                THEN w.w_int END), 0) AS BIGINT)
           AS clipped_mass
  FROM w JOIN t ON w.source = t.source
  GROUP BY w.source
)
SELECT t.source,
       CAST(t.n_docs AS BIGINT) AS n_docs,
       CAST(t.sum_w AS BIGINT) AS sum_w,
       t.max_w,
       FLOOR(CAST(CAST(t.sum_w AS DECIMAL(38,0)) * t.sum_w AS DOUBLE)
             / CAST(t.sum_w2 AS DOUBLE) * 1e9 + 0.5) / 1e9 AS ess,
       FLOOR(CAST(CAST(t.sum_w AS DECIMAL(38,0)) * t.sum_w AS DOUBLE)
             / CAST(t.sum_w2 AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
             * 1e9 + 0.5) / 1e9 AS ess_ratio,
       FLOOR(CAST(t.max_w AS DOUBLE) / CAST(t.sum_w AS DOUBLE)
             * 1e9 + 0.5) / 1e9 AS max_share,
       CAST(c.n_clipped AS BIGINT) AS n_clipped,
       FLOOR(CAST(c.clipped_mass AS DOUBLE) / CAST(t.sum_w AS DOUBLE)
             * 1e9 + 0.5) / 1e9 AS clipped_mass_share
FROM t JOIN c ON t.source = c.source
ORDER BY t.source
"""


@query("sample-ess-weights", oracle=_ESS_ORACLE)
# Not ``pure``: the build runs an eager localCheckpoint barrier,
# per-invocation work a plan-cache hit would silently skip (a
# result cache).
def sample_ess_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I80: importance-weight diagnostics — effective sample size and
    clipping screen per source. When a corpus sampled length-biased
    (proposal ∝ n_chars) must stand in for a uniform target, each doc
    carries importance weight w ∝ 1/n_chars; before TRUSTING a
    weighted estimate, a pipeline checks Kish's effective sample size
    ESS = (Σw)²/Σw², its ratio to n (1 = uniform, →1/n = one doc
    dominates), the max single-doc weight share, and how many weights
    a K×mean clip would touch and what weight mass they hold — the
    standard variance-control readout (PPI/IPW diagnostics) that
    decides between reweighting and resampling.

    Parity: weights are exact integer quotients (SCALE div n_chars);
    Σw is BIGINT, Σw² a DECIMAL(38,0) product-sum (the F39 technique —
    order-free exact arithmetic, no float accumulation anywhere); the
    clip screen w·n > K·Σw is an exact BIGINT cross-multiply (no
    rational mean materialized); ESS/ratios are single snapped
    divisions of exact operands.

    Shape at 100 TB: one groupBy(source) absorbs corpus volume
    map-side into a sources-bounded totals relation; the clip pass
    re-joins totals as a BROADCAST (a handful of rows) onto the same
    map-side weight expression, and its groupBy reuses the source
    key — two scans of the weight projection, totals never leave
    metadata scale."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .selectExpr(
            "source",
            f"CAST({_ESS_SCALE} AS BIGINT) DIV n_chars AS w_int",
        )
    )
    t = (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("w_int").cast("long").alias("sum_w"),
            F.sum(F.expr("CAST(w_int AS DECIMAL(38,0)) * w_int"))
            .cast("decimal(38,0)")
            .alias("sum_w2"),
            F.max("w_int").alias("max_w"),
        )
        # sources-bounded totals consumed THREE times (clip broadcast,
        # final join, and its own stats): checkpoint so each consumer
        # reads the handful of materialized rows instead of re-running
        # the corpus scan (the scan-signature gate; r16 measured the
        # lazy form at THREE FileScans per action — the broadcast
        # subtrees don't share the shuffle exchange, so reuse never
        # fires here). The barrier is per-invocation eager work, so
        # the key must not be ``pure``.
        .localCheckpoint(eager=True)
    )
    c = (
        d.join(F.broadcast(t.select("source", "n_docs", "sum_w")), "source")
        .groupBy("source")
        .agg(
            F.count(
                F.expr(
                    f"CASE WHEN w_int * n_docs > {_ESS_CLIP_K} * sum_w"
                    " THEN 1 END"
                )
            )
            .cast("long")
            .alias("n_clipped"),
            F.coalesce(
                F.sum(
                    F.expr(
                        f"CASE WHEN w_int * n_docs > {_ESS_CLIP_K} * sum_w"
                        " THEN w_int END"
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("clipped_mass"),
        )
    )
    return (
        t.join(c, "source")
        .selectExpr(
            "source",
            "n_docs",
            "sum_w",
            "max_w",
            "FLOOR(CAST(CAST(sum_w AS DECIMAL(38,0)) * sum_w AS DOUBLE)"
            " / CAST(sum_w2 AS DOUBLE) * 1e9 + 0.5) / 1e9 AS ess",
            "FLOOR(CAST(CAST(sum_w AS DECIMAL(38,0)) * sum_w AS DOUBLE)"
            " / CAST(sum_w2 AS DOUBLE) / CAST(n_docs AS DOUBLE)"
            " * 1e9 + 0.5) / 1e9 AS ess_ratio",
            "FLOOR(CAST(max_w AS DOUBLE) / CAST(sum_w AS DOUBLE)"
            " * 1e9 + 0.5) / 1e9 AS max_share",
            "n_clipped",
            "FLOOR(CAST(clipped_mass AS DOUBLE) / CAST(sum_w AS DOUBLE)"
            " * 1e9 + 0.5) / 1e9 AS clipped_mass_share",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# I88 — sample-neyman-allocation: optimal stratified sample sizing
# ---------------------------------------------------------------------------

_NEY_N = 1000  # total sample budget, shared literal

# Population σ_h from exact integer sums: N·Σx² − (Σx)² over N², then
# quota_h = n · N_h σ_h / Σ(N σ). The allocation must sum EXACTLY to n,
# so integer parts are floored and the remainder distributes by
# largest fractional part (ties by source) — the largest-remainder
# method, ranked on SNAPPED quotas so both engines order identically.
_NEY_SIG = (
    "SQRT((CAST(nh AS DOUBLE) * CAST(q2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
    " / (CAST(nh AS DOUBLE) * CAST(nh AS DOUBLE)))"
)

_NEYMAN_ORACLE = f"""
WITH st AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS nh,
         CAST(SUM(n_chars) AS DECIMAL(38,0)) AS s1,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars)
              AS DECIMAL(38,0)) AS q2
  FROM documents GROUP BY source
),
w AS (
  SELECT source, nh,
         FLOOR({_NEY_SIG} * 1e9 + 0.5) / 1e9 AS sigma,
         CAST(nh AS DOUBLE) * ({_NEY_SIG}) AS wgt
  FROM st
),
q AS (
  SELECT source, nh, sigma,
         FLOOR({_NEY_N} * wgt / SUM(wgt) OVER () * 1e9 + 0.5) / 1e9
           AS quota
  FROM w
),
a AS (
  SELECT source, nh, sigma, quota,
         CAST(FLOOR(quota) AS BIGINT) AS base,
         quota - FLOOR(quota) AS frac,
         CAST({_NEY_N} - SUM(CAST(FLOOR(quota) AS BIGINT)) OVER ()
              AS BIGINT) AS short,
         CAST(ROW_NUMBER() OVER (ORDER BY quota - FLOOR(quota) DESC,
                                 source) AS BIGINT) AS fr
  FROM q
)
SELECT source, nh, sigma, quota,
       base + CASE WHEN fr <= short THEN 1 ELSE 0 END AS n_alloc
FROM a ORDER BY source
"""


@query("sample-neyman-allocation", oracle=_NEYMAN_ORACLE)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I88: Neyman-optimal stratified sample allocation (Neyman 1934):
    given a total budget of {n} documents, each source stratum gets
    n_h ∝ N_h·σ_h — more samples where the stratum is BIG or NOISY —
    the allocation that minimizes the variance of the stratified
    estimator; proportional allocation (I12's cousin) over-samples
    homogeneous strata. Integer allocations sum exactly to the budget
    via the largest-remainder method (floor the quotas, hand the
    shortfall to the largest fractional parts).

    Parity: per-stratum (N, Σx, Σx²) are exact DECIMAL(38,0) sums; σ
    and quota are shared textual snapped chains; the remainder rank
    orders by SNAPPED quota fractions with source tie-breaks, so both
    engines hand out identical +1s; Σ n_alloc = budget is exact by
    construction (asserted in tests).

    Shape at 100 TB: ONE groupBy(source) absorbs corpus volume
    map-side into a sources-bounded relation; every window after runs
    over that handful of rows."""
    d = load_table(spark, sf_dir, "documents")
    st = d.groupBy("source").agg(
        F.count("*").cast("long").alias("nh"),
        F.sum("n_chars").cast("decimal(38,0)").alias("s1"),
        F.sum(F.expr("CAST(n_chars AS DECIMAL(38,0)) * n_chars"))
        .cast("decimal(38,0)")
        .alias("q2"),
    )
    w = st.selectExpr(
        "source",
        "nh",
        f"FLOOR({_NEY_SIG} * 1e9 + 0.5) / 1e9 AS sigma",
        f"CAST(nh AS DOUBLE) * ({_NEY_SIG}) AS wgt",
    )
    from pyspark.sql import Window as W

    full = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    q = (
        w.withColumn("swgt", F.sum("wgt").over(full))
        .selectExpr(
            "source",
            "nh",
            "sigma",
            f"FLOOR({_NEY_N} * wgt / swgt * 1e9 + 0.5) / 1e9 AS quota",
        )
    )
    a = (
        q.withColumn("base", F.expr("CAST(FLOOR(quota) AS BIGINT)"))
        .withColumn("frac", F.expr("quota - FLOOR(quota)"))
        .withColumn(
            "short",
            F.expr(f"CAST({_NEY_N} AS BIGINT)")
            - F.sum("base").over(full).cast("long"),
        )
        .withColumn(
            "fr",
            F.row_number()
            .over(W.orderBy(F.desc("frac"), F.asc("source")))
            .cast("long"),
        )
    )
    return a.selectExpr(
        "source",
        "nh",
        "sigma",
        "quota",
        "base + CASE WHEN fr <= short THEN 1 ELSE 0 END AS n_alloc",
    ).orderBy("source")
