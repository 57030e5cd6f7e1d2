"""Embedding clustering / vector-compression operators (SURVEY.md §2 K/I).

The reference has no clustering code (its entire source is the 56-line
committer, MoveFilesOutputCommitter.scala:1-56); these keys are part of
the mandated LLM-data-pipeline substrate: corpus clustering (topic
binning, dedup blocking, curriculum mixing) and vector compression
(product quantization for ANN at 100 TB) are standard stages of a
training-data pipeline over an embedding column.

Shared exactness technique: embeddings are quantized ONCE to fixed-point
BIGINTs (``floor(x * 10^6 + 0.5)`` — float multiply/add/floor are
correctly-rounded IEEE ops, so both engines produce identical integers),
after which every distance, sum and centroid update is order-independent
integer arithmetic the driver can hash-compare exactly — the
``graph-pagerank`` fixed-point pattern applied to geometry.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import (
    ingest_artifact,
    load_table,
    session_memo,
)
from spark_file_mover_spark.numerics import snap

# ---------------------------------------------------------------------------
# K2 — embed-kmeans-lloyd: fixed-iteration Lloyd k-means in exact
# fixed-point arithmetic
# ---------------------------------------------------------------------------

_KM_DIM = 64  # embeddings.embedding dimension (FIXTURES.md)
_KM_K = 8
_KM_ROUNDS = 3  # assignment rounds; updates run after rounds 1..ROUNDS-1
_KM_QSCALE = 10**6  # fixed-point scale: |x| <= ~0.4 -> |q| <= ~4*10^5


def _km_cte_prefix(k: int = _KM_K, rounds: int = _KM_ROUNDS) -> str:
    """The Lloyd loop as chained CTE blocks, ending with the final
    assignment ``a{ROUNDS}`` and the centroids ``c{ROUNDS-1}`` it was
    computed against — shared verbatim by the kmeans oracle, the
    embed-ann-ivfpq oracle (whose coarse quantizer IS this model) and
    the dedup-semdedup oracle (same model at its own k)."""
    head = f"""
WITH e AS (
  SELECT vec_id, t.pos AS pos,
         CAST(FLOOR(CAST(embedding[t.pos] AS DOUBLE) * {_KM_QSCALE} + 0.5)
              AS BIGINT) AS q
  FROM embeddings
  CROSS JOIN (SELECT UNNEST(range(1, {_KM_DIM} + 1)) AS pos) t
),
seeds AS (
  SELECT vec_id % {k} AS cid, MIN(vec_id) AS svid
  FROM embeddings GROUP BY 1
),
c0 AS (
  SELECT s.cid, e.pos, e.q AS v
  FROM seeds s JOIN e ON e.vec_id = s.svid
)"""
    blocks = []
    for i in range(1, rounds + 1):
        p = i - 1
        blocks.append(f""",
d{i} AS (
  SELECT e.vec_id, c.cid,
         CAST(SUM((e.q - c.v) * (e.q - c.v)) AS BIGINT) AS dist
  FROM e JOIN c{p} c USING (pos) GROUP BY 1, 2
),
a{i} AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d{i}) WHERE rn = 1
)""")
        if i < rounds:
            blocks.append(f""",
u{i} AS (
  SELECT a.cid, e.pos, CAST(SUM(e.q) AS BIGINT) AS s, COUNT(*) AS n
  FROM a{i} a JOIN e USING (vec_id) GROUP BY 1, 2
),
c{i} AS (
  SELECT c.cid, c.pos,
         COALESCE((u.s - ((u.s % u.n) + u.n) % u.n) // u.n, c.v) AS v
  FROM c{p} c LEFT JOIN u{i} u ON u.cid = c.cid AND u.pos = c.pos
)""")
    return head + "".join(blocks)


def _km_oracle() -> str:
    """Lloyd's loop compile-time-unrolled into chained CTE blocks (the
    graph-pagerank technique): seeds -> [assign -> update] x (ROUNDS-1)
    -> final assign. Every op is BIGINT add / multiply / floor-div, so
    aggregation order cannot matter and DuckDB re-derives the exact
    integers the Spark loop computes. DuckDB SUM(BIGINT) widens to
    HUGEINT, hence the explicit casts; floor-div of a possibly-negative
    sum uses the pmod identity ``(s - ((s % n) + n) % n) // n`` (DuckDB
    ``//`` floors, Spark ``div`` truncates — the identity sidesteps the
    dialect split by making the numerator exactly divisible)."""
    return (
        _km_cte_prefix()
        + f"""
SELECT vec_id, cid AS cluster, dist
FROM a{_KM_ROUNDS}
ORDER BY vec_id
"""
    )


def _km_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantized relation (vec_id, qv array<bigint>) — built once
    and persisted (MEMORY_AND_DISK, replayable lineage): three
    assignment scans and two update aggregates consume it."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KM_QSCALE + F.lit(0.5)),
        ).alias("qv"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    q.count()  # eager: 3 assignment scans + 2 update aggs consume it
    return q


def _long_lit(v) -> str:
    return f"{int(v)}L"


def _dbl_lit(v) -> str:
    # repr is shortest-roundtrip; CAST(string AS DOUBLE) parses to the
    # identical binary double F.lit(float) would ship (a bare SQL
    # decimal literal would parse as DECIMAL, not DOUBLE)
    return f"CAST('{v!r}' AS DOUBLE)"


def _dist_fold_sql(col_sql: str, lits, acc_sql: str, lit_fmt) -> str:
    """One ``aggregate(zip_with(...))`` squared-diff fold as SQL text."""
    arr = ", ".join(lit_fmt(v) for v in lits)
    return (
        f"aggregate(zip_with({col_sql}, array({arr}), "
        f"(a, b) -> (a - b) * (a - b)), {acc_sql}, (acc, x) -> acc + x)"
    )


def _dist_structs_sql(col_sql: str, table, acc_sql: str, lit_fmt) -> list:
    """(d, c) distance structs against a literal candidate table,
    rendered as SQL text: per row one loop-based fold of squared diffs
    (codegen stays small at any table size — the
    embed-random-projection janino lesson). ``acc_sql`` selects the
    arithmetic (BIGINT for fixed-point stages, DOUBLE for float PQ).

    Rendered as TEXT rather than composed via pyspark Column calls
    (r8): each ``F.lit``/``F.array``/``F.aggregate`` is a py4j gateway
    round trip, and a K×DIM literal table costs hundreds of them —
    measured seconds of pure driver latency per cold build across the
    kmeans/PQ/IVF-PQ family. One ``F.expr`` parse of the generated
    string is JVM-side and produces the identical expression tree."""
    return [
        "named_struct('d', "
        + _dist_fold_sql(col_sql, lits, acc_sql, lit_fmt)
        + f", 'c', CAST({ident} AS BIGINT))"
        for ident, lits in table
    ]


def _nearest_fold_sql(col_sql: str, table, acc_sql: str, lit_fmt) -> str:
    """THE argmin-over-literal-table builder every clustering/PQ stage
    shares (kmeans assignment, PQ encode, IVF-PQ residual codes — the
    ivfpq probe pick reuses :func:`_dist_structs_sql` with a sorted
    slice instead of the min): ``array_min`` over (d, c) structs picks
    min-dist-then-min-id."""
    structs = ", ".join(_dist_structs_sql(col_sql, table, acc_sql, lit_fmt))
    return f"array_min(array({structs}))"


def _nearest_fold(col_sql: str, table, acc_sql: str, lit_fmt) -> F.Column:
    return F.expr(_nearest_fold_sql(col_sql, table, acc_sql, lit_fmt))


def _km_assign(qdf: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """Map-only nearest-centroid assignment against LITERAL centroids
    (:func:`_nearest_fold`); the explode-one-struct Generate barrier
    pins the winner to ONE evaluation (CollapseProject would inline
    all K folds twice for the dist and cluster projections — the
    embed-quantize-int8 trick)."""
    best = _nearest_fold(
        "qv",
        [(cid, [int(v) for v in cents[cid]]) for cid in sorted(cents)],
        "CAST(0 AS BIGINT)",
        _long_lit,
    )
    return qdf.select(
        "vec_id", "qv", F.explode(F.array(best)).alias("b")
    ).select(
        "vec_id",
        "qv",
        F.col("b.c").alias("cluster"),
        F.col("b.d").alias("dist"),
    )


def _km_fit(
    spark: SparkSession,
    sf_dir: str,
    k: int = _KM_K,
    assign=None,
    rounds: int = _KM_ROUNDS,
) -> tuple:
    """Run the Lloyd loop; returns (qdf, final centroid dict).

    ``assign`` picks the nearest-centroid implementation: the default
    literal-fold expression (:func:`_km_assign` — whole-stage codegen,
    the right shape at K=8) or the vectorized Arrow path
    (:func:`_np_assign_fn` — at K=64 each round recompiles an 8x
    bigger generated class, measured ~1.5 s/round of pure janino; the
    numpy argmin is exact over the same integers)."""
    if assign is None:
        assign = _km_assign
    qdf = _km_quantized(spark, sf_dir)
    seeds = qdf.groupBy((F.col("vec_id") % k).alias("cid")).agg(
        F.min("vec_id").alias("svid")
    )
    srows = (
        qdf.join(F.broadcast(seeds), qdf.vec_id == seeds.svid)
        .select("cid", "qv")
        .collect()
    )  # K rows of K*DIM ints — metadata-scale (the MLlib KMeans pattern)
    cents = {int(r["cid"]): list(r["qv"]) for r in srows}
    for _ in range(rounds - 1):
        asg = assign(qdf, cents)
        upd = (
            asg.select("cluster", F.posexplode("qv").alias("pos", "q"))
            .groupBy("cluster", "pos")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
            .collect()
        )  # K*DIM rows — metadata-scale
        new = {cid: list(v) for cid, v in cents.items()}
        for r in upd:
            # Python // floors, matching the oracle's pmod floor-div
            new[int(r["cluster"])][int(r["pos"])] = int(r["s"]) // int(r["n"])
        cents = new
    return qdf, cents


@query("embed-kmeans-lloyd", oracle=_km_oracle())
def embed_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: Lloyd k-means over the embedding column — K=8 clusters,
    3 assignment rounds with 2 centroid updates, deterministic seeding
    (the min-vec_id vector of each ``vec_id mod K`` bucket) — the
    corpus-clustering stage training-data pipelines run for topic
    binning, dedup blocking and mixture curation.

    Exactness across engines: embeddings quantize ONCE to fixed-point
    BIGINTs (``floor(x*10^6 + 0.5)`` — correctly-rounded IEEE multiply/
    add, so both engines get identical integers); distances are integer
    sums of squared diffs; centroid updates are integer floor-div
    averages (empty clusters keep their previous centroid). Every step
    is order-independent integer arithmetic, so the driver hash-compares
    exact (cluster, dist) assignments — no float drift, no snapping.
    Ties (equal dist to two centroids) break to the lower cluster id in
    both engines.

    Plan shape (the MLlib KMeans pattern): the quantized relation
    localCheckpoints once; each round's assignment is MAP-ONLY against
    centroids baked as literals (K*DIM = 512 ints — metadata the driver
    legitimately holds, exactly like MLlib's collected cluster centers
    and the IVF seed collect at similarity.py:261), so the only
    shuffles are the two K*DIM-row update aggregates whose map-side
    combine collapses per-partition sums first. At 10^9 vectors the
    per-round cost is one scan + one 512-row aggregate — the loop never
    joins data-to-data. Converged centroids + the persisted relation
    are an ingest artifact (:func:`_km_model`) — the centroid table a
    production deployment maintains; driver-fresh single runs still
    pay the full fit, pinned by tests.
    """
    qdf, cents = _km_model(spark, sf_dir)
    return (
        _km_assign(qdf, cents)
        .select("vec_id", "cluster", "dist")
        .orderBy("vec_id")
    )


def _km_model(
    spark: SparkSession,
    sf_dir: str,
    k: int = _KM_K,
    assign=None,
    rounds: int = _KM_ROUNDS,
) -> tuple:
    """(quantized relation, converged centroid dict): the ingest
    artifact ``km-{k}`` shared by embed-kmeans-lloyd (which declares
    it), embed-ann-ivfpq (whose IVF coarse quantizer it is, both at
    K=8) and dedup-semdedup (same Lloyd machinery at its own finer
    K). One artifact name per k, so a sweep alternating kmeans (K=8)
    and semdedup (K=64) does not thrash the fit."""
    return ingest_artifact(
        f"km-{k}",
        spark,
        sf_dir,
        lambda: _km_fit(spark, sf_dir, k, assign=assign, rounds=rounds),
    )


# ---------------------------------------------------------------------------
# I42 — embed-pq-encode: product-quantization encoding against fixed
# codebooks (the ANN compression stage)
# ---------------------------------------------------------------------------

_PQ_SUB = 8  # subspaces
_PQ_DIM = 8  # dims per subspace (8 * 8 = the 64-dim embedding)
_PQ_CENTS = 16  # centroids per subspace -> one 4-bit code each


def _pq_ival(s: int, j: int, d: int) -> int:
    """Integer form of the codebook entry: the exact numerator of
    :func:`_pq_val` at the 10^6 fixed-point scale — embed-ann-ivfpq
    uses these directly against quantized residuals so its ADC
    arithmetic is pure BIGINT."""
    import hashlib

    h = hashlib.md5(f"pq_{s}_{j}_{d}".encode()).hexdigest()
    return (int(h[:12], 16) % 600001) - 300000


def _pq_val(s: int, j: int, d: int) -> float:
    """Deterministic codebook entry C[s][j][d] in [-0.3, 0.3] (the
    embedding column's observed range), derived from md5 at module load
    — both engines receive the same decimal literals (shortest-
    roundtrip repr), no cross-engine hash needed. A deployment would
    swap in k-means-trained codebooks (embed-kmeans-lloyd IS that
    trainer); the encode plan is identical either way."""
    return _pq_ival(s, j, d) / 1e6


def _pq_dist_sql(s: int, j: int) -> str:
    lits = "[" + ", ".join(
        repr(_pq_val(s, j, d)) for d in range(_PQ_DIM)
    ) + "]"
    x = f"CAST(embedding[{s * _PQ_DIM} + i] AS DOUBLE)"
    c = f"CAST(({lits})[i] AS DOUBLE)"
    return (
        f"list_reduce(list_transform(range(1, {_PQ_DIM} + 1), "
        f"i -> ({x} - {c}) * ({x} - {c})), (acc, x) -> acc + x)"
    )


def _pq_oracle() -> str:
    # per subspace: argmin over 16 fold-distances via lexicographic
    # list_sort of [dist, code] pairs (ties -> lower code, matching
    # Spark's (d, c) struct array_min)
    bests = ",\n         ".join(
        "list_sort(["
        + ", ".join(
            f"[{_pq_dist_sql(s, j)}, CAST({j} AS DOUBLE)]"
            for j in range(_PQ_CENTS)
        )
        + f"])[1] AS b{s}"
        for s in range(_PQ_SUB)
    )
    codes = ", ".join(
        f"CAST(b{s}[2] AS BIGINT) AS code{s}" for s in range(_PQ_SUB)
    )
    err = " + ".join(f"b{s}[1]" for s in range(_PQ_SUB))
    return f"""
WITH q AS (
  SELECT vec_id,
         {bests}
  FROM embeddings
)
SELECT vec_id, {codes},
       FLOOR(({err}) * 1e9 + 0.5) / 1e9 AS recon_err
FROM q ORDER BY vec_id
"""


def _pq_exprs() -> tuple:
    """(subvector struct, argmin struct): the 8*16 fold Columns, pure
    expression trees whose py4j construction is paid once per
    SparkContext (:func:`session_memo`), not per invocation."""
    subs = F.struct(
        *[
            F.transform(
                F.slice("embedding", s * _PQ_DIM + 1, _PQ_DIM),
                lambda x: x.cast("double"),
            ).alias(f"sub{s}")
            for s in range(_PQ_SUB)
        ]
    )
    bests = F.struct(*[_pq_best(s).alias(f"b{s}") for s in range(_PQ_SUB)])
    return subs, bests


def _pq_best(s: int):
    return _nearest_fold(
        f"u.sub{s}",
        [
            (j, [_pq_val(s, j, d) for d in range(_PQ_DIM)])
            for j in range(_PQ_CENTS)
        ],
        "CAST(0 AS DOUBLE)",
        _dbl_lit,
    )


@query("embed-pq-encode", oracle=_pq_oracle())
def embed_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I42: product-quantization encoding (Jégou et al. 2011) of the
    embedding column — 8 subspaces x 16 centroids, so each 64-dim
    float vector compresses to eight 4-bit codes (256 bytes -> 4):
    the standard memory layer under billion-scale ANN (IVF-PQ), where
    distance tables over codes replace full-vector scans. Codebooks
    here are fixed md5-derived literals at the documented
    training-stub boundary (embed-kmeans-lloyd is the trainer a
    deployment would plug in); code assignment, tie policy and
    reconstruction-error audit are codebook-agnostic and fully real.

    Parity: each of the 128 subspace-centroid distances is a
    sequential ``aggregate(zip_with(...))`` fold of squared diffs ==
    DuckDB ``list_reduce(list_transform(...))`` — the identical IEEE
    op sequence (the sim-search-topk technique), with codebook
    literals baked verbatim into both engines (shortest-roundtrip
    repr parses to the same double). Argmin ties break to the lower
    code via (dist, code) struct array_min == lexicographic list_sort.
    ``recon_err`` (the quantization-quality audit) sums the 8 winning
    distances in fixed subspace order, snapped to 9 dp.

    Plan shape: map-only, zero shuffle, zero Python at runtime — two
    pinned projection layers (the multimodal-audio-meta architecture):
    layer 0 slices the 8 subvectors ONCE behind a Generate barrier
    (each is consumed by 16 folds — CollapseProject would re-slice
    128x), layer 1 computes the 8 argmins behind a second barrier
    (each winner is consumed by code + err projections). Loop-based
    HOF folds keep every generated method small, so whole-stage
    codegen survives at any K (the embed-random-projection janino
    lesson). Expression trees cache per SparkContext."""
    emb = load_table(spark, sf_dir, "embeddings")
    subs, bests = session_memo("pq-exprs", spark, _pq_exprs)
    st0 = emb.select("vec_id", F.explode(F.array(subs)).alias("u"))
    st1 = st0.select("vec_id", F.explode(F.array(bests)).alias("bb"))
    err = F.col("bb.b0.d")
    for s in range(1, _PQ_SUB):
        err = err + F.col(f"bb.b{s}.d")
    return st1.select(
        "vec_id",
        *[F.col(f"bb.b{s}.c").alias(f"code{s}") for s in range(_PQ_SUB)],
        snap(err, 9).alias("recon_err"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# I44 — embed-ann-ivfpq: IVF-PQ ANN with asymmetric distance (ADC),
# exact integer arithmetic end to end
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 2
_IVFPQ_TOPK = 3
_IVFPQ_NQ = 5  # query set: vec_id < 5 (the sim-search-topk convention)


def _ivfpq_oracle() -> str:
    """IVF-PQ re-derived in SQL on top of the shared kmeans CTE prefix:
    residuals vs the final centroids, integer-codebook PQ codes
    (argmin ties -> lower code), nprobe=2 probing (ties -> lower cell),
    ADC table per (query, cell), candidate distance = SUM of 8 integer
    table lookups — every aggregate is BIGINT, so order cannot matter
    and the driver hash-compares exact ADC distances."""
    final_c = f"c{_KM_ROUNDS - 1}"
    final_a = f"a{_KM_ROUNDS}"
    cb_rows = ", ".join(
        f"({s}, {j}, {s * _PQ_DIM + d + 1}, {_pq_ival(s, j, d)})"
        for s in range(_PQ_SUB)
        for j in range(_PQ_CENTS)
        for d in range(_PQ_DIM)
    )
    return (
        _km_cte_prefix()
        + f""",
cb(s, j, pos, v) AS (SELECT * FROM (VALUES {cb_rows})),
res AS (
  SELECT e.vec_id, e.pos, e.q - c.v AS r, a.cid
  FROM e
  JOIN {final_a} a USING (vec_id)
  JOIN {final_c} c ON c.cid = a.cid AND c.pos = e.pos
),
pqd AS (
  SELECT res.vec_id, cb.s, cb.j,
         CAST(SUM((res.r - cb.v) * (res.r - cb.v)) AS BIGINT) AS dist
  FROM res JOIN cb ON cb.pos = res.pos
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, j) AS rn
    FROM pqd) WHERE rn = 1
),
qv AS (SELECT * FROM e WHERE vec_id < {_IVFPQ_NQ}),
qc AS (
  SELECT q.vec_id AS qid, c.cid,
         CAST(SUM((q.q - c.v) * (q.q - c.v)) AS BIGINT) AS dist
  FROM qv q JOIN {final_c} c USING (pos) GROUP BY 1, 2
),
probe AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
    FROM qc) WHERE rn <= {_IVFPQ_NPROBE}
),
adct AS (
  SELECT q.vec_id AS qid, p.cid, cb.s, cb.j,
         CAST(SUM((q.q - (c.v + cb.v)) * (q.q - (c.v + cb.v))) AS BIGINT)
           AS pdist
  FROM qv q
  JOIN probe p ON p.qid = q.vec_id
  JOIN {final_c} c ON c.cid = p.cid AND c.pos = q.pos
  JOIN cb ON cb.pos = q.pos
  GROUP BY 1, 2, 3, 4
),
cand AS (
  SELECT p.qid, a.vec_id AS cand_id, a.cid
  FROM probe p JOIN {final_a} a ON a.cid = p.cid
),
adc AS (
  SELECT cnd.qid, cnd.cand_id,
         CAST(SUM(t.pdist) AS BIGINT) AS adc_dist
  FROM cand cnd
  JOIN codes k ON k.vec_id = cnd.cand_id
  JOIN adct t ON t.qid = cnd.qid AND t.cid = cnd.cid
             AND t.s = k.s AND t.j = k.code
  GROUP BY 1, 2
)
SELECT qid AS query_id, cand_id, rank, adc_dist FROM (
  SELECT qid, cand_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY adc_dist, cand_id) AS BIGINT)
           AS rank
  FROM adc) WHERE rank <= {_IVFPQ_TOPK}
ORDER BY query_id, rank
"""
    )


def _cent_lookup_sql(cents: dict, key: str = "cluster") -> str:
    """Centroid vector keyed BY CLUSTER ID (map lookup, not positional
    array indexing): the kmeans fit tolerates sparse ids (an empty
    ``vec_id % K`` residue class never seeds), and a positional
    ``element_at(array, cluster+1)`` silently reads the WRONG centroid
    as soon as ids have a gap. SQL text for the same py4j-latency
    reason as :func:`_dist_structs_sql`."""
    ids = ", ".join(f"CAST({int(cid)} AS BIGINT)" for cid in sorted(cents))
    vecs = ", ".join(
        "array(" + ", ".join(_long_lit(v) for v in cents[cid]) + ")"
        for cid in sorted(cents)
    )
    return (
        f"element_at(map_from_arrays(array({ids}), array({vecs})), {key})"
    )


def _ivfpq_codes(asg: DataFrame, cents: dict) -> DataFrame:
    """(vec_id, cluster, s, code): residual-PQ codes per subspace —
    residual = qv - centroid[cluster] (centroid via the keyed map
    lookup), then per subspace the argmin over 16 INTEGER codebook
    entries; ties -> lower code. One Generate barrier pins the
    residual, a second the 8 winners."""
    rv = F.expr(
        f"zip_with(qv, {_cent_lookup_sql(cents)}, (a, b) -> a - b)"
    )
    st0 = asg.select(
        "vec_id",
        "cluster",
        F.explode(F.array(rv)).alias("rv"),
    )

    def best(s: int):
        return F.expr(
            "("
            + _nearest_fold_sql(
                f"slice(rv, {s * _PQ_DIM + 1}, {_PQ_DIM})",
                [
                    (j, [_pq_ival(s, j, d) for d in range(_PQ_DIM)])
                    for j in range(_PQ_CENTS)
                ],
                "CAST(0 AS BIGINT)",
                _long_lit,
            )
            + ").c"
        )

    code_arr = F.array(*[best(s) for s in range(_PQ_SUB)])
    return st0.select(
        "vec_id", "cluster", F.posexplode(code_arr).alias("s", "code")
    )


@query("embed-ann-ivfpq", oracle=_ivfpq_oracle(), pure=True)
def embed_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I44: IVF-PQ approximate nearest neighbor with asymmetric
    distance computation (Jégou et al. 2011) — the composition the ANN
    family was building toward: embed-kmeans-lloyd's converged
    clusters ARE the IVF coarse cells, residuals (vector minus its
    cell centroid) compress through the integer PQ codebooks, each
    query probes its nprobe=2 nearest cells, and candidates are ranked
    by ADC — a per-(query, cell) lookup table of 16x8 precomputed
    subspace distances, so scoring a candidate costs 8 table lookups
    and 7 adds instead of a 64-dim scan. This is the billion-scale ANN
    architecture (FAISS IVFADC) expressed as DataFrame relations.

    Exactness: embeddings, centroids, residuals and codebooks all live
    at the 10^6 fixed-point scale, so PQ assignment, probe ranking and
    every ADC entry are BIGINT arithmetic — sums are order-independent
    and the driver hash-compares exact ADC distances; all argmins tie
    to the lower id in both engines. No floats anywhere past the scan.

    Plan shape at scale: the corpus-side work (coarse assign + PQ
    encode, both MAP-ONLY against literal centroids/codebooks) is the
    INGEST cost, paid once per corpus (an ingest artifact like the
    kmeans model it extends); at query time the probe pick is
    metadata (queries x K distances), the ADC tables are
    queries x nprobe x 128 integers (broadcast), and candidates cross
    the wire as (query, cand, s, code) ids — the raw embedding column
    is never scanned per query, which is the entire IVF-PQ bargain
    (recall < 100% by construction, tuned by nprobe). At 10^9 vectors
    the corpus would be written bucketed by cell id so a probe is a
    partition-pruned scan.

    The probe pick, ADC tables and candidate scoring joins are a pure
    PLAN over the index and expression fragments, so the built
    DataFrame is plan-cached (~0.5 s of py4j/analysis per invocation
    before)."""
    qdf, cents = _km_model(spark, sf_dir)
    # The (cluster, PQ-code) relation IS the IVF-PQ index — the
    # artifact a deployment builds once at INGEST and every query
    # reads; without it every query action re-ran the full corpus
    # assign + encode once per DAG reference (~11 s/invocation at
    # sf0.1 vs ~1 s with the index materialized).
    codes = ingest_artifact(
        "ivfpq-index", spark, sf_dir, lambda: _ivfpq_index(qdf, cents)
    )
    # query-side: the query set assigns AFTER the filter (5 rows, not
    # the corpus) — nprobe nearest cells per query, ties -> lower cid.
    # The probe/residual/ADC expression trees are name-based Columns
    # (~4.5 s of py4j construction: 136 folds with literal arrays)
    # over the centroid literals, so they are built once per corpus
    # beside the index (measured 6.5 -> ~1.5 s per invocation).
    frags = ingest_artifact(
        "ivfpq-exprs", spark, sf_dir, lambda: _ivfpq_exprs(cents)
    )

    # plain projection — the probe pick below derives its own cell
    # distances, so running _km_assign here would pay K assignment
    # folds per invocation only to discard the result
    queries = qdf.filter(F.col("vec_id") < _IVFPQ_NQ).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qqv")
    )
    probe = queries.select(
        "qid", "qqv", frags["probe_cells"].alias("pc")
    ).select("qid", "qqv", F.col("pc.c").alias("cell"))
    from pyspark.sql import Window as W

    # ADC tables: per (query, probed cell) the 8x16 subspace-distance
    # entries — queries x nprobe x 128 integer rows, broadcast
    pr2 = probe.select("qid", "cell", frags["qres"].alias("qres"))
    adct = pr2.select(
        "qid",
        "cell",
        frags["adct"].alias("t"),
    ).select("qid", "cell", "t.s", "t.code", "t.pdist")

    # candidates: corpus ids in probed cells, scored via 8 table lookups
    cand = probe.select("qid", F.col("cell").alias("cluster")).join(
        codes, "cluster"
    )
    adc = (
        cand.join(
            F.broadcast(adct),
            (cand.qid == adct.qid)
            & (cand.cluster == adct.cell)
            & (cand.s == adct.s)
            & (cand.code == adct.code),
        )
        .drop(adct.qid)
        .groupBy("qid", "vec_id")
        .agg(F.sum("pdist").alias("adc_dist"))
    )
    out = (
        adc.withColumn(
            "rank",
            F.row_number()
            .over(W.partitionBy("qid").orderBy("adc_dist", "vec_id"))
            .cast("long"),
        )
        .filter(F.col("rank") <= _IVFPQ_TOPK)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("cand_id"),
            "rank",
            "adc_dist",
        )
        .orderBy("query_id", "rank")
    )
    return out


def _ivfpq_index(qdf: DataFrame, cents: dict) -> DataFrame:
    """The persisted (vec_id, cluster, s, code) IVF-PQ index relation."""
    asg = _km_assign(qdf, cents).select("vec_id", "qv", "cluster")
    codes = _ivfpq_codes(asg, cents)
    codes = codes.persist(StorageLevel.MEMORY_AND_DISK)
    codes.count()  # eager populate (probe + ADC both read it)
    return codes


def _ivfpq_exprs(cents: dict) -> dict:
    """Probe-pick, query-residual and ADC-table generators over the
    centroid literals ``cents``."""
    cd = ", ".join(
        _dist_structs_sql(
            "qqv",
            [
                (cid, [int(v) for v in cents[cid]])
                for cid in sorted(cents)
            ],
            "CAST(0 AS BIGINT)",
            _long_lit,
        )
    )
    # In integers (q - (c + cb))^2 == ((q - c) - cb)^2 exactly, so
    # the query RESIDUAL vs the probed cell pins once behind a
    # barrier and every ADC entry is a plain codebook fold over its
    # slice (the _ivfpq_codes shape — far fewer nodes than
    # reconstructing centroid+codebook per entry).
    qres = (
        f"zip_with(qqv, {_cent_lookup_sql(cents, key='cell')}, "
        "(a, b) -> a - b)"
    )
    adct_entries = ", ".join(
        "named_struct('s', CAST({s} AS INT), 'code', "
        "CAST({j} AS BIGINT), 'pdist', {fold})".format(
            s=s,
            j=j,
            fold=_dist_fold_sql(
                f"slice(qres, {s * _PQ_DIM + 1}, {_PQ_DIM})",
                [_pq_ival(s, j, d) for d in range(_PQ_DIM)],
                "CAST(0 AS BIGINT)",
                _long_lit,
            ),
        )
        for s in range(_PQ_SUB)
        for j in range(_PQ_CENTS)
    )
    return {
        # nprobe pick with NO window shuffle: array_sort orders the
        # (d, cid) structs lexicographically — exactly the
        # dist-then-lower-cid rule — and slice keeps the first
        # nprobe; the oracle keeps its ROW_NUMBER form so the two
        # derivations stay independent. All three fragments parse
        # from generated SQL in one JVM-side pass each (r8 — the
        # py4j Column composition they replace measured ~4.5 s of
        # driver latency per cold build).
        "probe_cells": F.expr(
            f"explode(slice(array_sort(array({cd})), 1, "
            f"{_IVFPQ_NPROBE}))"
        ),
        "qres": F.expr(f"explode(array({qres}))"),
        "adct": F.expr(f"explode(array({adct_entries}))"),
    }


# ---------------------------------------------------------------------------
# I49 — dedup-semdedup: semantic dedup inside k-means clusters
# (Abbas et al. 2023, "SemDeDup" — cluster first, compare only within)
# ---------------------------------------------------------------------------

_SD_QSCALE = 1000  # coarse fixed-point for the similarity test: with
# |x| <= ~0.53 and DIM 64, |q| <= ~530 so dot^2 <= ~3.2e14 and the
# cross-multiplied cosine^2 compare below stays inside BIGINT — the
# kmeans 10^6 scale would overflow int64 at dot^2
_SD_THRESH = 0.95  # cosine duplicate threshold (flag; latent here)
_SD_ROUNDS = 2  # semdedup's model is a BLOCKING structure, not a
# converged clustering — one update round is enough to spread the
# mod-K seeds (clustering quality barely moves the dedup outcome);
# each extra Lloyd round costs an assignment job + update collect on
# the cold path
_SD_K = 64  # semdedup's own cluster count: SemDeDup picks K so N/K keeps
# per-cluster pair blocks small (the paper uses tens of thousands of
# clusters at web scale) — the K=8 topic model left ~N/8 vectors per
# cluster and a measured 4.9 s quadratic pair join at sf0.1; K=64 cuts
# the pair space ~8x (0.6 s) while the assignment stays a map-only
# literal-centroid fold


def _np_assign(qdf: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """Vectorized Arrow twin of :func:`_km_assign` for large K: nearest
    centroid by numpy int64 squared distances (exact — same integers,
    same lowest-cid tie rule: centroids ordered by cid, argmin returns
    the first minimum). mapInPandas so the quantized relation streams
    through in Arrow batches; |q| ≤ ~1.5·10^6 keeps (q−c)² sums well
    inside int64."""
    import numpy as np
    import pandas as pd

    order = sorted(cents)
    c_arr = [[int(v) for v in cents[cid]] for cid in order]
    cid_arr = [int(cid) for cid in order]

    def gen(batches):
        cmat = np.asarray(c_arr, dtype=np.int64)
        cids = np.asarray(cid_arr, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            # chunk rows so the n×K×DIM diff tensor stays small
            best = np.empty(len(q), dtype=np.int64)
            dist = np.empty(len(q), dtype=np.int64)
            for lo in range(0, len(q), 256):
                blk = q[lo : lo + 256]
                d = ((blk[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
                bi = d.argmin(axis=1)
                best[lo : lo + len(blk)] = bi
                dist[lo : lo + len(blk)] = d[np.arange(len(blk)), bi]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "qv": pdf["qv"],
                    "cluster": cids[best],
                    "dist": dist,
                }
            )

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("qv", T.ArrayType(T.LongType())),
            T.StructField("cluster", T.LongType()),
            T.StructField("dist", T.LongType()),
        ]
    )
    return qdf.mapInPandas(gen, schema)


def _sd_cluster_pairs(pdf):
    """Per-cluster pair stage: ONE vectorized int64 gemm (Q·Qᵀ) yields
    every pair dot AND both norms (the diagonal) exactly — numpy int64
    arithmetic is exact and overflow-free at the coarse quantization
    (|q| ≤ ~530 ⇒ |dot| ≤ ~1.8e7). Arrow-batched via applyInPandas;
    emits (va, vb, dot, na2, nb2) longs only — no float leaves Python."""
    import numpy as np
    import pandas as pd

    ids = pdf["vec_id"].to_numpy()
    n = len(ids)
    empty = np.empty(0, dtype=np.int64)
    if n < 2:
        return pd.DataFrame(
            {"va": empty, "vb": empty, "dot": empty, "na2": empty, "nb2": empty}
        )
    q = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["qs"]])
    d = q @ q.T
    i, j = np.nonzero(~np.eye(n, dtype=bool))
    return pd.DataFrame(
        {
            "va": ids[i],
            "vb": ids[j],
            "dot": d[i, j],
            "na2": d[i, i],
            "nb2": d[j, j],
        }
    )


def _sd_side(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """The persisted (vec_id, cluster, qs) relation the per-cluster
    pair stage consumes. The cluster ASSIGNMENT is the expensive
    per-invocation step (a K=64 literal-centroid argmin fold over every
    vector — measured 1.1 s/invocation at sf0.1 even warm), and it is a
    pure function of the input files: a SemDeDup deployment assigns
    clusters once at ingest, so the relation is an ingest artifact."""
    return ingest_artifact(
        "semdedup-side",
        spark,
        sf_dir,
        lambda: _sd_side_build(spark, sf_dir, emb),
    )


def _sd_side_build(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> DataFrame:
    qdf, cents = _km_model(
        spark, sf_dir, _SD_K, assign=_np_assign, rounds=_SD_ROUNDS
    )
    asg = _np_assign(qdf, cents).select("vec_id", "cluster")
    qs = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _SD_QSCALE + F.lit(0.5)),
        ).alias("qs"),
    )
    side = asg.join(qs, "vec_id").persist(StorageLevel.MEMORY_AND_DISK)
    side.count()  # eager populate (gemm stage reads it per cluster)
    return side


def _sd_oracle() -> str:
    # Reuses the unrolled Lloyd CTE (the cluster assignment IS the
    # kmeans model), then re-quantizes at the coarse scale, computes
    # within-cluster pair dots in long format, and ranks each vector's
    # neighbors by the 9-dp-snapped cosine.
    return (
        _km_cte_prefix(_SD_K, _SD_ROUNDS)
        + f""",
qs AS (
  SELECT vec_id, t.pos AS pos,
         CAST(FLOOR(CAST(embedding[t.pos] AS DOUBLE) * {_SD_QSCALE} + 0.5)
              AS BIGINT) AS q
  FROM embeddings
  CROSS JOIN (SELECT UNNEST(range(1, {_KM_DIM} + 1)) AS pos) t
),
n2 AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS n2 FROM qs GROUP BY 1),
asg AS (SELECT vec_id, cid FROM a{_SD_ROUNDS}),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(SUM(qa.q * qb.q) AS BIGINT) AS dot
  FROM asg a
  JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
  JOIN qs qa ON qa.vec_id = a.vec_id
  JOIN qs qb ON qb.vec_id = b.vec_id AND qb.pos = qa.pos
  GROUP BY 1, 2
),
scored AS (
  SELECT p.va, p.vb,
         FLOOR((CAST(p.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE))
               / sqrt(CAST(nb.n2 AS DOUBLE))) * 1e9 + 0.5) / 1e9 AS cos_r
  FROM pairs p
  JOIN n2 na ON na.vec_id = p.va AND na.n2 > 0
  JOIN n2 nb ON nb.vec_id = p.vb AND nb.n2 > 0
),
best AS (
  SELECT va, vb, cos_r FROM (
    SELECT va, vb, cos_r,
           ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos_r DESC, vb) AS rn
    FROM scored) WHERE rn = 1
)
SELECT asg.vec_id,
       CAST(asg.cid AS BIGINT) AS cluster,
       b.vb AS nn_vec_id,
       b.cos_r AS nn_cos,
       COALESCE(b.cos_r >= {_SD_THRESH}, FALSE) AS is_dup
FROM asg LEFT JOIN best b ON b.va = asg.vec_id
ORDER BY asg.vec_id
"""
    )


@query("dedup-semdedup", oracle=_sd_oracle(), pure=True)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I49: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication that only ever compares embeddings INSIDE k-means
    clusters: cluster the corpus (the embed-kmeans-lloyd Lloyd
    machinery at semdedup's own K=64, cached as its own model), then
    for each vector find its best within-cluster neighbor and flag
    cosine >= 0.95 as a semantic duplicate. The clustering bounds the
    pair space to sum(|c|^2) instead of N^2 — the whole point of the
    method at 10^9 vectors, and K is the lever: SemDeDup picks K so
    N/K keeps per-cluster pair blocks executor-sized (measured here:
    K=8 left 4.9 s of quadratic pair join at sf0.1, K=64 is ~0.6 s). The emitted (neighbor, cosine) trace is the per-item
    decision a curation run logs; the is_dup flag is latent on this
    near-random fixture (max observed cosine ~0.51 — the theta-setops
    audit-boolean pattern: a broken pair join or cosine flips rows).

    Exactness: the similarity test runs on a COARSE fixed-point
    re-quantization (10^3 — dots and norms stay exact BIGINTs; the
    kmeans 10^6 scale would overflow dot^2) shared verbatim by the
    oracle; pair dots come from ONE int64 gemm per cluster (exact —
    both the dot and the norms are read off Q·Qᵀ), so the floats the
    engines compare are built from identical integers; the ranking key
    is the 9-dp-snapped cosine computed as an ENGINE EXPRESSION on
    those integers (two correctly-rounded sqrts + divisions, identical
    cross-engine; numpy never touches a float) with vec_id tie-break,
    so the argmax is engine-identical.

    Plan shape — the paper's own execution shape: cluster assignment
    is the cached ingest artifact; the pair stage is ONE Arrow
    applyInPandas per cluster doing a vectorized int64 Q·Qᵀ (the
    similarity.py IVF-assigner precedent: batch matmul, never
    row-at-a-time — the expression-tree form measured 28 µs/pair
    interpreted, ~2 s at sf0.1; the gemm is ~0.2 s), emitting only
    (va, vb, dot, na2, nb2) longs; top-1 per vector is the
    rank-then-filter WindowGroupLimit form. A cluster is one task —
    K is picked so max|c| fits an executor (SemDeDup runs exactly
    this per-cluster block on GPUs). Singleton clusters surface with
    NULL neighbor via the final left join (structural, mirrored in
    the oracle)."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    side = _sd_side(spark, sf_dir, emb)
    pairs = side.select("cluster", "vec_id", "qs").groupBy(
        "cluster"
    ).applyInPandas(_sd_cluster_pairs, "va long, vb long, dot long, na2 long, nb2 long")
    # a zero quantized vector has no direction — cosine undefined, and
    # the division raises under ANSI; both engines drop such PAIRS (the
    # vector keeps its base row with a NULL neighbor via the left join
    # below; latent on the fixture, caught by the randomized
    # differential tests)
    scored = (
        pairs.filter((F.col("na2") > 0) & (F.col("nb2") > 0))
        .select(
            "va",
            "vb",
            snap(F.col("dot").cast("double")
                / F.sqrt(F.col("na2").cast("double"))
                / F.sqrt(F.col("nb2").cast("double")), 9).alias("cos_r"),
        )
    )
    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("va").orderBy(F.desc("cos_r"), "vb")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    base = side.select("vec_id", "cluster")
    return (
        base.join(best, base.vec_id == best.va, "left")
        .select(
            "vec_id",
            F.col("cluster").cast("long").alias("cluster"),
            F.col("vb").alias("nn_vec_id"),
            F.col("cos_r").alias("nn_cos"),
            F.coalesce(F.col("cos_r") >= _SD_THRESH, F.lit(False)).alias(
                "is_dup"
            ),
        )
        .orderBy("vec_id")
    )
