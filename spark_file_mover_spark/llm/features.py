"""Feature-engineering operators for training-data pipelines: sliding
chunking, TF-IDF term ranking, int8 embedding quantization.

All three are EXT surface (no reference counterpart — the reference is a
post-write file mover, MoveFilesOutputCommitter.scala:1-56); they extend
the LLM-pipeline family (I*) with the prep steps a pretraining/RAG corpus
build runs between cleaning and serialization:

* chunking feeds context-window-bounded training examples and retrieval
  indexing;
* TF-IDF top-k is the classic cheap keyword/relevance signal (quality
  filters, near-dup triage, topic binning);
* int8 quantization is how embedding stores shrink 4× before ANN
  serving.

Scale notes are on each operator; none of the three shuffles more than
aggregate-sized relations except tfidf's vocabulary join, which is the
textbook document-frequency shuffle.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_file_mover_spark.llm._textnorm import toks
from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import ingest_artifact, load_table
from spark_file_mover_spark.numerics import snap

# ---------------------------------------------------------------------------
# text-chunk-sliding — overlapping fixed-size windows over the token stream
# ---------------------------------------------------------------------------

_CHUNK = 64
_STRIDE = 48

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, n_tok,
         1 + (GREATEST(n_tok - {_CHUNK}, 0) + {_STRIDE} - 1) // {_STRIDE}
           AS n_chunks
  FROM t
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(i * {_STRIDE} AS BIGINT) AS start_tok,
       CAST(LEAST({_CHUNK}, n_tok - i * {_STRIDE}) AS BIGINT) AS chunk_len
FROM c, (SELECT unnest(range(0, (SELECT MAX(n_chunks) FROM c))) AS i)
WHERE i < n_chunks
ORDER BY doc_id, chunk_idx
"""


@query("text-chunk-sliding", oracle=_CHUNK_ORACLE, pure=True)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: each document's token stream is cut into
    {chunk}-token windows advancing by {stride} tokens (overlap = 16), the
    layout a context-window-bounded pretraining or RAG-indexing job
    consumes. Output is one row per (doc, chunk) with exact token
    offsets; the final short window is kept (its length is the remaining
    token count), matching the usual "no token left behind" policy.

    Chunk count is closed-form integer math — ``1 + ceil(max(n_tok - C,
    0) / S)`` — so both engines derive identical rows without comparing
    text. Plan: one projection computing n_tok, one ``explode(sequence)``
    per document; NO shuffle anywhere — at 100 TB this is a map-only pass
    whose output is ~n_tok/stride rows per doc, and the (doc_id ordered)
    output sort exists only for the driver hash (the relation itself is
    partition-local). The oracle mirrors the same arithmetic with a
    bounded range table + ``i < n_chunks`` filter (DuckDB lacks a
    per-row range lateral in 1.0 that Spark's sequence mirrors
    bit-for-bit; MAX(n_chunks) keeps the helper range tiny)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(toks()).alias("n_tok"))
    # `div` is exact integer division — the oracle uses `//`, so the
    # chunk count is identical by construction for ANY n_tok, not just
    # below the ~2^49 range where double division happens to round right.
    n_chunks = F.expr(
        f"1L + (greatest(n_tok - {_CHUNK}, 0) + {_STRIDE - 1}) div {_STRIDE}"
    )
    c = t.withColumn("n_chunks", n_chunks)
    i = F.col("i")
    return (
        c.select(
            "doc_id",
            "n_tok",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            i.cast("long").alias("chunk_idx"),
            (i * _STRIDE).cast("long").alias("start_tok"),
            F.least(F.lit(_CHUNK), F.col("n_tok") - i * _STRIDE)
            .cast("long")
            .alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# text-tfidf-topk — top-k terms per document by TF-IDF
# ---------------------------------------------------------------------------

_TOPK = 3

_TFIDF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
),
df AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (
  SELECT doc_id, tok, tf, df,
         FLOOR((tf * ln((n_docs + CAST(1 AS DOUBLE)) / (df + 1))) * 1e9 + 0.5) / 1e9
           AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN n
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, tok
  ) AS rk
  FROM s
)
SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       tfidf, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= {_TOPK}
ORDER BY doc_id, rk
"""


def _tf_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (doc_id, tok, tf) term-frequency relation BOTH
    lexical-statistics keys start from (tfidf's df and the perplexity
    LM's freq/N each derive from it downstream) — an ingest artifact:
    the corpus explode + count is paid once per corpus."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return (
            d.select("doc_id", F.explode(toks()).alias("tok"))
            .groupBy("doc_id", "tok")
            .agg(F.count("*").alias("tf"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    return ingest_artifact("tf", spark, sf_dir, build)


@query("text-tfidf-topk", oracle=_TFIDF_ORACLE, pure=True)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} terms per document by smoothed TF-IDF
    (``tf * ln((N+1)/(df+1))``) — the classic cheap relevance/keyword
    signal for quality filtering and topic binning.

    Cross-engine parity: the score is snapped to 9 decimals BEFORE the
    ranking window in BOTH engines (same policy as sim-search-ivf's
    argmax snap) so the ordering decision rides on the snapped value +
    the ``tok`` tiebreak, never on sub-ULP ``ln`` differences between
    libm implementations. All other inputs (tf, df, N) are exact
    integers.

    Plan shape at 100 TB: ONE token explode → (doc, tok) count
    (map-side partial combine collapses within-doc repeats in-task) →
    df derived FROM the tf relation (one row per (doc, tok), so
    ``count(*)`` per tok IS the document frequency — re-exploding the
    corpus for df would scan and explode every token a second time) →
    tf⋈df on tok (AQE picks SMJ/broadcast by vocabulary size) → N
    joined as a broadcast scalar relation (stays in the plan — no
    driver collect) → per-doc ranking window, which Spark executes as
    WindowGroupLimit: only each doc's running top-k survives the sort
    buffer."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tf = _tf_relation(spark, sf_dir)
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    s = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            snap(F.col("tf")
                * F.log(
                    (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + 1)
                ), 9),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select(
            "doc_id",
            "tok",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "tfidf",
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("doc_id", "rk")
    )


# ---------------------------------------------------------------------------
# embed-quantize-int8 — symmetric per-vector int8 quantization
# ---------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH a AS (
  SELECT vec_id, len(embedding) AS n_dims, embedding,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
           AS absmax
  FROM embeddings
),
s AS (
  SELECT vec_id, n_dims, absmax,
         CASE WHEN absmax > 0 THEN CAST(127 AS DOUBLE) / absmax
              ELSE CAST(0 AS DOUBLE) END AS scale,
         embedding
  FROM a
),
e AS (
  SELECT vec_id, n_dims, absmax,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * scale + 0.5)
              AS BIGINT) AS q
  FROM s
)
SELECT vec_id, n_dims, absmax,
       CAST(SUM(q) AS BIGINT) AS q_sum,
       CAST(SUM(abs(q)) AS BIGINT) AS q_l1,
       CAST(SUM(q * q) AS BIGINT) AS q_sq
FROM e
GROUP BY vec_id, n_dims, absmax
ORDER BY vec_id
"""


@query("embed-quantize-int8", oracle=_QUANT_ORACLE, pure=True)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    ``q_i = floor(v_i * 127/absmax + 0.5)`` — the 4× shrink an embedding
    store applies before ANN serving. Declared output audits the
    quantized vector with three exact integer aggregates (sum, L1,
    sum-of-squares) plus the fp32 absmax, so the driver hash certifies
    every quantized value without shipping arrays through the atomic-
    column compare.

    Numeric parity is exact, not snapped: float→double widening,
    ``127/absmax``, the per-element multiply and ``floor`` are all
    correctly-rounded IEEE ops both engines execute identically, and the
    three audits sum INTEGERS (order-independent). Zero vectors quantize
    to all-zero via the guarded scale (0.0), not NaN.

    Plan shape: map-only per row — no shuffle, no UDF, no explode-join.
    The absmax is computed once per row inside a Generate
    (``explode(array(...))``) barrier: CollapseProject would otherwise
    re-inline the ``array_max`` into the per-element quantize lambda and
    turn O(d) per row into O(d²) — the barrier pins the evaluation
    count, and Generate-of-one-element costs nothing. Same trick pins
    the quantized array itself before the three integer folds."""
    emb = load_table(spark, sf_dir, "embeddings")
    absmax = F.array_max(
        F.transform("embedding", lambda x: F.abs(x))
    ).cast("double")
    a = emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        "embedding",
        F.explode(F.array(absmax)).alias("absmax"),
    )
    scale = F.when(
        F.col("absmax") > 0, F.lit(127.0) / F.col("absmax")
    ).otherwise(F.lit(0.0))
    qarr = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)),
    )
    q = a.select(
        "vec_id",
        "n_dims",
        "absmax",
        F.explode(F.array(qarr)).alias("q"),
    )
    zero = F.lit(0).cast("long")
    return q.select(
        "vec_id",
        "n_dims",
        "absmax",
        F.aggregate("q", zero, lambda acc, x: acc + x).alias("q_sum"),
        F.aggregate("q", zero, lambda acc, x: acc + F.abs(x)).alias("q_l1"),
        F.aggregate("q", zero, lambda acc, x: acc + x * x).alias("q_sq"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# text-perplexity-proxy — unigram-LM cross-entropy quality signal
# ---------------------------------------------------------------------------

_XENT_QUALITY_MAX = 3.5  # rounded-xent threshold; splits the corpus (observed range ~3.38-3.70)

_XENT_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
),
freq AS (
  SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY tok
),
n AS (SELECT SUM(cnt) AS n_total FROM freq),
contrib AS (
  SELECT doc_id, tf * ln(cnt / CAST(n_total AS DOUBLE)) AS c
  FROM tf JOIN freq USING (tok) CROSS JOIN n
),
s AS (
  SELECT doc_id,
         list_reduce(list_sort(list(c)), (a, b) -> a + b) AS csum
  FROM contrib GROUP BY doc_id
),
nt AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tok
  FROM documents
)
SELECT nt.doc_id,
       CAST(nt.n_tok AS BIGINT) AS n_tok,
       FLOOR((-COALESCE(csum, 0.0) / nt.n_tok) * 1e9 + 0.5) / 1e9 AS xent,
       FLOOR((-COALESCE(csum, 0.0) / nt.n_tok) * 1e9 + 0.5) / 1e9 <= {_XENT_QUALITY_MAX} AS quality_ok
FROM nt LEFT JOIN s USING (doc_id)
ORDER BY nt.doc_id
"""


@query("text-perplexity-proxy", oracle=_XENT_ORACLE, pure=True)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy per document — the proxy for the LM
    perplexity filter every CCNet-descended curation pipeline runs: fit
    the simplest possible language model (corpus unigram frequencies)
    and score each document by the mean negative log-probability of its
    tokens. Gibberish / rare-token-soup documents score high, fluent
    in-distribution text scores low; ``quality_ok`` thresholds the
    ROUNDED score so the flag is deterministic cross-engine. (A real
    deployment swaps the unigram model for KenLM scores — the Spark
    plan is identical: per-token logprob lookup + per-doc mean.)

    Plan shape at 100 TB (shared with text-tfidf-topk): ONE token
    explode → (doc, tok) tf agg; the model's frequency table derives
    FROM the tf relation (never a second corpus explode); the corpus
    token total is a broadcast scalar relation (no driver collect);
    scoring is a vocabulary-keyed join of tf against the frequency
    table — vocabulary-sized, zipfian-skewed, exactly what AQE skew
    handling is for.

    Parity: the per-doc sum of ``tf·ln(cnt/N)`` runs as a SORTED
    sequential fold in both engines (``aggregate(array_sort(...))`` ≡
    ``list_reduce(list_sort(...))``) — double addition commutes for
    equal values, so a value-sort fully determines the fold result —
    and the final score is snapped to 9 dp before the flag compare and
    the hash (the repo's standard treatment for libm ``ln`` ULP)."""
    scored = _xent_relation(spark, sf_dir)
    return scored.select(
        "doc_id",
        "n_tok",
        "xent",
        (F.col("xent") <= _XENT_QUALITY_MAX).alias("quality_ok"),
    )


def _xent_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scored (doc_id, n_tok, xent) LM-quality relation, the
    tf-family ingest artifact one level up: text-perplexity-proxy
    thresholds it globally and text-ccnet-buckets terciles it per
    language, and in a deployment the quality score IS a stored column
    written at ingest, not recomputed per consumer."""
    return ingest_artifact(
        "xent", spark, sf_dir, lambda: _xent_build(spark, sf_dir)
    )


def _xent_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tf = _tf_relation(spark, sf_dir)
    freq = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    n = freq.agg(F.sum("cnt").alias("n_total"))
    contrib = (
        tf.join(freq, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            (
                F.col("tf")
                * F.log(F.col("cnt") / F.col("n_total").cast("double"))
            ).alias("c"),
        )
    )
    csum = contrib.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list("c")),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("csum")
    )
    nt = d.select("doc_id", F.size(toks()).alias("n_tok"))
    # LEFT join + coalesce (r7): a document producing zero tf rows keeps
    # a row with csum=0 by construction, instead of relying on the
    # tokenizer property that split(trim(x), '\s+') never yields an
    # empty array. Value-identical today (both engines agree no such doc
    # exists); robustness is structural, mirrored in the oracle.
    xent = snap(-F.coalesce("csum", F.lit(0.0)) / F.col("n_tok"), 9)
    scored = (
        nt.join(csum, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tok"),
            xent.alias("xent"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    scored.count()  # eager populate (perplexity + ccnet both read it)
    return scored


# ---------------------------------------------------------------------------
# embed-random-projection — Johnson–Lindenstrauss sign projection 64 → 8
# ---------------------------------------------------------------------------

_RP_IN = 64  # embeddings.embedding dimension (FIXTURES.md)
_RP_OUT = 8


def _rp_sign(j: int, i: int) -> int:
    """Deterministic ±1 Rademacher entry R[j][i], derived from md5 so
    the sign pattern is structure-free (a linear-congruential parity
    rule yields a rank-2 checkerboard). Computed in PYTHON at module
    load — both engines receive the same ±1.0 literals, no cross-engine
    hash function needed."""
    import hashlib

    h = hashlib.md5(f"rp_{j}_{i}".encode()).hexdigest()
    return 1 if int(h[:8], 16) % 2 == 0 else -1


def _rp_signs_sql(j: int) -> str:
    """The row-j sign vector as a literal list, shared verbatim by both
    engines' expressions."""
    return (
        "["
        + ", ".join(f"{float(_rp_sign(j, i)):.1f}" for i in range(_RP_IN))
        + "]"
    )


def _rp_oracle() -> str:
    # DuckDB twin of the Spark fold: indexed list_transform multiplies
    # each (1-based) element by its literal sign, list_reduce sums the
    # products in sequence — the sim-search-topk _DOT parity technique.
    def proj(j: int) -> str:
        return (
            f"list_reduce(list_transform(range(1, {_RP_IN} + 1), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({_rp_signs_sql(j)})[i]), "
            "(acc, x) -> acc + x)"
        )

    norm = (
        "list_reduce(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)"
    )
    p_cols = ",\n         ".join(
        f"FLOOR(({proj(j)}) * 1e9 + 0.5) / 1e9 AS p{j}" for j in range(_RP_OUT)
    )
    pp = " + ".join(f"p{j} * p{j}" for j in range(_RP_OUT))
    return f"""
WITH q AS (
  SELECT vec_id,
         {p_cols},
         FLOOR(({norm}) * 1e9 + 0.5) / 1e9 AS nv
  FROM embeddings
)
SELECT vec_id, {', '.join(f'p{j}' for j in range(_RP_OUT))},
       FLOOR((CASE WHEN nv > 0 THEN ({pp}) / ({_RP_OUT} * nv) END) * 1e9 + 0.5) / 1e9
         AS norm_ratio
FROM q ORDER BY vec_id
"""


def _rp_struct_sql() -> str:
    """The projection struct (p0..p{out-1}, nv) as generated SQL — the
    sign matrix is static, so the string builds once per process and
    one JVM-side ``F.expr`` parse replaces ~500 py4j Column round trips
    per invocation (r8, the clustering-family lesson; identical
    expression tree either way)."""
    global _RP_SQL
    if _RP_SQL is None:
        fields = []
        for j in range(_RP_OUT):
            signs = ", ".join(
                f"CAST('{float(_rp_sign(j, i))!r}' AS DOUBLE)"
                for i in range(_RP_IN)
            )
            fields.append(
                f"'p{j}', aggregate(zip_with(embedding, array({signs}), "
                "(x, s) -> CAST(x AS DOUBLE) * s), CAST(0 AS DOUBLE), "
                "(acc, x) -> acc + x)"
            )
        fields.append(
            "'nv', aggregate(transform(embedding, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        _RP_SQL = "named_struct(" + ", ".join(fields) + ")"
    return _RP_SQL


_RP_SQL = None


@query("embed-random-projection", oracle=_rp_oracle(), pure=True)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection of the embedding column,
    64 → 8 dims with a fixed Rademacher (±1) matrix (Achlioptas 2001:
    sign matrices satisfy the JL lemma with the same distortion bounds
    as Gaussian matrices and need no stored floats) — the standard
    cheap preprocessing for ANN indexing, clustering sketches and
    distance-preserving dedup at 100 TB: an 8-double code per vector is
    an 8× cut in the scan and shuffle volume every downstream consumer
    pays on the raw embedding column.

    Parity: each output dim is ``zip_with(embedding, signs, *)`` summed
    by a sequential ``F.aggregate`` fold ≡ DuckDB indexed
    ``list_transform`` + ``list_reduce`` — the identical IEEE op
    sequence both engines already execute for sim-search-topk's dot
    products; the ±1.0 literals are Python-generated md5 signs baked
    verbatim into BOTH engines' expressions. ``norm_ratio`` =
    ‖p‖²/(8·‖v‖²) is the JL distortion diagnostic (concentrates around
    1), computed from the ROUNDED projections so published columns and
    audit stay mutually consistent.

    Plan shape: map-only, zero shuffle, zero Python at runtime. The
    folds are loop-based higher-order functions, so codegen stays small
    and inside whole-stage codegen at ANY dimension — the first cut
    unrolled all 8 chains into ~600 scalar nodes and janino refused the
    Generate method (interpreted fallback); the loop form is the fix,
    not a smaller matrix. The Generate (``explode(array(struct(...)))``)
    barrier pins each fold + the norm to ONE evaluation (CollapseProject
    would inline every fold twice: output column + norm_ratio numerator
    — the embed-quantize-int8 trick)."""
    emb = load_table(spark, sf_dir, "embeddings")
    bar = emb.select(
        "vec_id", F.expr(f"explode(array({_rp_struct_sql()}))").alias("s")
    )
    p = [snap(F.col(f"s.p{j}"), 9).alias(f"p{j}") for j in range(_RP_OUT)]
    rp = [snap(F.col(f"s.p{j}"), 9) for j in range(_RP_OUT)]
    pp = rp[0] * rp[0]
    for j in range(1, _RP_OUT):
        pp = pp + rp[j] * rp[j]
    nv = snap(F.col("s.nv"), 9)
    return bar.select(
        "vec_id",
        *p,
        snap(F.when(nv > 0, pp / (F.lit(float(_RP_OUT)) * nv)), 9).alias("norm_ratio"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# text-bpe-pairs — BPE merge-candidate statistics (first training iteration)
# ---------------------------------------------------------------------------

_BPE_TOPK = 20

_BPE_ORACLE = rf"""
WITH w AS (
  SELECT UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
),
p AS (
  SELECT UNNEST(list_transform(range(1, length(tok)),
                               i -> substr(tok, i, 2))) AS pair,
         tok
  FROM w WHERE length(tok) >= 2
),
c AS (
  SELECT pair, COUNT(*) AS n_occ, COUNT(DISTINCT tok) AS n_toks
  FROM p GROUP BY 1
),
r AS (
  SELECT pair, n_occ, n_toks,
         ROW_NUMBER() OVER (ORDER BY n_occ DESC, pair) AS rank
  FROM c
)
SELECT pair, n_occ, n_toks, rank FROM r WHERE rank <= {_BPE_TOPK}
ORDER BY rank
"""


@query("text-bpe-pairs", oracle=_BPE_ORACLE, pure=True)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BPE merge-candidate statistics — the pair-counting
    step of byte-pair-encoding tokenizer training (Sennrich et al.
    2016): every adjacent character pair inside every whitespace token,
    counted across the corpus; the top pair is the merge BPE would
    apply first. Emits the top-20 pairs with occurrence counts,
    distinct-token support and rank — the profile a tokenizer-training
    pipeline materializes per iteration, and a vocabulary-health signal
    (tokenizer/corpus mismatch shows up as shifted pair mass).

    Tokens come from the ONE shared tokenizer (llm/_textnorm.py), so
    "pair" means the same thing here as in every other text-family key.
    Counts are exact integers; rank ties break lexicographically in
    both engines, so the top-20 cut is deterministic cross-engine.

    Plan shape at scale: token explode → in-token pair explode (both
    Generate, zero shuffle) → ONE pair groupBy whose map-side combine
    absorbs the corpus volume — the aggregated relation is bounded by
    the CHARSET squared (~1-4 k rows for natural-language text at ANY
    corpus size), so the single-partition top-k window that follows
    ranks a metadata-sized relation, the sort-limit pattern. n_toks is
    a COUNT(DISTINCT tok) over the same exchange (expand, no extra
    scan). BPE iteration 2+ would re-tokenize against the merged vocab
    and re-run the identical plan."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(F.explode(toks()).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = w.select(
        "tok",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(
        F.count("*").alias("n_occ"),
        F.countDistinct("tok").alias("n_toks"),
    )
    from pyspark.sql import Window

    win = Window.orderBy(F.col("n_occ").desc(), F.col("pair"))
    return (
        counted.withColumn(
            "rank", F.row_number().over(win).cast("long")
        )
        .filter(F.col("rank") <= _BPE_TOPK)
        .select("pair", "n_occ", "n_toks", "rank")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# I48 — CCNet-style per-language perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------------

_CCNET_ORACLE = f"""
WITH scored AS ({_XENT_ORACLE}),
b AS (
  SELECT s.doc_id, d.lang, s.xent,
         ntile(3) OVER (PARTITION BY d.lang ORDER BY s.xent, s.doc_id)
           AS nt
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, xent,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket
FROM b ORDER BY doc_id
"""


@query("text-ccnet-buckets", oracle=_CCNET_ORACLE, pure=True)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I48: the CCNet bucketing step — split each language's corpus
    into head/middle/tail TERCILES of LM perplexity (here the repo's
    unigram cross-entropy proxy; a deployment swaps in KenLM scores,
    same plan), the curation scheme CCNet introduced and CC-derived
    pretraining sets still use: keep head+middle, sample or drop tail.
    Completes the proxy's pipeline: text-perplexity-proxy scores and
    thresholds globally; this key assigns the per-language relative
    buckets downstream mixing actually consumes.

    Shape at 100 TB: the scored relation (doc_id, xent — 16 B/row,
    never text) joins the (doc_id, lang) projection and one window per
    language assigns terciles; ntile needs the language partition
    sorted, which is exactly the per-shuffle-partition sort a window
    costs everywhere else in the repo. Languages are the natural skew
    axis (en ≫ rest) — the production posture salts en by xent range
    and merges tercile boundaries from per-salt histograms; at bench
    scale the single window is the honest plan.

    Parity: xent is already snapped to 9 dp inside the proxy (both
    engines); the tercile order (xent, doc_id) is total, so ntile —
    identical floor-split semantics in Spark and DuckDB — lands every
    doc in the same bucket cross-engine."""
    from pyspark.sql import Window as W

    scored = _xent_relation(spark, sf_dir).select("doc_id", "xent")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    nt = F.ntile(3).over(
        W.partitionBy("lang").orderBy("xent", "doc_id")
    )
    return (
        scored.join(d, "doc_id")
        .select(
            "doc_id",
            "lang",
            "xent",
            F.when(nt == 1, "head")
            .when(nt == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# I53 — bigram collocations by PMI (corpus phrase mining)
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5  # minimum bigram support (kills noise, bounds output)

_PMI_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
bi AS (
  SELECT tk[i] AS x, tk[i + 1] AS y
  FROM t CROSS JOIN (SELECT unnest(range(1, (SELECT MAX(len(tk)) FROM t))) AS i)
  WHERE i < len(tk) AND len(tk) >= 2
),
cb AS (SELECT x, y, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2),
uni AS (
  SELECT u AS tok, COUNT(*) AS c FROM (SELECT unnest(tk) AS u FROM t)
  GROUP BY 1
),
tot AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n_uni,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bi) AS n_bi
)
SELECT cb.x, cb.y, CAST(cb.c_xy AS BIGINT) AS c_xy,
       CAST(ux.c AS BIGINT) AS c_x, CAST(uy.c AS BIGINT) AS c_y,
       FLOOR((LN((CAST(cb.c_xy AS DOUBLE) * n_uni * n_uni)
                / (CAST(n_bi AS DOUBLE) * ux.c * uy.c))) * 1e9 + 0.5) / 1e9 AS pmi
FROM cb JOIN uni ux ON ux.tok = cb.x JOIN uni uy ON uy.tok = cb.y
CROSS JOIN tot
WHERE cb.c_xy >= {_PMI_MIN_COUNT}
ORDER BY x, y
"""


@query("text-collocations-pmi", oracle=_PMI_ORACLE, pure=True)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I53: bigram collocation mining by pointwise mutual information —
    PMI = ln(p(x,y) / (p(x)·p(y))) over consecutive token pairs, the
    classic phrase detector (Church & Hanks 1990; the same statistic
    word2phrase and tokenizer-vocab builders use to merge "new york"
    into one unit).

    Shape: the bigram explode leaves the scan as token pairs that
    collapse MAP-SIDE into (x, y, count) — bounded by vocabulary², and
    in practice by the support filter, which also bounds the output;
    unigram counts fold off the SHARED cached tf relation (the
    tfidf/perplexity/ccnet artifact — a vocab-bounded aggregate over a
    persisted relation, not a second corpus tokenization); the corpus
    totals are WINDOW sums over the aggregated relations (r9 rework:
    the first cut re-counted them from the unmaterialized bigram and
    unigram subtrees, and Catalyst re-ran the corpus tokenization once
    per consumer — 5 document scans in the audited plan, now 1 plus
    the amortized tf build). Document text never shuffles.

    Parity: all counts exact integers; PMI is one all-double
    expression over exact operands, snapped to 9 dp AFTER the ln (the
    E20 entropy discipline — cross-libm ln differences live ~1e-16,
    seven orders below the snap).

    r16 (verdict item 2): the r15 round persisted the bigram/unigram
    COUNT relations per (SparkContext, corpus) — but a groupBy count
    is the query's own aggregation result, not an ingest artifact, so
    both statistics are back to PER-INVOCATION computation. What
    stays: unigram counts fold off the SHARED tf relation (the
    declared ingest artifact — one corpus tokenization, amortized),
    the bigram pass is the build's only corpus scan, and the unigram
    aggregate is constructed ONCE and consumed by both join sides —
    its exchange is reused across ux/uy (ReusedExchange; only the
    vocab-bounded final agg + window re-run per side), so stripping
    the persist does not bring back the per-side rebuild."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.explode(F.array(F.struct(toks().alias("t")))).alias("s"),
    ).select("doc_id", F.col("s.t").alias("tk"))
    tk = F.col("tk")
    bi = (
        base.filter(F.size(tk) >= 2)
        .select(
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - 1),
                    lambda i: F.struct(
                        F.element_at(tk, i.cast("int")).alias("x"),
                        F.element_at(tk, (i + 1).cast("int")).alias(
                            "y"
                        ),
                    ),
                )
            ).alias("pos", "b")
        )
        .select("b.x", "b.y")
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cb = (
        bi.groupBy("x", "y")
        .agg(F.count("*").alias("c_xy"))
        .withColumn("n_bi", F.sum("c_xy").over(wall).cast("long"))
    )
    uni = (
        _tf_relation(spark, sf_dir)
        .groupBy("tok")
        .agg(F.sum("tf").cast("long").alias("c"))
        .withColumn("n_uni", F.sum("c").over(wall).cast("long"))
    )
    ux = uni.select(
        F.col("tok").alias("x"), F.col("c").alias("c_x"), "n_uni"
    )
    uy = uni.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))
    s = (
        cb.filter(F.col("c_xy") >= _PMI_MIN_COUNT)
        .join(ux, "x")
        .join(uy, "y")
    )
    pmi = snap(F.log(
            (F.col("c_xy").cast("double") * F.col("n_uni") * F.col("n_uni"))
            / (F.col("n_bi").cast("double") * F.col("c_x") * F.col("c_y"))
        ), 9)
    return s.select(
        "x",
        "y",
        F.col("c_xy").cast("long").alias("c_xy"),
        F.col("c_x").cast("long").alias("c_x"),
        F.col("c_y").cast("long").alias("c_y"),
        pmi.alias("pmi"),
    ).orderBy("x", "y")


# ---------------------------------------------------------------------------
# I57 — embedding norm QA (per-label distribution + outlier screen)
# ---------------------------------------------------------------------------

_NORM_SQL_I57 = (
    "sqrt(list_reduce(list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))"
)

_NORMQA_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, FLOOR(({_NORM_SQL_I57}) * 1e6 + 0.5) / 1e6 AS nrm6
  FROM embeddings
),
m AS (
  SELECT vec_id, label, nrm6,
         CAST(SUM(CAST(nrm6 AS DECIMAL(18,6))) OVER (PARTITION BY label)
              AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY label) AS mean_nrm
  FROM v
)
SELECT label,
       COUNT(*) AS n_vecs,
       FLOOR((MAX(mean_nrm)) * 1e9 + 0.5) / 1e9 AS mean_norm,
       FLOOR((MIN(nrm6)) * 1e6 + 0.5) / 1e6 AS min_norm,
       FLOOR((MAX(nrm6)) * 1e6 + 0.5) / 1e6 AS max_norm,
       CAST(SUM(CASE WHEN nrm6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(SUM(CASE WHEN nrm6 * 2 > 3 * mean_nrm THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM m GROUP BY label ORDER BY label
"""


@query("embed-norm-outliers", oracle=_NORMQA_ORACLE, pure=True)
def embed_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I57: embedding-norm QA per label — count, mean/min/max norm,
    zero-norm count (failed embedding jobs) and the count of vectors
    whose norm exceeds 1.5× the label mean. This is the health check
    run BEFORE building any ANN index: zero-norm vectors crash cosine
    math (the I3 family excludes them), and norm outliers distort
    IVF cell assignment and PQ codebooks.

    Shape: norms are a map-only sequential fold off the scan; the
    per-label mean is ONE window over (label, norm) pairs — 16 bytes
    a row regardless of embedding width — and the rollup reuses the
    window's partitioning (no second exchange).

    Parity: each norm is snapped to 6 dp at the source, the label
    mean divides an ORDER-INDEPENDENT DECIMAL(18,6) sum (the E20
    snap-then-decimal-sum discipline — a raw double SUM would be
    accumulation-order-dependent across engines), and the outlier
    decision compares ``2·norm > 3·mean`` — identical IEEE products
    on identical operands, no 1.5 literal (bare decimals carry
    engine-specific scales)."""
    from pyspark.sql import Window as W

    from spark_file_mover_spark.llm.similarity import norm

    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "label", snap(norm(F.col("embedding")), 6).alias("nrm6")
    )
    wl = W.partitionBy("label")
    m = v.select(
        "label",
        "nrm6",
        (
            F.sum(F.col("nrm6").cast("decimal(18,6)")).over(wl).cast("double")
            / F.count("*").over(wl)
        ).alias("mean_nrm"),
    )
    return (
        m.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            snap(F.max("mean_nrm"), 9).alias("mean_norm"),
            snap(F.min("nrm6"), 6).alias("min_norm"),
            snap(F.max("nrm6"), 6).alias("max_norm"),
            F.sum(F.when(F.col("nrm6") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero"),
            F.sum(
                F.when(F.col("nrm6") * 2 > 3 * F.col("mean_nrm"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# I58 — Matryoshka (MRL) truncation audit: top-1 retrieval agreement per
# prefix-dimension budget
# ---------------------------------------------------------------------------

_MRL_BUDGETS = (8, 16, 32, 64)
_MRL_N_QUERIES = 5

# DuckDB mirrors of the sequential-fold dot / norm over a PREFIX slice
# (array_slice keeps the fold order identical to Spark's F.slice +
# F.aggregate — same IEEE sequence, bit-identical before the 6-dp snap).
_MRL_DOT = (
    "list_reduce(list_transform(range(1, len(array_slice({a}, 1, {d}))+1), "
    "i -> CAST(array_slice({a}, 1, {d})[i] AS DOUBLE) "
    "* CAST(array_slice({b}, 1, {d})[i] AS DOUBLE)), (acc, x) -> acc + x)"
)
_MRL_NORM = (
    "sqrt(list_reduce(list_transform(array_slice({a}, 1, {d}), "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))"
)
_MRL_FULL_NORM = (
    "sqrt(list_reduce(list_transform({a}, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))"
)

_MRL_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe
  FROM embeddings
  WHERE vec_id < {_MRL_N_QUERIES}
    AND {_MRL_FULL_NORM.format(a='embedding')} > 0
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS ce
  FROM embeddings WHERE {_MRL_FULL_NORM.format(a='embedding')} > 0
),
b AS (SELECT UNNEST([{', '.join(str(b) for b in _MRL_BUDGETS)}]) AS budget),
sims AS (
  SELECT q.query_id, c.neighbor_id, b.budget,
         {_MRL_DOT.format(a='q.qe', b='c.ce', d='b.budget')}
           / ({_MRL_NORM.format(a='q.qe', d='b.budget')}
              * {_MRL_NORM.format(a='c.ce', d='b.budget')}) AS cos
  FROM q CROSS JOIN c CROSS JOIN b
  WHERE q.query_id <> c.neighbor_id
    AND {_MRL_NORM.format(a='q.qe', d='b.budget')} > 0
    AND {_MRL_NORM.format(a='c.ce', d='b.budget')} > 0
),
top AS (
  SELECT query_id, budget, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id, budget
                            ORDER BY cos DESC, neighbor_id) AS rnk
  FROM sims
),
sel AS (SELECT query_id, budget, neighbor_id, cos FROM top WHERE rnk = 1)
SELECT query_id,
       CAST(budget AS BIGINT) AS budget,
       neighbor_id,
       FLOOR((cos) * 1e6 + 0.5) / 1e6 AS cosine,
       CAST(neighbor_id = MAX(CASE WHEN budget = {_MRL_BUDGETS[-1]}
                              THEN neighbor_id END)
            OVER (PARTITION BY query_id) AS BIGINT) AS agree_full
FROM sel ORDER BY query_id, budget
"""


@query("embed-matryoshka", oracle=_MRL_ORACLE, pure=True)
def embed_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I58: Matryoshka truncation audit (Kusupati et al. 2022,
    arXiv:2205.13147 — MRL): before serving truncated embeddings (the
    4-8x index-shrink every large retrieval deployment wants), measure
    what prefix-dimension budgets DO to retrieval — per anchor and
    budget d in {8,16,32,64}, the exact top-1 neighbor under
    prefix-d cosine and whether it AGREES with the full-dimension
    top-1. The d=64 rows are the identity anchor (agree_full = 1 by
    construction); disagreement rates at 8/16/32 are the truncation
    cost curve a deployment reads before picking d.

    Shape at 100 TB: the I3/I54 plan contract — anchors broadcast,
    corpus scanned ONCE and never shuffled, budget fanout is a map-side
    4x Generate on the broadcast-joined stream, per-(anchor, budget)
    top-1 via WindowGroupLimit (partial top-k per task, no global
    sort). Prefix dots re-fold per budget; with |budgets| fixed at 4
    that is a constant-factor map cost, and at production anchor
    counts the mining moves inside IVF cells (I9) unchanged.

    Parity: prefix slice + sequential fold is the same IEEE op
    sequence in both engines (F.slice+F.aggregate = array_slice +
    list_reduce), so cosines are bit-identical before the 6-dp snap
    and the (cos desc, neighbor_id) top-1 is deterministic. Zero
    full-norm vectors are excluded per the I8 contract; zero PREFIX
    norms (a vector whose first d dims are all zero) are excluded per
    (pair, budget) in both engines rather than emitting an engine-
    specific division-by-zero artifact.
    """
    from pyspark.sql import Window as W

    # Expression construction runs as SQL STRINGS, not Column-API
    # lambdas (r15): the nested HOFs here build a few hundred plan
    # nodes, and each Column lambda costs a py4j round-trip — profiled
    # at ~half this key's per-invocation cost (construction 0.8-2 s vs
    # execution 0.6-1.5 s depending on host load). A selectExpr string
    # parses JVM-side in one call and produces the IDENTICAL Catalyst
    # expressions (SQL `aggregate`/`zip_with`/`transform` + CAST are
    # what the Column API desugars to), so values are unchanged.
    def pdot_sql(d: int) -> str:
        return (
            f"aggregate(zip_with(slice(qe, 1, {d}), slice(ce, 1, {d}),"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    def pnorm_sql(vec: str, d: int) -> str:
        return (
            f"SQRT(aggregate(transform(slice({vec}, 1, {d}),"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
        )

    def with_prefix_norms(df, vec: str, idc: str, out_id: str, out_vec: str):
        """Project (id, vec, prefix-norm array) with the norm array
        PINNED behind a one-struct Generate barrier — norms fold once
        per ROW per side, never per pair (the similarity.py hoisting
        contract, prefix-flavored; unpinned, CollapseProject inlines
        the 120-term fold into every pair)."""
        ns = (
            "array("
            + ", ".join(pnorm_sql(vec, b) for b in _MRL_BUDGETS)
            + ")"
        )
        return df.selectExpr(
            f"{idc} AS {out_id}",
            f"{vec} AS {out_vec}",
            f"explode(array(struct({ns} AS ns))) AS s",
        ).selectExpr(out_id, out_vec, f"s.ns AS {out_vec}_ns")

    e = load_table(spark, sf_dir, "embeddings")
    q = with_prefix_norms(
        e.filter(F.col("vec_id") < _MRL_N_QUERIES),
        "embedding",
        "vec_id",
        "query_id",
        "qe",
    ).filter(F.element_at("qe_ns", len(_MRL_BUDGETS)) > 0)
    c = with_prefix_norms(
        e, "embedding", "vec_id", "neighbor_id", "ce"
    ).filter(F.element_at("ce_ns", len(_MRL_BUDGETS)) > 0)

    # dots fold ONCE per pair inside the budget structs; the explode
    # fans the (budget, dot, qn, cn) quadruples out map-side
    structs = (
        "array("
        + ", ".join(
            f"struct(CAST({b} AS BIGINT) AS b, {pdot_sql(b)} AS d,"
            f" element_at(qe_ns, {i + 1}) AS qn,"
            f" element_at(ce_ns, {i + 1}) AS cn)"
            for i, b in enumerate(_MRL_BUDGETS)
        )
        + ")"
    )
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr("query_id", "neighbor_id", f"explode({structs}) AS s")
        .filter((F.col("s.qn") > 0) & (F.col("s.cn") > 0))
        .select(
            "query_id",
            "neighbor_id",
            F.col("s.b").alias("budget"),
            (F.col("s.d") / (F.col("s.qn") * F.col("s.cn"))).alias("cos"),
        )
    )
    w = W.partitionBy("query_id", "budget").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    sel = (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("query_id", "budget", "neighbor_id", "cos")
    )
    wq = W.partitionBy("query_id")
    full_top = F.max(
        F.when(F.col("budget") == _MRL_BUDGETS[-1], F.col("neighbor_id"))
    ).over(wq)
    return sel.select(
        "query_id",
        "budget",
        "neighbor_id",
        snap("cos", 6).alias("cosine"),
        (F.col("neighbor_id") == full_top).cast("long").alias("agree_full"),
    ).orderBy("query_id", "budget")


# ---------------------------------------------------------------------------
# I65 — Zipf law fit over the corpus vocabulary
# ---------------------------------------------------------------------------

_ZIPF_K = 50

# integer-valued 1e9-scaled log coordinates (the E20/E24 mechanism):
# the 1e9 factors cancel in the slope ratio, so the moments stay exact
# DECIMAL(38,0) and the fit is order-independent
_ZIPF_XI = "FLOOR(LN(CAST(rank AS DOUBLE)) * 1e9 + 0.5)"
_ZIPF_YI = "FLOOR(LN(CAST(freq AS DOUBLE)) * 1e9 + 0.5)"

_ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY tok
),
top AS (
  SELECT tok, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
  FROM vocab
  ORDER BY freq DESC, tok LIMIT {_ZIPF_K}
),
xy AS (
  SELECT CAST({_ZIPF_XI} AS DECIMAL(38,0)) AS xi,
         CAST({_ZIPF_YI} AS DECIMAL(38,0)) AS yi
  FROM top
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS kk,
         CAST(COALESCE(SUM(xi), 0) AS DECIMAL(38,0)) AS sx,
         CAST(COALESCE(SUM(yi), 0) AS DECIMAL(38,0)) AS sy,
         CAST(COALESCE(SUM(xi * xi), 0) AS DECIMAL(38,0)) AS sxx,
         CAST(COALESCE(SUM(xi * yi), 0) AS DECIMAL(38,0)) AS sxy,
         CAST(COALESCE(SUM(yi * yi), 0) AS DECIMAL(38,0)) AS syy
  FROM xy
)
SELECT kk AS k_fit,
       CASE WHEN kk >= 2 AND kk * sxx - sx * sx > 0 THEN
         FLOOR((CAST(kk * sxy - sx * sy AS DOUBLE)
                / CAST(kk * sxx - sx * sx AS DOUBLE)) * 1e9 + 0.5) / 1e9
       END AS zipf_slope,
       CASE WHEN kk >= 2 AND kk * sxx - sx * sx > 0 THEN
         FLOOR((((CAST(sy AS DOUBLE) / kk) / 1e9)
                - (CAST(kk * sxy - sx * sy AS DOUBLE)
                   / CAST(kk * sxx - sx * sx AS DOUBLE))
                  * ((CAST(sx AS DOUBLE) / kk) / 1e9))
               * 1e9 + 0.5) / 1e9
       END AS intercept,
       CASE WHEN kk >= 2 AND kk * sxx - sx * sx > 0
                 AND kk * syy - sy * sy > 0 THEN
         FLOOR(((CAST(kk * sxy - sx * sy AS DOUBLE)
                 * CAST(kk * sxy - sx * sy AS DOUBLE))
                / (CAST(kk * sxx - sx * sx AS DOUBLE)
                   * CAST(kk * syy - sy * sy AS DOUBLE)))
               * 1e9 + 0.5) / 1e9
       END AS r2
FROM m
"""


@query("text-zipf-fit", oracle=_ZIPF_ORACLE, pure=True)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I65: Zipf-law fit over the corpus vocabulary — OLS of ln(freq)
    on ln(rank) over the top-{K} tokens: natural text follows
    freq ∝ rank^s with s ≈ −1, and the fitted slope/r² pair is a
    corpus-health check curation pipelines run per source/shard
    (template spam and boilerplate flatten the head, s → 0; OCR noise
    and deduplication artifacts steepen it) — the distributional
    sibling of the per-doc Gopher rules (I37). Rank ties broken by
    token string so both engines number identically.

    Parity: the log coordinates are INTEGER-VALUED 1e9-scaled
    BIGINT-ish doubles (shared textual fragments) whose DECIMAL(38,0)
    moments are exact and order-independent; the 1e9 factors cancel
    in the slope ratio; slope/intercept/r² are snapped all-double
    expressions over the exact moments; degenerate fits (vocabulary
    < 2, zero variance) → NULL in both engines.

    Shape at 100 TB: vocabulary frequencies are ONE map-side-combined
    hash agg over the CACHED tf relation (``_tf_relation`` — one
    token explode per corpus, shared with tfidf/PMI/perplexity); the
    top-{K} cut is TakeOrderedAndProject (per-task top-K merged on
    the driver, no global sort); everything after ranks {K} rows.
    Cites text-tfidf-topk (features.py) for the tf artifact
    contract."""
    from pyspark.sql import Window as W

    tf = _tf_relation(spark, sf_dir)
    vocab = tf.groupBy("tok").agg(F.sum("tf").cast("long").alias("freq"))
    top = vocab.orderBy(F.desc("freq"), F.asc("tok")).limit(_ZIPF_K)
    w = W.orderBy(F.desc("freq"), F.asc("tok"))
    ranked = top.select(
        "tok", "freq", F.row_number().over(w).cast("long").alias("rank")
    )
    m = ranked.selectExpr(
        f"CAST({_ZIPF_XI} AS DECIMAL(38,0)) AS xi",
        f"CAST({_ZIPF_YI} AS DECIMAL(38,0)) AS yi",
    ).agg(
        F.count("*").cast("long").alias("kk"),
        F.coalesce(F.sum("xi"), F.lit(0)).cast("decimal(38,0)").alias("sx"),
        F.coalesce(F.sum("yi"), F.lit(0)).cast("decimal(38,0)").alias("sy"),
        F.coalesce(F.sum(F.expr("xi * xi")), F.lit(0))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.coalesce(F.sum(F.expr("xi * yi")), F.lit(0))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.coalesce(F.sum(F.expr("yi * yi")), F.lit(0))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    return m.selectExpr(
        "kk AS k_fit",
        "CASE WHEN kk >= 2 AND kk * sxx - sx * sx > 0 THEN"
        " FLOOR((CAST(kk * sxy - sx * sy AS DOUBLE)"
        " / CAST(kk * sxx - sx * sx AS DOUBLE)) * 1e9 + 0.5) / 1e9"
        " END AS zipf_slope",
        "CASE WHEN kk >= 2 AND kk * sxx - sx * sx > 0 THEN"
        " FLOOR((((CAST(sy AS DOUBLE) / kk) / 1e9)"
        " - (CAST(kk * sxy - sx * sy AS DOUBLE)"
        " / CAST(kk * sxx - sx * sx AS DOUBLE))"
        " * ((CAST(sx AS DOUBLE) / kk) / 1e9))"
        " * 1e9 + 0.5) / 1e9"
        " END AS intercept",
        "CASE WHEN kk >= 2 AND kk * sxx - sx * sx > 0"
        " AND kk * syy - sy * sy > 0 THEN"
        " FLOOR(((CAST(kk * sxy - sx * sy AS DOUBLE)"
        " * CAST(kk * sxy - sx * sy AS DOUBLE))"
        " / (CAST(kk * sxx - sx * sx AS DOUBLE)"
        " * CAST(kk * syy - sy * sy AS DOUBLE)))"
        " * 1e9 + 0.5) / 1e9"
        " END AS r2",
    )


# ---------------------------------------------------------------------------
# I70 — Monroe log-odds-ratio with informative Dirichlet prior (en vs rest)
# ---------------------------------------------------------------------------

# Prior strength a0 (total pseudo-counts, split across the vocabulary
# proportionally to corpus frequency — Monroe, Colaresi & Quinn 2008,
# "Fightin' Words" §3.5.2). Shared literal so both engines smooth
# identically.
_LO_A0 = "1000.0"
_LO_TOPK = 20

# Shared textual fragments over the aggregated (tok, y_en, y_rest,
# n_en, n_rest) relation. Every operand is an exact BIGINT cast to
# double in the SAME order, so the chains are IEEE-identical.
_LO_AI = (
    f"({_LO_A0} * (CAST(y_en + y_rest AS DOUBLE)"
    " / CAST(n_en + n_rest AS DOUBLE)))"
)
_LO_DEN_A = (
    f"(CAST(n_en AS DOUBLE) + {_LO_A0}"
    f" - CAST(y_en AS DOUBLE) - {_LO_AI})"
)
_LO_DEN_B = (
    f"(CAST(n_rest AS DOUBLE) + {_LO_A0}"
    f" - CAST(y_rest AS DOUBLE) - {_LO_AI})"
)
_LO_DELTA = (
    f"(LN((CAST(y_en AS DOUBLE) + {_LO_AI}) / {_LO_DEN_A})"
    f" - LN((CAST(y_rest AS DOUBLE) + {_LO_AI}) / {_LO_DEN_B}))"
)
_LO_VAR = (
    f"(1.0 / (CAST(y_en AS DOUBLE) + {_LO_AI})"
    f" + 1.0 / (CAST(y_rest AS DOUBLE) + {_LO_AI}))"
)
_LO_Z = f"({_LO_DELTA} / SQRT({_LO_VAR}))"
_LO_OK = f"{_LO_DEN_A} > 0 AND {_LO_DEN_B} > 0"

_LOGODDS_ORACLE = rf"""
WITH tk AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
         UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
),
v AS (
  SELECT tok,
         CAST(SUM(is_en) AS BIGINT) AS y_en,
         CAST(SUM(1 - is_en) AS BIGINT) AS y_rest
  FROM tk GROUP BY tok
),
t AS (
  SELECT tok, y_en, y_rest,
         CAST(SUM(y_en) OVER () AS BIGINT) AS n_en,
         CAST(SUM(y_rest) OVER () AS BIGINT) AS n_rest
  FROM v
),
z AS (
  SELECT tok, y_en, y_rest,
         FLOOR(({_LO_DELTA}) * 1e9 + 0.5) / 1e9 AS delta,
         FLOOR(({_LO_Z}) * 1e9 + 0.5) / 1e9 AS z
  FROM t WHERE {_LO_OK}
),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY z DESC, tok) AS rn_en,
         ROW_NUMBER() OVER (ORDER BY z ASC, tok) AS rn_rest
  FROM z
)
SELECT CASE WHEN rn_en <= {_LO_TOPK} THEN 'en-heavy'
            ELSE 'rest-heavy' END AS direction,
       CAST(CASE WHEN rn_en <= {_LO_TOPK} THEN rn_en
                 ELSE rn_rest END AS BIGINT) AS rank,
       tok, y_en, y_rest, delta, z
FROM r
WHERE rn_en <= {_LO_TOPK} OR rn_rest <= {_LO_TOPK}
ORDER BY direction, rank
"""


@query("text-logodds-monroe", oracle=_LOGODDS_ORACLE, pure=True)
def text_logodds_monroe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I70: Monroe-Colaresi-Quinn log-odds ratio with an informative
    Dirichlet prior ("Fightin' Words", 2008) between the English and
    non-English document groups — THE principled what-distinguishes-
    corpus-A-from-B readout for training-data curation: raw frequency
    ratios explode on rare tokens and tf-idf (I25) has no uncertainty
    model, while the Dirichlet-smoothed z-scored log-odds shrinks
    rare-token noise (prior a_i = a0·f_i, a0 = 1000 pseudo-counts
    spread by corpus frequency) and normalizes by the variance
    1/(y_A+a_i) + 1/(y_B+a_i), so the top-|z| tokens are defensible
    markers — the query a data team runs before deciding whether a
    source's distinctive vocabulary is signal or contamination.

    Shape at 100 TB: one scan explodes through the shared tokenizer
    into a map-side-collapsing hash agg onto the (tok, y_en, y_rest)
    VOCABULARY relation (text never shuffles — only tokens);
    corpus totals are windows over that relation; the two top-k
    rankings are WindowGroupLimit-bounded row_numbers over it.

    Parity: counts exact BIGINTs; a_i, both denominators, delta and z
    are shared textual fragments (module constants) snapped at 9 dp;
    ranking orders by the SNAPPED z with the token as tie-breaker, so
    selection is boundary-deterministic; z·1e9 stays inside 2^53 up
    to |z| ~ 9e6 (a corpus-scale bound documented beside the snap
    hazard); degenerate denominators are filtered by the shared guard
    before ranking in both engines."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_en"),
        F.explode(toks()).alias("tok"),
    )
    v = tk.groupBy("tok").agg(
        F.sum("is_en").cast("long").alias("y_en"),
        F.sum(1 - F.col("is_en")).cast("long").alias("y_rest"),
    )
    wall = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    t = v.select(
        "tok",
        "y_en",
        "y_rest",
        F.sum("y_en").over(wall).cast("long").alias("n_en"),
        F.sum("y_rest").over(wall).cast("long").alias("n_rest"),
    )
    z = t.filter(F.expr(_LO_OK)).selectExpr(
        "tok",
        "y_en",
        "y_rest",
        f"FLOOR(({_LO_DELTA}) * 1e9 + 0.5) / 1e9 AS delta",
        f"FLOOR(({_LO_Z}) * 1e9 + 0.5) / 1e9 AS z",
    )
    r = z.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.col("z").desc(), "tok"))
        .alias("rn_en"),
        F.row_number()
        .over(W.orderBy(F.col("z").asc(), "tok"))
        .alias("rn_rest"),
    )
    return (
        r.filter(
            (F.col("rn_en") <= _LO_TOPK) | (F.col("rn_rest") <= _LO_TOPK)
        )
        .selectExpr(
            f"CASE WHEN rn_en <= {_LO_TOPK} THEN 'en-heavy'"
            " ELSE 'rest-heavy' END AS direction",
            f"CAST(CASE WHEN rn_en <= {_LO_TOPK} THEN rn_en"
            " ELSE rn_rest END AS BIGINT) AS rank",
            "tok",
            "y_en",
            "y_rest",
            "delta",
            "z",
        )
        .orderBy("direction", "rank")
    )


# ---------------------------------------------------------------------------
# I73 — per-dimension embedding standardization (diagonal whitening)
# ---------------------------------------------------------------------------

_STD_ORACLE = """
WITH lf AS (
  SELECT e.vec_id, r.range AS dim,
         CAST(FLOOR(CAST(e.embedding[r.range] AS DOUBLE) * 1e9 + 0.5)
              AS BIGINT) AS vn
  FROM embeddings e CROSS JOIN range(1, 65) r
),
st AS (
  SELECT vec_id, dim, vn,
         CAST(COUNT(*) OVER d AS BIGINT) AS n,
         CAST(SUM(CAST(vn AS DECIMAL(38,0))) OVER d
              AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(vn AS DECIMAL(38,0)) * vn) OVER d
              AS DECIMAL(38,0)) AS sq
  FROM lf
  WINDOW d AS (PARTITION BY dim)
),
x AS (
  SELECT vec_id, dim, vn, n,
         CAST(n AS DECIMAL(38,0)) * vn - s AS dd,
         CAST(n AS DECIMAL(38,0)) * sq - s * s AS vr
  FROM st
)
SELECT vec_id, dim,
       CAST(vn AS DOUBLE) / 1e9 AS value,
       CASE WHEN vr > 0 THEN
         FLOOR((CAST(dd AS DOUBLE) / SQRT(CAST(vr AS DOUBLE)))
               * 1e9 + 0.5) / 1e9 END AS z
FROM x ORDER BY vec_id, dim
"""


@query("embed-standardize", oracle=_STD_ORACLE, pure=True)
def embed_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I73: per-dimension embedding standardization — z-score each
    coordinate against ITS dimension's corpus mean/std (diagonal
    whitening, the cheap first stage of the full-covariance whitening
    retrieval stacks apply before PQ/IVF): a dimension with 10× the
    variance of its siblings dominates every L2/cosine, and this is
    the query that both detects that (read |z| ranges per dim) and
    fixes it (train on z instead of value). Long form (vec_id, dim,
    value, z) — the shape downstream re-assembly or per-dim
    histogramming actually consumes.

    Parity discipline for CROSS-ROW float aggregation (the hard part
    — float sums are order-dependent): every coordinate snaps to an
    exact integer nano-unit FIRST, so Σv and Σv² are DECIMAL(38,0)
    integers (order-independent in both engines), and z is the F32
    Bollinger identity: with d = n·v−Σv and vr = n·Σv²−(Σv)²,
    z = (v−μ)/σ = d/√vr exactly (σ = √vr/n cancels the 1/n in d/n) —
    one IEEE chain over exact-integer-derived doubles, snapped;
    zero-variance dims → NULL z in both engines.

    Shape at 100 TB: posexplode to the (vec, dim) long form collapses
    INTO a 64-partition window (dim count is fixed) — at real scale
    the per-dim moments become ONE map-side-combined 64-row aggregate
    broadcast back onto the vectors; the window form here plans the
    same exchange count at test scale (one shuffle on dim)."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    lf = e.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.expr(
            "CAST(FLOOR(CAST(v AS DOUBLE) * 1e9 + 0.5) AS BIGINT)"
        ).alias("vn"),
    )
    d = W.partitionBy("dim")
    st = lf.select(
        "vec_id",
        "dim",
        "vn",
        F.count(F.lit(1)).over(d).cast("long").alias("n"),
        F.sum(F.col("vn").cast("decimal(38,0)"))
        .over(d)
        .cast("decimal(38,0)")
        .alias("s"),
        F.sum(F.col("vn").cast("decimal(38,0)") * F.col("vn"))
        .over(d)
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    x = st.selectExpr(
        "vec_id",
        "dim",
        "vn",
        "n",
        "CAST(n AS DECIMAL(38,0)) * vn - s AS dd",
        "CAST(n AS DECIMAL(38,0)) * sq - s * s AS vr",
    )
    return x.selectExpr(
        "vec_id",
        "dim",
        "CAST(vn AS DOUBLE) / 1e9 AS value",
        "CASE WHEN vr > 0 THEN"
        " FLOOR((CAST(dd AS DOUBLE) / SQRT(CAST(vr AS DOUBLE)))"
        " * 1e9 + 0.5) / 1e9 END AS z",
    ).orderBy("vec_id", "dim")


# ---------------------------------------------------------------------------
# I81 — embed-centroid-drift: per-label centroid shift between two halves
# ---------------------------------------------------------------------------

_CDRIFT_Q = 10**6  # fixed-point quantization scale (the K2 technique)

_CDRIFT_ORACLE = f"""
WITH q AS (
  SELECT label,
         CAST(vec_id % 2 AS INT) AS period,
         r.range AS d,
         CAST(FLOOR(CAST(embedding[r.range] AS DOUBLE) * {_CDRIFT_Q}
                    + 0.5) AS BIGINT) AS qv
  FROM embeddings, range(1, 65) r
),
s AS (
  SELECT label, period, d,
         CAST(SUM(qv) AS BIGINT) AS sv,
         COUNT(DISTINCT CASE WHEN d = 1 THEN NULL END) AS _dummy
  FROM q GROUP BY label, period, d
),
n AS (
  SELECT label, CAST(vec_id % 2 AS INT) AS period,
         COUNT(*) AS n_vecs
  FROM embeddings GROUP BY 1, 2
),
j AS (
  SELECT a.label,
         CAST(SUM(CAST(a.sv AS DECIMAL(38,0)) * b.sv) AS DECIMAL(38,0))
           AS dot,
         CAST(SUM(CAST(a.sv AS DECIMAL(38,0)) * a.sv) AS DECIMAL(38,0))
           AS n2a,
         CAST(SUM(CAST(b.sv AS DECIMAL(38,0)) * b.sv) AS DECIMAL(38,0))
           AS n2b
  FROM s a JOIN s b ON a.label = b.label AND a.d = b.d
  WHERE a.period = 0 AND b.period = 1
  GROUP BY a.label
)
SELECT j.label,
       CAST(na.n_vecs AS BIGINT) AS n_a,
       CAST(nb.n_vecs AS BIGINT) AS n_b,
       CASE WHEN n2a > 0 AND n2b > 0 THEN
         FLOOR(CAST(dot AS DOUBLE)
               / (SQRT(CAST(n2a AS DOUBLE)) * SQRT(CAST(n2b AS DOUBLE)))
               * 1e9 + 0.5) / 1e9 END AS centroid_cosine,
       CASE WHEN n2a > 0 AND n2b > 0 THEN
         FLOOR((SQRT(CAST(n2b AS DOUBLE)) / CAST(nb.n_vecs AS DOUBLE))
               / (SQRT(CAST(n2a AS DOUBLE)) / CAST(na.n_vecs AS DOUBLE))
               * 1e9 + 0.5) / 1e9 END AS norm_ratio
FROM j
JOIN n na ON na.label = j.label AND na.period = 0
JOIN n nb ON nb.label = j.label AND nb.period = 1
ORDER BY j.label
"""


@query("embed-centroid-drift", oracle=_CDRIFT_ORACLE, pure=True)
def embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I81: per-label centroid drift between two corpus halves — the
    embedding-space twin of the scalar drift panel (PSI E47 / JSD E50 /
    KS E17): split each label's vectors into two cohorts (vec_id
    parity standing in for ingest batches), compare the cohort MEAN
    vectors by cosine (direction shift — 1.0 = stable) and mean-norm
    ratio (magnitude shift — 1.0 = stable). The readout a pipeline
    checks before trusting an ANN index or classifier built on last
    batch's geometry; per-label, so one drifting class can't hide in
    the global average.

    Parity: the K2 fixed-point discipline — coordinates quantize to
    BIGINT at 10⁶ before ANY sum, per-(label, period, dim) sums are
    exact integers, dot/norm products accumulate as DECIMAL(38,0)
    (order-free), and cosine/norm-ratio are single snapped double
    expressions over exact operands. Cosine of SUMS equals cosine of
    MEANS (scale invariance), so no rational mean is ever
    materialized.

    Shape at 100 TB: posexplode fans each vector to 64 (label, period,
    dim, q) rows map-side; ONE groupBy collapses corpus volume to the
    labels×2×64 sums relation (map-side combine absorbs the fanout);
    everything after — the period self-join on (label, dim), the
    per-label fold, the count join — is metadata-scale. Nothing
    vector-sized crosses a second exchange."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        (F.col("vec_id") % 2).cast("int").alias("period"),
        F.posexplode("embedding").alias("p", "x"),
    ).selectExpr(
        "label",
        "period",
        "p + 1 AS d",
        f"CAST(FLOOR(CAST(x AS DOUBLE) * {_CDRIFT_Q} + 0.5) AS BIGINT)"
        " AS qv",
    )
    s = q.groupBy("label", "period", "d").agg(
        F.sum("qv").cast("long").alias("sv")
    )
    n = e.groupBy(
        "label", (F.col("vec_id") % 2).cast("int").alias("period")
    ).agg(F.count("*").cast("long").alias("n_vecs"))
    a = s.filter(F.col("period") == 0).select(
        "label", "d", F.col("sv").alias("sa")
    )
    b = s.filter(F.col("period") == 1).select(
        "label", "d", F.col("sv").alias("sb")
    )
    j = (
        a.join(b, ["label", "d"])
        .groupBy("label")
        .agg(
            F.sum(F.expr("CAST(sa AS DECIMAL(38,0)) * sb"))
            .cast("decimal(38,0)")
            .alias("dot"),
            F.sum(F.expr("CAST(sa AS DECIMAL(38,0)) * sa"))
            .cast("decimal(38,0)")
            .alias("n2a"),
            F.sum(F.expr("CAST(sb AS DECIMAL(38,0)) * sb"))
            .cast("decimal(38,0)")
            .alias("n2b"),
        )
    )
    na = n.filter(F.col("period") == 0).select(
        "label", F.col("n_vecs").alias("n_a")
    )
    nb = n.filter(F.col("period") == 1).select(
        "label", F.col("n_vecs").alias("n_b")
    )
    return (
        j.join(na, "label")
        .join(nb, "label")
        .selectExpr(
            "label",
            "n_a",
            "n_b",
            "CASE WHEN n2a > 0 AND n2b > 0 THEN"
            " FLOOR(CAST(dot AS DOUBLE)"
            " / (SQRT(CAST(n2a AS DOUBLE)) * SQRT(CAST(n2b AS DOUBLE)))"
            " * 1e9 + 0.5) / 1e9 END AS centroid_cosine",
            "CASE WHEN n2a > 0 AND n2b > 0 THEN"
            " FLOOR((SQRT(CAST(n2b AS DOUBLE)) / CAST(n_b AS DOUBLE))"
            " / (SQRT(CAST(n2a AS DOUBLE)) / CAST(n_a AS DOUBLE))"
            " * 1e9 + 0.5) / 1e9 END AS norm_ratio",
        )
        .orderBy("label")
    )
