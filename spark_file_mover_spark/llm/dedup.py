"""Deduplication operators for LLM training-data pipelines (SURVEY.md §2I).

Four dedup families over ``documents``:

* ``dedup-exact`` — hash-groupBy on normalized text; one shuffle on the
  normalization key. At 100 TB: shuffle on ``xxhash64(norm_text)`` (8-byte
  key) instead of the text itself, AQE handles skew; this is the classic
  map-side-combine-friendly pattern.
* ``dedup-near-minhash`` — banded MinHash-LSH: shingle → k minhash values
  → b bands of r rows → bucket-join on (band, signature). NEVER all-pairs:
  the only shuffle keys are the band signatures, so candidate generation is
  linear in corpus size; the quadratic step is confined to within-bucket
  pairs (bounded by bucket size, tunable via b/r threshold ≈ (1/b)^(1/r)).
* ``dedup-simhash`` — 64-bit SimHash from token-hash bit votes; near-dups
  land in the same high-bit bucket. One explode + one groupBy.
* ``dedup-ngram-jaccard`` — EXACT n-gram Jaccard verification on candidate
  pairs within (lang, source) blocks: explode shingles → equi-join →
  intersection counts → |A∪B| = |A|+|B|−|A∩B|. This is the verify stage
  you run AFTER LSH blocking at scale, never standalone on the full corpus.

All are pure built-in DataFrame ops — no Python UDFs anywhere.
"""

from __future__ import annotations

import random

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_file_mover_spark.llm._textnorm import (
    MD5_PREFIX60_SQL as MD5P,
    md5_prefix60,
    toks,
)
from spark_file_mover_spark.llm.text import (
    _WIN_H40,
    _WIN_K,
    _WIN_PBITS,
    _WIN_W,
)
from spark_file_mover_spark.registry import query
from spark_file_mover_spark.numerics import snap
from spark_file_mover_spark.sources.io import (
    ingest_artifact,
    load_table,
    session_memo,
    wide_scan,
)

# ---------------------------------------------------------------------------
# I1 — exact dedup
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
WITH normed AS (
  SELECT doc_id, lang, source, n_chars,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm_text
  FROM documents
)
SELECT doc_id, lang, source, n_chars
FROM (
  SELECT doc_id, lang, source, n_chars,
         row_number() OVER (PARTITION BY norm_text ORDER BY doc_id) AS rn
  FROM normed
) WHERE rn = 1
"""


@query("dedup-exact", oracle=_EXACT_ORACLE, pure=True)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1: exact duplicate removal on whitespace/case-normalized text,
    keeping the lowest doc_id per duplicate group (deterministic survivor
    — what a curation pipeline wants, vs ``dropDuplicates``' arbitrary
    pick).

    Shuffle shape: group on xxhash64(norm_text) and carry the survivor's
    metadata through min_by — the shuffle moves an 8-byte key + small
    struct per doc instead of the full document text (the window-over-
    norm-text alternative shuffles every byte of the corpus). A 64-bit
    hash collision would merge two distinct documents with probability
    ~n²/2⁶⁴ — at 10¹⁰ docs that is ~0.003 expected false merges; add the
    text length to the key if even that matters.
    """
    d = load_table(spark, sf_dir, "documents")
    key = _norm_hash()
    survivor = F.min_by(
        F.struct("doc_id", "lang", "source", "n_chars"), F.col("doc_id")
    )
    return (
        d.groupBy(key.alias("h"))
        .agg(survivor.alias("s"))
        .select("s.doc_id", "s.lang", "s.source", "s.n_chars")
    )


# ---------------------------------------------------------------------------
# I2 — banded MinHash-LSH near-dup
# ---------------------------------------------------------------------------

# k = b*r minhash permutations h_i(x) = (a_i * x32 + b_i) mod P over the
# 32-bit fold of xxhash64(shingle); P = 2^31-1 (prime), a_i < 2^30 so the
# product stays far below 2^63 (no Java long overflow).
_P = 2_147_483_647
_BANDS = 3
_ROWS = 4  # threshold ≈ (1/b)^(1/r) = (1/3)^(1/4) ≈ 0.76 Jaccard
# k = 12 permutations (was 16 / 4 bands through r5): one fewer band
# drops a quarter of the signature aggregates, the exploded band rows,
# and the candidate-pair mass for a slightly stricter collision
# threshold (0.76 vs 0.71) — still inside the 0.7-0.8 near-dup range
# this operator declares. Exact-duplicate clustering is UNAFFECTED:
# identical docs collide in every band at any k, and the exact-edge
# union below guarantees them independently of LSH anyway.
_MAX_BUCKET = 100  # drop degenerate buckets: near-universal signatures
_rng = random.Random(42)
_PERMS = [(_rng.randrange(1, 1 << 30), _rng.randrange(0, _P)) for _ in range(_BANDS * _ROWS)]

def _expr_fragments(spark: SparkSession) -> dict:
    """The k permuted-min aggregates and the band-struct array, built
    once per SparkContext: ~150 py4j round trips, a measured slice of
    the ~0.6 s plan build this key paid per invocation."""
    return session_memo("minhash-exprs", spark, _minhash_exprs)


def _minhash_exprs() -> dict:
    aggs = [
        F.min(F.pmod(a * F.col("h") + b, F.lit(_P))).alias(f"mh{i}")
        for i, (a, b) in enumerate(_PERMS)
    ]
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"mh{b * _ROWS + r}") for r in range(_ROWS)]
                ).alias("sig"),
            )
            for b in range(_BANDS)
        ]
    )
    return {"aggs": aggs, "band_arr": band_arr}


def _minhash_signatures(t: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{k-1}): k = b·r minhash values over 3-word shingles
    of the ``(doc_id, text)`` relation ``t``.

    Shape matters at scale: shingles are exploded to ROWS and hashed ONCE,
    then the k permuted minima come from a single groupBy(doc_id) with k
    min() aggregates (map-side partial aggregation collapses each doc's
    shingles within a task, so the shuffle carries one k-wide row per doc).
    Two measured pitfalls this formulation avoids (sf0.1 numbers):
    * k copies of a nested transform(shingles, ...) expression re-evaluate
      the shingle pipeline k times per row — 100x slower end to end;
    * building shingles directly off the split() expression re-runs the
      regex split inside EVERY element_at of the (interpreted) lambda —
      project the token array to a column first, then reference it
      (~3x on the explode stage).
    The caller passes ``t`` through
    :func:`~spark_file_mover_spark.sources.io.wide_scan`, which spreads
    per-doc compute across all cores when the input arrives
    under-parallel (a single small file locally) — but ONLY then. When
    the gate does fire, the repartition sits on the
    RAW TEXT projection and tokenization happens on the receiving side —
    shuffling the text (one compact string per doc) instead of the token
    arrays it splits into (r7, measured −0.15 s on the signature stage
    at sf0.1: an array of N short strings carries per-element offsets
    and padding the flat text does not, and the regex split itself then
    also runs on all cores instead of in the pre-shuffle map).
    """
    spark = t.sparkSession
    t = t.select("doc_id", toks().alias("toks"))
    tc = F.col("toks")
    # Shingle identity is the xxhash64 of the THREE TOKENS as separate
    # hash inputs — not of a concat_ws-joined string. Hashing the tokens
    # directly skips one string allocation + copy per shingle in the
    # hottest map stage (measured −0.1 s on the signature stage at
    # sf0.1). Dedup power is unchanged: xxhash64 is injective up to
    # 64-bit collisions either way, and (a,b,c) vs "a b c" only re-keys
    # WHICH value represents a shingle, identically in every document.
    #
    # NO array_distinct on the shingle array (r7): every consumer is a
    # min() aggregate, and min over a multiset equals min over its
    # support — within-doc duplicate shingles cannot change any minhash
    # value. The distinct pass cost a per-row hash set build in the
    # hottest map stage (measured −0.2 s on the signature stage at
    # sf0.1); the duplicate rows it removed were already collapsed for
    # free by the map-side partial aggregation right below.
    shingle_h = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(tc) - 3, F.lit(0))),
        lambda i: F.pmod(
            F.xxhash64(
                F.element_at(tc, i + 1),
                F.element_at(tc, i + 2),
                F.element_at(tc, i + 3),
            ),
            F.lit(1 << 32),
        ),
    )
    sh = t.select("doc_id", F.explode(shingle_h).alias("h"))
    return sh.groupBy("doc_id").agg(*_expr_fragments(spark)["aggs"])


def _norm_hash() -> F.Column:
    """xxhash64 over whitespace/case-normalized text — the 8-byte exact-dup
    key shared by dedup-exact, the minhash exact-edge union, and the
    minhash audit (one definition so the three can never drift)."""
    return F.xxhash64(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))


def _nh_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared ``(doc_id, nh)`` normalized-hash relation, a persisted
    ingest artifact — the corpus pass that builds it is paid ONCE per
    corpus and every consumer (the minhash exact-edge union, the
    signature audit, cross-corpus bloom's reference/probe split) rides
    the cache. persist(MEMORY_AND_DISK) keeps replayable lineage:
    executor loss between invocations recomputes instead of failing
    later hits (see llm/similarity.py's IVF cache note). r12: extracted
    from the minhash builder so dedup-cross-bloom shares it — its cold
    plan previously paid FOUR same-signature documents scans (bloom
    build, probe, verify reference, and the un-persisted candidate
    relation consumed twice), caught by the registry-wide scan gate."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        nh_rel = d.select("doc_id", _norm_hash().alias("nh")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        nh_rel.count()  # eager: exact edges + signatures both read it
        return nh_rel

    return ingest_artifact("minhash-nh", spark, sf_dir, build)


def minhash_clusters(
    spark: SparkSession, sf_dir: str, nh_rel: DataFrame | None = None
) -> DataFrame:
    """Banded MinHash-LSH clustering: ``(doc_id, cluster_id)``, one row
    per document, cluster = min candidate neighbor (single-pass
    approximation of the transitive closure — see
    :func:`connected_components` / ``dedup-components`` for the exact
    pass).

    Exact-duplicate edges (every doc ↔ its normalized-text group's min
    doc_id) are UNIONED into the LSH candidate neighbors before the min
    aggregation. This makes exact-dup cluster consistency UNCONDITIONAL:
    without it, a duplicate group larger than _MAX_BUCKET has all its
    band buckets dropped by the oversized-bucket guard and splits into
    singletons — failing dedup on exactly the boilerplate-heavy corpora
    it exists for. The edge relation costs one 16-byte-per-row shuffle
    (doc_id + text hash, never the text; measured: a rep-collapse
    formulation that groups (doc_id, text) structs instead adds ~40% to
    the whole key at sf0.1 because the corpus text crosses the wire).
    At ingest-time scale you'd additionally collapse dups BEFORE
    shingling so a million copies of one page cost one signature — an
    upstream materialization choice, not a change to this plan.

    Then: shingle(3-word) → 12 minhashes → 3 bands × 4 rows (collision
    threshold ≈ (1/3)^(1/4) ≈ 0.76 Jaccard) → explode bands → self-join
    on (band, signature) → candidate pairs → per-rep cluster id = min
    candidate neighbor.

    Scale: the self-join shuffles on band signatures only — linear in
    corpus size; never an all-pairs crossJoin. Buckets larger than
    _MAX_BUCKET are dropped BEFORE the pair join: an oversized bucket
    means the band signature is near-universal (boilerplate shingles) and
    would contribute O(bucket²) junk pairs — discarding it is standard
    LSH practice and what keeps the pair stage linear in practice (the
    round-1 formulation without the cap went quadratic on exactly this).

    The banded-signature relation is an ingest artifact: repeat
    invocations against the same corpus skip the shingle explode + 12
    min-aggregates entirely — the signature stage is the INGEST cost a
    deployment pays once.
    """
    # exact-dup edges: doc <-> its normalized-text group's min doc_id;
    # only (doc_id, nh) pairs shuffle — never the text. Callers that also
    # consume the normalized-hash relation (the dedup-near-minhash audit)
    # pass a materialized one in so the corpus text is scanned+hashed
    # once, not once per consumer.
    if nh_rel is None:
        d = load_table(spark, sf_dir, "documents")
        nh_rel = d.select("doc_id", _norm_hash().alias("nh"))
    sparse = _minhash_cluster_sparse(spark, nh_rel, sf_dir)
    # completion: docs with no candidate neighbor are their own cluster.
    # nh_rel (not a second scan of d) supplies the doc-id universe — it
    # has exactly one row per document and audit callers hand it in
    # already materialized.
    return (
        nh_rel.select("doc_id")
        .join(sparse, "doc_id", "left")
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.coalesce("min_nb", F.col("doc_id"))).alias(
                "cluster_id"
            ),
        )
    )


def _minhash_cluster_sparse(
    spark: SparkSession, nh_rel: DataFrame, sf_dir: str
) -> DataFrame:
    """The sparse core of :func:`minhash_clusters`: ``(doc_id, min_nb)``
    for documents with at least one candidate neighbor (LSH collision or
    exact-dup edge). Split out so the audit query can complete it against
    its own already-materialized ``nh_rel`` instead of paying a second
    completion join."""
    from pyspark.sql import Window as W

    # exact edges via ONE window over nh: min(doc_id) per normalized-text
    # group on a single nh exchange. The r5 groupBy+join form paid the
    # same nh shuffle for the aggregate and then joined the group minima
    # back — a second shuffle-consumer stage this formulation deletes.
    exact_edges = (
        nh_rel.withColumn("gmin", F.min("doc_id").over(W.partitionBy("nh")))
        .filter(F.col("doc_id") != F.col("gmin"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_id"), F.col("gmin").alias("nb")),
                    F.struct(
                        F.col("gmin").alias("doc_id"),
                        F.col("doc_id").alias("nb"),
                    ),
                )
            ).alias("e")
        )
        .select("e.doc_id", "e.nb")
    )
    # bands is consumed three times (guard window + both sides of the
    # self-join) AND across invocations (an ingest artifact).
    # MEMORY_AND_DISK: spills instead of OOM on wide corpora.
    bands = ingest_artifact(
        "minhash-bands", spark, sf_dir, lambda: _minhash_bands(spark, sf_dir)
    )
    return _minhash_neighbor_mins(bands, exact_edges)


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, band, sig)``: the persisted, bucket-guarded banded
    signature relation."""
    from pyspark.sql import Window as W

    sig = _minhash_signatures(
        wide_scan(spark, sf_dir, "documents", ["doc_id", "text"])
    )

    # Oversized-bucket guard, window form, INSIDE the cached relation
    # (r6): a count window over (band, sig) filters degenerate
    # signatures, and the persist boundary sits AFTER the filter — the
    # window's (band, sig) exchange runs exactly once, when the cache
    # populates. r5 persisted the pre-guard explode output and let the
    # self-join sides share the guard's exchange, but AQE converts the
    # within-bucket self-join to a BroadcastHashJoin at runtime (the
    # guarded relation is small), and a broadcast build side cannot
    # reuse the probe side's exchange — so each join side re-ran the
    # window (plan-verified: two identical Sort+Window+Exchange
    # subtrees). With the guard cached, both sides are plain
    # InMemoryTableScans and the pair join needs NO new shuffle under
    # BHJ. Honest trade-off vs the r4 agg+broadcast-anti-join guard
    # still applies: the oversized-bucket mass crosses the one guard
    # exchange before the filter drops it — boilerplate-dominated
    # corpora where that mass dominates should flip back to the
    # aggregate guard; the pair stage stays linear either way.
    w_bucket = W.partitionBy("band", "sig")
    return (
        sig.select(
            "doc_id",
            F.explode(_expr_fragments(spark)["band_arr"]).alias("bs"),
        )
        .select("doc_id", "bs.band", "bs.sig")
        .withColumn("bn", F.count("*").over(w_bucket))
        .filter(F.col("bn") <= _MAX_BUCKET)
        .drop("bn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _minhash_neighbor_mins(
    bands: DataFrame, exact_edges: DataFrame
) -> DataFrame:
    """``(doc_id, min_nb)`` from the guarded bands relation: within-bucket
    pair join, both edge directions in one pass, exact-dup edges unioned
    in, one min aggregate."""
    # NO .distinct() on pairs: a pair colliding in several bands appears
    # several times, but every downstream consumer is a min() aggregate
    # (map-side partial combine collapses the dups in-task), so dedup
    # here would buy nothing and cost a full extra shuffle of the pair
    # set. Consumers needing unique pairs (dedup-components) distinct
    # their own edge list.
    pairs = (
        bands.alias("l")
        .join(bands.alias("r"), ["band", "sig"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b")
        )
    )
    # both directions in ONE pass over pairs (a union of two projections
    # would execute the pair join twice), then the exact-dup edges join
    # the candidate set so identical documents are neighbors regardless
    # of what the oversized-bucket guard dropped
    neighbors = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("doc_id"), F.col("b").alias("nb")),
                F.struct(F.col("b").alias("doc_id"), F.col("a").alias("nb")),
            )
        ).alias("e")
    ).select("e.doc_id", "e.nb").unionByName(exact_edges)
    return neighbors.groupBy("doc_id").agg(F.min("nb").alias("min_nb"))


_MINHASH_ORACLE = """
SELECT doc_id,
       TRUE AS cluster_le_doc_id,
       TRUE AS cluster_ref_valid,
       TRUE AS exact_dup_consistent
FROM documents ORDER BY doc_id
"""


@query("dedup-near-minhash", oracle=_MINHASH_ORACLE, pure=True)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2: banded MinHash-LSH near-dup clustering (plan details on
    :func:`minhash_clusters`), declared as an invariant audit.

    The cluster ids themselves are engine-specific (xxhash64 minhashes
    have no DuckDB twin), so the driver-checked output is one row per
    document with three audited invariants the oracle expects TRUE:

    * ``cluster_le_doc_id`` — cluster id never exceeds the member id
      (min-neighbor semantics);
    * ``cluster_ref_valid`` — every cluster id IS an existing doc_id
      (clusters are rooted at real documents);
    * ``exact_dup_consistent`` — documents with identical normalized
      text land in the same cluster; since :func:`minhash_clusters`
      unions exact-dup edges into the candidate neighbors, this holds
      unconditionally — including duplicate groups larger than the
      oversized-bucket cap, which the LSH-only formulation silently
      split into singletons.

    Honest scope of this audit: these booleans pin OUTPUT-SHAPE
    invariants — they hold by construction of a correct pipeline and
    catch schema/join/expansion regressions, not clustering-quality
    regressions. The LOAD-BEARING correctness checks for the clustering
    itself are (a) the pytest pinning run-to-run stability and the
    cluster/reference invariants on the raw relation, and (b)
    ``dedup-components``, which closes the deterministic jaccard pair
    set through the same machinery and IS fully hash-verified against a
    recursive-CTE oracle. The raw ``(doc_id, cluster_id)`` relation
    stays available via :func:`minhash_clusters`.

    Shape of the audit (r6): the audit consumes the SPARSE cluster core
    (:func:`_minhash_cluster_sparse`) and completes it against its own
    materialized ``nh_rel`` in one left join that simultaneously attaches
    ``nh`` — where r5 paid a completion join inside
    :func:`minhash_clusters` (against a second scan of ``documents``)
    and then a second doc_id join to re-attach ``nh``. Exact-dup
    consistency is "min == max cluster_id per nh group" over one window
    (r7; the r6 ``size(collect_set)`` form paid a per-group hash-set
    build on the same exchange), and the cluster-id reference set comes
    from ``nh_rel``'s doc ids
    (the same id universe — the completed clustering emits one row per
    document). The ``(doc_id, nh)`` normalized-hash relation is
    materialized once (two longs per doc — a localCheckpoint of
    negligible size) because it feeds the exact-edge window inside the
    sparse core AND two audit inputs below. A lazy persist was measured
    as an alternative (it skips the blocking materialization job at
    query construction) and came out a tie on an interleaved A/B — the
    checkpoint's truncated lineage gives every consumer a trivially
    small subtree and exact size stats (the broadcast decisions
    downstream), which pays back the barrier."""
    from pyspark.sql import Window as W

    nh_rel = _nh_relation(spark, sf_dir)
    sparse = _minhash_cluster_sparse(spark, nh_rel, sf_dir)
    with_cl = nh_rel.join(sparse, "doc_id", "left").select(
        "doc_id",
        "nh",
        F.least(F.col("doc_id"), F.coalesce("min_nb", F.col("doc_id"))).alias(
            "cluster_id"
        ),
    )
    refs = nh_rel.select(F.col("doc_id").alias("cluster_id")).withColumn(
        "ref_ok", F.lit(True)
    )
    w_nh = W.partitionBy("nh")
    return (
        # "all cluster ids equal within the nh group" as min==max over one
        # window — same single nh exchange as the r6 collect_set form, but
        # two 8-byte agg buffers instead of a per-group hash set build
        # (collect_set materializes every distinct id per group before
        # size() throws the set away).
        with_cl.withColumn("cl_min", F.min("cluster_id").over(w_nh))
        .withColumn("cl_max", F.max("cluster_id").over(w_nh))
        .join(refs, "cluster_id", "left")
        .select(
            "doc_id",
            (F.col("cluster_id") <= F.col("doc_id")).alias("cluster_le_doc_id"),
            F.coalesce("ref_ok", F.lit(False)).alias("cluster_ref_valid"),
            (F.col("cl_min") == F.col("cl_max")).alias("exact_dup_consistent"),
        )
        # no final orderBy: the driver's value hash (and tests/parity) sort
        # rows before hashing, and a global sort costs a range-partitioner
        # sampling job + an extra shuffle per invocation
    )


def connected_components(
    edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Transitive duplicate clustering: undirected ``(a, b)`` candidate
    pairs → ``(doc_id, component_id)`` where ``component_id`` is the
    minimum doc_id reachable through any chain of pairs.

    This is the exact closure the single-pass min-neighbor step inside
    ``dedup-near-minhash`` approximates (A~B~C collapses to one component
    even when A and C never shared a bucket). Algorithm: iterative
    min-label propagation with pointer jumping — each round every node
    adopts the smallest label among itself and its neighbors, then
    shortcuts through its label's label (``comp[x] = comp[comp[x]]``).
    The jump more than doubles the flooded distance per round, so
    convergence is O(log diameter) rounds instead of O(diameter) — for
    dedup graphs (dense near-clique clusters) typically 2 rounds plus the
    confirming no-change round.

    Scale shape per round: one equi-join (labels onto the symmetric edge
    list, shuffle on doc_id), one min-groupBy (map-side partials), and
    the jump self-join on the round's label relation. Each
    round's label relation (two longs per node) is ``localCheckpoint``-ed
    EAGERLY — this is load-bearing, not an optimization: ``persist()``
    caches *execution* but every round's **logical plan** still nests the
    previous round's (the labels relation appears twice per round: in the
    propagation join and the union), so plan size doubles per iteration
    and a diameter-12 graph overflows the JVM stack in plan analysis
    before any data moves. ``localCheckpoint`` truncates lineage: round
    N's plan references a materialized block-manager relation, making
    planning O(1) per round regardless of N. On a real cluster with
    executor churn, substitute reliable ``checkpoint()`` (HDFS-backed) —
    localCheckpoint blocks are lost with their executor. Freed blocks are
    reclaimed by the ContextCleaner as the per-round Python references
    drop. The convergence check is a count of changed labels (one action
    per round), the standard stop condition.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iter`` rounds (component diameter exceeds the budget) — a
    silently returned partial closure would split one duplicate cluster
    into several and keep duplicates.
    """
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst").localCheckpoint(eager=True)
    # no checkpoint needed on the initial labels: the relation is a
    # one-node plan over the already-checkpointed edge list
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
    )
    converged = False
    for _ in range(max_iter):
        # One checkpointed job per round: (1) min label among neighbors,
        # min'd with own label; (2) pointer jump through the new label's
        # own new label. The _changed flag rides along so the convergence
        # check is a filter-count over the just-materialized cached
        # blocks (no old-vs-new shuffle join per round).
        nb_min = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component_id").alias("nb_min"))
        )
        prop = labels.join(nb_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                "component_id", F.coalesce("nb_min", F.col("component_id"))
            ).alias("mid"),
            F.col("component_id").alias("old"),
        )
        # every label value is some node's doc_id (labels only ever adopt
        # other labels), so the jump join hits; "left" keeps it total
        parent = prop.select(
            F.col("doc_id").alias("pid"), F.col("mid").alias("pmin")
        )
        jumped = F.least("mid", F.coalesce("pmin", F.col("mid")))
        stepped = (
            prop.join(parent, prop.mid == parent.pid, "left")
            .select(
                "doc_id",
                jumped.alias("component_id"),
                (jumped < F.col("old")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter("_changed").count()
        labels = stepped.select("doc_id", "component_id")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the budget); raise max_iter"
        )
    return labels


# ---------------------------------------------------------------------------
# Declared exact-closure key: jaccard pairs -> connected components
# ---------------------------------------------------------------------------

# Recursive-CTE oracle: the same deterministic pair set as
# dedup-ngram-jaccard, closed transitively by a min-label fixpoint.
# `walk` enumerates (reachable-from, start) pairs; UNION (distinct)
# terminates it, and MIN(start) over an undirected reachability set is
# exactly the minimum doc_id in the component. Singleton documents (no
# qualifying pair) keep their own doc_id via the final left join.
_COMPONENTS_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, lang, source,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')[1:20]) AS grams
  FROM documents
),
exploded AS (
  SELECT doc_id, lang, source, unnest(grams) AS g FROM toks
),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_inter
  FROM exploded a JOIN exploded b
    ON a.g = b.g AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY ALL
),
sizes AS (SELECT doc_id, len(grams) AS n FROM toks),
pairs AS (
  SELECT i.a, i.b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.a
  JOIN sizes sb ON sb.doc_id = i.b
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
walk(doc_id, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.doc_id
),
labels AS (SELECT doc_id, MIN(comp) AS comp FROM walk GROUP BY doc_id)
SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS component_id
FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
"""


@query("dedup-components", oracle=_COMPONENTS_ORACLE, pure=True)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact transitive dedup clustering, driver-verified end to end:
    the deterministic Jaccard>=0.5 candidate pairs (the dedup-ngram-jaccard
    verify stage) closed into components by iterative min-label
    propagation (:func:`connected_components`), singletons keeping their
    own doc_id.

    This is the full dedup pipeline shape at scale — LSH candidates →
    exact verify → transitive closure → one survivor per component — with
    the closure checked against a DuckDB recursive-CTE fixpoint over the
    identical pair set. The iterative pass runs actions eagerly (one
    changed-label count per round, O(diameter) rounds); everything
    upstream stays lazy.

    The converged LABEL relation (two longs per clustered doc) is the
    paid-once ingest artifact of this pipeline, already
    localCheckpoint-materialized by :func:`connected_components`, so
    re-invocations pay only the final documents join, exactly like a
    production dedup run reads the closure it wrote at ingest instead
    of re-flooding the graph.
    """
    labels = ingest_artifact(
        "components-labels",
        spark,
        sf_dir,
        lambda: connected_components(
            dedup_ngram_jaccard(spark, sf_dir).select("a", "b")
        ),
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        d.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup bucketing
# ---------------------------------------------------------------------------


_SIMHASH_BITS = 60  # md5-hex-prefix hash: 15 hex chars = 60 bits, fits a
# signed BIGINT in both engines with no sign-bit gymnastics

_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, {MD5P.format(x='tok')} AS h
  FROM toks
),
votes AS (
  SELECT doc_id, bit,
         SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashed CROSS JOIN (SELECT unnest(range(0, {_SIMHASH_BITS})) AS bit)
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN 1::BIGINT << bit
                     ELSE 0::BIGINT END) AS BIGINT) AS simhash,
       CAST(SUM(CASE WHEN v > 0 AND bit >= {_SIMHASH_BITS - 16}
                     THEN 1::BIGINT << (bit - {_SIMHASH_BITS - 16})
                     ELSE 0::BIGINT END) AS BIGINT) AS bucket16
FROM votes GROUP BY doc_id ORDER BY doc_id
"""


@query("dedup-simhash", oracle=_SIMHASH_ORACLE, pure=True)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 60-bit fingerprint via per-bit votes of token hashes;
    near-dups share high bits (bucket on the top 16 for candidate
    groups).

    Plan: explode tokens → one row per (doc, token-hash) → groupBy doc
    with 60 sign-vote sums folded into the fingerprint — a single
    explode + single agg, the cheapest near-dup signal there is (no
    pairwise step at all).

    Token hash is the first 15 hex chars of md5 (60 bits) because BOTH
    engines compute it bit-identically — which upgrades this key from
    rows-only to full hash parity (the DuckDB oracle reproduces the
    fingerprints via a bit-unnest formulation; identical integers prove
    the voting math, not just row counts). Production swaps in xxhash64
    for the ~5× cheaper hash — the plan shape does not change. The
    DuckDB side uses a (doc, bit) unnest; the Spark side keeps the
    60-agg-column form whose flat-array fold avoids the measured ~5 s
    deep-expression codegen penalty.
    """
    d = load_table(spark, sf_dir, "documents")
    tokh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(toks())
        ).alias("tok"),
    ).withColumn("h", md5_prefix60(F.col("tok")))

    # the 60 vote aggregates + the fingerprint fold as generated SQL —
    # one JVM-side parse each instead of ~400 py4j Column round trips
    # per invocation (r8, the clustering-family lesson; identical trees)
    votes = [
        F.expr(
            f"sum(CASE WHEN (h & {1 << bit}L) != 0 THEN 1 ELSE -1 END)"
        ).alias(f"v{bit}")
        for bit in range(_SIMHASH_BITS)
    ]
    voted = tokh.groupBy("doc_id").agg(*votes)
    terms = ", ".join(
        f"CASE WHEN v{bit} > 0 THEN {1 << bit}L ELSE CAST(0 AS BIGINT) END"
        for bit in range(_SIMHASH_BITS)
    )
    fingerprint = F.expr(
        f"aggregate(array({terms}), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x)"
    )
    return (
        voted.withColumn("simhash", fingerprint)
        .select(
            "doc_id",
            "simhash",
            F.shiftright(F.col("simhash"), _SIMHASH_BITS - 16).alias(
                "bucket16"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (the verify stage)
# ---------------------------------------------------------------------------

_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, source,
         list_distinct(string_split_regex(lower(trim(text)), '\\s+')[1:20]) AS grams
  FROM documents
),
exploded AS (
  SELECT doc_id, lang, source, unnest(grams) AS g FROM toks
),
inter AS (
  SELECT a.lang, a.source, a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_inter
  FROM exploded a JOIN exploded b
    ON a.g = b.g AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY ALL
),
sizes AS (SELECT doc_id, len(grams) AS n FROM toks)
SELECT i.a, i.b,
       FLOOR((CAST(i.n_inter AS DOUBLE)
             / (sa.n + sb.n - i.n_inter)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a
JOIN sizes sb ON sb.doc_id = i.b
WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= 0.5
"""


@query("dedup-ngram-jaccard", oracle=_JACCARD_ORACLE, pure=True)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard ≥ 0.5 between documents blocked by
    (lang, source) — the verification stage of a dedup pipeline.

    Explode-join-count: |A∩B| via gram equi-join inside blocks, union by
    inclusion-exclusion. The join shuffles on (gram, lang, source) — at
    100 TB this runs on LSH-candidate pairs only; the (lang, source)
    blocking here stands in for that candidate restriction.

    r15: the naive composition re-ran the regex tokenizer FOUR times
    (both self-join inputs + both size joins — 8 parquet scans in the
    formatted plan, no reuse because the joins broadcast instead of
    shuffling). The exploded gram relation is tokenized ONCE into a
    barrier, grams leave the scan as 8-byte xxhash64 keys instead of
    strings (the text-containment contract: the string-joining oracle
    certifies the hash), and each doc's gram count rides the exploded
    rows, so |A| and |B| fall out of the SAME pair aggregate — the
    two size joins are deleted outright. 8 scans + 3 joins → 1 scan +
    1 join. And the relation is a pure function of the immutable
    corpus — scan, tokenize, hash are the INGEST cost — so it is a
    persisted ingest artifact like text-containment's guarded
    shingles; the pair join + Jaccard scoring — the verify operator —
    run on every invocation."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        grams = F.array_distinct(
            F.slice(toks(), 1, 20)
        )
        tg = d.select("doc_id", "lang", "source", grams.alias("grams"))
        expl = tg.select(
            "doc_id",
            "lang",
            "source",
            F.size("grams").alias("n"),
            F.explode("grams").alias("gs"),
        ).select(
            "doc_id", "lang", "source", "n", F.xxhash64("gs").alias("g")
        )
        expl = expl.persist(StorageLevel.MEMORY_AND_DISK)
        expl.count()  # eager: pay the ingest tokenize once
        return expl

    expl = ingest_artifact("jaccard-grams", spark, sf_dir, build)
    inter = (
        expl.alias("a")
        .join(
            expl.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b")
        )
        .agg(
            F.count("*").alias("n_inter"),
            F.min("a.n").alias("na"),
            F.min("b.n").alias("nb"),
        )
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return (
        inter.filter(jac >= 0.5)
        .select("a", "b", snap(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# I29 — paragraph-level dedup (CCNet-style)
# ---------------------------------------------------------------------------

# Paragraph granularity for the registered key: fixed 20-token blocks.
# CCNet splits on blank lines; the synthetic corpus contains NO newlines
# or punctuation (single-line word streams), so a blank-line split would
# make every document one paragraph and the key vacuously equal to
# dedup-exact. Fixed token blocks keep the PLAN identical to the real
# operator (derive units -> hash -> first-occurrence survivor ->
# doc-local reassembly) while giving the survivor logic real work on
# this corpus (duplicated documents share every block; partially
# overlapping documents share some). On a real corpus, swap the block
# derivation for split(text, '\n{2,}') — nothing downstream changes.
_PARA = 20

_PARA_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
sized AS (
  SELECT doc_id, toks,
         greatest((len(toks) + {_PARA - 1}) // {_PARA}, 1) AS n_para
  FROM t
),
b AS (
  SELECT doc_id, n_para, i AS idx,
         array_to_string(toks[(i*{_PARA}+1):((i+1)*{_PARA})], ' ') AS para
  FROM sized
  CROSS JOIN (SELECT unnest(range(0, (SELECT max(n_para) FROM sized))) AS i)
  WHERE i < n_para
),
k AS (
  SELECT doc_id, idx, para FROM (
    SELECT doc_id, idx, para,
           row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
    FROM b
  ) WHERE rn = 1
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(para, ' ' ORDER BY idx) AS kept_text
  FROM k GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.n_para AS BIGINT) AS n_para,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       round(coalesce(a.n_kept, 0) / CAST(s.n_para AS DOUBLE), 9)
         AS kept_frac,
       coalesce(a.kept_text, '') AS kept_text
FROM sized s LEFT JOIN agg a USING (doc_id)
ORDER BY s.doc_id
"""


@query("dedup-paragraph", oracle=_PARA_ORACLE, pure=True)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I29: CCNet-style paragraph-level dedup — drop every paragraph
    that already occurred earlier in the corpus (first occurrence in
    (doc_id, position) order survives), then reassemble each document
    from its surviving paragraphs with a kept-fraction audit. This is
    the highest-frequency real-world dedup layer after exact/minhash:
    boilerplate (headers, navigation, license blocks) repeats across
    documents that are NOT near-duplicates of each other, so
    whole-document dedup never touches it.

    Paragraph unit here: fixed ``_PARA`` = 20-token blocks (see the module
    comment — the synthetic corpus has no blank-line delimiters; a real
    corpus would split on blank lines and nothing downstream changes).

    Plan shape (100 TB story): document text NEVER crosses the
    dedup shuffle. The exploded relation carries only
    ``(doc_id, idx, xxhash64(paragraph))`` — the paragraph string is
    built and hashed map-side inside the scan stage and immediately
    discarded. The survivor decision is a ``min(struct(doc_id, idx))``
    groupBy on the 8-byte hash (map-side partial combine collapses a
    boilerplate paragraph repeated 10^9 times to one row per task — a
    window-over-hash formulation would instead shuffle every occurrence
    into ONE skewed partition), and the winner set joins back to the
    id-only exploded relation on the same hash exchange. The kept
    positions then group to a per-doc index list (ids only again), and
    the text is rebuilt DOC-LOCALLY by slicing each document's own
    token array — the only exchange any text crosses is the final
    doc_id join of ``documents`` against its (tiny) kept-index list,
    which a doc_id-bucketed corpus layout (see ``sink-bucketed``)
    makes shuffle-free.

    Cross-engine parity: Spark groups paragraphs by ``xxhash64(para)``,
    the DuckDB oracle by the paragraph string itself — equivalent up to
    64-bit collisions (same argument as ``dedup-exact``); the shared
    tokenizer and 1-based slice arithmetic are mirrored verbatim, and
    ``kept_frac`` gets the standard 9-dp snap on both sides."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", toks().alias("toks")).withColumn(
        "n_para",
        F.expr(f"greatest((size(toks) + {_PARA - 1}) div {_PARA}, 1L)"),
    )
    para_of = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("toks"), i * _PARA + 1, _PARA), " "
    )
    e = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_para") - 1),
                lambda i: F.xxhash64(para_of(i)),
            )
        ).alias("idx", "h"),
    )
    winners = e.groupBy("h").agg(
        F.min(F.struct(F.col("doc_id"), F.col("idx"))).alias("w")
    )
    kept = e.join(winners, "h").filter(
        (F.col("doc_id") == F.col("w.doc_id"))
        & (F.col("idx") == F.col("w.idx"))
    )
    keep_list = kept.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("idx")).alias("kept_idx"),
        F.count("*").alias("n_kept"),
    )
    return (
        t.join(keep_list, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_para").cast("long").alias("n_para"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            snap(F.coalesce("n_kept", F.lit(0)) / F.col("n_para"), 9).alias("kept_frac"),
            F.coalesce(
                F.array_join(
                    F.transform(F.col("kept_idx"), para_of), " "
                ),
                F.lit(""),
            ).alias("kept_text"),
        )
    )


# ---------------------------------------------------------------------------
# I33 — cross-document duplicated-span detection (substring-dedup marking)
# ---------------------------------------------------------------------------

_SPAN_K = 5  # k-gram width for span detection


def _span_shared(spark: SparkSession, sf_dir: str):
    """(t, g, dp): the persisted relations both span-family keys start
    from.

    ``t`` is ``(doc_id, toks, n_grams)`` — one tokenizer definition so
    k-gram geometry can never drift between the marking and cutting
    passes. Same under-parallel-input gate as
    :func:`_minhash_signatures` (``sources.io.wide_scan``): when the scan
    arrives with fewer partitions than cores, the RAW TEXT is
    repartitioned BEFORE tokenization so the regex split + k-gram
    hashing run on all cores; a well-partitioned 100 TB input never
    pays the shuffle. ``g`` is the id-only ``(doc_id, pos, gh)`` gram
    relation (24 bytes a row — at 10¹⁰-token corpus scale a few
    hundred GB cluster-wide; MEMORY_AND_DISK spills instead of OOM);
    ``dp`` is its cross-document-duplicated subset
    (:func:`_span_dup_positions` — the dup aggregate + semi-join run
    once at build, not per key).

    PERSISTENCE (one ingest artifact — through r7 the relations were
    rebuilt and the previous invocation's released on every call):
    the cutting pass consumes
    ``t`` twice (gram builder, final doc-local rebuild) and the
    marking pass twice; ``dp`` feeds both keys, which in driver/bench
    reality run back to back over the same corpus — tokenization, gram
    hashing and dup detection are the ingest cost, paid once. Earlier
    interleaved A/B at sf0.1 on the cut pass: persist t+g 0.94 s vs
    persist-g-only 1.18 s min, with the cold first rep 1.2 vs 5.8 s.
    Flip to recompute if cache pressure ever dominates — results are
    identical either way."""
    return ingest_artifact(
        "span-relations", spark, sf_dir, lambda: _span_build(spark, sf_dir)
    )


def _span_build(spark: SparkSession, sf_dir: str):
    t = (
        wide_scan(spark, sf_dir, "documents", ["doc_id", "text"])
        .select("doc_id", toks().alias("toks"))
        .withColumn(
            "n_grams",
            F.greatest(F.size("toks") - (_SPAN_K - 1), F.lit(0)),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    g = _span_gram_relation(t).persist(StorageLevel.MEMORY_AND_DISK)
    dp = _span_dup_positions(g).persist(StorageLevel.MEMORY_AND_DISK)
    return t, g, dp


def _span_gram_relation(t: DataFrame) -> DataFrame:
    """(doc_id, pos, gh): every k-gram's xxhash64, hashed MAP-SIDE from
    the token array — the gram string itself is never materialized and
    never leaves the scan stage (the 100 TB contract both span queries
    pin in tests)."""
    tc = F.col("toks")
    gram_hashes = F.when(
        F.col("n_grams") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("n_grams") - 1),
            lambda i: F.xxhash64(
                *[F.element_at(tc, i + j + 1) for j in range(_SPAN_K)]
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return t.select("doc_id", F.posexplode(gram_hashes).alias("pos", "gh"))


def _span_dup_positions(g: DataFrame) -> DataFrame:
    """(doc_id, pos, gh) of grams that occur in MORE THAN ONE document:
    cross-doc duplication as a ``min(doc)≠max(doc)`` groupBy on the
    8-byte hash (map-side combine collapses hot boilerplate grams per
    task), semi-joined back on the same hash exchange.

    ``g`` is consumed twice (the dup aggregate and the semi-join probe
    side — AQE broadcasts the small dup set, and a broadcast build side
    cannot reuse the probe's exchange); callers hand in the PERSISTED
    gram relation from :func:`_span_shared` so each consumer reads the
    cache instead of re-running the gram explode + hash."""
    dup = (
        g.groupBy("gh")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("gh")
    )
    return g.join(dup, "gh", "left_semi")


_SPAN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks,
         greatest(len(toks) - {_SPAN_K - 1}, 0) AS n_grams
  FROM t
),
g AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[(i+1):(i+{_SPAN_K})], ' ') AS gram
  FROM s
  CROSS JOIN (SELECT unnest(range(0, (SELECT max(n_grams) FROM s))) AS i)
  WHERE i < n_grams
),
dup AS (
  SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)
),
dp AS (
  SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)
),
r AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
  FROM dp
),
runs AS (
  SELECT doc_id, rid, COUNT(*) AS rl FROM r GROUP BY doc_id, rid
),
m AS (
  SELECT doc_id, MAX(rl) AS max_dup_run, SUM(rl) AS n_dup
  FROM runs GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(m.n_dup, 0) AS BIGINT) AS n_dup_grams,
       CAST(coalesce(m.max_dup_run, 0) AS BIGINT) AS max_dup_run,
       CASE WHEN s.n_grams > 0
            THEN round(coalesce(m.n_dup, 0) / CAST(s.n_grams AS DOUBLE), 9)
            ELSE 0.0 END AS dup_frac
FROM s LEFT JOIN m USING (doc_id)
ORDER BY s.doc_id
"""


@query("text-dup-span", oracle=_SPAN_ORACLE, pure=True)
def text_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I33: cross-document duplicated-span detection — the MARKING pass
    of exact-substring dedup (the Lee et al. "Deduplicating Training
    Data Makes Language Models Better" recipe, re-expressed relationally
    at k-gram granularity instead of a suffix array): for every document,
    how many of its {k}-token grams also occur in ANOTHER document, and
    the longest contiguous run of such grams. Downstream policy then
    drops documents above a dup_frac threshold or cuts the marked spans;
    both consume exactly this relation.

    Plan shape (the paragraph-dedup scale argument, one level finer):
    document text never crosses a shuffle — grams are hashed map-side
    and only ``(doc_id, pos, gh)`` leaves the scan stage. Cross-doc
    duplication is a ``min(doc)≠max(doc)`` groupBy on the 8-byte hash
    (map-side combine collapses hot boilerplate grams per task; a
    countDistinct would carry doc-id sets), the survivor set SEMI-joins
    back on the same hash exchange, and the run/space accounting is
    doc_id-partitioned windows over integer positions. The classic
    gaps-and-islands trick (``pos − row_number()`` is constant within a
    consecutive run) turns span detection into one window + one small
    groupBy.

    Parity: Spark groups grams by ``xxhash64``, the oracle by the gram
    string (the dedup-exact collision argument); dup_frac takes the
    standard 9-dp snap; every other output is exact integer math."""
    from pyspark.sql import Window as W

    t, g, dp = _span_shared(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("pos")
    runs = (
        dp.withColumn("rid", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "rid")
        .agg(F.count("*").alias("rl"))
    )
    m = runs.groupBy("doc_id").agg(
        F.max("rl").alias("max_dup_run"), F.sum("rl").alias("n_dup")
    )
    n_dup = F.coalesce("n_dup", F.lit(0)).cast("long")
    return (
        t.join(m, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            n_dup.alias("n_dup_grams"),
            F.coalesce("max_dup_run", F.lit(0))
            .cast("long")
            .alias("max_dup_run"),
            F.when(
                F.col("n_grams") > 0,
                snap(n_dup / F.col("n_grams"), 9),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# I34 — exact-substring dedup, cutting pass (text-dup-cut)
# ---------------------------------------------------------------------------

_CUT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks, len(toks) AS n_tok,
         greatest(len(toks) - {_SPAN_K - 1}, 0) AS n_grams
  FROM t
),
g AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[(i+1):(i+{_SPAN_K})], ' ') AS gram
  FROM s
  CROSS JOIN (SELECT unnest(range(0, (SELECT max(n_grams) FROM s))) AS i)
  WHERE i < n_grams
),
dup AS (
  SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)
),
dp AS (
  SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)
),
cov AS (
  SELECT DISTINCT doc_id, pos + j AS i
  FROM dp CROSS JOIN (SELECT unnest(range(0, {_SPAN_K})) AS j)
),
tokpos AS (
  SELECT doc_id, i
  FROM s
  CROSS JOIN (SELECT unnest(range(0, (SELECT max(n_tok) FROM s))) AS i)
  WHERE i < n_tok
),
kept AS (
  SELECT tokpos.doc_id, tokpos.i
  FROM tokpos LEFT JOIN cov
    ON tokpos.doc_id = cov.doc_id AND tokpos.i = cov.i
  WHERE cov.i IS NULL
),
agg AS (
  SELECT kept.doc_id, COUNT(*) AS n_kept,
         string_agg(s.toks[kept.i + 1], ' ' ORDER BY kept.i) AS kept_text
  FROM kept JOIN s ON kept.doc_id = s.doc_id
  GROUP BY kept.doc_id
)
SELECT s.doc_id,
       CAST(s.n_tok AS BIGINT) AS n_tok,
       CAST(s.n_tok - coalesce(a.n_kept, 0) AS BIGINT) AS n_cut,
       round((s.n_tok - coalesce(a.n_kept, 0)) / CAST(s.n_tok AS DOUBLE), 9)
         AS cut_frac,
       coalesce(a.kept_text, '') AS kept_text
FROM s LEFT JOIN agg a USING (doc_id)
ORDER BY s.doc_id
"""


@query("text-dup-cut", oracle=_CUT_ORACLE, pure=True)
def text_dup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I34: exact-substring dedup, CUTTING pass — the second half of the
    Lee et al. recipe whose marking half is ``text-dup-span``: every
    token covered by ANY cross-document duplicated {k}-gram is removed,
    and each document is reassembled from its surviving tokens. (The
    paper cuts one representative and keeps it somewhere; at k-gram
    granularity the standard relaxation is to cut every covered span —
    the policy downstream pipelines actually apply to boilerplate.)

    Plan shape — the dedup-paragraph scale argument at token
    granularity, and text never crosses a shuffle:

    1. grams are hashed map-side; only ``(doc_id, pos, gh)`` leaves the
       scan (shared relation builders with ``text-dup-span``);
    2. cross-doc duplication is the same min≠max hash groupBy + semi
       join back on the one gh exchange;
    3. duplicated gram POSITIONS collect to one small list per doc (the
       only new exchange, and it carries dup positions only — nothing
       per-token ever shuffles);
    4. covered token indices expand DOC-LOCALLY
       (``flatten(transform(dpos, p -> sequence(p, p+k-1)))``) and kept
       positions are ``array_except(sequence(0, n_tok-1), covered)`` —
       ArrayExcept builds a hash set of the covered side and streams the
       ordered index sequence through it, so overlap dedup is free and
       the result stays ascending;
    5. the text is rebuilt doc-locally by indexing the document's own
       token array (``transform(kept_idx, i -> toks[i+1])``) — the only
       exchange any text crosses is the final doc_id join of
       ``documents`` against its (tiny) dup-position list, which AQE
       broadcasts (and a doc_id-bucketed layout makes shuffle-free).

    The r7 formulation exploded EVERY token position of the corpus
    through a ``(doc_id, i)`` anti-join exchange plus a kept-positions
    collect shuffle; r8 replaced both with the doc-local set difference
    above — the per-token plane never leaves its scan stage (measured
    ~0.4 s at sf0.1, and at 100 TB it removes two corpus-sized
    token-count exchanges outright).

    Parity: Spark groups grams by ``xxhash64``, the oracle by the gram
    string (the dedup-exact collision argument); the oracle's covered
    set uses an explicit DISTINCT where Spark relies on array_except's
    set semantics — same set either way; ``cut_frac`` takes the standard
    9-dp snap (n_tok ≥ 1 always: split(trim(x)) yields at least one
    token)."""
    t, g, dp = _span_shared(spark, sf_dir)
    t = t.withColumn("n_tok", F.size("toks"))
    dpos = dp.groupBy("doc_id").agg(F.collect_list("pos").alias("dpos"))
    covered = F.flatten(
        F.transform(
            F.coalesce(F.col("dpos"), F.array().cast("array<int>")),
            lambda p: F.sequence(p, p + (_SPAN_K - 1)),
        )
    )
    kept_idx = F.array_except(
        F.sequence(F.lit(0), F.col("n_tok") - 1), covered
    )
    n_cut = (F.col("n_tok") - F.size(kept_idx)).cast("long")
    return t.join(dpos, "doc_id", "left").select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        n_cut.alias("n_cut"),
        snap(n_cut / F.col("n_tok"), 9).alias("cut_frac"),
        F.array_join(
            F.transform(
                kept_idx,
                lambda i: F.element_at(F.col("toks"), i + 1),
            ),
            " ",
        ).alias("kept_text"),
    )


# ---------------------------------------------------------------------------
# I38 — cross-corpus dedup via a broadcastable Bloom summary
# ---------------------------------------------------------------------------

_BLOOM_MIN_BITS = 1 << 16  # m floor: 64 Ki bits = 1024 longs ≈ 8 KB
_BLOOM_MAX_BITS = 1 << 27  # m ceiling: 16 MB bitmap — broadcast-safe
_BLOOM_BITS_PER_KEY = 16  # sizing rule: m ≈ 16·n  (k=3 ⇒ FP ≈ 0.5%)
_BLOOM_K = 3  # hash functions

_XBLOOM_ORACLE = """
WITH normed AS (
  SELECT doc_id,
         lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
  FROM documents
),
probe AS (SELECT doc_id, nt FROM normed WHERE doc_id % 3 <> 0),
ref AS (SELECT DISTINCT nt FROM normed WHERE doc_id % 3 = 0)
SELECT p.doc_id,
       p.nt IN (SELECT nt FROM ref) AS is_dup,
       TRUE AS bloom_no_false_negative
FROM probe p
ORDER BY p.doc_id
"""


@query("dedup-cross-bloom", oracle=_XBLOOM_ORACLE)
# Not ``pure``: the build localCheckpoints the doc-scale candidate
# relation (probe explode + groupBy) — a plan-cache hit would serve
# that materialized intermediate (result caching). The barrier
# stays, so the key is not ``pure``.
def dedup_cross_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I38: cross-corpus exact dedup through a Bloom-filter summary —
    the pattern for "dedup the NEW crawl against the EXISTING corpus"
    when the existing corpus is petabytes you must not re-shuffle per
    increment: the reference side collapses to an m-bit Bloom bitmap
    (here m=2¹⁶, k=3 — ~8 KB as 1024 bit_or'd longs, a BROADCAST
    relation at any reference size), every probe document tests its k
    bit positions against the broadcast bitmap, and only the
    bloom-positive candidates — true duplicates plus the (1−e^(−kn/m))^k
    false-positive sliver — pay the exact verification semi-join on the
    8-byte normalized-text hash. Built entirely from expressions: the
    bitmap is a ``groupBy(pos div 64)`` + ``bit_or(shiftleft(1, pos % 64))``
    aggregate, so it is itself a DataFrame (incrementally maintainable
    by unioning new reference batches and re-aggregating) — no driver
    collect, no UDF, no sketch library.

    Verification split (what the oracle checks): ``is_dup`` is the
    EXACT cross-corpus duplicate flag, and because this pipeline only
    exact-verifies bloom-POSITIVE candidates, the oracle's independent
    membership recompute is precisely the soundness gate — a bitmap
    with dropped bits or a position-arithmetic bug produces a bloom
    false negative, that document skips verification, its ``is_dup``
    comes out FALSE where DuckDB says TRUE, and the driver hash
    compare fails. False POSITIVES are the accepted, verified-away
    cost and stay invisible by design. ``bloom_no_false_negative``
    restates the invariant as an always-TRUE column for the driver
    (it is implied by the construction; the load-bearing check is the
    ``is_dup`` value compare just described).

    Scale: the only relation that ever crosses an exchange at probe
    size is (doc_id, nh, 3 positions) — ids only; the reference corpus
    is re-read only by the candidate semi-join, whose probe side the
    bloom has already cut to ~dup-rate × corpus. m is SIZED TO THE
    REFERENCE (r7): a fixed m saturates once n ≫ m/k and every probe
    goes bloom-positive, so m = next power of two ≥ 16·n_ref (k=3 ⇒
    FP ≈ 0.5%), floored at 2¹⁶ and capped at 2²⁷ bits (a 16 MB bitmap —
    past ~8M reference docs at that cap, raise the ceiling with your
    broadcast budget or shard the bitmap by nh prefix).

    The (m_bits, bitmap) pair is THE maintained corpus summary this
    key's incremental premise is about, and it is a pure function of
    the reference partition — so it is an ingest artifact: the sizing
    count and the bitmap aggregate run once per corpus, and repeat
    invocations pay only the probe + verify joins."""
    # r12: ride the shared persisted (doc_id, nh) relation — the cold
    # plan previously re-scanned documents four times (registry-wide
    # scan-gate catch); now the corpus pass is the one _nh_relation
    # builds and reference/probe are in-memory slices of it.
    nh_all = _nh_relation(spark, sf_dir)
    ref = nh_all.filter(F.col("doc_id") % 3 == 0)
    probe = nh_all.filter(F.col("doc_id") % 3 != 0)

    def bloom_positions(m_bits: int) -> F.Column:
        return F.array(
            *[
                F.pmod(F.xxhash64(F.col("nh"), F.lit(j)), F.lit(m_bits))
                for j in range(_BLOOM_K)
            ]
        )

    def build():
        n_ref = ref.count()
        m_bits = min(
            _BLOOM_MAX_BITS,
            max(
                _BLOOM_MIN_BITS,
                1 << (max(n_ref, 1) * _BLOOM_BITS_PER_KEY - 1).bit_length(),
            ),
        )
        bloom = (
            ref.select(F.explode(bloom_positions(m_bits)).alias("pos"))
            .select(
                F.expr("pos div 64").alias("word"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
                ).alias("bit"),
            )
            .groupBy("word")
            .agg(F.bit_or("bit").alias("bitmap"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        return m_bits, bloom

    m_bits, bloom = ingest_artifact("cross-bloom", spark, sf_dir, build)
    pos_arr = bloom_positions(m_bits)
    ppos = probe.select(
        "doc_id", "nh", F.explode(pos_arr).alias("pos")
    ).select(
        "doc_id",
        "nh",
        F.expr("pos div 64").alias("word"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
        ).alias("bit"),
    )
    hits = ppos.join(F.broadcast(bloom), "word", "left").select(
        "doc_id",
        "nh",
        (
            F.col("bitmap").isNotNull()
            & (F.col("bitmap").bitwiseAND(F.col("bit")) != 0)
        )
        .cast("int")
        .alias("hit"),
    )
    cand = (
        hits.groupBy("doc_id", "nh")
        .agg(F.min("hit").alias("all_hit"))
        .withColumn("bloom_candidate", F.col("all_hit") == 1)
        .drop("all_hit")
        # consumed twice (verify filter + final join): checkpoint so
        # the probe explode/groupBy runs once, not per consumer (r12)
        .localCheckpoint(eager=True)
    )
    exact = (
        cand.filter("bloom_candidate")
        .join(ref.select("nh").distinct(), "nh", "left_semi")
        .select("doc_id", F.lit(True).alias("is_dup"))
    )
    return (
        cand.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
            # soundness: exact duplicate ⇒ bloom-positive, always
            (
                ~F.coalesce("is_dup", F.lit(False))
                | F.col("bloom_candidate")
            ).alias("bloom_no_false_negative"),
        )
    )


# ---------------------------------------------------------------------------
# text-containment — asymmetric doc-in-doc detection (quotes / reposts)
# ---------------------------------------------------------------------------

_CONT_N = 4  # shingle width (tokens)
_CONT_THRESH = 0.5  # report floor
_CONT_FLAG = 0.8  # "effectively contained" flag threshold
_CONT_MAXDF = 20  # hot-shingle guard: grams in more docs are boilerplate

_CONTAIN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, source,
         string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id, lang, source,
         CASE WHEN len(tk) >= {_CONT_N}
              THEN list_distinct(list_transform(range(1, len(tk) - {_CONT_N - 2}),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))
              ELSE [] END AS grams
  FROM t
),
exploded AS (
  SELECT doc_id, lang, source, unnest(grams) AS g FROM sh
),
rare AS (
  SELECT lang, source, g FROM exploded
  GROUP BY 1, 2, 3 HAVING COUNT(*) <= {_CONT_MAXDF}
),
er AS (
  SELECT e.* FROM exploded e JOIN rare r
    ON r.g = e.g AND r.lang = e.lang AND r.source = e.source
),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_inter
  FROM er a JOIN er b
    ON a.g = b.g AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id != b.doc_id
  GROUP BY ALL
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM er GROUP BY doc_id),
scored AS (
  SELECT i.a, i.b,
         FLOOR((CAST(i.n_inter AS DOUBLE) / sa.n) * 1e6 + 0.5) / 1e6 AS containment
  FROM inter i JOIN sizes sa ON sa.doc_id = i.a
),
best AS (
  SELECT a, b, containment FROM (
    SELECT a, b, containment,
           ROW_NUMBER() OVER (PARTITION BY a
                              ORDER BY containment DESC, b) AS rn
    FROM scored WHERE containment >= {_CONT_THRESH}) WHERE rn = 1
)
SELECT a AS doc_id, b AS container_id, containment,
       containment >= {_CONT_FLAG} AS is_contained
FROM best ORDER BY doc_id
"""


@query("text-containment", oracle=_CONTAIN_ORACLE, pure=True)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-set CONTAINMENT C(A→B) = |S_A ∩ S_B| / |S_A|
    (Broder 1997's second resemblance measure) within (lang, source)
    blocks — the doc-in-doc detector symmetric Jaccard structurally
    misses: a short document quoted whole inside a long one has
    containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so quote/repost/
    boilerplate-wrapper relations never cross a Jaccard threshold.
    Emits each document's best container (max containment, ties to the
    lower id) above 0.5, flagged ``is_contained`` at 0.8 — the rows a
    curation pipeline reviews before dropping subsumed documents.

    Exactness: shingles are 4-token strings built identically in both
    engines (shared tokenizer); counts are integers; containment is a
    SINGLE division snapped to 6 dp BEFORE both the threshold compare
    and the best-container ranking, so flag and winner are
    boundary-exact cross-engine.

    Plan shape (the dedup-ngram-jaccard argument, asymmetric flavor):
    this is the VERIFY stage you run after LSH/banding blocks at
    scale, never standalone — here (lang, source) blocking stands in
    for the candidate generator; the pair join moves (doc_id, gram)
    ids only, the per-pair count groupBy map-side combines, and the
    per-doc winner is one WindowGroupLimit pass. Ordered pairs double
    the exchange vs Jaccard's a<b — the price of an asymmetric
    measure, paid in ids.

    The guarded shingle relation ``er`` is an ingest artifact
    (:func:`_containment_shingles`): scan, tokenization, gram hashing
    and the hot-shingle guard are the ingest cost; repeat invocations
    pay only the pair join + ranking."""
    er = ingest_artifact(
        "containment-shingles",
        spark,
        sf_dir,
        lambda: _containment_shingles(spark, sf_dir),
    )
    return _containment_query(er)


def _containment_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # pin the token array behind a Generate barrier BEFORE the shingle
    # lambda touches it: element_at inside transform() inlines its
    # argument, so an unpinned toks() re-runs the regex split per
    # element access — 4 accesses x ~90 shingles = ~360 splits of the
    # full text per row (measured 27 s of the ungated 57 s at sf0.1;
    # pinned, the split runs once per row)
    base = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.array(F.struct(toks().alias("t")))).alias("s"),
    ).select("doc_id", "lang", "source", F.col("s.t").alias("tk"))
    tk = F.col("tk")
    grams = F.when(
        F.size(tk) >= _CONT_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - (_CONT_N - 1)),
                lambda i: F.concat_ws(
                    " ",
                    *[
                        F.element_at(tk, (i + off).cast("int"))
                        for off in range(_CONT_N)
                    ],
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = base.select("doc_id", "lang", "source", grams.alias("grams"))
    # shingles leave the scan as 8-byte xxhash64 keys, never strings
    # (the text-decontaminate contract: the string-joining oracle
    # certifies the hash key — a collision would fail the driver's
    # value compare)
    exploded = sh.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.transform("grams", lambda g: F.xxhash64(g))
        ).alias("g"),
    )
    # hot-shingle guard (the LSH oversized-bucket discipline, gram-
    # frequency flavored): a shingle in > MAXDF docs of its block is
    # boilerplate — it carries no containment signal and its pair
    # fanout is df² (the ungated join measured 57 s at sf0.1; gated,
    # fanout per gram is bounded at MAXDF²). The measure becomes
    # containment over INFORMATIVE shingles — numerator and
    # denominator both restrict, mirrored in the oracle.
    from pyspark.sql import Window as WG  # one import serves guard + ranking

    er = (
        exploded.withColumn(
            "dfg",
            F.count("*").over(WG.partitionBy("lang", "source", "g")),
        )
        .filter(F.col("dfg") <= _CONT_MAXDF)
        .drop("dfg")
        # three consumers (both join sides + sizes) plus later
        # invocations; persist(MEMORY_AND_DISK) keeps replayable
        # lineage so executor loss between invocations recomputes
        # instead of failing later hits (see llm/similarity.py's IVF
        # cache note)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    er.count()  # eager: both join sides + sizes read er in one job
    return er


def _containment_query(er: DataFrame) -> DataFrame:
    """Pair join + containment scoring + best-container ranking over the
    cached guarded-shingle relation."""
    from pyspark.sql import Window as WG

    a, b = er.alias("a"), er.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = er.groupBy("doc_id").agg(F.count("*").alias("n"))
    scored = inter.join(sizes, inter.ia == sizes.doc_id).select(
        "ia",
        "ib",
        snap(F.col("n_inter").cast("double") / F.col("n"), 6).alias(
            "containment"
        ),
    )
    best = (
        scored.filter(F.col("containment") >= _CONT_THRESH)
        .withColumn(
            "rn",
            F.row_number().over(
                WG.partitionBy("ia").orderBy(
                    F.col("containment").desc(), F.col("ib")
                )
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return best.select(
        F.col("ia").alias("doc_id"),
        F.col("ib").alias("container_id"),
        "containment",
        (F.col("containment") >= _CONT_FLAG).alias("is_contained"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# I51 — edit-distance near-dup verify over winnowing-fingerprint candidates
# ---------------------------------------------------------------------------

# Candidate rule: pairs sharing >= _ED_MIN_SHARED winnowing fingerprints
# (the I50 MOSS sketch: any shared run of >= w+k-1 tokens shares one, so
# real near-dups share many). Fingerprints present in more than
# _ED_MAX_DOCS_PER_FP docs are dropped before the pair join — the
# text-containment hot-shingle guard, fingerprint-flavored (a boilerplate
# fingerprint in d docs is C(d,2) pairs).

_ED_MIN_SHARED = 3
_ED_MAX_DOCS_PER_FP = 32
# accept pairs with levenshtein <= 20% of the longer string — compared
# as lev*5 <= greatest(la, lb) so the DECISION is exact-integer
_ED_RATIO_DEN = 5

# Verification runs on the ASCII projection of the normalized text:
# Spark's levenshtein counts CODEPOINTS, DuckDB's counts BYTES (measured:
# 2 vs 4 on 'héllo wörld'); printable-ASCII-only strings make the two
# definitions coincide. The corpus is ASCII; on one that isn't, a real
# deployment runs a single engine and drops the projection.
_ED_NORM_SQL = (
    "lower(trim(regexp_replace(regexp_replace(text,"
    " '[^\\x20-\\x7e]', '', 'g'), '\\s+', ' ', 'g')))"
)

_EDITDIST_ORACLE = f"""
WITH nt AS (
  SELECT doc_id, {_ED_NORM_SQL} AS norm FROM documents
),
t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk) - {_WIN_K - 2}),
           i -> {{'pos': i - 1,
                 'h40': ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::UBIGINT::BIGINT % {_WIN_H40}}}),
           recursive := true)
  FROM t WHERE len(tk) >= {_WIN_K} AND len(tk) < {_WIN_PBITS + _WIN_K - 1}
),
win AS (
  SELECT doc_id, pos,
         MIN(h40 * {_WIN_PBITS} + ({_WIN_PBITS - 1} - pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS kmin
  FROM g
),
fp AS (
  SELECT DISTINCT doc_id, kmin // {_WIN_PBITS} AS h40
  FROM win WHERE pos >= {_WIN_W - 1}
),
cold AS (
  SELECT h40 FROM fp GROUP BY h40
  HAVING COUNT(*) <= {_ED_MAX_DOCS_PER_FP}
),
cand AS (
  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_shared_fp
  FROM fp a JOIN fp b ON a.h40 = b.h40 AND a.doc_id < b.doc_id
  JOIN cold c ON c.h40 = a.h40
  GROUP BY 1, 2 HAVING COUNT(*) >= {_ED_MIN_SHARED}
),
v AS (
  SELECT cand.a, cand.b, n_shared_fp, na.norm AS ta, nb.norm AS tb,
         length(na.norm) AS la, length(nb.norm) AS lb
  FROM cand
  JOIN nt na ON na.doc_id = cand.a
  JOIN nt nb ON nb.doc_id = cand.b
  WHERE abs(length(na.norm) - length(nb.norm)) * {_ED_RATIO_DEN}
          <= greatest(length(na.norm), length(nb.norm))
),
r AS (
  SELECT a, b, n_shared_fp, la, lb, levenshtein(ta, tb) AS lev FROM v
)
SELECT a, b, n_shared_fp, CAST(lev AS BIGINT) AS lev,
       FLOOR((CAST(lev AS DOUBLE) / greatest(la, lb)) * 1e9 + 0.5) / 1e9 AS edit_ratio
FROM r WHERE lev * {_ED_RATIO_DEN} <= greatest(la, lb)
ORDER BY a, b
"""


@query("dedup-edit-distance", oracle=_EDITDIST_ORACLE)
# Not ``pure``: the build localCheckpoints the normalized-text
# relation feeding both verify-join sides — a map-only subtree with
# no exchange to reuse, so the barrier is the only way to pay the
# scan+regex once per invocation; a plan-cache hit would skip it
# entirely (result caching). The barrier stays, so the key is not
# ``pure``.
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I51: exact edit-distance near-dup verification over winnowing-
    fingerprint candidates — the full MOSS-style pipeline (sketch →
    block → exact verify) that backs "these two documents are edits of
    each other" decisions where Jaccard (I7) is too loose (it ignores
    order) and MinHash (I2) is probabilistic.

    Three stages, each with its own scale guard:

    1. Fingerprints: the I50 winnowing sketch (~2/(w+1) of grams, any
       shared >= w+k-1-token run shares one) — 8-byte ints off the
       scan; text never enters the candidate machinery.
    2. Candidates: equi-join on fingerprint with the hot-fingerprint
       guard (> _ED_MAX_DOCS_PER_FP docs → dropped BEFORE the pair
       join; a boilerplate fingerprint is C(d,2) pairs), then
       >= _ED_MIN_SHARED shared fingerprints. O(pairs-that-matter),
       never O(N²).
    3. Verify: Levenshtein(norm_a, norm_b) <= 20% of the longer — the
       one stage that moves text, and only for surviving candidates.
       The |len_a − len_b| lower bound (never > the distance) is
       applied FIRST as an integer predicate, skipping the O(L²) DP
       for hopeless pairs. Accept/reject compares lev*5 <= max_len in
       exact integers; the reported ratio is one snapped division.

    Parity: Spark's levenshtein counts codepoints, DuckDB's counts
    bytes — verification therefore runs on the printable-ASCII
    projection of the normalized text (identical under both
    definitions; the corpus is ASCII anyway). Everything else is the
    shared md5-prefix hash + integer arithmetic."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    # r15: both verify-join sides (na, nb) consumed this relation, and
    # each re-ran the scan + double regexp_replace normalization over
    # the full corpus text. One localCheckpoint pass (paid per
    # invocation, in the timed region) feeds both joins — 2 scans + 2
    # normalizations → 1.
    nt = d.select(
        "doc_id",
        F.lower(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.col("text"), r"[^\x20-\x7e]", ""
                    ),
                    r"\s+",
                    " ",
                )
            )
        ).alias("norm"),
    ).localCheckpoint(eager=True)
    # fingerprint relation — the I50 machinery (Generate-barrier pin)
    base = d.select(
        "doc_id",
        F.explode(F.array(F.struct(toks().alias("t")))).alias("s"),
    ).select("doc_id", F.col("s.t").alias("tk"))
    tk = F.col("tk")
    base = base.filter(
        (F.size(tk) >= _WIN_K) & (F.size(tk) < _WIN_PBITS + _WIN_K - 1)
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ",
        *[F.element_at(tk, (i + off).cast("int")) for off in range(_WIN_K)],
    )
    g = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - (_WIN_K - 1)),
                lambda i: F.pmod(md5_prefix60(gram(i)), F.lit(_WIN_H40)),
            )
        ).alias("pos", "h40"),
    )
    key = F.col("h40") * _WIN_PBITS + (_WIN_PBITS - 1 - F.col("pos"))
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WIN_W - 1), W.currentRow)
    )
    # The guarded fingerprint relation is consumed twice (both pair-join
    # sides) and across invocations — an ingest artifact like the
    # minhash bands; the hot-fingerprint guard sits INSIDE the persist
    # boundary (window form — its h40 exchange runs once, at populate).
    def build() -> DataFrame:
        fp = (
            g.select("doc_id", "pos", F.min(key).over(w).alias("kmin"))
            .filter(F.col("pos") >= _WIN_W - 1)
            .select(
                "doc_id",
                (F.col("kmin") / _WIN_PBITS).cast("long").alias("h40"),
            )
            .distinct()
        )
        return (
            fp.withColumn(
                "nd", F.count("*").over(W.partitionBy("h40"))
            )
            .filter(F.col("nd") <= _ED_MAX_DOCS_PER_FP)
            .drop("nd")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    fpc = ingest_artifact("edit-distance-fingerprints", spark, sf_dir, build)
    cand = (
        fpc.alias("a")
        .join(
            fpc.alias("b"),
            (F.col("a.h40") == F.col("b.h40"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b")
        )
        .agg(F.count("*").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= _ED_MIN_SHARED)
    )
    na = nt.select(F.col("doc_id").alias("a"), F.col("norm").alias("ta"))
    nb = nt.select(F.col("doc_id").alias("b"), F.col("norm").alias("tb"))
    mx = F.greatest(F.length("ta"), F.length("tb"))
    v = (
        cand.join(na, "a")
        .join(nb, "b")
        .filter(
            F.abs(F.length("ta") - F.length("tb")) * _ED_RATIO_DEN <= mx
        )
    )
    r = v.select(
        "a",
        "b",
        "n_shared_fp",
        F.levenshtein("ta", "tb").cast("long").alias("lev"),
        mx.alias("mx"),
    )
    return (
        r.filter(F.col("lev") * _ED_RATIO_DEN <= F.col("mx"))
        .select(
            "a",
            "b",
            "n_shared_fp",
            "lev",
            snap(F.col("lev").cast("double") / F.col("mx"), 9).alias("edit_ratio"),
        )
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------------------
# I56 — corpus duplication profile (cluster-size histogram)
# ---------------------------------------------------------------------------

_DUP_PROFILE_ORACLE = """
WITH g AS (
  SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm,
         COUNT(*) AS sz
  FROM documents GROUP BY 1
),
h AS (
  SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
         CAST(sz * COUNT(*) AS BIGINT) AS n_docs
  FROM g GROUP BY sz
)
SELECT cluster_size, n_clusters, n_docs,
       FLOOR((CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER ()) * 1e9 + 0.5) / 1e9 AS doc_share,
       FLOOR((CAST(SUM(n_docs - n_clusters) OVER () AS DOUBLE)
             / SUM(n_docs) OVER ()) * 1e9 + 0.5) / 1e9 AS corpus_dup_ratio
FROM h ORDER BY cluster_size
"""


@query("dedup-profile", oracle=_DUP_PROFILE_ORACLE, pure=True)
def dedup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I56: corpus duplication profile — the histogram of exact-dup
    cluster sizes (how many documents live in clusters of 1, 2, 3…)
    plus each size's share and the overall duplication ratio
    (docs that would be REMOVED by I1 / total). This is the
    before-you-dedup diagnostic: it tells you whether duplication is
    a few giant clusters (boilerplate — investigate) or a long tail
    of pairs (mirrors — just dedup), and it is the number reported in
    every dataset card.

    Shape: group on xxhash64(norm_text) exactly like I1 — the shuffle
    moves 8-byte keys, never text; the size histogram is a second
    hash agg over the cluster relation (bounded by max cluster size);
    the share normalizers window over THAT ~tens-of-rows relation.

    Parity: the oracle groups on the normalized text itself (string
    equality ≡ hash-group equality up to 64-bit collisions — the I1
    argument); all counts exact, shares snapped."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy(_norm_hash().alias("h")).agg(F.count("*").alias("sz"))
    h = g.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        (F.col("sz") * F.count("*")).cast("long").alias("n_docs"),
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    tot = F.sum("n_docs").over(wall)
    dups = F.sum(F.col("n_docs") - F.col("n_clusters")).over(wall)
    return h.select(
        "cluster_size",
        "n_clusters",
        "n_docs",
        snap(F.col("n_docs").cast("double") / tot, 9).alias("doc_share"),
        snap(dups.cast("double") / tot, 9).alias("corpus_dup_ratio"),
    ).orderBy("cluster_size")


# ---------------------------------------------------------------------------
# I79 — canonical-document election (keep-BEST duplicate, not keep-first)
# ---------------------------------------------------------------------------

_KEEPBEST_ORACLE = r"""
WITH n AS (
  SELECT doc_id, lang, source, n_chars,
         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_text
  FROM documents
),
g AS (
  SELECT norm_text,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         MIN(doc_id) AS first_id
  FROM n GROUP BY norm_text
),
best AS (
  SELECT norm_text, doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY norm_text
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM n
)
SELECT b.doc_id, b.lang, b.source, b.n_chars,
       g.n_members, g.n_members - 1 AS n_dropped,
       g.total_chars - b.n_chars AS chars_dropped,
       b.doc_id <> g.first_id AS beat_keep_first
FROM best b JOIN g USING (norm_text)
WHERE b.rn = 1
ORDER BY b.doc_id
"""


@query("dedup-keep-best", oracle=_KEEPBEST_ORACLE, pure=True)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I79: canonical-document ELECTION — per exact-duplicate cluster
    keep the BEST member (longest n_chars, doc_id tie-break) instead
    of I1's deterministic-but-arbitrary lowest-id survivor: real
    corpora carry truncated/mangled variants of the same normalized
    text, and electing the richest copy is the curation policy
    production dedup actually ships (trafilatura-style "keep the
    longest extraction"). Emits the election audit per cluster —
    members dropped, characters dropped, and whether the winner
    DIFFERS from keep-first (the rows where the policy choice
    matters, hash-certified cross-engine).

    Shape at 100 TB: the I1 contract — group on the shared 8-byte
    xxhash64(norm_text) key and carry ONE small struct per doc
    through a single max_by aggregate (ordering struct =
    (n_chars, −doc_id), so lexicographic max = longest-then-lowest-
    id); the shuffle moves hashes + metadata, never text, and there
    is no per-cluster window/sort anywhere (the oracle's row_number
    formulation is exactly what this avoids at scale).

    Parity: the oracle groups on norm_text itself (DuckDB lacks
    xxhash64) — same clusters under the I1 collision caveat; all
    counts exact integers."""
    d = load_table(spark, sf_dir, "documents")
    key = _norm_hash()
    best = F.max_by(
        F.struct("doc_id", "lang", "source", "n_chars"),
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg")),
    )
    g = d.groupBy(key.alias("h")).agg(
        best.alias("b"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("first_id"),
    )
    return g.selectExpr(
        "b.doc_id AS doc_id",
        "b.lang AS lang",
        "b.source AS source",
        "b.n_chars AS n_chars",
        "n_members",
        "n_members - 1 AS n_dropped",
        "total_chars - b.n_chars AS chars_dropped",
        "b.doc_id <> first_id AS beat_keep_first",
    ).orderBy("doc_id")
