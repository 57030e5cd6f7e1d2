"""Benchmark decontamination + intra-document repetition signals
(SURVEY.md §2 I19–I21 block: training-data hygiene operators).

* ``text-decontaminate`` — flag training documents sharing any n-token
  gram with a held-out eval/benchmark set: THE standard pre-training
  hygiene pass (GPT-3 appendix C / PaLM / Llama all use 8–13-gram
  overlap). The eval set here is a deterministic slice of the corpus
  (``doc_id % 10 == 0``) so both engines derive it identically; n = 5
  because the synthetic testdata's contiguous overlaps are short —
  production n=13 is a constant swap, the plan does not change.
* ``text-repetition`` — Gopher-style repetition quality signals per
  document: duplicate-bigram fraction and most-frequent-token fraction.
  High values mark boilerplate/spam for the quality gate.

Scale shape: decontamination joins the corpus' exploded grams against
the EVAL side, which is small by nature (benchmarks are thousands of
documents, not billions) — so the gram join is a broadcast semi-join
and the corpus is scanned once, never shuffled. Spark joins on
``xxhash64(gram)`` (8-byte key instead of the gram string; a collision
falsely flags ~n_grams²/2⁶⁴ docs — negligible and conservative), while
the DuckDB oracle joins the gram strings themselves: agreement at the
gate also certifies the hash-key optimization. Repetition is per-doc
array math (no shuffle) plus one explode + count/max agg with map-side
partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_file_mover_spark.llm._textnorm import toks
from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import ingest_artifact, load_table
from spark_file_mover_spark.numerics import snap

_GRAM_N = 5
_EVAL_MOD = 10  # doc_id % 10 == 0 -> held-out eval slice (10%)

_DECONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(tk)-{_GRAM_N - 1}, 0)+1),
                 i -> array_to_string(tk[i:i+{_GRAM_N - 1}], ' '))) AS g
  FROM toks
),
eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % {_EVAL_MOD} = 0),
cont AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE doc_id % {_EVAL_MOD} <> 0 AND g IN (SELECT g FROM eval_g)
)
SELECT d.doc_id,
       d.doc_id % {_EVAL_MOD} = 0 AS is_eval,
       COALESCE(c.doc_id IS NOT NULL, FALSE) AS contaminated
FROM documents d LEFT JOIN cont c ON c.doc_id = d.doc_id
ORDER BY d.doc_id
"""


@query("text-decontaminate", oracle=_DECONTAM_ORACLE, pure=True)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: one row per document with ``is_eval``
    (deterministic 10% slice) and ``contaminated`` (a non-eval document
    sharing at least one contiguous 5-token gram with any eval document).

    Plan: corpus grams exploded once; eval gram hashes broadcast into a
    semi-join (the eval side is small by nature); contaminated ids
    re-joined onto the full corpus for the total per-doc verdict. The
    corpus text never shuffles — only 8-byte gram hashes move.

    The distinct eval gram-hash set is the stored artifact a
    decontamination deployment maintains (hashed eval-set n-grams,
    built when the benchmark lands, probed by every crawl batch) — a
    pure function of the input, so it is a persisted ingest artifact;
    repeat invocations pay only the probe-side explode + semi-join.
    """
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", toks().alias("tk")
    )
    tc = F.col("tk")
    grams = F.when(
        F.size(tc) >= _GRAM_N,
        F.transform(
            F.sequence(F.lit(1), F.size(tc) - (_GRAM_N - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tc, i + j) for j in range(_GRAM_N)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = t.select("doc_id", F.explode(grams).alias("g")).withColumn(
        "gh", F.xxhash64("g")
    )
    eval_gh = ingest_artifact(
        "decontam-eval-grams",
        spark,
        sf_dir,
        lambda: g.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select("gh")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK),
    )
    cont = (
        g.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .join(F.broadcast(eval_gh), "gh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        d.select("doc_id")
        .join(cont, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("doc_id") % _EVAL_MOD == 0).alias("is_eval"),
            F.coalesce("hit", F.lit(False)).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
bg AS (
  SELECT doc_id, tk,
         list_transform(range(1, greatest(len(tk)-1, 0)+1),
                        i -> array_to_string(tk[i:i+1], ' ')) AS bigrams
  FROM toks
),
tokc AS (
  SELECT doc_id, t, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
  GROUP BY doc_id, t
),
mx AS (SELECT doc_id, MAX(c) AS mc FROM tokc GROUP BY doc_id)
SELECT b.doc_id,
       FLOOR((1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
                   / CAST(greatest(len(bigrams), 1) AS DOUBLE)) * 1e6 + 0.5) / 1e6
         AS dup_bigram_frac,
       FLOOR((CAST(mx.mc AS DOUBLE)
             / CAST(greatest(len(b.tk), 1) AS DOUBLE)) * 1e6 + 0.5) / 1e6
         AS top_token_frac
FROM bg b JOIN mx ON mx.doc_id = b.doc_id
ORDER BY b.doc_id
"""


@query("text-repetition", oracle=_REPETITION_ORACLE, pure=True)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    bigrams that are duplicates (``1 − |distinct bigrams| / |bigrams|``)
    and the fraction of tokens taken by the single most frequent token.
    Both are quality-gate inputs — high values mark boilerplate, spam,
    and degenerate generations.

    Shape: the bigram metric is pure per-row array math (no shuffle);
    the top-token metric is one explode + (doc, token) count + per-doc
    max, all with map-side partial aggregation.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", toks().alias("tk")
    )
    tc = F.col("tk")
    bigrams = F.when(
        F.size(tc) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tc) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(tc, i), F.element_at(tc, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    arr = t.select(
        "doc_id",
        F.size(tc).alias("n_tok"),
        bigrams.alias("bg"),
    ).select(
        "doc_id",
        "n_tok",
        (
            F.lit(1.0)
            - F.size(F.array_distinct("bg")).cast("double")
            / F.greatest(F.size("bg"), F.lit(1)).cast("double")
        ).alias("dup_raw"),
    )
    mx = (
        t.select("doc_id", F.explode(tc).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mc"))
    )
    return (
        arr.join(mx, "doc_id")
        .select(
            "doc_id",
            snap("dup_raw", 6).alias("dup_bigram_frac"),
            snap(F.col("mc").cast("double")
                / F.greatest("n_tok", F.lit(1)).cast("double"), 6).alias("top_token_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# URL canonicalization (crawl-dedup hygiene)
# ---------------------------------------------------------------------------

# The testdata carries no URL column, so the op synthesizes a
# deterministic, SHAPE-VARIED url per document (scheme http/https,
# optional www., optional tracking query, optional trailing slash — all
# keyed off doc_id so both engines construct the identical input) and
# then runs the real normalization chain a crawl-dedup pipeline applies
# before URL-level dedup: lowercase, strip scheme + www., drop tracking
# params (utm_*, ref), tidy separators, strip the trailing slash.
#
# The tracking-param strip is ANCHORED to a parameter boundary: it
# matches `([?&])` then a RUN of consecutive tracking params, re-emitting
# the captured separator. Anchoring is what keeps params that merely
# CONTAIN the substring (href=, pref=, xref=) intact — the %7 branch of
# the synthesis exercises exactly that case. Matching a run (not one
# param) matters because both engines' regexp_replace resume scanning
# AFTER the replacement: a one-param pattern that consumed the trailing
# '&' would leave the next tracking param separator-less and skip it.
# RE2 (DuckDB) has no lookbehind, so the run form is also the only
# portable anchoring.
_TRACK_RUN = r"([?&])((?:utm_[a-z]+|ref)=[^&]*(?:&|$))+"

_URL_ORACLE = f"""
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END
         || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END
         || source || '.example.com/p/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN '?utm_source=feed&ref=tw&id=' || CAST(doc_id AS VARCHAR)
                 WHEN doc_id % 7 = 0
                 THEN '?href=keep&utm_medium=m&xref=' || CAST(doc_id AS VARCHAR)
                 ELSE '' END AS url
  FROM documents
),
n AS (
  SELECT doc_id, url,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(lower(url), '^https?://', ''),
              '^www\\.', ''),
            '{_TRACK_RUN}', '\\1', 'g'),
          '[?&]+$', ''),
        '\\?&', '?'),
      '/$', '') AS canon_url
  FROM u
)
SELECT doc_id, url, canon_url,
       regexp_extract(canon_url, '^([^/?]+)', 1) AS domain
FROM n ORDER BY doc_id
"""


@query("text-url-normalize", oracle=_URL_ORACLE, pure=True)
def text_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl dedup: scheme/www stripped, utm_*
    and ref tracking params removed, separators tidied, trailing slash
    dropped, registrable host extracted. Pure ``regexp_replace`` chain —
    map-side, shuffle-free, whole-stage-codegen'd; at 100 TB this runs as
    a projection inside the scan stage and its output feeds the exact
    dedup groupBy (an URL dedup is just ``dedup-exact`` keyed on
    ``canon_url``). The tracking strip is boundary-anchored (see
    ``_TRACK_RUN``) so params merely containing the substring — href=,
    pref=, xref= — survive; the %7 synthesis branch pins that."""
    d = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    url = F.concat(
        F.when(k % 3 == 0, F.lit("http://")).otherwise(F.lit("https://")),
        F.when(k % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".example.com/p/"),
        k.cast("string"),
        F.when(k % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            k % 4 == 0,
            F.concat(
                F.lit("?utm_source=feed&ref=tw&id="), k.cast("string")
            ),
        )
        .when(
            k % 7 == 0,
            F.concat(
                F.lit("?href=keep&utm_medium=m&xref="), k.cast("string")
            ),
        )
        .otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(F.lower(F.col("url")), r"^https?://", ""),
                        r"^www\.",
                        "",
                    ),
                    _TRACK_RUN,
                    "$1",
                ),
                r"[?&]+$",
                "",
            ),
            r"\?&",
            "?",
        ),
        r"/$",
        "",
    )
    return (
        d.select("doc_id", url.alias("url"))
        .withColumn("canon_url", canon)
        .select(
            "doc_id",
            "url",
            "canon_url",
            F.regexp_extract("canon_url", r"^([^/?]+)", 1).alias("domain"),
        )
        .orderBy("doc_id")
    )
