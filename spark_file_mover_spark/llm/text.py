"""Text-analysis operators for LLM data curation (SURVEY.md §2I, I4).

All five queries are pure built-in column expressions over ``documents`` —
narrow, shuffle-free per-document maps (plus one low-cardinality agg) that
scale embarrassingly: at 100 TB each is a single parquet scan with column
pruning (only ``text``/``lang`` read) and whole-stage codegen end-to-end.

* ``text-analysis``     — corpus stats per language (the I4 contract row)
* ``text-token-count``  — whitespace tokens + BPE-ish subword estimate
* ``text-langid``       — marker-word n-gram-style language scorer
* ``text-quality-score``— length/punctuation/stopword composite quality
* ``text-fingerprint``  — polynomial rolling hash over tokens (engine-
  portable: the same fold is expressed in DuckDB for the oracle)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_file_mover_spark.llm._textnorm import toks
from spark_file_mover_spark.registry import query
from spark_file_mover_spark.sources.io import ingest_artifact, load_table
from spark_file_mover_spark.numerics import snap

_STOPWORDS = ("a", "the", "of", "to", "and")

# ---------------------------------------------------------------------------
# I4 — corpus statistics per language
# ---------------------------------------------------------------------------

_ANALYSIS_ORACLE = """
WITH t AS (
  SELECT lang, n_chars,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
         len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS n_types
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       FLOOR((CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) / 1e6 AS avg_tokens,
       FLOOR((CAST(SUM(n_types) AS DOUBLE) / SUM(n_tokens)) * 1e6 + 0.5) / 1e6 AS type_token_ratio
FROM t GROUP BY lang
"""


@query("text-analysis", oracle=_ANALYSIS_ORACLE, pure=True)
def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4: per-language corpus statistics — doc counts, char/token volumes,
    type-token ratio. Map-side tokenize + 5-group agg; partial aggregation
    makes the shuffle a few rows per language."""
    d = load_table(spark, sf_dir, "documents")
    tk = toks()
    t = d.select(
        "lang",
        "n_chars",
        F.size(tk).alias("n_tokens"),
        F.size(F.array_distinct(tk)).alias("n_types"),
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        snap(F.sum("n_tokens").cast("double") / F.count("*"), 6).alias("avg_tokens"),
        snap(F.sum("n_types").cast("double") / F.sum("n_tokens"), 6).alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# token counting (whitespace + BPE-ish estimate)
# ---------------------------------------------------------------------------

_TOKEN_COUNT_ORACLE = """
SELECT doc_id,
       len(string_split_regex(lower(trim(text)), '\\s+')) AS n_ws_tokens,
       length(regexp_replace(text, '\\s+', '', 'g')) AS n_non_ws_chars,
       CAST(CEIL(length(regexp_replace(text, '\\s+', '', 'g')) / 4.0) AS BIGINT)
         AS n_bpe_est
FROM documents
"""


@query("text-token-count", oracle=_TOKEN_COUNT_ORACLE, pure=True)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count plus the standard chars/4 BPE estimate —
    the budget arithmetic every training-data pipeline runs first."""
    d = load_table(spark, sf_dir, "documents")
    tk = toks()
    squeezed = F.regexp_replace("text", r"\s+", "")
    return d.select(
        "doc_id",
        F.size(tk).alias("n_ws_tokens"),
        F.length(squeezed).alias("n_non_ws_chars"),
        F.ceil(F.length(squeezed) / 4.0).cast("bigint").alias("n_bpe_est"),
    )


# ---------------------------------------------------------------------------
# language-ID heuristic
# ---------------------------------------------------------------------------

# marker vocabularies per language (n-gram-heuristic stand-in; on real data
# these would be char-trigram frequency profiles)
_MARKERS = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "zh": ("de5", "shi4", "le5"),
}


def _marker_count_sql(lang: str) -> str:
    tk = ", ".join(f"'{t}'" for t in _MARKERS[lang])
    return (
        "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
        f"t -> list_contains([{tk}], t)))"
    )


_LANGID_ORACLE = f"""
SELECT doc_id, lang,
       CASE
         WHEN {_marker_count_sql('es')} > {_marker_count_sql('en')} THEN 'es'
         WHEN {_marker_count_sql('de')} > {_marker_count_sql('en')} THEN 'de'
         WHEN {_marker_count_sql('fr')} > {_marker_count_sql('en')} THEN 'fr'
         WHEN {_marker_count_sql('en')} > 0 THEN 'en'
         ELSE 'und'
       END AS predicted_lang
FROM documents
"""


@query("text-langid", oracle=_LANGID_ORACLE, pure=True)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language scorer: count per-language marker tokens, pick
    the best-scoring language, 'und' when nothing matches. Pure map —
    column-pruned scan, no shuffle. (The synthetic corpus shares one
    vocabulary across langs, so predictions exercise the operator shape,
    not linguistic accuracy.)"""
    d = load_table(spark, sf_dir, "documents")
    tk = toks()

    def count(lang: str):
        arr = F.array(*[F.lit(t) for t in _MARKERS[lang]])
        return F.size(F.filter(tk, lambda t: F.array_contains(arr, t)))

    pred = (
        F.when(count("es") > count("en"), "es")
        .when(count("de") > count("en"), "de")
        .when(count("fr") > count("en"), "fr")
        .when(count("en") > 0, "en")
        .otherwise("und")
    )
    return d.select("doc_id", "lang", pred.alias("predicted_lang"))


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_SW = ", ".join(f"'{w}'" for w in _STOPWORDS)

_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS tk,
         length(text) AS len_raw
  FROM documents
),
m AS (
  SELECT doc_id, lang, n_chars, len_raw,
         len(tk) AS n_tokens,
         len(list_filter(tk, x -> list_contains([{_SW}], x))) AS n_stop,
         FLOOR((CAST(len_raw AS DOUBLE) / len(tk)) * 1e6 + 0.5) / 1e6 AS avg_tok_len
  FROM t
)
SELECT doc_id, lang, n_tokens, avg_tok_len,
       FLOOR((CAST(n_stop AS DOUBLE) / n_tokens) * 1e6 + 0.5) / 1e6 AS stopword_ratio,
       (n_tokens >= 20 AND n_tokens <= 1000
        AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.01) AS passes_filter
FROM m
"""


@query("text-quality-score", oracle=_QUALITY_ORACLE, pure=True)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gates: token-count bounds + stopword-ratio
    floor, emitted per document with the underlying signals. Pure map."""
    d = load_table(spark, sf_dir, "documents")
    tk = toks()
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tokens = F.size(tk)
    n_stop = F.size(F.filter(tk, lambda x: F.array_contains(sw, x)))
    stop_ratio = n_stop.cast("double") / n_tokens
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        snap(F.length("text").cast("double") / n_tokens, 6).alias(
            "avg_tok_len"
        ),
        snap(stop_ratio, 6).alias("stopword_ratio"),
        (
            (n_tokens >= 20) & (n_tokens <= 1000) & (stop_ratio >= 0.01)
        ).alias("passes_filter"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting (rolling hash)
# ---------------------------------------------------------------------------

# Polynomial rolling hash over tokens, engine-portable: both engines fold
# acc*31 + tok_sig (mod 2^31-1) left-to-right, where tok_sig is built from
# plain string ops (length + first/last char codes) available in both SQLs.
_FP_ORACLE = """
WITH t AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(tk,
             s -> CAST(length(s) * 131 + ascii(substr(s, 1, 1)) * 7
                       + ascii(substr(s, length(s), 1)) AS BIGINT))),
         (acc, sig) -> (acc * 31 + sig) % 2147483647) AS fingerprint,
       len(tk) AS n_tokens
FROM t
"""


@query("text-fingerprint", oracle=_FP_ORACLE, pure=True)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: left fold of a polynomial
    rolling hash over the token stream (two docs with the same token
    multiset but different order fingerprint differently — complements
    set-based MinHash). Expressed with F.aggregate so the fold runs
    JVM-side inside codegen; no Python in the loop."""
    d = load_table(spark, sf_dir, "documents")
    tk = toks()
    fp = F.aggregate(
        tk,
        F.lit(0).cast("bigint"),
        lambda acc, s: F.pmod(
            acc * 31
            + (
                F.length(s) * 131
                + F.ascii(F.substring(s, 1, 1)) * 7
                + F.ascii(F.substring(s, -1, 1))
            ).cast("bigint"),
            F.lit(2147483647),
        ),
    )
    return d.select(
        "doc_id", fp.alias("fingerprint"), F.size(tk).alias("n_tokens")
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Shared regex dialect subset (works identically in Java and RE2/PCRE):
# no lookarounds, no \b ambiguity across engines. The phone middle group
# is {3,4}: NANP-style 3-3-4 AND the 3-4-4 shape the synthesized test
# numbers use — with a fixed {3} the synthesized "555-01XX-YYYY" never
# matched, had_phone was FALSE on all 500 docs, and the gate silently
# certified a dead scrub path (both engines agreed on doing nothing).
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PHONE_RE = "[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}"

_PII_ORACLE = f"""
WITH tagged AS (
  SELECT doc_id,
         concat(text, ' contact-', CAST(doc_id AS VARCHAR),
                '@example.com or 555-01', lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'),
                '-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS text
  FROM documents
)
SELECT doc_id,
       regexp_matches(text, '{_EMAIL_RE}') AS had_email,
       regexp_matches(text, '{_PHONE_RE}') AS had_phone,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM tagged
"""


@query("text-pii-scrub", oracle=_PII_ORACLE, pure=True)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: emails and phone numbers replaced with typed
    placeholder tokens, plus per-document found-flags for audit counts.
    PII is synthesized onto the synthetic corpus (which contains none) so
    the scrub provably fires on every row. Pure regexp map — column-
    pruned scan, no shuffle; the regex subset avoids dialect divergence
    between engines."""
    d = load_table(spark, sf_dir, "documents")
    tagged = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact-"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    # detection via rlike (one match scan), not replace-and-compare-
    # lengths — the latter regex-rewrites every document twice just to
    # throw the rewrite away
    return tagged.select(
        "doc_id",
        F.col("text").rlike(_EMAIL_RE).alias("had_email"),
        F.col("text").rlike(_PHONE_RE).alias("had_phone"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed"),
    )


# ---------------------------------------------------------------------------
# n-gram frequency (contamination / memorization checks)
# ---------------------------------------------------------------------------

_NGRAM_ORACLE = """
WITH tk AS (
  SELECT lang, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT lang,
         t[i] || ' ' || t[i+1] AS bigram
  FROM tk, unnest(range(1, len(t))) AS u(i)
),
counted AS (
  SELECT lang, bigram, COUNT(*) AS n
  FROM grams GROUP BY lang, bigram
)
SELECT lang, bigram, n, rnk FROM (
  SELECT lang, bigram, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
  FROM counted
) WHERE rnk <= 5
"""


@query("text-ngram-freq", oracle=_NGRAM_ORACLE, pure=True)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 bigrams per language — the frequency table behind
    benchmark-contamination and memorization checks. Explode bigrams →
    count (map-side partials collapse repeats) → WindowGroupLimit top-k.
    At 100 TB the count shuffle carries distinct (lang, bigram) pairs,
    not token instances."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tk = toks()
    t = d.select("lang", tk.alias("t"))
    bigrams = t.select(
        "lang",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    counted = bigrams.groupBy("lang", "bigram").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "bigram", "n", "rnk")
    )


# ---------------------------------------------------------------------------
# text-gopher-rules — the full Gopher word-level quality-rule panel
# ---------------------------------------------------------------------------

# Rule constants (Gopher, Rae et al. 2021, Appendix A — public paper;
# the repetition rules live in text-repetition and the line-based rules
# (bullet/ellipsis line fractions) are inapplicable to this newline-free
# corpus and are documented as such rather than emitted degenerate).
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MEAN_LEN = 3.0
_GOPHER_MAX_MEAN_LEN = 10.0
_GOPHER_MIN_ALPHA_FRAC = 0.80
_GOPHER_MAX_SYMBOL_RATIO = 0.10
_GOPHER_REQUIRED = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_MIN_REQUIRED = 2

_GOPHER_REQ_SQL = ", ".join(f"'{w}'" for w in _GOPHER_REQUIRED)

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
m AS (
  SELECT doc_id,
         len(tk) AS n_words,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(tk, x -> CAST(length(x) AS BIGINT))),
           (a, b) -> a + b) AS len_sum,
         len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) // 3
           AS n_symbols,
         len(list_filter([{_GOPHER_REQ_SQL}], w -> list_contains(tk, w)))
           AS n_required
  FROM t
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       FLOOR((CAST(len_sum AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6 AS mean_word_len,
       FLOOR((CAST(n_alpha AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6 AS alpha_frac,
       FLOOR((CAST(n_symbols AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6 AS symbol_ratio,
       CAST(n_required AS BIGINT) AS n_required_stop,
       (n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS})
         AS ok_word_count,
       (FLOOR((CAST(len_sum AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6 >= {_GOPHER_MIN_MEAN_LEN}
        AND FLOOR((CAST(len_sum AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6 <= {_GOPHER_MAX_MEAN_LEN})
         AS ok_mean_len,
       FLOOR((CAST(n_alpha AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6 >= {_GOPHER_MIN_ALPHA_FRAC}
         AS ok_alpha,
       FLOOR((CAST(n_symbols AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6 <= {_GOPHER_MAX_SYMBOL_RATIO}
         AS ok_symbols,
       n_required >= {_GOPHER_MIN_REQUIRED} AS ok_required,
       ((n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS})
        AND (FLOOR((CAST(len_sum AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6 >= {_GOPHER_MIN_MEAN_LEN}
             AND FLOOR((CAST(len_sum AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6 <= {_GOPHER_MAX_MEAN_LEN})
        AND FLOOR((CAST(n_alpha AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6 >= {_GOPHER_MIN_ALPHA_FRAC}
        AND FLOOR((CAST(n_symbols AS DOUBLE) / n_words) * 1e6 + 0.5) / 1e6 <= {_GOPHER_MAX_SYMBOL_RATIO}
        AND n_required >= {_GOPHER_MIN_REQUIRED}) AS gopher_pass
FROM m
ORDER BY doc_id
"""


@query("text-gopher-rules", oracle=_GOPHER_ORACLE, pure=True)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher word-level quality-rule panel (Rae et al. 2021,
    Appendix A) — per-rule booleans plus the combined verdict, per
    document. ``text-quality-score`` (I12) is the compact composite this
    key expands: real curation pipelines keep the per-rule flags so
    threshold sweeps and ablations don't re-scan the corpus. Rules:
    word-count bounds, mean-word-length bounds, alphabetic-word
    fraction, symbol-to-word ratio (# and ellipsis), and the
    required-stopword count. The repetition rules are
    ``text-repetition``; the line-based rules (bullet / ellipsis line
    fractions) need newline structure this corpus doesn't have and are
    deliberately not emitted as degenerate constants.

    Parity: every signal is exact integer math (token-length sum via a
    sequential fold, symbol counts via length-difference after
    ``replace``) divided once and snapped to 6 dp in BOTH engines
    BEFORE the rule compare — so a ratio landing exactly on a threshold
    decides identically; the boolean panel then compares snapped values
    only.

    Scale: map-only — one parquet scan reading ``doc_id, text``, zero
    shuffles before the driver-hash sort; whole-stage codegen end to
    end (no higher-order-function state crosses rows)."""
    d = load_table(spark, sf_dir, "documents")
    tk = toks()
    t = d.select("doc_id", "text", tk.alias("tk"))
    n_words = F.size("tk")
    len_sum = F.aggregate(
        F.transform(F.col("tk"), lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )
    n_alpha = F.size(F.filter(F.col("tk"), lambda x: x.rlike("[a-z]")))
    n_symbols = (
        F.length("text") - F.length(F.replace("text", F.lit("#")))
    ) + (
        (F.length("text") - F.length(F.replace("text", F.lit("...")))) / 3
    ).cast("long")
    req = F.array(*[F.lit(w) for w in _GOPHER_REQUIRED])
    n_required = F.size(
        F.filter(req, lambda w: F.array_contains(F.col("tk"), w))
    )
    mean_len = snap(len_sum.cast("double") / n_words, 6)
    alpha_frac = snap(n_alpha.cast("double") / n_words, 6)
    symbol_ratio = snap(n_symbols.cast("double") / n_words, 6)
    ok_word_count = (n_words >= _GOPHER_MIN_WORDS) & (
        n_words <= _GOPHER_MAX_WORDS
    )
    ok_mean_len = (mean_len >= _GOPHER_MIN_MEAN_LEN) & (
        mean_len <= _GOPHER_MAX_MEAN_LEN
    )
    ok_alpha = alpha_frac >= _GOPHER_MIN_ALPHA_FRAC
    ok_symbols = symbol_ratio <= _GOPHER_MAX_SYMBOL_RATIO
    ok_required = n_required >= _GOPHER_MIN_REQUIRED
    return t.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        symbol_ratio.alias("symbol_ratio"),
        n_required.cast("long").alias("n_required_stop"),
        ok_word_count.alias("ok_word_count"),
        ok_mean_len.alias("ok_mean_len"),
        ok_alpha.alias("ok_alpha"),
        ok_symbols.alias("ok_symbols"),
        ok_required.alias("ok_required"),
        (
            ok_word_count & ok_mean_len & ok_alpha & ok_symbols & ok_required
        ).alias("gopher_pass"),
    )


# ---------------------------------------------------------------------------
# I50 — winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03)
# ---------------------------------------------------------------------------

_WIN_K = 3  # shingle width (tokens)
_WIN_W = 4  # winnowing window (consecutive shingle hashes)
_WIN_H40 = 1 << 40  # hash folded to 40 bits so key = h40·2^20 + pos' < 2^60
_WIN_PBITS = 1 << 20  # position field width (docs capped below 2^20 grams)

_WINNOW_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
g AS (
  SELECT doc_id, len(tk) - {_WIN_K - 1} AS n_grams,
         unnest(list_transform(range(1, len(tk) - {_WIN_K - 2}),
           i -> {{'pos': i - 1,
                 'h40': ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::UBIGINT::BIGINT % {_WIN_H40}}}),
           recursive := true)
  FROM t WHERE len(tk) >= {_WIN_K} AND len(tk) < {_WIN_PBITS + _WIN_K - 1}
),
win AS (
  SELECT doc_id, n_grams, pos,
         MIN(h40 * {_WIN_PBITS} + ({_WIN_PBITS - 1} - pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS kmin
  FROM g
),
sel AS (
  SELECT DISTINCT doc_id, n_grams, kmin FROM win WHERE pos >= {_WIN_W - 1}
)
SELECT doc_id,
       CAST(MAX(n_grams) AS BIGINT) AS n_grams,
       COUNT(*) AS n_fp,
       bit_xor(kmin // {_WIN_PBITS}) AS fp_xor,
       CAST(MIN({_WIN_PBITS - 1} - (kmin % {_WIN_PBITS})) AS BIGINT) AS first_pos,
       CAST(MAX({_WIN_PBITS - 1} - (kmin % {_WIN_PBITS})) AS BIGINT) AS last_pos
FROM sel GROUP BY doc_id ORDER BY doc_id
"""


@query("text-winnowing", oracle=_WINNOW_ORACLE, pure=True)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I50: winnowing fingerprint selection (Schleimer, Wilkerson &
    Aiken, SIGMOD 2003 — the MOSS algorithm): hash every k-token
    shingle, slide a w-hash window, keep each window's minimum with
    ties to the RIGHTMOST position. The selected (hash, position) set
    is the guaranteed-coverage local fingerprint sketch — any shared
    substring of ≥ w+k-1 tokens yields a shared fingerprint
    (MinHash cannot promise that; the full gram set is w+1 /2 times
    bigger) — the standard plagiarism / local-overlap index a corpus
    pipeline maintains next to global near-dup.

    The tie rule is folded into the ORDER ITSELF: key = h40·2²⁰ +
    (2²⁰−1−pos) makes "smaller hash, then larger position" a single
    integer MIN, so the window argmin is one built-in frame aggregate
    in both engines — no nested subquery per window, no UDF. Selected
    keys decode back to (hash, position) by integer div/mod. Docs with
    ≥ 2²⁰ grams are excluded by the encoding (none here; shard such
    docs upstream — cf. text-chunk-sliding).

    Plan shape: tokens pinned behind ONE Generate barrier (the
    text-containment lesson: unpinned, transform() re-splits the text
    per element access), shingle hashes leave the scan as 8-byte ints
    — the shuffle to the per-doc window carries (doc_id, pos, key)
    only, never text; selection + per-doc rollup reuse the window's
    partitioning. Output is per-doc summary (count, XOR, span); the
    fingerprint INDEX itself is the ``sel`` relation one join upstream.

    Parity: md5-prefix hashing, the key encoding, frame membership and
    the XOR/extrema rollup are all exact integer ops; expected density
    2/(w+1) = 0.4 (measured 0.416 at sf0.01) pins the theory in
    tests."""
    from pyspark.sql import Window as W

    from spark_file_mover_spark.llm._textnorm import md5_prefix60

    d = load_table(spark, sf_dir, "documents")
    # Generate-barrier pin: split once per row, not per element access
    base = d.select(
        "doc_id",
        F.explode(F.array(F.struct(toks().alias("t")))).alias("s"),
    ).select("doc_id", F.col("s.t").alias("tk"))
    tk = F.col("tk")
    base = base.filter(
        (F.size(tk) >= _WIN_K) & (F.size(tk) < _WIN_PBITS + _WIN_K - 1)
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tk, (i + off).cast("int")) for off in range(_WIN_K)]
    )
    g = base.select(
        "doc_id",
        (F.size(tk) - (_WIN_K - 1)).cast("long").alias("n_grams"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - (_WIN_K - 1)),
                lambda i: F.pmod(md5_prefix60(gram(i)), F.lit(_WIN_H40)),
            )
        ).alias("pos", "h40"),
    )
    key = (F.col("h40") * _WIN_PBITS + (_WIN_PBITS - 1 - F.col("pos"))).alias(
        "key"
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WIN_W - 1), W.currentRow)
    )
    win = g.select(
        "doc_id",
        "n_grams",
        "pos",
        F.min(key).over(w).alias("kmin"),
    )
    sel = (
        win.filter(F.col("pos") >= _WIN_W - 1)
        .select("doc_id", "n_grams", "kmin")
        .distinct()
    )
    pos_of = _WIN_PBITS - 1 - F.pmod(F.col("kmin"), F.lit(_WIN_PBITS))
    return (
        sel.groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count("*").alias("n_fp"),
            F.bit_xor(F.expr(f"kmin div {_WIN_PBITS}")).alias("fp_xor"),
            F.min(pos_of).cast("long").alias("first_pos"),
            F.max(pos_of).cast("long").alias("last_pos"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# I55 — language-ID confusion matrix (classifier eval as a query)
# ---------------------------------------------------------------------------

_LANGID_CASE_SQL = f"""CASE
         WHEN {_marker_count_sql('es')} > {_marker_count_sql('en')} THEN 'es'
         WHEN {_marker_count_sql('de')} > {_marker_count_sql('en')} THEN 'de'
         WHEN {_marker_count_sql('fr')} > {_marker_count_sql('en')} THEN 'fr'
         WHEN {_marker_count_sql('en')} > 0 THEN 'en'
         ELSE 'und'
       END"""

_CONFUSION_ORACLE = f"""
WITH p AS (
  SELECT lang, {_LANGID_CASE_SQL} AS predicted_lang FROM documents
),
m AS (
  SELECT lang, predicted_lang, COUNT(*) AS n FROM p GROUP BY 1, 2
)
SELECT lang, predicted_lang, CAST(n AS BIGINT) AS n,
       FLOOR((CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY lang)) * 1e9 + 0.5) / 1e9 AS recall_share,
       lang = predicted_lang AS is_correct
FROM m ORDER BY lang, predicted_lang
"""


@query("text-langid-confusion", oracle=_CONFUSION_ORACLE, pure=True)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I55: confusion matrix of the I11 language-ID heuristic against
    the labeled ``lang`` column — classifier evaluation AS A QUERY,
    the shape every model-in-the-loop curation pipeline runs after
    re-training a filter ("how much 'de' is the new langid eating?").
    Per (actual, predicted) cell: count, recall share within the
    actual class, and the diagonal flag.

    Shape: the predictor is the SAME map-only expression as I11 (one
    definition in both engines — the marker-count CASE), collapsing
    straight into a hash aggregate bounded by langs² cells; the
    recall normalizer windows over the aggregated relation (the E21
    discipline). Document text never shuffles.

    Parity: counts exact; shares one snapped division each."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tk = toks()

    def count(lang: str):
        arr = F.array(*[F.lit(t) for t in _MARKERS[lang]])
        return F.size(F.filter(tk, lambda t: F.array_contains(arr, t)))

    pred = (
        F.when(count("es") > count("en"), "es")
        .when(count("de") > count("en"), "de")
        .when(count("fr") > count("en"), "fr")
        .when(count("en") > 0, "en")
        .otherwise("und")
    )
    m = (
        d.select("lang", pred.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )
    wl = W.partitionBy("lang")
    return m.select(
        "lang",
        "predicted_lang",
        F.col("n").cast("long").alias("n"),
        snap(F.col("n").cast("double") / F.sum("n").over(wl), 9).alias(
            "recall_share"
        ),
        (F.col("lang") == F.col("predicted_lang")).alias("is_correct"),
    ).orderBy("lang", "predicted_lang")


# ---------------------------------------------------------------------------
# I60 — readability scoring (Flesch reading ease / FK grade proxies)
# ---------------------------------------------------------------------------

# Flesch coefficients as shared 12-dp-safe literals (both engines read
# the identical decimal text, so the doubles are bit-identical)
_FLESCH_BASE = "206.835"
_FLESCH_WPS = "1.015"
_FLESCH_SPW = "84.6"
_FK_WPS = "0.39"
_FK_SPW = "11.8"
_FK_BASE = "15.59"

_READABILITY_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
              AS BIGINT) AS n_words,
         CAST(1 + (length(text)
              - length(replace(replace(replace(text, '.', ''),
                                       '!', ''), '?', ''))) AS BIGINT)
           AS n_sentences,
         CAST(len(string_split_regex(lower(text), '[aeiou]+')) - 1
              AS BIGINT) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN
         FLOOR(({_FLESCH_BASE}
                - {_FLESCH_WPS} * (CAST(n_words AS DOUBLE)
                                   / CAST(n_sentences AS DOUBLE))
                - {_FLESCH_SPW} * (CAST(n_syllables AS DOUBLE)
                                   / CAST(n_words AS DOUBLE)))
               * 1e9 + 0.5) / 1e9 END AS flesch_ease,
       CASE WHEN n_words > 0 THEN
         FLOOR(({_FK_WPS} * (CAST(n_words AS DOUBLE)
                             / CAST(n_sentences AS DOUBLE))
                + {_FK_SPW} * (CAST(n_syllables AS DOUBLE)
                               / CAST(n_words AS DOUBLE))
                - {_FK_BASE})
               * 1e9 + 0.5) / 1e9 END AS fk_grade
FROM m ORDER BY doc_id
"""


@query("text-readability", oracle=_READABILITY_ORACLE, pure=True)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I60: readability scoring — Flesch reading ease and the
    Flesch-Kincaid grade level (Kincaid et al. 1975), the classic
    document-complexity signals curation mixes use alongside quality
    gates (a corpus skewed to either extreme reads as boilerplate or
    noise; readability BANDS are a standard mixing dimension).

    Structural proxies, both deterministic and engine-mirrorable:
    sentences = 1 + count of sentence-final punctuation ('.', '!',
    '?' — counted by length difference after literal replaces, no
    regex subtleties); syllables = maximal VOWEL-RUN count (the
    standard cheap syllable estimator: 'readable' -> e-a-e -> 3 runs),
    counted as split-on-vowel-runs minus one — the same split
    semantics both engines (the shared-tokenizer contract). On a
    punctuation-free corpus the sentence count degenerates to 1 and
    Flesch degrades to a words-per-doc + vowel-density signal —
    monotone and still discriminative; with real prose the same plan
    computes the textbook formula.

    Parity: all three counts exact integers; each score is ONE
    all-double expression over exact operands with shared literal
    coefficients, snapped floor(x*1e9+0.5)/1e9; empty docs (0 words)
    -> NULL scores both engines.

    Shape at 100 TB: map-only, fused into the scan (only doc_id/text
    read), zero shuffles, whole-stage codegen."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(toks()).cast("long")
    stripped = F.regexp_replace(F.col("text"), r"[.!?]", "")
    n_sent = (
        1 + (F.length("text") - F.length(stripped))
    ).cast("long")
    n_syl = (
        F.size(F.split(F.lower(F.col("text")), "[aeiou]+")) - 1
    ).cast("long")
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    )
    return m.selectExpr(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        f"CASE WHEN n_words > 0 THEN"
        f" FLOOR(({_FLESCH_BASE}"
        f" - {_FLESCH_WPS} * (CAST(n_words AS DOUBLE)"
        f" / CAST(n_sentences AS DOUBLE))"
        f" - {_FLESCH_SPW} * (CAST(n_syllables AS DOUBLE)"
        f" / CAST(n_words AS DOUBLE)))"
        f" * 1e9 + 0.5) / 1e9 END AS flesch_ease",
        f"CASE WHEN n_words > 0 THEN"
        f" FLOOR(({_FK_WPS} * (CAST(n_words AS DOUBLE)"
        f" / CAST(n_sentences AS DOUBLE))"
        f" + {_FK_SPW} * (CAST(n_syllables AS DOUBLE)"
        f" / CAST(n_words AS DOUBLE))"
        f" - {_FK_BASE})"
        f" * 1e9 + 0.5) / 1e9 END AS fk_grade",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# I63 — per-document n-gram novelty ratio (corpus-order first-seen)
# ---------------------------------------------------------------------------

_NOV_N = 3  # trigram granularity

_NOVELTY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
             range(1, greatest(len(tk)-{_NOV_N - 1}, 0)+1),
             i -> array_to_string(tk[i:i+{_NOV_N - 1}], ' '))) AS g
  FROM toks
),
firstseen AS (
  SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
),
per_doc AS (
  SELECT grams.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN firstseen.first_doc = grams.doc_id
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM grams JOIN firstseen ON firstseen.g = grams.g
  GROUP BY grams.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.n_novel, 0) AS n_novel,
       CASE WHEN p.n_grams > 0 THEN
         FLOOR((CAST(p.n_novel AS DOUBLE) / CAST(p.n_grams AS DOUBLE))
               * 1e9 + 0.5) / 1e9 END AS novelty
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
ORDER BY d.doc_id
"""


@query("text-novelty-ratio", oracle=_NOVELTY_ORACLE, pure=True)
def text_novelty_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I63: per-document n-gram NOVELTY in corpus order — the share of
    a document's distinct trigrams never seen in any earlier document
    (first-seen attribution by min doc_id). The curation readout
    behind dedup-aware ordering and crawl-increment triage: a
    late-crawl batch whose novelty collapses is re-crawl/boilerplate
    mass (cut it), and the corpus-level novelty-vs-position curve is
    the classic "how much new text does each additional shard buy"
    diminishing-returns plot. Granular where dedup-exact (identity)
    and text-dup-span (contiguous duplicated RUNS) are coarse: novelty
    scores partial overlap without requiring contiguity.

    Shape at 100 TB (the I20/I33 discipline): grams leave the scan as
    8-byte xxhash64 keys — text never shuffles; first-seen is one
    min-groupBy on the gram hash whose map-side combine absorbs the
    explode fanout; the attribution join moves (hash, doc_id) pairs;
    the per-doc rollup reuses the doc_id key. The oracle groups on the
    STRING gram while Spark groups on its hash — the I20 argument:
    string-equality grouping equals hash grouping up to 64-bit
    collisions, so the match certifies the hash key.

    r15: the distinct (doc_id, gh) relation feeds BOTH sides of the
    first-seen join; without a barrier Catalyst re-ran the corpus
    scan + explode + distinct per side (2 scans, 2 Generates, 2
    distinct aggregates in the audited plan). One barrier (16 B/row —
    the dedup-ngram-jaccard discipline) halves the tokenization work
    and drops the duplicate subtree; and the relation is a pure
    function of the immutable corpus — scan, tokenization and gram
    hashing are the INGEST cost — so it is a persisted ingest artifact
    like text-containment's guarded shingles. The first-seen
    aggregation, attribution join and per-doc rollup — the novelty
    operator itself — run on every invocation.

    Exact integers; novelty is one snapped division; gram-less docs
    (< 3 tokens) surface with zero counts and NULL novelty."""
    d = load_table(spark, sf_dir, "documents")
    grams = ingest_artifact(
        "novelty-grams", spark, sf_dir, lambda: _novelty_grams(d)
    )
    return _novelty_query(d, grams)


def _novelty_grams(d: DataFrame) -> DataFrame:
    tk = d.select("doc_id", toks().alias("tk"))
    grams = (
        tk.select(
            "doc_id",
            F.explode(
                # sequence(0, -1) would generate [0, -1] (Spark infers a
                # negative step), so gram-less docs get an explicit
                # empty array — explode drops them, the left join
                # restores them with zero counts
                F.when(
                    F.size("tk") >= _NOV_N,
                    F.transform(
                        F.sequence(F.lit(0), F.size("tk") - _NOV_N),
                        lambda i: F.xxhash64(
                            F.concat_ws(
                                " ", F.slice(F.col("tk"), i + 1, _NOV_N)
                            )
                        ),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            ).alias("gh"),
        )
        .distinct()
    )
    # two consumers (first-seen agg + attribution join) plus later
    # invocations; persist keeps replayable lineage so executor loss
    # between invocations recomputes instead of failing later hits
    # (the containment-er note)
    grams = grams.persist()
    grams.count()  # eager: pay the ingest scan once
    return grams


def _novelty_query(d: DataFrame, grams: DataFrame) -> DataFrame:
    """First-seen attribution + per-doc novelty rollup over the cached
    distinct (doc_id, gram-hash) relation.

    First-seen is a full-partition window MIN over the gram hash, not
    a groupBy+self-join: the window rides the SAME gh exchange the
    join's left side would pay, and deletes the aggregate's second
    exchange plus the join itself (plan: 3 Exchanges + 1 SortMergeJoin
    → 2 Exchanges). Identical values — min(doc_id) over the gh
    partition IS the first-seen attribution."""
    from pyspark.sql import Window as W

    per_doc = (
        grams.select(
            "doc_id",
            F.min("doc_id")
            .over(W.partitionBy("gh"))
            .alias("first_doc"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "COALESCE(n_grams, 0) AS n_grams",
            "COALESCE(n_novel, 0) AS n_novel",
            "CASE WHEN n_grams > 0 THEN"
            " FLOOR((CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE))"
            " * 1e9 + 0.5) / 1e9 END AS novelty",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# I75 — hapax legomena ratio per source (vocabulary-health screen)
# ---------------------------------------------------------------------------

_HAPAX_ORACLE = r"""
WITH tk AS (
  SELECT source,
         UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
),
tf AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM tk GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 END), 0) AS BIGINT)
         AS hapax,
       CAST(COALESCE(SUM(CASE WHEN c = 2 THEN 1 END), 0) AS BIGINT)
         AS dis_legomena,
       FLOOR((CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 END), 0) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE)) * 1e9 + 0.5) / 1e9
         AS hapax_ratio,
       FLOOR((CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE))
             * 1e9 + 0.5) / 1e9 AS type_token_ratio
FROM tf GROUP BY source ORDER BY source
"""


@query("text-hapax-ratio", oracle=_HAPAX_ORACLE, pure=True)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I75: hapax legomena ratio per source — the share of each
    source's vocabulary seen exactly once (plus dis legomena and the
    type-token ratio): the vocabulary-HEALTH screen that complements
    the Zipf fit (I65 checks the rank-frequency LAW over the head,
    this checks the TAIL mass): natural text runs ~40-60% hapax
    (Baayen's LNRE regime); template/boilerplate spam collapses the
    ratio toward 0, OCR noise and encoding damage inflate it toward
    1 — both are the exact corpora a curation pass must catch before
    training.

    Shape at 100 TB: one scan explodes through the shared tokenizer
    into a map-side-collapsing (source, tok) hash agg (text never
    shuffles — only tokens), then a |sources|-bounded second agg over
    the per-source term-frequency relation. The same two-level plan
    as every vocabulary key.

    Parity: counts exact BIGINTs; two snapped divisions."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(toks()).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        tf.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.coalesce(F.sum(F.when(F.col("c") == 1, 1)), F.lit(0))
            .cast("long")
            .alias("hapax"),
            F.coalesce(F.sum(F.when(F.col("c") == 2, 1)), F.lit(0))
            .cast("long")
            .alias("dis_legomena"),
        )
        .selectExpr(
            "source",
            "n_tokens",
            "vocab",
            "hapax",
            "dis_legomena",
            "FLOOR((CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE))"
            " * 1e9 + 0.5) / 1e9 AS hapax_ratio",
            "FLOOR((CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE))"
            " * 1e9 + 0.5) / 1e9 AS type_token_ratio",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# I77 — token burstiness (Church-Gale) top-k
# ---------------------------------------------------------------------------

_BURST_MIN_DF = 5
_BURST_TOPK = 20

# burstiness = total occurrences / document frequency (mean count in
# the docs that contain the token — Church & Gale 1995); Fano is the
# E53 identity over the per-containing-doc counts.
_BURST_B = "CAST(n_occ AS DOUBLE) / CAST(df AS DOUBLE)"
_BURST_FANO = (
    "CAST(CAST(df AS DECIMAL(38,0)) * sq"
    " - CAST(n_occ AS DECIMAL(38,0)) * n_occ AS DOUBLE)"
    " / (CAST(df AS DOUBLE) * CAST(n_occ AS DOUBLE))"
)

_BURSTINESS_ORACLE = rf"""
WITH tk AS (
  SELECT doc_id,
         UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
),
tf AS (
  SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM tk GROUP BY 1, 2
),
m AS (
  SELECT tok,
         CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c) AS BIGINT) AS n_occ,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS sq
  FROM tf GROUP BY tok
),
sc AS (
  SELECT tok, df, n_occ,
         FLOOR(({_BURST_B}) * 1e9 + 0.5) / 1e9 AS burstiness,
         FLOOR(({_BURST_FANO}) * 1e9 + 0.5) / 1e9 AS fano
  FROM m WHERE df >= {_BURST_MIN_DF}
),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY burstiness DESC, tok)
                 AS BIGINT) AS rank
  FROM sc
)
SELECT rank, tok, df, n_occ, burstiness, fano
FROM r WHERE rank <= {_BURST_TOPK} ORDER BY rank
"""


@query("text-burstiness", oracle=_BURSTINESS_ORACLE, pure=True)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I77: token burstiness top-k (Church & Gale 1995) — a token's
    mean count WITHIN the documents that contain it (plus the Fano
    factor of those counts): topical content words are bursty (absent
    from most docs, repeated when present), function words are
    uniform — the distributional signal behind stopword induction,
    keyword extraction priors, and boilerplate detection that raw
    frequency (I16), tf-idf (I25) and hapax mass (I75) each miss
    (tf-idf scores a token IN a doc; burstiness profiles the token's
    corpus-wide dispersion law). min-df 5 floors the
    estimator; ranking on the SNAPPED score with token tie-break.

    Shape at 100 TB: the vocabulary two-level plan — explode through
    the shared tokenizer into a map-side-collapsing (tok, doc) agg,
    then a vocab-bounded per-token moment agg; top-k is one
    WindowGroupLimit over the bounded score relation.

    Parity: df/n_occ/Σc² exact integers; burstiness one snapped
    division; Fano the E53 DECIMAL(38,0) identity vn/(df·n), snapped;
    selection is boundary-deterministic on the snapped score."""
    from pyspark.sql import Window as W

    from spark_file_mover_spark.llm.features import _tf_relation

    # r15: start from the persisted (doc_id, tok, tf) term-frequency
    # relation the lexical-statistics family shares (the paid-once
    # corpus-ingest artifact tfidf/perplexity/zipf already read) —
    # identical counts to re-exploding the corpus, minus the explode
    # and the (tok, doc) exchange per invocation.
    tf = _tf_relation(spark, sf_dir)
    m = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("n_occ"),
        F.sum(F.expr("CAST(tf AS DECIMAL(38,0)) * tf"))
        .cast("decimal(38,0)")
        .alias("sq"),
    )
    sc = m.filter(F.col("df") >= _BURST_MIN_DF).selectExpr(
        "tok",
        "df",
        "n_occ",
        f"FLOOR(({_BURST_B}) * 1e9 + 0.5) / 1e9 AS burstiness",
        f"FLOOR(({_BURST_FANO}) * 1e9 + 0.5) / 1e9 AS fano",
    )
    r = sc.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.col("burstiness").desc(), "tok"))
        .cast("long")
        .alias("rank"),
    )
    return (
        r.filter(F.col("rank") <= _BURST_TOPK)
        .select("rank", "tok", "df", "n_occ", "burstiness", "fano")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# I85 — text-boilerplate-lines: per-source frequent-line detection
# ---------------------------------------------------------------------------

# Line granularity: fixed 10-token blocks (the I29 convention — the
# synthetic corpus has no newlines, so a literal line split would be
# vacuous; on a real corpus swap the block derivation for
# split(text, '\n') and nothing downstream changes). A block is
# BOILERPLATE within its source when it appears in MORE THAN 1/5 of
# that source's documents: df·5 > n_docs, an exact integer
# cross-multiply, no float threshold.
_BP_LINE = 10
_BP_DEN = 5  # boilerplate iff df * _BP_DEN > n_docs_in_source

_BP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
sized AS (
  SELECT doc_id, source, toks,
         greatest((len(toks) + {_BP_LINE - 1}) // {_BP_LINE}, 1) AS n_lines
  FROM t
),
l AS (
  SELECT doc_id, source, n_lines, i AS idx,
         array_to_string(toks[(i*{_BP_LINE}+1):((i+1)*{_BP_LINE})], ' ')
           AS line
  FROM sized
  CROSS JOIN (SELECT unnest(range(0, (SELECT max(n_lines) FROM sized)))
              AS i)
  WHERE i < n_lines
),
nd AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
df AS (
  SELECT source, line, COUNT(DISTINCT doc_id) AS df
  FROM l GROUP BY source, line
),
bp AS (
  SELECT df.source, df.line
  FROM df JOIN nd ON df.source = nd.source
  WHERE df.df * {_BP_DEN} > nd.n_docs
),
per_doc AS (
  SELECT l.doc_id,
         CAST(COALESCE(SUM(CASE WHEN bp.line IS NOT NULL THEN 1 END), 0)
              AS BIGINT) AS n_boiler
  FROM l LEFT JOIN bp ON l.source = bp.source AND l.line = bp.line
  GROUP BY l.doc_id
)
SELECT s.doc_id, s.source,
       CAST(s.n_lines AS BIGINT) AS n_lines,
       p.n_boiler,
       FLOOR(CAST(p.n_boiler AS DOUBLE) / CAST(s.n_lines AS DOUBLE)
             * 1e9 + 0.5) / 1e9 AS boiler_frac
FROM sized s JOIN per_doc p USING (doc_id)
ORDER BY s.doc_id
"""


@query("text-boilerplate-lines", oracle=_BP_ORACLE, pure=True)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I85: frequency-based boilerplate detection — flag the lines that
    repeat across MORE THAN 20% of a source's documents (navigation,
    cookie banners, footers: the text that survives exact-dedup
    because the surrounding document differs) and score each document
    by its boilerplate fraction. This is the CCNet/trafilatura
    cleaning step BETWEEN dedup granularities: I1 drops exact
    documents, I29 drops exact paragraphs corpus-wide on FIRST
    occurrence — this key identifies SOURCE-LOCAL high-document-
    frequency lines, the signal template-removal actually keys on.

    Parity: lines are the shared 10-token blocks (the I29 block
    convention, documented swap-in for a newline split on real
    corpora); document frequency is an exact COUNT(DISTINCT doc_id);
    the threshold is the integer cross-multiply df·5 > n_docs (no
    float compare); the per-doc fraction is one snapped division.

    Shape at 100 TB: the line relation moves as (source, doc_id,
    8-byte xxhash64 line keys — the I20 hash-grouping contract, the
    string-grouping oracle certifies the key) with the groupBy's
    map-side combine absorbing repetition; the boilerplate set is
    df-filtered (vocabulary-scale, a small fraction of distinct
    lines) before the per-doc join; the per-source doc counts are a
    sources-bounded broadcast; one narrow scan for the doc counts.

    r15: the line relation feeds both the df pass AND the per-doc
    join side — rebuilt per consumer, that was two full tokenize +
    explode passes (6 parquet scans in the audited plan). Hashing the
    block to a long shrinks the relation to ~32 B/row behind one
    barrier; and the relation is a pure function of the immutable
    corpus — tokenize + block hashing are the INGEST cost — so it is an
    ingest artifact like the novelty grams. The df pass, threshold and
    per-doc rollup — the boilerplate operator — run per invocation."""
    d = load_table(spark, sf_dir, "documents")

    def build() -> DataFrame:
        sized = d.select(
            "doc_id", "source", toks().alias("toks")
        ).selectExpr(
            "doc_id",
            "source",
            "toks",
            f"greatest(CAST((size(toks) + {_BP_LINE - 1})"
            f" DIV {_BP_LINE} AS INT), 1) AS n_lines",
        )
        # localCheckpoint, not persist: both consumers read the raw
        # materialized rows; the columnar persist() cache measured
        # ~2x slower per read (decompression per consumer)
        return sized.selectExpr(
            "doc_id",
            "source",
            "n_lines",
            "toks",
            "explode(sequence(0, n_lines - 1)) AS idx",
        ).selectExpr(
            "doc_id",
            "source",
            "n_lines",
            "idx",
            f"xxhash64(array_join(slice(toks, idx * {_BP_LINE} + 1,"
            f" {_BP_LINE}), ' ')) AS lh",
        ).localCheckpoint(eager=True)

    l = ingest_artifact("boilerplate-lines", spark, sf_dir, build)
    nd = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    df_rel = l.groupBy("source", "lh").agg(
        F.countDistinct("doc_id").alias("df")
    )
    bp = (
        df_rel.join(F.broadcast(nd), "source")
        .filter(F.expr(f"df * {_BP_DEN} > n_docs"))
        .select("source", "lh")
    )
    per_doc = (
        l.join(bp.withColumn("_bp", F.lit(1)), ["source", "lh"], "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.sum("_bp"), F.lit(0)).cast("long").alias(
                "n_boiler"
            ),
            F.first("source").alias("source"),
            F.first("n_lines").alias("n_lines"),
        )
    )
    return per_doc.selectExpr(
        "doc_id",
        "source",
        "CAST(n_lines AS BIGINT) AS n_lines",
        "n_boiler",
        "FLOOR(CAST(n_boiler AS DOUBLE) / CAST(n_lines AS DOUBLE)"
        " * 1e9 + 0.5) / 1e9 AS boiler_frac",
    ).orderBy("doc_id")
