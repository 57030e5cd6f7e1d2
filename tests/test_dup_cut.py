"""text-dup-cut: the exact-substring CUTTING pass — behavioral cases on
a crafted corpus, a text-never-crosses-the-hash-shuffle plan pin, and a
hypothesis property against a pure-Python reference (the
test_dedup_paragraph pattern)."""

from __future__ import annotations

import re

from spark_file_mover_spark.llm.dedup import _SPAN_K, text_dup_cut
from spark_file_mover_spark.profile import formatted_plan


def _write_docs(spark, tmp_path, texts):
    rows = [
        (i, t, "en", "test", len(t)) for i, t in enumerate(texts, start=1)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path / "sf")
    df.coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


def _py_reference(texts):
    """Pure-Python cut pass: mark every cross-doc duplicated k-gram,
    cut every token covered by any marked gram, reassemble."""
    docs = {
        doc_id: text.strip().lower().split()
        for doc_id, text in enumerate(texts, start=1)
    }
    gram_docs: dict[tuple, set] = {}
    for doc_id, toks in docs.items():
        for p in range(max(len(toks) - _SPAN_K + 1, 0)):
            gram_docs.setdefault(tuple(toks[p : p + _SPAN_K]), set()).add(doc_id)
    out = {}
    for doc_id, toks in docs.items():
        covered = set()
        for p in range(max(len(toks) - _SPAN_K + 1, 0)):
            if len(gram_docs[tuple(toks[p : p + _SPAN_K])]) > 1:
                covered.update(range(p, p + _SPAN_K))
        kept = [t for i, t in enumerate(toks) if i not in covered]
        out[doc_id] = (len(toks), len(toks) - len(kept), " ".join(kept))
    return out


def test_cut_removes_shared_span_and_keeps_unique_text(spark, tmp_path):
    shared = " ".join(f"s{i}" for i in range(_SPAN_K + 2))  # 7-token span
    texts = [
        f"alpha beta {shared} gamma delta",
        f"one two three {shared} four five six",
        "totally unrelated text with enough tokens here",
    ]
    sf = _write_docs(spark, tmp_path, texts)
    rows = {r.doc_id: r for r in text_dup_cut(spark, sf).collect()}
    # the shared 7 tokens vanish from both carriers; unique tails stay
    assert rows[1].kept_text == "alpha beta gamma delta"
    assert rows[1].n_cut == _SPAN_K + 2
    assert rows[2].kept_text == "one two three four five six"
    assert rows[2].n_cut == _SPAN_K + 2
    assert rows[3].n_cut == 0 and rows[3].cut_frac == 0.0
    assert rows[3].kept_text == texts[2]


def test_cut_whole_doc_duplicate_cuts_everything(spark, tmp_path):
    dup = " ".join(f"d{i}" for i in range(12))
    sf = _write_docs(spark, tmp_path, [dup, dup])
    rows = {r.doc_id: r for r in text_dup_cut(spark, sf).collect()}
    for r in rows.values():
        assert r.n_cut == r.n_tok == 12
        assert r.kept_text == "" and r.cut_frac == 1.0


def test_cut_short_docs_have_no_grams(spark, tmp_path):
    # fewer than K tokens -> no grams -> nothing can be cut
    sf = _write_docs(spark, tmp_path, ["tiny doc", "tiny doc"])
    for r in text_dup_cut(spark, sf).collect():
        assert r.n_cut == 0 and r.kept_text == "tiny doc"


def test_cut_within_doc_repeat_is_not_cut(spark, tmp_path):
    # a gram repeated only WITHIN one doc is not cross-document
    block = " ".join(f"w{i}" for i in range(_SPAN_K))
    sf = _write_docs(spark, tmp_path, [f"{block} {block}", "other words entirely distinct tokens"])
    rows = {r.doc_id: r for r in text_dup_cut(spark, sf).collect()}
    assert rows[1].n_cut == 0


def test_cut_hash_shuffle_carries_no_text(spark, sf_dir):
    """100 TB claim as a plan assertion: every exchange partitioning on
    the gram hash moves only ids — never toks/text."""
    df = text_dup_cut(spark, sf_dir)
    df.collect()
    formatted = formatted_plan(df)
    blocks = re.split(r"\n\n", formatted)
    checked = 0
    for block in blocks:
        if not re.match(r"\(\d+\) Exchange", block.strip()):
            continue
        if "hashpartitioning(gh#" not in block:
            continue
        inputs = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        assert inputs, block
        cols = inputs.group(1)
        assert "toks" not in cols and "text" not in cols, (
            f"text-bearing column crosses the gram-hash exchange: {cols}"
        )
        checked += 1
    assert checked >= 1, "no gram-hash exchange found in plan"


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.lists(
            st.lists(
                st.sampled_from(["a", "b", "c", "dd", "ee"]),
                min_size=1,
                max_size=3 * _SPAN_K,
            ).map(" ".join),
            min_size=1,
            max_size=6,
        )
    )
    def test_cut_matches_python_reference(spark, tmp_path_factory, texts):
        sf = _write_docs(
            spark, tmp_path_factory.mktemp("dupcut"), texts
        )
        expect = _py_reference(texts)
        got = {r.doc_id: r for r in text_dup_cut(spark, sf).collect()}
        assert set(got) == set(expect)
        for doc_id, (n_tok, n_cut, kept_text) in expect.items():
            r = got[doc_id]
            assert (r.n_tok, r.n_cut, r.kept_text) == (
                n_tok,
                n_cut,
                kept_text,
            ), doc_id

except ImportError:  # pragma: no cover - hypothesis is in the container
    pass


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from spark_file_mover_spark.llm.dedup import text_dup_span

    def _py_span_reference(texts):
        """Pure-Python marking pass: per doc (n_grams, n_dup_grams,
        max_dup_run) with cross-document duplicated k-grams."""
        docs = {
            doc_id: text.strip().lower().split()
            for doc_id, text in enumerate(texts, start=1)
        }
        gram_docs: dict[tuple, set] = {}
        for doc_id, toks in docs.items():
            for p in range(max(len(toks) - _SPAN_K + 1, 0)):
                gram_docs.setdefault(
                    tuple(toks[p : p + _SPAN_K]), set()
                ).add(doc_id)
        out = {}
        for doc_id, toks in docs.items():
            n_grams = max(len(toks) - _SPAN_K + 1, 0)
            dup_pos = [
                p
                for p in range(n_grams)
                if len(gram_docs[tuple(toks[p : p + _SPAN_K])]) > 1
            ]
            runs, prev = [], None
            for p in dup_pos:
                if prev is not None and p == prev + 1:
                    runs[-1] += 1
                else:
                    runs.append(1)
                prev = p
            out[doc_id] = (n_grams, len(dup_pos), max(runs, default=0))
        return out

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.lists(
            st.lists(
                st.sampled_from(["a", "b", "c", "dd", "ee"]),
                min_size=1,
                max_size=3 * _SPAN_K,
            ).map(" ".join),
            min_size=1,
            max_size=6,
        )
    )
    def test_span_matches_python_reference(spark, tmp_path_factory, texts):
        sf = _write_docs(spark, tmp_path_factory.mktemp("dupspan"), texts)
        expect = _py_span_reference(texts)
        got = {
            r.doc_id: (r.n_grams, r.n_dup_grams, r.max_dup_run)
            for r in text_dup_span(spark, sf).collect()
        }
        assert got == expect

except ImportError:  # pragma: no cover - hypothesis is in the container
    pass
