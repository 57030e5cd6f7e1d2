"""dedup-paragraph: CCNet-style first-occurrence paragraph dedup over
fixed token blocks — behavioral cases on a crafted corpus plus the
text-never-crosses-the-hash-shuffle plan pin."""

from __future__ import annotations

import re

from spark_file_mover_spark.llm.dedup import _PARA, dedup_paragraph
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


def test_paragraph_dedup_first_occurrence_survives(spark, tmp_path):
    block_a = " ".join(f"a{i}" for i in range(_PARA))
    block_b = " ".join(f"b{i}" for i in range(_PARA))
    block_c = " ".join(f"c{i}" for i in range(_PARA))
    texts = [
        f"{block_a} {block_b}",  # doc 1: both blocks first seen -> kept
        f"{block_a} {block_b}",  # doc 2: exact dup -> nothing kept
        f"{block_a} {block_c}",  # doc 3: a is dup, c is new -> keeps c
    ]
    sf = _write_docs(spark, tmp_path, texts)
    rows = {r.doc_id: r for r in dedup_paragraph(spark, sf).collect()}
    assert rows[1].n_para == 2 and rows[1].n_kept == 2
    assert rows[1].kept_text == f"{block_a} {block_b}"
    assert rows[2].n_para == 2 and rows[2].n_kept == 0
    assert rows[2].kept_text == "" and rows[2].kept_frac == 0.0
    assert rows[3].n_para == 2 and rows[3].n_kept == 1
    assert rows[3].kept_text == block_c and rows[3].kept_frac == 0.5


def test_paragraph_dedup_within_doc_repeat_dropped(spark, tmp_path):
    block = " ".join(f"x{i}" for i in range(_PARA))
    # the same block twice INSIDE one document: second occurrence drops
    sf = _write_docs(spark, tmp_path, [f"{block} {block}"])
    row = dedup_paragraph(spark, sf).collect()[0]
    assert row.n_para == 2 and row.n_kept == 1
    assert row.kept_text == block


def test_paragraph_dedup_short_tail_block(spark, tmp_path):
    # 25 tokens -> blocks of 20 and 5; the short tail is its own unit
    toks = [f"t{i}" for i in range(25)]
    sf = _write_docs(spark, tmp_path, [" ".join(toks)])
    row = dedup_paragraph(spark, sf).collect()[0]
    assert row.n_para == 2 and row.n_kept == 2
    assert row.kept_text == " ".join(toks)


def test_paragraph_hash_shuffle_carries_no_text(spark, sf_dir):
    """The 100 TB claim as a plan assertion: every exchange that
    partitions on the paragraph hash must move only (doc_id, idx, h) —
    never the token array, the paragraph string, or document text."""
    df = dedup_paragraph(spark, sf_dir)
    df.collect()
    # formatted-plan node blocks: "(N) Exchange ..." followed by
    # Input/Arguments lines until the next blank line
    formatted = formatted_plan(df)
    blocks = re.split(r"\n\n", formatted)
    exchange_ids = re.findall(r"\((\d+)\) Exchange", formatted)
    assert exchange_ids, "no exchanges found — plan shape changed?"
    checked = 0
    for block in blocks:
        m = re.match(r"\((\d+)\) Exchange", block.strip())
        if not m:
            continue
        if "hashpartitioning(h#" not in block:
            continue
        inputs = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        assert inputs, block
        cols = inputs.group(1)
        assert "toks" not in cols and "text" not in cols and "para" not in cols, (
            f"text-bearing column crosses the hash exchange: {cols}"
        )
        checked += 1
    assert checked >= 1, "no hash-partitioned exchange found in plan"


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    def _py_reference(texts):
        """Pure-Python first-occurrence block dedup (blocks of _PARA
        whitespace tokens, docs in doc_id order)."""
        seen = set()
        out = {}
        for doc_id, text in enumerate(texts, start=1):
            toks = text.strip().lower().split()
            n_para = max(-(-len(toks) // _PARA), 1)
            kept = []
            for i in range(n_para):
                para = " ".join(toks[i * _PARA : (i + 1) * _PARA])
                if para not in seen:
                    seen.add(para)
                    kept.append(para)
            out[doc_id] = (n_para, len(kept), " ".join(kept))
        return out

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.lists(
            st.lists(
                # tiny alphabet + doc lengths straddling the block size
                # -> heavy cross-doc and within-doc block collisions
                st.sampled_from(["aa", "bb", "cc"]),
                min_size=1,
                max_size=3 * _PARA,
            ).map(" ".join),
            min_size=1,
            max_size=8,
        )
    )
    def test_paragraph_dedup_matches_python_reference(spark, tmp_path_factory, texts):
        sf = _write_docs(
            spark, tmp_path_factory.mktemp("paradata"), texts
        )
        got = {
            r.doc_id: (r.n_para, r.n_kept, r.kept_text)
            for r in dedup_paragraph(spark, sf).collect()
        }
        assert got == _py_reference(texts)

except ImportError:  # pragma: no cover - hypothesis ships in the container
    pass
