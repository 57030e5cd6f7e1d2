"""Behavioral tests for the late-r7 operator batch (clustering /
sketch / sampling keys) — each key's Spark result is checked against an
independent pure-Python reference implementation, the same discipline as
tests/test_dedup_paragraph.py (the oracle proves cross-engine SQL parity;
these prove the shared semantics are the DECLARED algorithm, not a
convenient reimplementation both engines happen to agree on)."""

from __future__ import annotations

import math

import pyarrow.parquet as pq
import pytest

from spark_file_mover_spark import registry

registry.load_all()


# ---------------------------------------------------------------------------
# embed-kmeans-lloyd vs a pure-Python Lloyd reference
# ---------------------------------------------------------------------------


def _py_kmeans(rows, k=8, rounds=3, qscale=10**6):
    """Reference Lloyd: quantize, seed by min-vec_id per (vec_id % k)
    bucket, `rounds` assignments with an update after each non-final
    round; empty clusters keep their centroid. Mirrors the DECLARED
    semantics in llm/clustering.py independently (plain loops, no
    DataFrames)."""
    q = {
        vid: [math.floor(float(x) * qscale + 0.5) for x in emb]
        for vid, emb in rows
    }
    seeds = {}
    for vid in q:
        cid = vid % k
        if cid not in seeds or vid < seeds[cid]:
            seeds[cid] = vid
    cents = {cid: list(q[vid]) for cid, vid in seeds.items()}

    def assign():
        out = {}
        for vid, qv in q.items():
            best = None
            for cid in sorted(cents):
                d = sum((a - b) * (a - b) for a, b in zip(qv, cents[cid]))
                if best is None or (d, cid) < best:
                    best = (d, cid)
            out[vid] = best
        return out

    for _ in range(rounds - 1):
        asg = assign()
        sums: dict = {}
        for vid, (_, cid) in asg.items():
            s = sums.setdefault(cid, [[0] * len(q[vid]), 0])
            s[1] += 1
            for i, v in enumerate(q[vid]):
                s[0][i] += v
        for cid, (vec, n) in sums.items():
            cents[cid] = [s // n for s in vec]
    return assign(), cents, q


@pytest.fixture(scope="module")
def emb_small():
    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    return list(
        zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    )


def test_kmeans_matches_pure_python_reference(spark, emb_small):
    expected, _, _ = _py_kmeans(emb_small)
    got = {
        r["vec_id"]: (r["dist"], r["cluster"])
        for r in registry.QUERIES["embed-kmeans-lloyd"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expected


def test_kmeans_cold_path_unchanged(spark, emb_small):
    """The k-means ingest artifact must be a pure memo: a cache-cleared
    (driver-fresh) invocation produces the identical assignment."""
    from spark_file_mover_spark.sources import io as sio

    for k in [k for k in sio._ARTIFACTS if k[1] == "km-8"]:
        sio._release(sio._ARTIFACTS.pop(k))
    first = registry.QUERIES["embed-kmeans-lloyd"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    again = registry.QUERIES["embed-kmeans-lloyd"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert first == again


# ---------------------------------------------------------------------------
# agg-sketch-cms vs a pure-Python count-min sketch
# ---------------------------------------------------------------------------


def _py_cms(keys, d=3, w=256):
    """Reference CMS: d*w counters, position = md5-prefix-60 of
    'r#key' mod w; estimate = min over rows. Independent of the Spark
    formulation (plain dicts)."""
    import hashlib

    def pos(r, k):
        h = hashlib.md5(f"{r}#{k}".encode()).hexdigest()
        return int(h[:15], 16) % w

    counters: dict = {}
    true: dict = {}
    for k in keys:
        true[k] = true.get(k, 0) + 1
        for r in range(d):
            p = (r, pos(r, k))
            counters[p] = counters.get(p, 0) + 1
    return {
        k: (n, min(counters[(r, pos(r, k))] for r in range(d)))
        for k, n in true.items()
    }


def test_cms_matches_pure_python_reference(spark):
    t = pq.read_table(
        "/root/testdata/sf0.001/events.parquet", columns=["user_id", "event_type"]
    )
    keys = [
        f"{u}:{e}"
        for u, e in zip(
            t.column("user_id").to_pylist(), t.column("event_type").to_pylist()
        )
    ]
    expected = _py_cms(keys)
    rows = registry.QUERIES["agg-sketch-cms"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    got = {r["key"]: (r["n_true"], r["n_est"]) for r in rows}
    assert got == expected
    # CMS can only overcount — structurally guaranteed, assert anyway
    assert all(r["n_est"] >= r["n_true"] for r in rows)


# ---------------------------------------------------------------------------
# text-bpe-pairs vs pure-Python pair counting
# ---------------------------------------------------------------------------


def test_bpe_pairs_matches_pure_python_reference(spark):
    import re

    t = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet", columns=["text"]
    )
    occ: dict = {}
    toks: dict = {}
    for text in t.column("text").to_pylist():
        for tok in re.split(r"\s+", text.strip().lower()):
            for i in range(len(tok) - 1):
                pair = tok[i : i + 2]
                occ[pair] = occ.get(pair, 0) + 1
                toks.setdefault(pair, set()).add(tok)
    expected = [
        (pair, occ[pair], len(toks[pair]), rank + 1)
        for rank, pair in enumerate(
            sorted(occ, key=lambda p: (-occ[p], p))[:20]
        )
    ]
    got = [
        (r["pair"], r["n_occ"], r["n_toks"], r["rank"])
        for r in registry.QUERIES["text-bpe-pairs"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    ]
    assert got == expected


# ---------------------------------------------------------------------------
# sample-reservoir-weighted vs pure-Python priority sampling
# ---------------------------------------------------------------------------


def test_reservoir_matches_pure_python_reference(spark):
    import hashlib

    t = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet",
        columns=["doc_id", "n_chars"],
    )
    pri = {}
    for did, w in zip(
        t.column("doc_id").to_pylist(), t.column("n_chars").to_pylist()
    ):
        h = int(hashlib.md5(f"res:{did}".encode()).hexdigest()[:15], 16)
        u = float(h + 1) / float(2**60)
        pri[did] = (float(w) / u, w)
    order = sorted(pri, key=lambda d: (-pri[d][0], d))
    sample, tau = order[:50], pri[order[50]][0]
    expected = {
        did: (pri[did][1], pri[did][0], max(float(pri[did][1]), tau))
        for did in sample
    }
    got = {
        r["doc_id"]: (r["weight"], r["priority"], r["est_weight"])
        for r in registry.QUERIES["sample-reservoir-weighted"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    # priorities/est_weights are single IEEE divisions — exact equality
    assert got == expected


# ---------------------------------------------------------------------------
# embed-pq-encode vs pure-Python product quantization
# ---------------------------------------------------------------------------


def test_pq_encode_matches_pure_python_reference(spark, emb_small):
    from spark_file_mover_spark.llm.clustering import (
        _PQ_CENTS,
        _PQ_DIM,
        _PQ_SUB,
        _pq_val,
    )

    expected = {}
    for vid, emb in emb_small:
        codes, err = [], 0.0
        for s in range(_PQ_SUB):
            best = None
            for j in range(_PQ_CENTS):
                d = 0.0
                for i in range(_PQ_DIM):
                    t = float(emb[s * _PQ_DIM + i]) - _pq_val(s, j, i)
                    d += t * t
                if best is None or (d, j) < best:
                    best = (d, j)
            codes.append(best[1])
            err += best[0]
        expected[vid] = (tuple(codes), round(err, 9))
    got = {
        r["vec_id"]: (
            tuple(r[f"code{s}"] for s in range(8)),
            r["recon_err"],
        )
        for r in registry.QUERIES["embed-pq-encode"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    # folds are sequential in both implementations -> exact equality
    assert got == expected


# ---------------------------------------------------------------------------
# embed-ann-ivfpq vs a pure-Python IVF-PQ (ADC) reference
# ---------------------------------------------------------------------------


def test_ivfpq_matches_pure_python_reference(spark, emb_small):
    from spark_file_mover_spark.llm.clustering import (
        _IVFPQ_NPROBE,
        _IVFPQ_NQ,
        _IVFPQ_TOPK,
        _PQ_CENTS,
        _PQ_DIM,
        _PQ_SUB,
        _pq_ival,
    )

    asg, cents, q = _py_kmeans(emb_small)

    def sqd(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def sub(vec, s):
        return vec[s * _PQ_DIM : (s + 1) * _PQ_DIM]

    # residual-PQ codes per corpus vector (ties -> lower code)
    codes = {}
    for vid, (_, cid) in asg.items():
        r = [a - b for a, b in zip(q[vid], cents[cid])]
        codes[vid] = (
            cid,
            [
                min(
                    range(_PQ_CENTS),
                    key=lambda j: (
                        sqd(sub(r, s), [_pq_ival(s, j, d) for d in range(_PQ_DIM)]),
                        j,
                    ),
                )
                for s in range(_PQ_SUB)
            ],
        )
    expected = {}
    for qid in [v for v in q if v < _IVFPQ_NQ]:
        probe = sorted(
            cents, key=lambda cid: (sqd(q[qid], cents[cid]), cid)
        )[:_IVFPQ_NPROBE]
        scored = []
        for vid, (cid, cvec) in codes.items():
            if cid not in probe:
                continue
            qr = [a - b for a, b in zip(q[qid], cents[cid])]
            adc = sum(
                sqd(
                    sub(qr, s),
                    [_pq_ival(s, cvec[s], d) for d in range(_PQ_DIM)],
                )
                for s in range(_PQ_SUB)
            )
            scored.append((adc, vid))
        for rank, (adc, vid) in enumerate(sorted(scored)[:_IVFPQ_TOPK], 1):
            expected[(qid, rank)] = (vid, adc)
    got = {
        (r["query_id"], r["rank"]): (r["cand_id"], r["adc_dist"])
        for r in registry.QUERIES["embed-ann-ivfpq"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# graph-label-propagation vs a pure-Python synchronous LPA
# ---------------------------------------------------------------------------


def test_lpa_matches_pure_python_reference(spark):
    import json

    t = pq.read_table(
        "/root/testdata/sf0.001/events.parquet",
        columns=["event_id", "user_id", "props"],
    )
    fwd = set()
    for eid, uid, props in zip(
        t.column("event_id").to_pylist(),
        t.column("user_id").to_pylist(),
        t.column("props").to_pylist(),
    ):
        if eid % 20 == 0:
            fwd.add((uid, 10**6 + int(json.loads(props)["k"])))
    adj: dict = {}
    for a, b in fwd:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n, neigh in adj.items():
            counts: dict = {}
            for m in neigh:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            new[n] = min(counts, key=lambda l: (-counts[l], l))
        labels = new
    sizes: dict = {}
    for l in labels.values():
        sizes[l] = sizes.get(l, 0) + 1
    expected = {
        n: (l, sizes[l], n >= 10**6) for n, l in labels.items()
    }
    got = {
        r["node_id"]: (r["label"], r["n_members"], r["is_entity"])
        for r in registry.QUERIES["graph-label-propagation"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# multimodal-image-exif vs genuine hand-packed TIFFs (both byte orders)
# ---------------------------------------------------------------------------


def _pack_tiff(width, height, orientation, little: bool) -> bytes:
    """A spec-valid minimal TIFF built with struct, independent of the
    operator's column-expression synthesizer: header, one IFD whose
    entries ascend by tag, SHORT values left-justified in the 4-byte
    field per TIFF 6.0."""
    import struct

    e = "<" if little else ">"
    entries = [
        (0x00FE, 4, struct.pack(e + "I", 0)),  # NewSubfileType LONG
        (0x0100, 4, struct.pack(e + "I", width)),  # ImageWidth LONG
        (0x0101, 3, struct.pack(e + "H", height) + b"\x00\x00"),  # SHORT
        (0x0112, 3, struct.pack(e + "H", orientation) + b"\x00\x00"),
    ]
    ifd = struct.pack(e + "H", len(entries))
    for tag, typ, vfield in entries:
        ifd += struct.pack(e + "HHI", tag, typ, 1) + vfield
    ifd += struct.pack(e + "I", 0)
    order = b"II" if little else b"MM"
    return order + struct.pack(e + "H", 42) + struct.pack(e + "I", 8) + ifd


def test_tiff_walk_parses_genuine_files(spark):
    from spark_file_mover_spark.llm.multimodal import with_tiff_meta

    fixtures = [
        (1, _pack_tiff(640, 480, 6, little=True), "II", 640, 480, 6),
        (2, _pack_tiff(31, 7, 1, little=False), "MM", 31, 7, 1),
        (3, b"not a tiff at all----", None, None, None, None),
        (4, b"II\x2b\x00????", None, None, None, None),  # BigTIFF magic 43
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c, *_ in fixtures], "asset_id long, content binary"
    )
    got = {
        r["asset_id"]: (
            r["byte_order"],
            r["width"],
            r["height"],
            r["orientation"],
        )
        for r in with_tiff_meta(df).collect()
    }
    for aid, _, order, w, h, o in fixtures:
        assert got[aid] == (order, w, h, o)


# ---------------------------------------------------------------------------
# sink-snapshot-read: snapshot isolation semantics
# ---------------------------------------------------------------------------


def test_snapshot_read_isolation(spark):
    t = pq.read_table(
        "/root/testdata/sf0.001/orders.parquet",
        columns=["o_orderkey"],
    )
    keys = t.column("o_orderkey").to_pylist()
    v1 = sum(1 for k in keys if k % 4 in (1, 3))
    v2 = sum(1 for k in keys if k % 4 in (0, 1, 2))
    rows = {
        r["snapshot"]: (r["n_files"], r["n_rows"])
        for r in registry.QUERIES["sink-snapshot-read"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    # v1 stays readable (and correct) after the v2 commit that logically
    # deleted one of its files — the snapshot-isolation contract
    assert rows == {"v1": (2, v1), "v2": (3, v2)}


# ---------------------------------------------------------------------------
# stream-disorder-metrics vs a pure-Python watermark tracker
# ---------------------------------------------------------------------------


def test_disorder_metrics_match_pure_python_watermark(spark):
    import hashlib

    t = pq.read_table(
        "/root/testdata/sf0.001/events.parquet",
        columns=["event_id", "user_id", "ts"],
    )
    per_user: dict = {}
    for eid, uid, ts in zip(
        t.column("event_id").to_pylist(),
        t.column("user_id").to_pylist(),
        t.column("ts").to_pylist(),
    ):
        akey = int(hashlib.md5(f"arr:{eid}".encode()).hexdigest()[:15], 16)
        per_user.setdefault(uid, []).append((akey, ts))
    from datetime import datetime

    epoch = datetime(1970, 1, 1)

    def esec(ts):
        # second-boundary semantics (both engines truncate EACH side to
        # seconds before subtracting), not truncation of the difference
        return int((ts - epoch).total_seconds() // 1)

    expected = {}
    for uid, evs in per_user.items():
        evs.sort()
        wm, n_late, max_late = None, 0, 0
        for _, ts in evs:
            if wm is not None and ts < wm:
                n_late += 1
                max_late = max(max_late, esec(wm) - esec(ts))
            wm = ts if wm is None else max(wm, ts)
        expected[uid] = (len(evs), n_late, max_late)
    got = {
        r["user_id"]: (r["n_events"], r["n_late"], r["max_late_s"])
        for r in registry.QUERIES["stream-disorder-metrics"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expected
    # the permutation must make the metric non-vacuous
    assert sum(v[1] for v in got.values()) > 0


# ---------------------------------------------------------------------------
# agg-sketch-theta-setops / scan-csv-corrupt-recover invariants
# ---------------------------------------------------------------------------


def test_theta_setops_exact_identities(spark):
    rows = registry.QUERIES["agg-sketch-theta-setops"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    for r in rows:
        # inclusion-exclusion on the EXACT side is an identity
        assert r["n_intersect"] == r["n_a"] + r["n_b"] - r["n_union"]
        # real PARTIAL overlap: not disjoint, neither side contained
        assert 0 < r["n_intersect"] < min(r["n_a"], r["n_b"])
        assert r["union_in_band"] and r["intersect_in_band"]


def test_csv_failfast_raises_where_permissive_recovers(spark, tmp_path):
    """The third mode: FAILFAST must abort on the same feed PERMISSIVE
    recovers (pinning that the corruption is real, not schema-tolerated)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import functions as F

    base = str(tmp_path)
    spark.createDataFrame(
        [("1,GOOD,4",), ("2,BAD,not_a_number",)], "value string"
    ).coalesce(1).write.mode("overwrite").text(base + "/feed")
    reader = (
        spark.read.schema("k INT, name STRING, r INT")
        .option("mode", "FAILFAST")
        .csv(base + "/feed")
    )
    with pytest.raises(Py4JJavaError):
        reader.collect()


# ---------------------------------------------------------------------------
# sample-balanced-downsample: balance + determinism invariants
# ---------------------------------------------------------------------------


def test_balanced_downsample_is_balanced_and_deterministic(spark):
    t = pq.read_table(
        "/root/testdata/sf0.001/documents.parquet", columns=["lang"]
    )
    langs = t.column("lang").to_pylist()
    target = min(langs.count(l) for l in set(langs))
    q = registry.QUERIES["sample-balanced-downsample"]
    first = q(spark, "/root/testdata/sf0.001").collect()
    again = q(spark, "/root/testdata/sf0.001").collect()
    assert first == again  # hash selection is run-stable
    for r in first:
        assert r["n_after"] == target  # every class at exactly the minimum
        assert r["n_before"] >= r["n_after"]


# ---------------------------------------------------------------------------
# join-asof-tolerance vs a pure-Python as-of-with-tolerance reference
# ---------------------------------------------------------------------------


def test_asof_tolerance_matches_pure_python_reference(spark):
    from datetime import datetime, timedelta

    ev = pq.read_table(
        "/root/testdata/sf0.001/events.parquet",
        columns=["event_id", "user_id"],
    )
    od = pq.read_table(
        "/root/testdata/sf0.001/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_orderdate"],
    )
    orders: dict = {}
    for k, c, d in zip(
        od.column("o_orderkey").to_pylist(),
        od.column("o_custkey").to_pylist(),
        od.column("o_orderdate").to_pylist(),
    ):
        orders.setdefault(c, []).append((d, k))
    for c in orders:
        orders[c].sort()
    base = datetime(1995, 1, 1)
    expected = {}
    for eid, uid in zip(
        ev.column("event_id").to_pylist(), ev.column("user_id").to_pylist()
    ):
        asof = base + timedelta(days=eid % 2400)
        elig = [(d, k) for d, k in orders.get(uid, []) if d <= asof]
        if not elig:
            expected[eid] = (None, None, False)
            continue
        d, k = max(elig)  # latest date, then max orderkey
        if d >= asof - timedelta(days=90):
            expected[eid] = (k, (asof - d).days, False)
        else:
            expected[eid] = (None, None, True)
    got = {
        r["event_id"]: (
            r["matched_orderkey"],
            r["staleness_days"],
            r["too_stale"],
        )
        for r in registry.QUERIES["join-asof-tolerance"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expected
    # all three states must occur or the operator is vacuous
    states = {
        (v[0] is not None, v[2]) for v in got.values()
    }
    assert {(True, False), (False, True), (False, False)} <= states


# ---------------------------------------------------------------------------
# window-distribution / fn-variant-json semantics
# ---------------------------------------------------------------------------


def test_window_distribution_invariants(spark):
    rows = registry.QUERIES["window-distribution"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_seg: dict = {}
    for r in rows:
        by_seg.setdefault(r["c_mktsegment"], []).append(r)
    for seg_rows in by_seg.values():
        prs = sorted(r["pr"] for r in seg_rows)
        cds = sorted(r["cd"] for r in seg_rows)
        assert prs[0] == 0.0 and prs[-1] == 1.0
        assert cds[-1] == 1.0 and cds[0] > 0.0
        # nth_value over the running frame: NULL for the first two rows
        n_null = sum(1 for r in seg_rows if r["third_key"] is None)
        assert n_null == min(2, len(seg_rows))


def test_variant_missing_path_and_agreement(spark):
    rows = registry.QUERIES["fn-variant-json"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    assert all(r["paths_agree"] for r in rows)
    assert all(r["missing_field"] is None for r in rows)
    assert all(r["vtype"] == "OBJECT<k: BIGINT>" for r in rows)


# ---------------------------------------------------------------------------
# text-containment vs a pure-Python containment reference (sf0.01 — the
# relation is sparse; sf0.001 has no qualifying pair)
# ---------------------------------------------------------------------------


def test_containment_matches_pure_python_reference(spark):
    import re

    t = pq.read_table(
        "/root/testdata/sf0.01/documents.parquet",
        columns=["doc_id", "lang", "source", "text"],
    )
    docs = list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("lang").to_pylist(),
            t.column("source").to_pylist(),
            t.column("text").to_pylist(),
        )
    )
    shingles = {}
    for did, lang, src, text in docs:
        tk = re.split(r"\s+", text.strip().lower())
        s = (
            {" ".join(tk[i : i + 4]) for i in range(len(tk) - 3)}
            if len(tk) >= 4
            else set()
        )
        shingles[did] = ((lang, src), s)
    # hot-shingle guard: df per (block, gram) <= 20
    df: dict = {}
    for did, (blk, s) in shingles.items():
        for g in s:
            df[(blk, g)] = df.get((blk, g), 0) + 1
    rare = {
        did: (blk, {g for g in s if df[(blk, g)] <= 20})
        for did, (blk, s) in shingles.items()
    }
    expected = {}
    for a, (blk_a, sa) in rare.items():
        if not sa:
            continue
        best = None
        for b, (blk_b, sb) in rare.items():
            if a == b or blk_a != blk_b or not sb:
                continue
            c = round(len(sa & sb) / len(sa), 6)
            if c >= 0.5 and (best is None or (-c, b) < best):
                best = (-c, b)
        if best is not None:
            expected[a] = (best[1], -best[0], -best[0] >= 0.8)
    got = {
        r["doc_id"]: (r["container_id"], r["containment"], r["is_contained"])
        for r in registry.QUERIES["text-containment"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert got == expected
    assert got, "fixture must exercise at least one containment pair"


def test_kmeans_every_cluster_nonempty_and_keys_complete(spark):
    rows = registry.QUERIES["embed-kmeans-lloyd"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == len({r["vec_id"] for r in rows}) == 500
    # K=8 seeded from 8 distinct vectors: with real data every cluster
    # should retain at least its seed-adjacent mass
    assert {r["cluster"] for r in rows} == set(range(8))
    assert all(r["dist"] >= 0 for r in rows)


def test_tiff_walk_stays_in_codegen(spark):
    """The r12 verdict caught the single-stage IFD walk compiling past
    janino's 64 KB method limit and silently running interpreted. The
    layered per-entry hop form must compile: run the full key with the
    whole-stage fallback DISABLED so any compile failure is fatal
    instead of silently degrading."""
    from spark_file_mover_spark.llm.multimodal import multimodal_image_exif

    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = multimodal_image_exif(spark, "/root/testdata/sf0.001").collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert len(rows) > 0 and all(r["magic_ok"] for r in rows)
