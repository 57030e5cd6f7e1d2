"""Physical-plan assertions: the optimizations the engine's scale story
depends on must be visible in the plan, not assumed. A refactor that
silently drops a pushed filter or un-broadcasts a dim join should fail
CI, not a 100 TB run."""

from __future__ import annotations

import pytest
from pyspark.sql.functions import col as F_col

from graph_reference import loop_path
from spark_file_mover_spark import registry
from spark_file_mover_spark.profile import formatted_plan

registry.load_all()


def test_scan_parquet_pushes_filter_and_prunes(spark, sf_dir):
    plan = formatted_plan(registry.QUERIES["scan-parquet"](spark, sf_dir))
    assert "PushedFilters: [In(n_regionkey," in plan
    # pruned read schema: exactly the three projected columns
    assert "struct<n_nationkey:int,n_name:string,n_regionkey:int>" in plan


def test_agg_hash_pushes_date_filter(spark, sf_dir):
    plan = formatted_plan(registry.QUERIES["agg-hash"](spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("ReadSchema")[0]


def test_join_broadcast_uses_broadcast_hash_join(spark, sf_dir):
    plan = formatted_plan(registry.QUERIES["join-broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_join_pushes_date_range_to_orders_scan(spark, sf_dir):
    plan = formatted_plan(registry.QUERIES["join-multiway-star"](spark, sf_dir))
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LessThan(o_orderdate" in plan
    # lineitem scan reads only the 3 needed columns
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    plan = formatted_plan(registry.QUERIES["topk-per-group"](spark, sf_dir))
    # two WindowGroupLimit nodes = partial (map-side, before the
    # exchange) + final; full partitions never shuffle
    assert plan.count("WindowGroupLimit (") >= 2


def test_sort_limit_uses_take_ordered(spark, sf_dir):
    plan = formatted_plan(registry.QUERIES["sort-limit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """The whole point of sink-bucketed: both sides pre-bucketed on the
    join key → SortMergeJoin with zero shuffles feeding it. At test scale
    the planner would (correctly) prefer a broadcast join, which hides
    the bucketed path — disable broadcast to observe the plan that runs
    when BOTH sides are too big to broadcast, i.e. the 100 TB case."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.QUERIES["sink-bucketed"](spark, sf_dir)
        plan = formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    # the ONLY Exchange allowed is the post-join aggregation shuffle
    import re

    names = [n for _, n in re.findall(r"\((\d+)\) (\w+)", plan)]
    ji = names.index("SortMergeJoin")
    assert "Exchange" not in names[:ji], names[: ji + 1]


def test_no_cartesian_products_in_relational_queries(spark, sf_dir):
    """Cross joins are only ever legitimate against broadcast-small sides
    (sim-search query sets, centroids); no relational/agg/window query may
    plan a CartesianProduct."""
    for key in [
        "join-inner-equi",
        "join-left-right-full",
        "join-semi-anti",
        "join-multiway-star",
        "agg-hash",
        "window-ranking",
    ]:
        plan = formatted_plan(registry.QUERIES[key](spark, sf_dir))
        assert "CartesianProduct" not in plan, key


def test_oracle_queries_emit_only_atomic_types(spark, sf_dir):
    """The scoring harness canonicalizes cells with a pandas sort, which
    cannot hash list/map/struct cells (the r02 fn-array failure: array
    columns -> 'unhashable type: list'). Every oracle-checked query must
    therefore emit only atomic column types — serialize arrays with
    array_join/to_json before output. Only the returned schema is
    inspected, but note that building a write-path query's DataFrame
    runs its fixture writes (the function bodies are eager up to the
    returned plan)."""
    from pyspark.sql import types as T

    complex_types = (T.ArrayType, T.MapType, T.StructType)
    offenders = []
    for key in sorted(registry.ORACLES):
        schema = registry.QUERIES[key](spark, sf_dir).schema
        for field in schema.fields:
            if isinstance(field.dataType, complex_types):
                offenders.append((key, field.name, field.dataType.simpleString()))
    assert not offenders, f"complex-typed output in oracle-checked keys: {offenders}"


def test_oracle_sql_emits_only_driver_safe_duck_types(duck):
    """Oracle-side twin of the atomic-type lint above, closing the r4
    blind spot: DuckDB's integer SUM() returns HUGEINT, which fetchall()
    round-trips exactly (so local parity stayed green) but the driver's
    pandas-path canonicalization coerces to float64, shredding 60-bit
    fingerprints (dedup-simhash, sample-pack-sequences r4 hash-FAILs).
    Binding the relation type-checks without executing, so this lint is
    cheap and runs over every registered oracle."""
    from tests.parity import _SAFE_DUCK_TYPES

    offenders = []
    for key in sorted(registry.ORACLES):
        rel = duck.sql(registry.ORACLES[key])
        for col, typ in zip(rel.columns, rel.types):
            if str(typ) not in _SAFE_DUCK_TYPES:
                offenders.append((key, col, str(typ)))
    assert not offenders, (
        f"oracle columns with driver-unsafe DuckDB types: {offenders}"
    )


def test_registered_queries_tune_plain_sessions(spark, sf_dir):
    """The driver hands queries a PLAIN SparkSession; the registry wrapper
    must apply the engine posture (shuffle partitions sized to the
    session's parallelism, not the 200 default; UTC)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        registry.QUERIES["project-select"](spark, sf_dir)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            spark.sparkContext.defaultParallelism
        )
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval gram set must reach the corpus side as a broadcast
    semi-join — a shuffled join here would move the full corpus' gram
    hashes twice at 100 TB for an eval side that is small by nature."""
    plan = formatted_plan(registry.QUERIES["text-decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_stream_join_is_equi_not_nested_loop(spark, sf_dir):
    """The interval join must plan as an equi join on user_id with the
    time range as a residual condition — BroadcastNestedLoop over two
    fact-sized event streams would be quadratic at scale."""
    plan = formatted_plan(registry.QUERIES["stream-join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sorted_pruning_sink_pushes_date_range(spark, sf_dir):
    """The whole point of B10: the re-read of the range-partitioned,
    sorted layout must carry the date predicate into the parquet scan so
    row-group min/max stats can skip."""
    plan = formatted_plan(registry.QUERIES["sink-sorted-pruning"](spark, sf_dir))
    scan = plan.split("ReadSchema")[0]
    assert "GreaterThanOrEqual(l_shipdate" in scan
    assert "LessThanOrEqual(l_shipdate" in scan


def test_lateral_topk_decorrelates_to_window(spark, sf_dir):
    """The correlated LATERAL LIMIT-1 subquery must decorrelate into a
    ranked window — the naive interpretation re-scans orders once per
    customer row."""
    plan = formatted_plan(registry.QUERIES["join-lateral-topk"](spark, sf_dir))
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_chunk_and_quantize_are_map_only(spark, sf_dir):
    """text-chunk-sliding and embed-quantize-int8 are per-row transforms;
    the ONLY exchange allowed is the final presentation sort. A shuffle
    appearing earlier means the map-only scale story silently broke."""
    import re

    for key in ["text-chunk-sliding", "embed-quantize-int8"]:
        plan = formatted_plan(registry.QUERIES[key](spark, sf_dir))
        names = [n for _, n in re.findall(r"\((\d+)\) (\w+)", plan)]
        assert names.count("Exchange") <= 1, (key, names)
        si = names.index("Sort")
        assert "Exchange" not in names[si + 2:], (key, names)


def test_quantize_pins_absmax_behind_generate_barrier(spark, sf_dir):
    """The Generate (explode-of-one) barrier is what keeps absmax and the
    quantized array at ONE evaluation per row instead of per element —
    CollapseProject would otherwise inline them into the per-element
    lambdas (O(d) -> O(d^2) per row)."""
    plan = formatted_plan(registry.QUERIES["embed-quantize-int8"](spark, sf_dir))
    assert plan.count("Generate (") >= 2


def test_lsh_broadcasts_query_side(spark, sf_dir):
    """sim-search-lsh retrieval is a bucket equi-join with the (tiny)
    query side broadcast — the corpus must never shuffle for a probe."""
    plan = formatted_plan(registry.QUERIES["sim-search-lsh"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_uses_window_group_limit_and_broadcast_scalar(spark, sf_dir):
    """Per-doc ranking must collapse to WindowGroupLimit (partial+final)
    and the corpus-count scalar joins as a broadcast, not a shuffle."""
    plan = formatted_plan(registry.QUERIES["text-tfidf-topk"](spark, sf_dir))
    assert plan.count("WindowGroupLimit (") >= 2
    assert "CartesianProduct" not in plan


def test_lsh_bucketed_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The literal scale path sim-search-lsh documents: corpus written
    partitioned by LSH bucket, probe filtered to one bucket must prune
    at planning time (PartitionFilters on the scan, not a post-scan
    Filter over all buckets) and return exactly that bucket's rows."""
    from spark_file_mover_spark.llm.similarity import (
        _LSH_BUCKET_BITS,
        _lsh_sig,
        lsh_probe_bucketed,
        lsh_write_bucketed,
    )
    from spark_file_mover_spark.sources.io import load_table
    from pyspark.sql import functions as F

    out = str(tmp_path / "lsh_corpus")
    lsh_write_bucketed(spark, sf_dir, out)

    e = load_table(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select(
        "embedding", _lsh_sig(F.col("embedding"), _LSH_BUCKET_BITS).alias("b")
    ).collect()[0]
    probe = lsh_probe_bucketed(spark, out, row.embedding, row.b)
    plan = formatted_plan(probe)
    assert "PartitionFilters" in plan and "bucket" in plan
    # pruned read: every returned row is from the probed bucket, and the
    # count matches a full-scan bucket count
    expected = (
        e.select(_lsh_sig(F.col("embedding"), _LSH_BUCKET_BITS).alias("b"))
        .filter(F.col("b") == row.b)
        .count()
    )
    assert probe.count() == expected > 0


def test_lsh_multiprobe_supersets_single_probe(spark, sf_dir, tmp_path):
    """Multiprobe must (a) still prune partitions via the bucket IN
    filter, (b) return a strict superset of the single-bucket probe's
    candidates, and (c) preserve the single-probe ranking among the
    shared candidates (scores are identical expressions)."""
    from spark_file_mover_spark.llm.similarity import (
        lsh_probe_bucketed,
        lsh_probe_multiprobe,
        lsh_write_bucketed,
        _lsh_sig,
        _LSH_BUCKET_BITS,
    )
    from spark_file_mover_spark.sources.io import load_table
    from pyspark.sql import functions as F
    import re

    out = str(tmp_path / "lsh_corpus_mp")
    lsh_write_bucketed(spark, sf_dir, out)
    e = load_table(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 1).select(
        "embedding", _lsh_sig(F.col("embedding"), _LSH_BUCKET_BITS).alias("b")
    ).collect()[0]

    single = lsh_probe_bucketed(spark, out, row.embedding, row.b).collect()
    multi = lsh_probe_multiprobe(spark, out, row.embedding, n_flip=1)
    plan = formatted_plan(multi)
    assert "PartitionFilters" in plan
    mrows = multi.collect()
    single_ids = {r.vec_id for r in single}
    multi_ids = {r.vec_id for r in mrows}
    assert single_ids <= multi_ids
    # >= not >: whether the 6 Hamming-1 flip buckets hold any vectors
    # depends on the (regenerated-per-round) testdata. What IS invariant
    # is the probe set itself: 1 + _LSH_BUCKET_BITS (= 1 + C(6,1)) bucket
    # values in the pruning filter vs exactly one for the single probe.
    assert len(multi_ids) >= len(single_ids)
    in_lists = re.findall(r"bucket#\d+L? IN \(([^)]*)\)", plan)
    assert in_lists, f"no bucket IN-list in the pruned scan:\n{plan}"
    assert len(in_lists[0].split(",")) == 1 + _LSH_BUCKET_BITS
    mscore = {r.vec_id: r.cos for r in mrows}
    for r in single:
        assert mscore[r.vec_id] == r.cos


def test_minhash_guard_window_runs_once_inside_cache(spark, sf_dir):
    """r6 pin for the minhash pair stage: the oversized-bucket guard
    window is computed ONCE (inside the persisted bands relation) and
    both self-join sides read the cache. The r5 shape persisted the
    pre-guard relation and let AQE's broadcast conversion silently run
    the guard's Sort+Window+Exchange twice — once per join side.

    The pin targets the COLD build plan, so the cross-invocation bands
    artifact is evicted first (a warm InMemoryRelation renders its
    materialized adaptive plan per scan, inflating the textual
    windowspec count without any extra execution)."""
    import re

    from spark_file_mover_spark.sources import io as _io

    for k in [k for k in _io._ARTIFACTS if k[1] == "minhash-bands"]:
        _io._release(_io._ARTIFACTS.pop(k))
    # the r15 built-plan cache must be evicted WITH the relation it
    # references, or the stale plan would render the unpersisted shape
    for k in [
        k for k in _io._QUERY_PLAN_CACHE if k[1] == "dedup-near-minhash"
    ]:
        del _io._QUERY_PLAN_CACHE[k]
    df = registry.QUERIES["dedup-near-minhash"](spark, sf_dir)
    plan = formatted_plan(df)
    # the guard window appears exactly once (in the cached plan)...
    assert len(re.findall(r"windowspecdefinition\(band#", plan)) == 1, plan
    # ...both pair-join sides are cache scans...
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 2, plan
    # ...and no (band, sig) exchange exists OUTSIDE the cached subtree:
    # the pair join itself adds no shuffle.
    assert len(re.findall(r"Exchange hashpartitioning\(band#", plan)) == 0, plan


def test_gopher_rules_is_map_only(spark, sf_dir):
    """r7 pin: the full rule panel is one scan — zero exchanges, zero
    Python (every signal is built-in column math over (doc_id, text))."""
    plan = formatted_plan(registry.QUERIES["text-gopher-rules"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_image_phash_shuffles_ids_only(spark, sf_dir):
    """r7 pin for dedup-image-phash: every exchange moves only
    (asset_id, phash, band, bits[, bn]) — the payload text column never
    crosses a shuffle (the minhash 100 TB contract, image-flavored)."""
    import re

    df = registry.QUERIES["dedup-image-phash"](spark, sf_dir)
    df.collect()
    plan = formatted_plan(df)
    blocks = re.split(r"\n\n", plan)
    checked = 0
    for block in blocks:
        if not re.match(r"\(\d+\) Exchange", block.strip()):
            continue
        inputs = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        assert inputs, block
        cols = inputs.group(1)
        assert "text" not in cols, (
            f"payload column crosses an exchange: {cols}"
        )
        checked += 1
    assert checked >= 1, "no exchange found in plan — shape changed?"


def test_zorder_sink_pushes_both_dimension_filters(spark, sf_dir):
    """r7 pin for sink-zorder: the whole point of the z-order layout is
    that the re-read scan receives BOTH dimension predicates as pushed
    filters (file/row-group min-max pruning then works on either)."""
    plan = formatted_plan(registry.QUERIES["sink-zorder"](spark, sf_dir))
    scan_part = plan.split("ReadSchema")[0]
    assert "GreaterThanOrEqual(o_custkey,100)" in plan
    assert "LessThanOrEqual(o_custkey,600)" in plan
    assert "o_orderdate" in scan_part and "PushedFilters" in plan


def test_parity_holds_with_aqe_disabled(spark, sf_dir, duck):
    """Config-robustness pin: results must not depend on AQE's runtime
    re-planning (broadcast conversions, partition coalescing, skew
    splits). One representative per plan family re-runs with
    spark.sql.adaptive.enabled=false and must still hash-match its
    DuckDB oracle — a query whose VALUES change under a different
    physical strategy has an order/partition dependence bug."""
    import sys

    sys.path.insert(0, "tests")
    from parity import compare

    keys = [
        "agg-hash",  # partial+final agg
        "join-multiway-star",  # broadcast chain
        "topk-per-group",  # WindowGroupLimit
        "dedup-paragraph",  # hash-shuffle + doc-local rebuild
        "agg-retention-cohort",  # distinct + min-groupBy + broadcast
        "dedup-cross-bloom",  # bit_or bitmap + semi join
    ]
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for key in keys:
            # __wrapped__ skips the registry's tune_session wrapper,
            # which would silently re-enable AQE and void this test
            fn = registry.QUERIES[key].__wrapped__
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            ok, msg = compare(
                fn(spark, sf_dir), duck.sql(registry.ORACLES[key])
            )
            assert ok, (key, msg)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_dpp_join_prunes_fact_partitions_at_runtime(spark, sf_dir):
    """scan-dpp-join's entire point: the fact scan must carry a
    DynamicPruningExpression in its PartitionFilters (runtime pruning
    from the dim's broadcast — 5 of 7 year partitions never read) and
    the pruning subquery must REUSE the join's broadcast exchange, not
    run a second dim scan."""
    df = registry.QUERIES["scan-dpp-join"](spark, sf_dir)
    df.collect()  # finalize AQE so exchange reuse is decided, not pending
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()
    assert "ReusedExchange" in plan


def test_pq_encode_is_map_only(spark, sf_dir):
    """embed-pq-encode's scale claim: zero shuffle before the
    presentation sort — exactly ONE Exchange (the orderBy range
    partitioning) and the two pinned projection layers (Generate
    barriers) that stop CollapseProject re-slicing subvectors."""
    df = registry.QUERIES["embed-pq-encode"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert plan.count("Generate") == 2


def test_reservoir_uses_partial_topk_not_global_sort(spark, sf_dir):
    """sample-reservoir-weighted must run the top-(k+1) as
    TakeOrderedAndProject (per-partition heaps) with the one-row tau
    aggregate broadcast back — a global Sort+Exchange over the corpus
    would be the unscalable formulation."""
    df = registry.QUERIES["sample-reservoir-weighted"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_ivfpq_broadcasts_adc_tables(spark, sf_dir):
    """embed-ann-ivfpq's query path: the ADC lookup tables
    (queries x nprobe x 128 integer rows) must reach the candidate
    join as broadcasts — shuffling candidates against them would move
    the corpus-sized side for a metadata-sized table."""
    df = registry.QUERIES["embed-ann-ivfpq"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan and "BroadcastHashJoin" in plan


def test_variant_json_is_map_only(spark, sf_dir):
    """fn-variant-json is a pure projection over the scan: one
    Exchange only (the presentation sort), no Python, no Generate."""
    df = registry.QUERIES["fn-variant-json"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Python" not in plan


def test_containment_shuffles_hashes_not_text(spark, sf_dir):
    """text-containment's scale contract: after the scan stage, gram
    STRINGS and document text never appear in an exchange — shingles
    cross as 8-byte xxhash64 keys (the text-dup-span pin, containment
    flavored)."""
    df = registry.QUERIES["text-containment"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line


def test_ks_drift_aggregates_distinct_values_before_window(spark, sf_dir):
    """E17's scale claim: the window runs over the DISTINCT
    (event_type, cents) relation — a hash aggregate must sit between
    the scan and the first Window, and the window's sort must be by
    cents (the distribution axis), never by raw event rows."""
    import re

    plan = formatted_plan(registry.QUERIES["agg-ks-drift"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    # a HashAggregate sits between the scan and the first Window in the
    # tree (operators print leaf-last, so aggregate appears BELOW window
    # textually — check both are present and aggregate count is 4:
    # partial+final distinct-collapse, partial+final sup)
    assert tree.count("HashAggregate") == 4
    assert tree.count("Window") == 2
    # exactly two hash exchanges: (type, cents) for the distinct
    # collapse, (type) for the windows; the final agg reuses the
    # window's partitioning
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 2


def test_session_batch_windows_share_one_exchange(spark, sf_dir):
    """F10's scale claim: lag + running sum + both rollups ride ONE
    user_id exchange (shared partitioning and sort)."""
    import re

    plan = formatted_plan(registry.QUERIES["window-session-batch"](spark, sf_dir))
    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hashparts == ["user_id"], hashparts
    assert plan.split("(1) Scan")[0].count("Window") == 2


def test_bloom_prefilter_reaches_orders_scan(spark, sf_dir):
    """D13's point: the Bloom probe must appear in the orders scan's
    DataFilters (evaluated before any exchange), and the residual join
    must broadcast the dim side."""
    import re

    plan = formatted_plan(registry.QUERIES["join-bloom-prefilter"](spark, sf_dir))
    # a Filter whose input is exactly the orders scan's two columns
    # carries the bloom probe — scan-adjacent, inside the scan's
    # whole-stage, before any exchange
    m = re.search(
        r"Filter\nInput \[2\]: \[o_custkey#\d+L, o_orderpriority#\d+\]\n"
        r"Condition : .*element_at",
        plan,
    )
    assert m, "bloom probe not scan-adjacent on orders"
    # the ONLY exchanges are the post-join aggregate's — no exchange
    # ever carries unfiltered fact rows
    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert set(hashparts) == {"o_orderpriority"}, hashparts
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interleave_uses_take_ordered_prefix(spark, sf_dir):
    """I47's scale claim: the stream prefix is TakeOrderedAndProject
    (per-task top-k), not a global sort materialization; the position
    window runs AFTER the limit."""
    import re

    plan = formatted_plan(registry.QUERIES["sample-interleave-sources"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # one exchange for the per-source window; the post-limit position
    # window is single-partition over k rows and needs no hash exchange
    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hashparts == ["source"], hashparts


def test_asof_nearest_single_exchange_two_windows(spark, sf_dir):
    """D14's scale claim: the nearest-direction as-of is still the
    union-and-window form — ONE shuffle on the key, two in-partition
    sorts (backward + mirrored forward windows), and no inequality
    join anywhere."""
    import re

    plan = formatted_plan(registry.QUERIES["join-asof-nearest"](spark, sf_dir))
    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hashparts == ["key"], hashparts
    assert plan.split("(1) Scan")[0].count("Window") == 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pairs_are_one_gemm_per_cluster(spark, sf_dir):
    """I49's scale claim: the pair space is bounded by the cluster key
    and produced by ONE Arrow batch per cluster (FlatMapGroupsInPandas
    doing an int64 gemm — the expression-tree pair join measured
    28 µs/pair interpreted); no cartesian product anywhere, and the
    top-1 neighbor takes the WindowGroupLimit path."""
    plan = formatted_plan(registry.QUERIES["dedup-semdedup"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_scd2_temporal_no_inequality_join(spark, sf_dir):
    """D15's scale claim: the point-in-time lookup is the
    union-and-window carry — exchanges only on the key, no
    nested-loop/cartesian anywhere."""
    import re

    plan = formatted_plan(registry.QUERIES["join-scd2-temporal"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    hashparts = set(
        re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    )
    assert hashparts <= {"key", "o_custkey"}, hashparts


def test_quantile_exact_distribution_before_window(spark, sf_dir):
    """E19's scale claim: the CDF window runs over the DISTINCT
    (priority, price) relation, never raw order rows — a hash
    aggregate between scan and window (the E17 shape), exchanges on
    (priority, price) then (priority), final agg reusing the window's
    partitioning, and no global sort / row_number over the raw scan."""
    import re

    plan = formatted_plan(registry.QUERIES["agg-quantile-exact"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    # CDF + per-group total split into two Window nodes over the SAME
    # Exchange+Sort (different frames; the E17 posture)
    assert tree.count("Window") == 2
    # partial+final distinct collapse + partial+final rank-pick agg
    assert tree.count("HashAggregate") == 4
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 2
    assert "TakeOrderedAndProject" not in tree.split("Window")[0]


def test_entropy_windows_aggregated_relation(spark, sf_dir):
    """E20's scale claim: the normalizer window runs over the
    (source, lang) AGGREGATED relation (cardinality-bounded), not the
    scan; only grouping keys cross the first exchange."""
    import re

    plan = formatted_plan(registry.QUERIES["agg-entropy"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Window") == 1
    assert tree.count("HashAggregate") == 4
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 2
    # the scan reads only the three needed columns
    assert "ReadSchema" in plan
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_range_rolling_single_window_node(spark, sf_dir):
    """F11's scale claim: one Exchange on user_id + one integer-time
    sort serves ALL THREE frame aggregates — a single Window node,
    no per-frame re-sort, no extra exchange."""
    import re

    plan = formatted_plan(registry.QUERIES["window-range-rolling"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Window") == 1
    assert tree.count("Sort") == 1
    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hashparts == ["user_id"], hashparts


def test_winnowing_shuffles_ints_not_text(spark, sf_dir):
    """I50's scale contract: after the scan stage the document text and
    gram strings never cross an exchange — the per-doc window receives
    (doc_id, pos, key) integers only (the containment/dup-span pin,
    winnowing flavored)."""
    df = registry.QUERIES["text-winnowing"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line
            assert "tk#" not in line, line


def test_bfs_levels_no_cartesian(spark, sf_dir):
    """K4: frontier expansion is an equi-join on node ids — no
    nested-loop/cartesian anywhere in the final composed plan, on the
    one-task kernel path and on the shuffled loop past the gate."""
    fn = registry.QUERIES["graph-bfs-levels"]
    plans = [formatted_plan(fn(spark, sf_dir))]
    with loop_path(spark):
        plans.append(formatted_plan(fn(spark, sf_dir)))
    assert "MapInPandas" not in plans[1]
    for plan in plans:
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "key",
    ["graph-pagerank", "graph-personalized-pagerank", "graph-bfs-levels"],
)
def test_graph_kernel_path_is_one_task(spark, sf_dir, key):
    """K1/K15/K4 under the one-task gate: exactly one MapInPandas node
    with no Exchange below it, and a warm build runs no Spark job (the
    job-id window around it reads 0)."""
    fn = registry.QUERIES[key]
    fn(spark, sf_dir)  # warm the ingest artifacts
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.numTotalJobs()
    df = fn(spark, sf_dir)
    assert dag.numTotalJobs() - j0 == 0
    tree = formatted_plan(df).split("\n\n")[0]
    assert tree.count("MapInPandas") == 1
    below = tree.split("MapInPandas", 1)[1]
    assert "Exchange" not in below, tree


def test_ewma_single_window_node(spark, sf_dir):
    """F12's scale claim: all 8 lag terms + mask + count ride ONE
    exchange on user_id and one (ts_us, event_id) sort — a single
    Window node."""
    import re

    plan = formatted_plan(registry.QUERIES["window-ewma-decay"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Window") == 1
    assert tree.count("Sort") == 1
    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hashparts == ["user_id"], hashparts


def test_benford_distribution_before_window(spark, sf_dir):
    """E21's scale claim: the chi-square window runs over the
    (flag, digit) AGGREGATED relation (<= flags x 9 rows), never the
    scan; two hash exchanges total."""
    import re

    plan = formatted_plan(registry.QUERIES["agg-benford-digit"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    # partial+final digit-histogram agg; chi2/share are windows over the
    # aggregated relation — no second groupBy exists
    assert tree.count("HashAggregate") == 2
    assert tree.count("Window") >= 1
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 2


def test_distinct_bitmap_partial_agg(spark, sf_dir):
    """E22's scale claim: bit_or folds map-side (a partial aggregate
    exists for the word relation), the audit join broadcasts, and the
    scan reads only (event_type, user_id)."""
    plan = formatted_plan(registry.QUERIES["agg-distinct-bitmap"](spark, sf_dir))
    assert "partial_bit_or" in plan or "partial_bitor" in plan.lower()
    assert "BroadcastHashJoin" in plan
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "user_id" in rs and "props" not in rs and "value" not in rs


def test_proportion_ztest_shape(spark, sf_dir):
    """E23's scale claim: the population relation is broadcast (2 rows
    against the 5-row metric table — no shuffle for the cross join)
    and no cartesian product on a non-broadcast side exists."""
    plan = formatted_plan(registry.QUERIES["agg-proportion-ztest"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "props" not in rs and "value" not in rs


def test_streaks_one_user_exchange_after_distinct(spark, sf_dir):
    """F13's scale claim: beyond the distinct's own exchange, ONE
    user_id exchange serves the row_number window, the island
    aggregate, and the per-user rollup — two hash exchanges total,
    both leading with user_id."""
    import re

    plan = formatted_plan(registry.QUERIES["window-streaks"](spark, sf_dir))
    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hashparts == ["user_id", "user_id"], hashparts
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Window") == 2  # row_number + max-len; no re-sort agg


def test_triangle_count_no_cartesian_int_shuffles(spark, sf_dir):
    """K5's scale claims: every join is an equi-join (no cartesian /
    nested loop on non-broadcast sides), and nothing wider than ids +
    degrees crosses an exchange (props/text never shuffle)."""
    df = registry.QUERIES["graph-triangle-count"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    for line in exec_plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "props#" not in line, line


def test_edit_distance_candidates_shuffle_ints(spark, sf_dir):
    """I51's scale claims: the candidate machinery shuffles
    (doc_id, h40) integers only — document text crosses an exchange
    ONLY in the verify stage's id-keyed text joins, never keyed by or
    carried with gram/fingerprint strings — and no cartesian exists."""
    df = registry.QUERIES["dedup-edit-distance"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    for line in exec_plan.splitlines():
        if "Exchange hashpartitioning" in line and "h40#" in line:
            assert "text#" not in line and "norm#" not in line, line
        if "Exchange hashpartitioning" in line:
            assert "tk#" not in line, line


def test_gif_meta_map_only(spark, sf_dir):
    """multimodal-gif-meta is map-only: no exchange before the final
    driver-hash sort; the scan reads only (asset_id, content) from the
    per-(SparkContext, sf_dir) asset corpus — never document text."""
    plan = formatted_plan(registry.QUERIES["multimodal-gif-meta"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "asset_id" in rs and "text" not in rs


def test_zscore_anomaly_single_window(spark, sf_dir):
    """F14's scale claim: count + both moment sums share ONE Window
    node on one user_id exchange and one (ts_us, event_id) sort."""
    import re

    plan = formatted_plan(registry.QUERIES["window-zscore-anomaly"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Window") == 1
    assert tree.count("Sort") == 1
    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hashparts == ["user_id"], hashparts


def test_ols_trend_single_partial_agg(spark, sf_dir):
    """E24's scale claim: one two-phase hash aggregate (partial+final)
    collapses the scan to 6 moments per group — exactly one hash
    exchange, no window, no sort before the output ordering."""
    import re

    plan = formatted_plan(registry.QUERIES["agg-ols-trend"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    assert tree.count("HashAggregate") == 2
    assert tree.count("Window") == 0
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1


def test_snapshot_diff_single_join(spark, sf_dir):
    """F15's scale claim: ONE full-outer SortMergeJoin on the key, the
    3-column projection pushed into both scans."""
    plan = formatted_plan(registry.QUERIES["etl-snapshot-diff"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    assert (
        tree.count("SortMergeJoin") == 1
        or tree.count("ShuffledHashJoin") == 1
    )
    assert "FullOuter" in plan
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "o_orderdate" not in rs and "o_custkey" not in rs


def test_jaccard_neighbors_windowgrouplimit(spark, sf_dir):
    """K6's scale claims: the per-user rank is bounded by
    WindowGroupLimit (no global ranked-list materialization), no
    cartesian product, and the hot-entity guard join broadcasts."""
    plan = formatted_plan(registry.QUERIES["graph-jaccard-neighbors"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_url_parse_map_only(spark, sf_dir):
    """G9 is map-only: no exchange before the presentation sort; the
    scan reads only the three synthesis inputs."""
    plan = formatted_plan(registry.QUERIES["fn-url-parse"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" not in rs and "n_chars" not in rs


def test_period_over_period_agg_before_window(spark, sf_dir):
    """F16's scale claim: the lag window runs over the (type, day)
    AGGREGATED relation — a partial+final hash agg collapses the scan
    first (the E21 discipline)."""
    plan = formatted_plan(registry.QUERIES["window-period-over-period"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    assert tree.count("HashAggregate") == 2
    assert tree.count("Window") == 1


def test_conversion_lag_cdf_over_distinct_lags(spark, sf_dir):
    """E25's scale claim: the percentile CDF windows run over the
    DISTINCT-lag aggregated relation, never raw rows; the funnel
    constraint is a join, not a raw-event window; no cartesian on
    non-broadcast sides."""
    plan = formatted_plan(registry.QUERIES["agg-conversion-lag"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_hard_negatives_corpus_not_shuffled(spark, sf_dir):
    """I54's scale claim: the anchor set broadcasts (BroadcastNested
    LoopJoin over the tiny side is the expected crossJoin shape), the
    corpus side is scanned once with NO exchange before the per-anchor
    WindowGroupLimit."""
    plan = formatted_plan(registry.QUERIES["sim-search-hard-negatives"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan
    # corpus embedding bytes must not hash-shuffle
    tree = plan.split("(1) Scan")[0]
    assert "Exchange hashpartitioning" not in tree.split("WindowGroupLimit")[0]


def test_markov_agg_before_normalizer_window(spark, sf_dir):
    """E26's scale claim: the probability window runs over the
    (prev, next) AGGREGATED relation; the only raw-row window is the
    per-user lag."""
    plan = formatted_plan(registry.QUERIES["agg-markov-transitions"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    assert tree.count("HashAggregate") == 2
    assert tree.count("Window") == 2  # user lag + prob normalizer


def test_pmi_text_never_shuffles(spark, sf_dir):
    """I53's scale claim: document text never crosses an exchange —
    only token/bigram count relations shuffle."""
    df = registry.QUERIES["text-collocations-pmi"](spark, sf_dir)
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    for line in exec_plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line and "tk#" not in line, line


def test_time_buckets_map_only(spark, sf_dir):
    """G10 is map-only: no exchange before the presentation sort; scan
    reads only (event_id, ts)."""
    plan = formatted_plan(registry.QUERIES["fn-time-buckets"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "props" not in rs and "value" not in rs


def test_langid_confusion_agg_before_window(spark, sf_dir):
    """I55: the recall window runs over the langs^2 AGGREGATED cell
    relation; document text never crosses an exchange."""
    df = registry.QUERIES["text-langid-confusion"](spark, sf_dir)
    plan = formatted_plan(df)
    tree = plan.split("(1) Scan")[0]
    assert tree.count("HashAggregate") == 2
    assert tree.count("Window") == 1
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    for line in exec_plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line


def test_dedup_profile_hash_key_shuffle(spark, sf_dir):
    """I56: the cluster grouping shuffles xxhash64 keys, never the
    normalized text (the I1 contract)."""
    df = registry.QUERIES["dedup-profile"](spark, sf_dir)
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in exec_plan
    for line in exec_plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line and "norm#" not in line, line


def test_null_safe_join_is_hash_not_nested_loop(spark, sf_dir):
    """D16: <=> must plan as a hashable equi-join (SMJ/SHJ/BHJ), never
    BroadcastNestedLoopJoin — null-safe equality hashes NULL like any
    other value."""
    plan = formatted_plan(registry.QUERIES["join-null-safe-eq"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    tree = plan.split("(1) Scan")[0]
    assert (
        "SortMergeJoin" in tree
        or "ShuffledHashJoin" in tree
        or "BroadcastHashJoin" in tree
    )


def test_dynamic_overwrite_preserves_untouched_partitions(spark, sf_dir):
    """B18's core behavior, asserted on the filesystem: the dynamic
    overwrite rewrites status=O files and leaves the F/P partition
    files byte-identical (same names, same mtimes would be flaky —
    pin names + sizes)."""
    import glob
    import os

    # run once; capture the F partition's file listing, re-run the
    # corrected write via the registered query (it re-creates its own
    # tmp table each invocation, so instead pin semantics: O changed,
    # F/P unchanged vs the source)
    df = registry.QUERIES["sink-overwrite-dynamic"](spark, sf_dir)
    rows = {r.o_orderkey: (r.status, r.price) for r in df.collect()}
    src = {
        r.o_orderkey: (r.o_orderstatus, float(r.price))
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F_col("o_totalprice").cast("decimal(12,2)").alias("price"),
        )
        .collect()
    }
    assert set(rows) == set(src)
    for k, (st, p) in src.items():
        got_st, got_p = rows[k]
        assert got_st == st
        expected = round(p + 5, 2) if st == "O" else p
        assert abs(got_p - expected) < 1e-9, (k, got_p, expected)


def test_json_nested_schema_pruned(spark, sf_dir):
    """B19: the nested read carries the struct in ReadSchema (field
    pruning through the JSON source) and explodes lazily (a single
    Generate node)."""
    plan = formatted_plan(registry.QUERIES["scan-json-nested"](spark, sf_dir))
    assert "Generate" in plan
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Scan json") == 1
    assert tree.count("Generate") == 1


def test_norm_outliers_single_label_exchange(spark, sf_dir):
    """I57: one exchange on label serves the mean window AND the
    rollup; the scan projects only (label, embedding)."""
    import re

    plan = formatted_plan(registry.QUERIES["embed-norm-outliers"](spark, sf_dir))
    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hashparts == ["label"], hashparts
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "vec_id" not in rs


def test_gap_fill_single_window_exchange_no_spine_join(spark, sf_dir):
    """F17's scale claim: gap rows come from a lag + sequence explode —
    one (user_id, day) rollup exchange + one user_id window exchange,
    a map-side Generate, and NO join (the calendar-spine formulation
    would show a SortMergeJoin/BroadcastHashJoin over the dense
    relation)."""
    plan = formatted_plan(registry.QUERIES["window-gap-fill"](spark, sf_dir))
    assert "Join" not in plan
    assert "Generate" in plan
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "event_id" not in rs and "props" not in rs


def test_cuped_single_corpus_scan(spark, sf_dir):
    """E27's scale claim: the mergeable-partials rewrite consumes the
    per-user subtree exactly once — ONE events scan (a naive global +
    per-variant aggregate pair re-runs the corpus scan and the user_id
    shuffle twice)."""
    import re

    plan = formatted_plan(registry.QUERIES["agg-cuped"](spark, sf_dir))
    assert plan.count("ReadSchema") == 1
    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hashparts.count("user_id") == 1, hashparts


def test_matryoshka_corpus_not_shuffled_topk_limited(spark, sf_dir):
    """I58 rides the I3/I54 contract: anchors broadcast (BNLJ over the
    corpus scan — no corpus exchange before ranking), budget fanout is
    a map-side Generate, and the per-(anchor,budget) top-1 runs as
    WindowGroupLimit."""
    plan = formatted_plan(registry.QUERIES["embed-matryoshka"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "Generate" in plan
    assert "SortMergeJoin" not in plan


def test_kcore_no_cartesian_node_relation_shuffles(spark, sf_dir):
    """K7: the peel loop joins the cached adjacency against the 8-byte
    surviving-node relation — no cartesian products, no corpus text."""
    plan = formatted_plan(registry.QUERIES["graph-kcore"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dq_audit_one_aggregate_per_table_family(spark, sf_dir):
    """F18: the orders checks ride ONE aggregate over one orders scan
    (stack fanout, not a subquery per check) — at most one orders scan
    beyond the RI join's key projection, and exactly one join (the RI
    check)."""
    plan = formatted_plan(registry.QUERIES["etl-dq-audit"](spark, sf_dir))
    # scans: orders (metrics) + lineitem (metrics) + lineitem keys +
    # orders keys for RI = 4 total, not 5+ (one per orders check would
    # be 7+); the RI-join scans project ONLY the key column
    assert plan.count("ReadSchema") == 4, plan.count("ReadSchema")
    assert "stack" in plan
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan
    assert "ReadSchema: struct<o_orderkey:bigint>" in plan


def test_ip_cidr_map_only(spark, sf_dir):
    """G11: no exchange other than the output ordering's range
    partition; no UDF (BatchEvalPython absent)."""
    plan = formatted_plan(registry.QUERIES["fn-ip-cidr"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning" not in plan


def test_group_kfold_text_never_shuffles(spark, sf_dir):
    """I59: the grouping window partitions on the 8-byte norm hash —
    the exchange carries (hash, doc_id, lang), never the text column."""
    import re

    plan = formatted_plan(registry.QUERIES["sample-group-kfold"](spark, sf_dir))
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(1)


def test_auc_buckets_before_window(spark, sf_dir):
    """E28: the type filter is pushed to the scan, examples collapse
    map-side into score buckets BEFORE the single bounded window pass
    — no per-row ranks, no global example sort."""
    plan = formatted_plan(registry.QUERIES["agg-auc-rank"](spark, sf_dir))
    assert "PushedFilters" in plan and "event_type" in plan.split("ReadSchema")[0]
    # partial agg (score buckets) must appear below the Window in the tree
    assert plan.index("HashAggregate") < plan.index("Window")


def test_attribution_single_user_exchange(spark, sf_dir):
    """F19: the union-and-carry stream rides ONE user_id exchange; no
    join anywhere (the correlated-subquery formulation would show
    one)."""
    import re

    plan = formatted_plan(registry.QUERIES["window-attribution"](spark, sf_dir))
    assert "Join" not in plan
    hashparts = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hashparts.count("user_id") == 1, hashparts


def test_srm_map_side_distinct(spark, sf_dir):
    """E29: the (user, variant) distinct collapses map-side (partial
    agg before the exchange) and the scan reads only user_id."""
    plan = formatted_plan(registry.QUERIES["agg-srm-check"](spark, sf_dir))
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "user_id" in rs and "props" not in rs and "value" not in rs


def test_welch_one_row_aggregate(spark, sf_dir):
    """E30: one per-user shuffle then a one-row conditional aggregate;
    the scan reads only (user_id, value) — no ts, no props, no join."""
    plan = formatted_plan(registry.QUERIES["agg-welch-ttest"](spark, sf_dir))
    assert "Join" not in plan
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "user_id" in rs and "value" in rs
    assert "props" not in rs and "ts" not in rs


def test_chisq_broadcast_cell_completion(spark, sf_dir):
    """E31: the zero-cell completion cross join runs over the bounded
    DISTINCT relations via broadcast (never a shuffle of cells), and
    raw rows collapse in the FIRST hash aggregate — every window runs
    over the cell relation, above the aggregate in the tree."""
    plan = formatted_plan(registry.QUERIES["agg-chisq-independence"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # formatted plans print root-first: the windows (margins) must sit
    # ABOVE the first hash aggregate (cell collapse) in the tree, i.e.
    # every window consumes the bounded cell relation, never raw rows
    assert plan.index("Window") < plan.index("HashAggregate")


def test_cusum_single_series_exchange(spark, sf_dir):
    """F20: after the (series, day) aggregate, totals + running sum +
    max + argmax all ride exchanges on event_type only — no join, no
    extra wide shuffle of raw rows."""
    import re

    plan = formatted_plan(registry.QUERIES["window-cusum-changepoint"](spark, sf_dir))
    assert "Join" not in plan
    hashparts = re.findall(r"hashpartitioning\((\w+)", plan)
    assert set(hashparts) <= {"event_type"}, hashparts


def test_assortativity_no_broadcast_of_degrees(spark, sf_dir):
    """K8: the per-edge degree attach keeps deg on the shuffle path
    (node-cardinality relation, never broadcast); the only broadcast
    is the one-row node-count scalar."""
    plan = formatted_plan(registry.QUERIES["graph-assortativity"](spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_useragent_map_only(spark, sf_dir):
    """G12: synthesize-then-parse is map-only — no shuffle, no join,
    no aggregate; the event_id modulus filter reaches the scan."""
    plan = formatted_plan(registry.QUERIES["fn-useragent-parse"](spark, sf_dir))
    assert "Join" not in plan and "HashAggregate" not in plan
    assert "PushedFilters" in plan


def test_rolling_corr_single_day_frame(spark, sf_dir):
    """F21: after the day aggregate, all six moments ride ONE window
    over one day-ordered frame — exactly one Window node, no join."""
    plan = formatted_plan(registry.QUERIES["window-rolling-corr"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count(") Window") == 1


def test_gini_distribution_window_no_user_sort(spark, sf_dir):
    """E32 scale path: the cumulative window runs over the VALUE
    distribution relation (per-user rows collapse through a hash agg
    on yc first), so no user-cardinality ROW_NUMBER sort exists
    anywhere in the plan — the r9 verdict's scale-killer, now pinned
    out. No join; scan reads only (user_id, value)."""
    plan = formatted_plan(registry.QUERIES["agg-gini-coefficient"](spark, sf_dir))
    assert "Join" not in plan
    assert "row_number" not in plan.lower()
    # the window's input is the (yc, c) distribution: a HashAggregate
    # keyed on yc must sit below the Window in the plan
    assert "Window" in plan
    assert plan.count("HashAggregate") >= 4  # user partial+final, dist partial+final
    rs = plan.split("ReadSchema")[1].splitlines()[0]
    assert "user_id" in rs and "value" in rs and "props" not in rs


def test_pack_sequences_window_is_shard_partitioned(spark, sf_dir):
    """sample-pack-sequences (registered form): the running-sum window
    must be PARTITIONED BY shard — the two-pass layout's whole point;
    an unpartitioned running sum funnels the corpus through one task
    (the r9 verdict's scale caveat, pinned out here)."""
    plan = formatted_plan(registry.QUERIES["sample-pack-sequences"](spark, sf_dir))
    specs = [
        ln for ln in plan.splitlines() if "windowspecdefinition" in ln
    ]
    assert specs, plan
    assert all("shard" in ln for ln in specs), specs


def test_hhi_aggregates_before_join(spark, sf_dir):
    """E33: orders collapse to (custkey, cents) BEFORE the segment
    join — in the root-first formatted plan the join must appear
    ABOVE (before) the orders-side partial aggregate, and the orders
    scan reads only the two needed columns."""
    plan = formatted_plan(registry.QUERIES["agg-hhi-concentration"](spark, sf_dir))
    import re

    names = [n for _, n in re.findall(r"\((\d+)\) (\w+)", plan)]
    joins = [i for i, n in enumerate(names) if "Join" in n]
    aggs = [i for i, n in enumerate(names) if n == "HashAggregate"]
    assert joins and aggs
    assert any(a > joins[0] for a in aggs), names
    assert "struct<o_orderkey" not in plan  # orderkey never read


def test_interorder_gap_collapses_before_join(spark, sf_dir):
    """F22: the LAG rides one custkey exchange; gaps aggregate after
    the join but the join input is the gap projection (no wide order
    payload: o_totalprice never read)."""
    plan = formatted_plan(registry.QUERIES["window-interorder-gap"](spark, sf_dir))
    assert "o_totalprice" not in plan
    import re

    hashparts = re.findall(r"hashpartitioning\((\w+)", plan)
    assert "o_custkey" in hashparts


def test_spearman_broadcast_rank_attach(spark, sf_dir):
    """E37: rank relations attach by BROADCAST join (value-bounded),
    and no row_number/global row sort exists — the ranks come from
    value-distribution windows, not a sort of the corpus."""
    plan = formatted_plan(registry.QUERIES["agg-spearman-corr"](spark, sf_dir))
    import re

    names = [n for n in re.findall(r"\(\d+\) (\w+)", plan)]
    assert names.count("BroadcastHashJoin") == 2, names
    assert "SortMergeJoin" not in plan
    assert "row_number" not in plan.lower()


def test_geo_nearest_single_equi_join(spark, sf_dir):
    """D17: ONE equi join on the cell key — no cartesian/nested-loop
    product anywhere, and the top-1 rank runs as WindowGroupLimit
    (per-task running top-1 before the window exchange)."""
    plan = formatted_plan(registry.QUERIES["join-geo-cell-nearest"](spark, sf_dir))
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "WindowGroupLimit" in plan
    import re

    joins = [n for n in re.findall(r"\(\d+\) (\w+)", plan) if "Join" in n]
    assert len(joins) == 1, joins


def test_novelty_text_never_shuffles(spark, sf_dir):
    """I63: every exchange carries only hashes/ids — the text column
    must not appear in any Exchange's schema (grams leave the scan as
    xxhash64 keys)."""
    plan = formatted_plan(registry.QUERIES["text-novelty-ratio"](spark, sf_dir))
    for chunk in plan.split("Exchange")[1:]:
        first = chunk.splitlines()[0]
        assert "text" not in first, first


def test_rfm_no_ntile_no_customer_sort(spark, sf_dir):
    """F23: scores come from boundary compares, not a global ntile —
    no ntile anywhere, and the only windows are over the value
    distributions."""
    plan = formatted_plan(registry.QUERIES["window-rfm-segment"](spark, sf_dir))
    assert "ntile" not in plan.lower()
    assert "row_number" not in plan.lower()


def test_concurrency_sweep_day_bounded_window(spark, sf_dir):
    """F24: the delta stream collapses through a hash aggregate BEFORE
    the running-sum window — the window input is the day relation."""
    plan = formatted_plan(registry.QUERIES["window-concurrency-sweep"](spark, sf_dir),)
    assert "Window" in plan and "HashAggregate" in plan
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# r11 — the scan re-execution gate (see spark_file_mover_spark/planaudit.py)
# ---------------------------------------------------------------------------

# Families where re-execution defects were actually caught (RFM r10,
# graph-reciprocity r10, jaccard-neighbors r9, funnel/chisq/set-ops
# r11) plus the checkpoint-backed graph keys whose one-scan contract
# the fixes rely on. tools/dump_plans.py --audit runs the same gate
# over all 211 keys; this pins the catch sites so a refactor that
# reintroduces a lazy multi-consumer relation fails CI.
_SCAN_GATE_KEYS = [
    "graph-reciprocity",
    "graph-degree-histogram",
    "graph-jaccard-neighbors",
    "window-rfm-segment",
    "window-concurrency-sweep",
    "events-funnel-windowed",
    "agg-chisq-independence",
    "set-union-intersect-except",
    "agg-retention-cohort",
    "etl-cdc-apply",
]


def test_scan_signature_gate_on_catch_sites(spark, sf_dir):
    """No key re-executes an identical (table, filters, schema) scan
    more than twice: >2 identical signatures means a derived relation
    re-runs its corpus pass per consumer."""
    from spark_file_mover_spark.planaudit import max_signature_count

    over = {}
    for key in _SCAN_GATE_KEYS:
        plan = formatted_plan(registry.QUERIES[key](spark, sf_dir))
        worst = max_signature_count(plan)
        if worst > 2:
            over[key] = worst
    assert not over, over


def test_reciprocity_reads_checkpointed_edges_not_corpus(spark, sf_dir):
    """K9 consumes the K1 cached edge checkpoint: the registered plan
    must contain ZERO parquet scans (edges come from ExistingRDD) and
    exactly one join — the r10 verdict's 8-scan catch, fixed."""
    from spark_file_mover_spark.planaudit import scan_census

    plan = formatted_plan(registry.QUERIES["graph-reciprocity"](spark, sf_dir))
    assert scan_census(plan) == {}, scan_census(plan)
    assert "Scan ExistingRDD" in plan
    import re as _re

    joins = [n for n in _re.findall(r"\(\d+\) (\w+)", plan) if "Join" in n]
    assert len(joins) == 1, joins


def test_setops_single_scan_single_exchange(spark, sf_dir):
    """F6: all three set ops come out of ONE presence-flag aggregate —
    one customer scan, and no join anywhere."""
    plan = formatted_plan(registry.QUERIES["set-union-intersect-except"](spark, sf_dir))
    from spark_file_mover_spark.planaudit import scan_census

    assert scan_census(plan) == {"customer.parquet": 1}, scan_census(plan)
    assert "Join" not in plan


def test_lorenz_winsorized_theil_no_user_sort(spark, sf_dir):
    """E39/E40/E41: the distribution trick — no row_number/ntile over
    raw users anywhere in these plans (the windows rank the
    value-bounded distribution relation only)."""
    for key in ("agg-theil-index", "agg-lorenz-deciles",
                "agg-winsorized-stats"):
        plan = formatted_plan(registry.QUERIES[key](spark, sf_dir))
        assert "row_number" not in plan.lower(), key
        assert "ntile" not in plan.lower(), key


def test_zipf_uses_take_ordered_prefix(spark, sf_dir):
    """I65: the top-50 vocabulary cut is TakeOrderedAndProject — no
    global sort of the vocabulary."""
    plan = formatted_plan(registry.QUERIES["text-zipf-fit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_topk_windowed_uses_window_group_limit(spark, sf_dir):
    """H12: the per-window rank plans as WindowGroupLimit over the
    aggregated cell relation."""
    plan = formatted_plan(registry.QUERIES["stream-topk-windowed"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_global_clustering_zero_corpus_scans(spark, sf_dir):
    """K11 consumes the cached K5 checkpoints: zero parquet scans."""
    from spark_file_mover_spark.planaudit import scan_census

    plan = formatted_plan(registry.QUERIES["graph-global-clustering"](spark, sf_dir))
    assert scan_census(plan) == {}, scan_census(plan)


def test_hits_zero_corpus_scans(spark, sf_dir):
    """K12 consumes the cached K1 edge checkpoint: zero parquet scans."""
    from spark_file_mover_spark.planaudit import scan_census

    plan = formatted_plan(registry.QUERIES["graph-hits"](spark, sf_dir))
    assert scan_census(plan) == {}, scan_census(plan)


def test_webp_meta_is_map_only(spark, sf_dir):
    """I66: pure byte expressions fused into the scan — no exchange
    except the presentation sort, no Python."""
    plan = formatted_plan(registry.QUERIES["multimodal-webp-meta"](spark, sf_dir))
    # Nothing above the presentation Sort may shuffle (the tree prints
    # parent-first, so the prefix before the first Sort is the root spine).
    assert "Exchange" not in plan.split("Sort")[0]
    body = plan.split("== Physical Plan ==")[1]
    assert "ArrowEvalPython" not in body and "BatchEvalPython" not in body
    import re as _re

    exchanges = _re.findall(r"\(\d+\) Exchange", body)
    assert len(set(exchanges)) <= 1, exchanges  # presentation sort only


def test_bootstrap_single_corpus_scan(spark, sf_dir):
    """E42: one corpus pass — the per-user relation checkpoints and
    the replicate fanout happens over it, never over raw events."""
    from spark_file_mover_spark.planaudit import scan_census

    plan = formatted_plan(registry.QUERIES["agg-bootstrap-ci"](spark, sf_dir))
    assert scan_census(plan) == {}, scan_census(plan)


def test_ohlc_bars_no_window_sort(spark, sf_dir):
    """F25: open/close come from argmin/argmax aggregates — NO Window
    node anywhere (the double-row_number formulation this avoids);
    the aggregate is sort-based (struct-keyed argmin buffers aren't
    hash-aggregatable) but runs partial+final, so map-side combine
    still collapses event volume before the exchange."""
    plan = formatted_plan(registry.QUERIES["window-ohlc-bars"](spark, sf_dir))
    import re as _re

    assert not _re.search(r"\(\d+\) Window\b", plan), "window sort crept in"
    tree = plan.split("\n\n")[0]
    aggs = _re.findall(r"(?:Sort|Hash|ObjectHash)Aggregate \(\d+\)", tree)
    assert len(aggs) >= 2, aggs  # partial + final


def test_flac_meta_is_map_only(spark, sf_dir):
    plan = formatted_plan(registry.QUERIES["multimodal-flac-meta"](spark, sf_dir))
    body = plan.split("== Physical Plan ==")[1]
    assert "ArrowEvalPython" not in body and "BatchEvalPython" not in body
    import re as _re

    exchanges = set(_re.findall(r"\(\d+\) Exchange", body))
    assert len(exchanges) <= 1, exchanges  # presentation sort only


# ---------------------------------------------------------------------------
# r12 — registry-WIDE scan-signature gate (verdict order 4)
# ---------------------------------------------------------------------------
#
# The r9-r11 re-execution catches (jaccard-neighbors, RFM,
# graph-reciprocity) were each found by eye, then pinned per-family.
# This parametrized test makes the gate exhaustive: EVERY registered
# key's physical plan is censused and no (table, PushedFilters,
# ReadSchema) signature may scan more than twice — twice being the
# legitimate two-consumer shape (self-join sides, doc-local rebuild).
# Exceptions must be declared in planaudit.SCAN_BUDGET_EXEMPT with the
# reason the repeat is not a re-execution defect (currently: none).
#
# tools/dump_plans.py --audit runs the same gate standalone; PLANS.md
# emits per-key `n_scans=` from the same census for the judge.

import pytest as _pytest

from spark_file_mover_spark.planaudit import (
    SCAN_BUDGET_EXEMPT,
    scan_signatures,
)

_ALL_KEYS = sorted(registry.QUERIES)


@_pytest.mark.parametrize("key", _ALL_KEYS)
def test_scan_signature_budget_registry_wide(spark, sf_dir, key):
    plan = formatted_plan(registry.QUERIES[key](spark, sf_dir))
    sigs = scan_signatures(plan)
    worst = max(sigs.values(), default=0)
    budget = 2 if key not in SCAN_BUDGET_EXEMPT else 10**9
    offenders = {s: n for s, n in sigs.items() if n > budget}
    assert not offenders, (
        f"{key}: a derived relation re-executes its corpus scan — "
        f"{offenders} (declare in SCAN_BUDGET_EXEMPT only with a "
        f"rationale that the repeat is not a re-execution)"
    )

