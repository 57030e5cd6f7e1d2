"""Tests of the benchmark itself: reproducible inputs, output checks that
can fail, and every metric printed by name with its unit.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
for p in (str(BENCH), str(ROOT), str(ROOT / "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402
from spark_file_mover_spark.filemover import MoveResult  # noqa: E402


def _bench(workload: str, seed: int, trace: bool = False) -> run.Bench:
    return run.Bench(workload, seed, 1.0, trace, Path("unused"))


# -- same seed, same inputs --------------------------------------------------


def test_same_seed_same_corpus():
    a, b = datagen.build_tables(7, 0.001), datagen.build_tables(7, 0.001)
    assert list(a) == list(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    c = datagen.build_tables(8, 0.001)
    assert not a["lineitem"].equals(c["lineitem"])


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_same_seed_same_key_order(workload):
    first = [_bench(workload, 5).pass_order(p) for p in range(4)]
    again = [_bench(workload, 5).pass_order(p) for p in range(4)]
    assert first == again
    assert sorted(map(str, first[0])) == sorted(map(str, first[1]))
    other = [_bench(workload, 6).pass_order(p) for p in range(4)]
    assert other != first


def test_query_mix_runs_every_common16_module():
    from bench import COMMON16
    from spark_file_mover_spark import registry

    registry.load_all()

    def module(key: str) -> str:
        return registry.QUERIES[key].__wrapped__.__module__

    assert set(wl.QUERY_MIX) <= set(COMMON16)
    assert set(map(module, wl.QUERY_MIX)) == set(map(module, COMMON16))
    assert len(wl.QUERY_MIX) % 2 == 1  # the median op is one key's, not a gap


def test_corpus_matches_engine_tables():
    from spark_file_mover_spark.sources.io import TABLES

    assert tuple(datagen.TABLES) == tuple(TABLES)


# -- the output checks can fail ----------------------------------------------


class _Rows:
    """A result with the two members ``compare`` reads from a DataFrame."""

    def __init__(self, columns, rows):
        self.columns = list(columns)
        self._rows = rows

    def collect(self):
        return self._rows


@pytest.mark.parametrize("key", ["agg-hash", "graph-pagerank"])
def test_query_check_fails_on_one_perturbed_value(tmp_path, key):
    """The oracle's own rows pass the check; the same rows with one
    value changed fail it."""
    import duckdb

    from spark_file_mover_spark import registry

    registry.load_all()
    datagen.write_corpus(str(tmp_path), 1, 0.001)
    duck = duckdb.connect()
    for name in datagen.TABLES:
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tmp_path}/{name}.parquet'")
    sql = registry.ORACLES[key]
    rel = duck.sql(sql)
    rows, cols = rel.fetchall(), [d[0] for d in rel.description]
    assert rows
    assert wl.check_query(_Rows(cols, rows), duck.sql(sql)) == (True, "ok")
    bad = list(rows)
    cell = next(i for i, v in enumerate(bad[0]) if isinstance(v, (int, float)))
    bad[0] = tuple(v + 1 if i == cell else v for i, v in enumerate(bad[0]))
    ok, msg = wl.check_query(_Rows(cols, bad), duck.sql(sql))
    assert not ok and "mismatch" in msg


def _layout(tmp_path: Path, job: wl.LandJob, moved: bool, rows_per_file=3):
    """A finished write of ``job`` and its plan; with ``moved`` the files
    sit at their targets, as after a successful move pass."""
    out = tmp_path / job.name
    plan = {}
    for b in range(job.buckets):
        for m in range(job.months):
            src = out / f"b={b}" / f"m={m}" / "part-0.csv"
            if job.template == wl.COLLIDE_TEMPLATE:
                dst = out / f"b={b}" / "all.csv"
            else:
                dst = out / f"b={b}" / f"part-m{m}.csv"
            where = dst if moved else src
            where.parent.mkdir(parents=True, exist_ok=True)
            where.write_text("r\n" * rows_per_file)
            plan[f"file:{src}"] = f"file:{dst}"
    expected = job.buckets * job.months * rows_per_file
    return MoveResult(renames=plan, moved=moved), expected


def test_land_check_passes_and_fails_on_one_perturbation(tmp_path):
    job = wl.LAND_JOBS[0]
    res, rows = _layout(tmp_path, job, moved=True)
    assert wl.check_land(job, res, rows) == (True, "ok")
    assert not wl.check_land(job, res, rows + 1)[0]  # one row lost
    first_dst = wl.local(next(iter(res.renames.values())))
    Path(first_dst).unlink()
    ok, msg = wl.check_land(job, res, rows)
    assert not ok and "targets missing" in msg


def test_land_check_fails_when_a_source_remains(tmp_path):
    job = wl.LAND_JOBS[0]
    res, rows = _layout(tmp_path, job, moved=True)
    src = Path(wl.local(next(iter(res.renames))))
    src.parent.mkdir(parents=True, exist_ok=True)
    src.write_text("")
    ok, msg = wl.check_land(job, res, rows)
    assert not ok and "sources remain" in msg


def test_collide_check_requires_every_file_in_place(tmp_path):
    job = wl.LAND_JOBS[2]
    assert job.template == wl.COLLIDE_TEMPLATE
    res, rows = _layout(tmp_path, job, moved=False)
    assert wl.check_land(job, res, rows) == (True, "ok")
    aborted = MoveResult(renames=res.renames, moved=True)
    assert not wl.check_land(job, aborted, rows)[0]
    Path(wl.local(next(iter(res.renames)))).unlink()
    assert not wl.check_land(job, res, rows)[0]


def test_manifest_check():
    assert wl.check_manifest({"renamed": 30}, 30)[0]
    assert not wl.check_manifest({"renamed": 29, "failed": 1}, 30)[0]


# -- every metric, by name, with its unit ------------------------------------


def _span(tracer, name: str, t: float, dur: float, parent=None, **attrs) -> int:
    tracer.spans.append(
        dict(name=name, start=t, end=t + dur, parent=parent, op=tracer.op_id, **attrs)
    )
    return len(tracer.spans) - 1


def _fake_run(workload: str, trace: bool) -> run.Bench:
    """A Bench holding the records a run of ``workload`` leaves, shaped as
    ``Bench.run`` makes them, without Spark: a cold pass, steady passes
    (untraced, traced, untraced when tracing), and in a traced run the
    file-mover probe and the distributed move."""
    bench = _bench(workload, 3, trace)
    bench.setup_s, bench.get_spark_s, bench.load_all_s = 7.0, 4.0, 0.3
    bench.roundtrip_us, bench.rss_mb = 900.0, 2000.0
    bench.datagen_s, bench.phase_s = 0.2, {"cold": 1.0}
    passes = [(p, bench.pass_order(p)) for p in (run.COLD, 1, 2, 3)]
    if trace:
        passes.append((run.PROBE, list(wl.LAND_JOBS)))
        passes.append((run.DISTRIBUTED, [wl.LAND_JOBS[0]]))
    tracer = bench.tracer
    for pass_no, specs in passes:
        for spec in specs:
            traced = trace and pass_no in (run.COLD, 2, run.PROBE, run.DISTRIBUTED)
            op = run.Op(spec, pass_no, traced)
            op.build_s, op.exec_s = 0.01, 0.2 + 0.001 * len(bench.ops)
            op.jobs = (0, 1, 3)
            bench.ops.append(op)
            tracer.op_id = len(bench.ops) - 1
            t = float(tracer.op_id)
            _span(tracer, "sources.io.load_table", t, 0.1, table="lineitem")
            if isinstance(spec, str):
                continue
            op.listed = spec.files
            if spec.template != wl.COLLIDE_TEMPLATE:
                op.planned = op.renamed = spec.files
            root = _span(tracer, "filemover.write_single_file", t, 0.9)
            for name in spans.FILEMOVER_FUNCS[1:]:
                _span(tracer, f"filemover.{name}", t, 0.1, parent=root)
    bench.job_stats = [(1, 1, 4)] * (2 * len(bench.traced_ops()))
    return bench


def _declared():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in doc["end_to_end"]},
        {m["name"]: m["unit"] for m in doc["per_layer"]},
        [w["name"] for w in doc["workloads"]],
    )


def test_declared_metrics_match_the_code():
    e2e, layer, names = _declared()
    assert e2e == run.END_TO_END_UNITS
    assert layer == run.PER_LAYER_UNITS
    assert tuple(names) == tuple(wl.WORKLOADS)


@pytest.mark.parametrize("workload", wl.WORKLOADS)
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_prints_by_name_with_unit(workload, trace):
    e2e, layer, _ = _declared()
    line = json.loads(json.dumps(run.result_line(_fake_run(workload, trace))))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] >= 1 and line["failed"] == 0
    want = layer if trace else e2e
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want
    assert all(math.isfinite(v["value"]) for v in line["metrics"].values())


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_every_module_metric_prints_by_name_with_unit(workload):
    bench = _fake_run(workload, True)
    modules = bench.modules()
    lines = run.module_lines(modules)
    assert len(lines) == len(modules) * len(run.MODULE_UNITS)
    for mod in modules:
        for name, unit in run.MODULE_UNITS.items():
            assert sum(
                ln.startswith(f"# {mod}.{name} = ") and ln.endswith(f" {unit}") for ln in lines
            ) == 1


def test_a_failed_operation_is_counted():
    bench = _fake_run("driver-bound", False)
    bench.ops[3].ok = False
    line = run.result_line(bench)
    assert line["correct"] is False and line["failed"] == 1


def test_tracer_self_time_and_parents():
    tracer = spans.Tracer(True)
    tracer.op_id = 4
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    outer, inner = tracer.spans
    assert inner["parent"] == 0 and outer["parent"] is None
    assert outer["op"] == inner["op"] == 4
    self_t = tracer.self_times()
    whole = outer["end"] - outer["start"]
    assert self_t["outer"] == pytest.approx(whole - (inner["end"] - inner["start"]))
    off = spans.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_percentile_and_fit():
    assert run.percentile([1.0], 90) == 1.0
    assert run.percentile([float(i) for i in range(1, 102)], 50) == 51.0
    a, b = run.fit_line([30, 300, 30], [1.0, 4.0, 1.0])
    assert a == pytest.approx(2.0 / 3.0) and b == pytest.approx(1.0 / 90.0)
