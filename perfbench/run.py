#!/usr/bin/env python3
"""Closed-loop benchmark of the spark_file_mover_spark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 10 --trace 0

Workloads: ``query-mix`` and ``driver-bound`` (see
``perfbench/README.md``). One client issues every operation only after
the previous one finished, on ``local[<cpus - 1>]``. The seed fixes the
generated corpus, the salt of the file-mover probe's partitions and the
order of every pass.

A run sets up the engine, generates its corpus under ``perfbench/.run``,
runs one cold pass, checks every output, then runs steady passes for
``--seconds``. The last line of stdout is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The exit code is 1 when any output check
failed. A traced run also writes its spans to
``perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # leave no __pycache__ beside the engine

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

import datagen  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SF = 0.02  # corpus scale: 120k lineitem rows

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
}
# The cold pass is one sample per run, and p90 has fewer than ten samples
# beyond it. The median op falls among keys of different cost, so a slow
# spell of the host moves it by more than the pass time, a sum over every
# key. Over ten seeds all three spread past the largest bound allowed,
# so they are reported with the per-layer metrics, without a bound.
PER_LAYER_UNITS = {
    "op.cold_pass_s": "s",
    "op.p50_s": "s",
    "op.p90_s": "s",
    "process.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "sources.io.load_table_s": "s",
    "py4j.roundtrip_us": "us",
    "op.build_s": "s",
    "op.exec_s": "s",
    "op.build_share": "ratio",
    "op.cold_s": "s",
    "op.build_jobs": "count",
    "op.exec_jobs": "count",
    "op.exec_stages": "count",
    "op.exec_tasks": "count",
    "trace.overhead_s": "s",
    "filemover.spark_write_s": "s",
    "filemover.list_output_files_s": "s",
    "filemover.plan_moves_s": "s",
    "filemover.has_collisions_s": "s",
    "filemover.move_files_s": "s",
    "filemover.execute_moves_distributed_s": "s",
    "filemover.move_share": "ratio",
    "filemover.op_share": "ratio",
    "filemover.files_listed": "count",
    "filemover.renamed": "count",
    "filemover.rename_failed": "count",
    "filemover.renamed_ratio": "ratio",
    "filemover.fixed_s": "s",
    "filemover.per_file_ms": "ms",
    "filemover.files_per_s": "1/s",
}
# The per-module split, printed as ``<module>.<name>`` on stderr and kept
# in the trace file; not in the JSON line, where a module the workload
# does not run would read 0 on every run.
MODULE_UNITS = {
    "build_s": "s",
    "build_jobs": "count",
    "exec_s": "s",
    "exec_jobs": "count",
    "exec_stages": "count",
    "exec_tasks": "count",
    "cold_s": "s",
}
COLD, PROBE, DISTRIBUTED = 0, -1, -2  # pass numbers outside the steady passes


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the machine so far, from /proc/stat.
    Steal is time a virtual CPU was ready to run but its host ran
    something else; it slows every figure of a run, so the summary
    states its share."""
    with open("/proc/stat") as f:
        ticks = [int(t) for t in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def hermetic_env(work: Path) -> None:
    """Point every scratch path of Python, the JVM, Spark and the Python
    workers into ``work``, and start from a working directory there, so
    ``spark-warehouse/``, ``metastore_db`` and temp dirs stay inside it.
    Python workers get the checkout on their path.

    The JVM compiles with C1 only (``TieredStopAtLevel=1``). With the
    full tiered JIT, C2 takes 40-60 s of steady passes to compile
    Spark's driver code, at a pace that differs from run to run, and op
    times fall by a third meanwhile; a run cannot reach that plateau in
    its time, so its figures measured the JIT's progress. With C1 they
    are flat from the first steady pass."""
    for sub in ("tmp", "local", "cwd"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    pythonpath = [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    os.environ.update(
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        PYTHONPATH=os.pathsep.join(pythonpath),
        PYTHONDONTWRITEBYTECODE="1",
        JAVA_TOOL_OPTIONS=(
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
        ),
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    tempfile.tempdir = None
    os.chdir(work / "cwd")
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the JVM, in MB."""
    from pyspark import SparkContext

    pids = ["self", str(SparkContext._gateway.proc.pid)]
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += sum(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return kb / 1024.0


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (``statistics.quantiles``, inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def fit_line(xs: list[float], ys: list[float]) -> tuple[float, float]:
    """Least-squares ``y = a + b*x``; returns ``(a, b)``."""
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0
    return my - b * mx, b


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Op:
    """One operation of a pass and what was measured on it."""

    def __init__(self, spec, pass_no: int, traced: bool):
        self.spec = spec  # registry key or workloads.LandJob
        self.name = spec if isinstance(spec, str) else spec.name
        self.module = "filemover"
        self.pass_no = pass_no
        self.traced = traced
        self.build_s = self.exec_s = 0.0
        self.ok = True
        self.df = None  # kept for the cold pass's output check only
        self.value: int | None = None  # value hash of a query's result
        self.jobs: tuple[int, int, int] | None = None  # job ids: start, built, done
        self.listed = self.planned = self.renamed = 0  # land operations

    @property
    def op_s(self) -> float:
        return self.build_s + self.exec_s


class Bench:
    """One run of one workload, in one fresh engine process."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.trace = trace
        self.tracer = spans.Tracer(trace)
        self.ops: list[Op] = []
        self.roundtrip_us = 0.0
        self.land_seq = 0

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        from spark_file_mover_spark import registry, session

        self.ticks0 = cpu_ticks()
        self.registry = registry
        t0 = time.perf_counter()
        with self.tracer.span("registry.load_all"):
            registry.load_all()
        self.load_all_s = time.perf_counter() - t0
        # One CPU is left to the driver, the JVM's own threads and the
        # host: on a shared VM a CPU taken away for a moment then stalls
        # no task of a stage, and the figures spread half as much.
        self.cpus = max(1, len(os.sched_getaffinity(0)) - 1)
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark("perfbench", cpus=self.cpus)
        self.get_spark_s = time.perf_counter() - t0
        self.spark.range(1).collect()  # the session answers a first action
        self.setup_s = process_age_s()
        if self.tracer.enabled:
            spans.instrument(self.tracer)
            self.jobs = spans.JobWindow(self.spark)
        t0 = time.perf_counter()
        self.data = str(self.work / "data")
        datagen.write_corpus(self.data, self.seed, SF)
        self.datagen_s = time.perf_counter() - t0
        self.land_rows = wl.land_rows(self.data)

    # -- operations ------------------------------------------------------

    def pass_order(self, pass_no: int) -> list:
        specs = list(wl.WORKLOADS[self.workload])
        random.Random(self.seed * 1000 + pass_no).shuffle(specs)
        return specs

    def _job_id(self, op: Op):
        return self.jobs.now() if op.traced else None

    def _timed(self, op: Op, build, execute):
        """Time ``build()`` then ``execute(built)`` as one operation."""
        with self.tracer.span("op", key=op.name, module=op.module):
            j0 = self._job_id(op)
            t0 = time.perf_counter()
            with self.tracer.span("build"):
                built = build()
            t1 = time.perf_counter()
            j1 = self._job_id(op)
            with self.tracer.span("exec"):
                result = execute(built)
            t2 = time.perf_counter()
            j2 = self._job_id(op)
        op.build_s, op.exec_s = t1 - t0, t2 - t1
        if op.traced:
            op.jobs = (j0, j1, j2)
        return built, result

    def query_op(self, op: Op) -> None:
        fn = self.registry.QUERIES[op.name]
        op.module = fn.__wrapped__.__module__.split(".", 1)[1]
        df, op.value = self._timed(op, lambda: fn(self.spark, self.data), wl.consume)
        if op.pass_no == COLD:
            op.df = df

    def land_op(self, op: Op) -> None:
        from spark_file_mover_spark import filemover

        job = op.spec
        self.land_seq += 1
        out = str(self.work / "land" / str(self.land_seq))
        _, res = self._timed(
            op,
            lambda: wl.land_slice(self.spark, self.data, job, self.seed),
            lambda df: filemover.write_single_file(
                df, out, template=job.template, partition_by=["b", "m"]
            ),
        )
        op.listed = len(res.renames)
        if res.moved:
            op.planned = op.listed
            op.renamed = sum(os.path.isfile(wl.local(d)) for d in res.renames.values())
        ok, msg = wl.check_land(job, res, self.land_rows[job.name])
        shutil.rmtree(out, ignore_errors=True)
        if not ok:
            self.fail(op, msg)

    def fail(self, op: Op, msg: str) -> None:
        op.ok = False
        print(f"# CHECK FAILED: {op.name}: {msg}"[:500], file=sys.stderr)

    def run_op(self, spec, pass_no: int, traced: bool) -> Op:
        op = Op(spec, pass_no, traced)
        self.ops.append(op)
        self.tracer.op_id = len(self.ops) - 1
        try:
            self.query_op(op) if isinstance(spec, str) else self.land_op(op)
        except Exception as ex:  # a raising operation counts as failed
            self.fail(op, f"raised {ex!r}")
        finally:
            self.tracer.op_id = None
        return op

    def run_pass(self, pass_no: int, traced: bool) -> list[Op]:
        self.tracer.enabled = traced
        return [self.run_op(s, pass_no, traced) for s in self.pass_order(pass_no)]

    # -- the run ---------------------------------------------------------

    def run(self) -> None:
        traced = self.trace
        if traced:
            self.roundtrip_us = self.py4j_roundtrip_us()
        t0 = time.perf_counter()
        cold = self.run_pass(COLD, traced)
        t1 = time.perf_counter()
        checked = self.check_queries(cold)
        self.phase_s = {"cold": t1 - t0, "check": time.perf_counter() - t1}
        t0 = time.perf_counter()
        # No warm-up pass: the first steady pass after the cold pass is at
        # most ~10% slower than the later ones, which the median over
        # passes absorbs, and the time goes to steady passes instead.
        # A traced run alternates untraced and traced steady passes, at
        # least untraced-traced-untraced, so the tracing overhead compares
        # passes on both sides of the same session age. Passes are whole;
        # the last one starts only if half of it fits, so the steady
        # passes take ``--seconds`` on average.
        pass_no, last = 1, 0.0
        t_end = time.perf_counter() + self.seconds
        while pass_no <= (3 if traced else 1) or time.perf_counter() + last / 2 < t_end:
            t = time.perf_counter()
            self.check_values(self.run_pass(pass_no, traced and pass_no % 2 == 0), checked)
            last = time.perf_counter() - t
            pass_no += 1
        self.phase_s["steady"] = time.perf_counter() - t0
        (steal0, all0), (steal1, all1) = self.ticks0, cpu_ticks()
        self.steal = (steal1 - steal0) / max(1, all1 - all0)
        self.rss_mb = peak_rss_mb()
        if traced:
            self.tracer.enabled = True
            self.layer_probe()
            self.job_stats = self.jobs.stats(
                [(o.jobs[0], o.jobs[1]) for o in self.traced_ops()]
                + [(o.jobs[1], o.jobs[2]) for o in self.traced_ops()]
            )

    def check_values(self, ops: list[Op], checked: dict[str, int]) -> None:
        """Every op's value hash must equal its key's checked hash."""
        for op in ops:
            if op.ok and op.value is not None and op.value != checked.get(op.name):
                self.fail(op, "value hash differs from the checked result's")

    def check_queries(self, cold: list[Op]) -> dict[str, int]:
        """Check each key's cold-pass result against its DuckDB oracle,
        outside the timed region; returns the checked value hash per key.
        The checks run on threads, as nothing is timed meanwhile."""
        from concurrent.futures import ThreadPoolExecutor

        import duckdb

        queries = [o for o in cold if o.df is not None]
        duck = duckdb.connect()
        for name in datagen.TABLES:
            duck.execute(f"CREATE VIEW {name} AS SELECT * FROM '{self.data}/{name}.parquet'")

        def check(op: Op, cursor) -> tuple[bool, str]:
            try:
                return wl.check_query(op.df, cursor.sql(self.registry.ORACLES[op.name]))
            except Exception as ex:
                return False, f"check raised {ex!r}"

        with ThreadPoolExecutor(max_workers=self.cpus) as pool:
            results = [pool.submit(check, op, duck.cursor()) for op in queries]
            checked: dict[str, int] = {}
            for op, fut in zip(queries, results):
                ok, msg = fut.result()
                op.df = None
                if ok:
                    checked[op.name] = op.value
                else:
                    self.fail(op, msg)
        duck.close()
        return checked

    def layer_probe(self) -> None:
        """Traced file-mover calls on layouts this run writes itself: one
        pass of the land jobs, and one distributed move."""
        from spark_file_mover_spark import filemover

        for job in wl.LAND_JOBS:
            self.run_op(job, PROBE, True)
        job = wl.LAND_JOBS[0]
        out = str(self.work / "land" / "distributed")
        wl.land_slice(self.spark, self.data, job, self.seed).coalesce(1).write.option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        ).partitionBy("b", "m").csv(out)
        op = Op(job, DISTRIBUTED, True)
        self.ops.append(op)
        self.tracer.op_id = len(self.ops) - 1
        manifest, _ = filemover.execute_moves_distributed(self.spark, out, job.template)
        self.tracer.op_id = None
        statuses = {r["status"]: r["count"] for r in manifest.groupBy("status").count().collect()}
        op.listed = op.planned = sum(statuses.values())
        op.renamed = statuses.get("renamed", 0)
        shutil.rmtree(out, ignore_errors=True)
        ok, msg = wl.check_manifest(statuses, job.files)
        if not ok:
            self.fail(op, msg)

    def py4j_roundtrip_us(self) -> float:
        jvm_time = self.spark._jvm.java.lang.System.nanoTime
        laps = []
        for _ in range(200):
            t0 = time.perf_counter()
            jvm_time()
            laps.append(time.perf_counter() - t0)
        return statistics.median(laps) * 1e6

    # -- metrics ---------------------------------------------------------

    def steady_ops(self) -> list[Op]:
        return [o for o in self.ops if o.pass_no >= 1]

    def traced_ops(self) -> list[Op]:
        return [o for o in self.steady_ops() if o.traced]

    @staticmethod
    def pass_times(ops: list[Op]) -> list[float]:
        out: dict[int, float] = defaultdict(float)
        for o in ops:
            out[o.pass_no] += o.op_s
        return list(out.values())

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "pass_s": statistics.median(self.pass_times(self.steady_ops())),
        }

    def per_layer(self) -> dict[str, float]:
        tracer = self.tracer
        traced = self.traced_ops()
        modules = self.modules().values()

        def total(key: str) -> float:
            return sum(m.get(key, 0.0) for m in modules)

        first_load: dict[str, float] = {}
        for s in tracer.spans:
            if s["name"] == "sources.io.load_table":
                first_load.setdefault(s["table"], s["end"] - s["start"])

        # the file-mover layer: the probe's land operations
        land_ids = {i for i, o in enumerate(self.ops) if not isinstance(o.spec, str)}
        land = [self.ops[i] for i in land_ids]
        writes = [o for o in land if o.pass_no == PROBE]
        moving = [o for o in writes if o.planned]

        def fm(name: str) -> list[float]:
            return tracer.durations(f"filemover.{name}", land_ids)

        wsf = fm("write_single_file")
        fixed, per_file = fit_line([o.planned for o in moving], [o.exec_s for o in moving])
        renamed = sum(o.renamed for o in land)
        planned = sum(o.planned for o in land)
        untraced = [o.op_s for o in self.steady_ops() if not o.traced]
        return {
            "op.cold_pass_s": sum(o.op_s for o in self.ops if o.pass_no == COLD),
            "op.p50_s": percentile(untraced, 50),
            "op.p90_s": percentile(untraced, 90),
            "process.peak_rss_mb": self.rss_mb,
            "session.get_spark_s": self.get_spark_s,
            "registry.load_all_s": self.load_all_s,
            "sources.io.load_table_s": sum(first_load.values()),
            "py4j.roundtrip_us": self.roundtrip_us,
            "op.build_s": median(o.build_s for o in traced),
            "op.exec_s": median(o.exec_s for o in traced),
            "op.build_share": sum(o.build_s for o in traced) / sum(o.op_s for o in traced),
            "op.cold_s": total("cold_s"),
            "op.build_jobs": total("build_jobs"),
            "op.exec_jobs": total("exec_jobs"),
            "op.exec_stages": total("exec_stages"),
            "op.exec_tasks": total("exec_tasks"),
            "trace.overhead_s": median(self.pass_times(traced))
            - median(self.pass_times([o for o in self.steady_ops() if not o.traced])),
            "filemover.spark_write_s": tracer.self_times(land_ids).get(
                "filemover.write_single_file", 0.0
            ) / max(1, len(wsf)),
            "filemover.list_output_files_s": median(fm("list_output_files")),
            "filemover.plan_moves_s": median(fm("plan_moves")),
            "filemover.has_collisions_s": median(fm("has_collisions")),
            "filemover.move_files_s": median(fm("move_files")),
            "filemover.execute_moves_distributed_s": median(fm("execute_moves_distributed")),
            "filemover.move_share": sum(fm("move_files")) / sum(wsf),
            "filemover.op_share": sum(wsf) / sum(o.op_s for o in writes),
            "filemover.files_listed": sum(o.listed for o in writes),
            "filemover.renamed": sum(o.renamed for o in writes),
            "filemover.rename_failed": sum(o.planned - o.renamed for o in writes),
            "filemover.renamed_ratio": renamed / planned,
            "filemover.fixed_s": fixed,
            "filemover.per_file_ms": per_file * 1e3,
            "filemover.files_per_s": sum(o.renamed for o in writes)
            / sum(o.exec_s for o in writes),
        }

    def modules(self) -> dict[str, dict[str, float]]:
        """The traced operations per registering module: build and exec
        time, jobs, stages and tasks per steady pass, and cold time (cold
        op time minus the op's steady median)."""
        traced = self.traced_ops()
        n_pass = len({o.pass_no for o in traced})
        stats = dict(zip(map(id, traced), zip(self.job_stats, self.job_stats[len(traced):])))
        steady = defaultdict(list)
        for o in traced:
            steady[o.name].append(o.op_s)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for o in traced:
            m = out[o.module]
            (bj, _, _), (ej, es, et) = stats[id(o)]
            m["build_s"] += o.build_s / n_pass
            m["exec_s"] += o.exec_s / n_pass
            m["build_jobs"] += bj / n_pass
            m["exec_jobs"] += ej / n_pass
            m["exec_stages"] += es / n_pass
            m["exec_tasks"] += et / n_pass
        for o in self.ops:
            if o.pass_no == COLD and steady[o.name]:
                out[o.module]["cold_s"] += o.op_s - statistics.median(steady[o.name])
        return {k: dict(v) for k, v in out.items()}

    def summary(self) -> str:
        steady = self.steady_ops()
        n = len(steady)
        beyond = n - int(n * 0.9)
        p90 = percentile([o.op_s for o in steady], 90)
        return (
            f"# {self.workload} seed={self.seed}: "
            f"{len({o.pass_no for o in steady})} steady passes, {n} op samples, "
            f"p90 {p90:.3f}s with {beyond} beyond it, "
            f"datagen {self.datagen_s:.2f}s, failed {self.failed}/{self.attempted}, "
            + " ".join(f"{k} {v:.1f}s" for k, v in self.phase_s.items())
            + f", host steal {self.steal:.1%} of CPU time"
        )

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


def result_line(bench: Bench) -> dict:
    """The benchmark's result object, metrics by name with their units."""
    if bench.trace:
        values, units = bench.per_layer(), PER_LAYER_UNITS
    else:
        values, units = bench.end_to_end(), END_TO_END_UNITS
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def module_lines(modules: dict[str, dict[str, float]]) -> list[str]:
    """The per-module split, one ``# <module>.<metric> = <value> <unit>``
    line per metric of each module the run traced."""
    return [
        f"# {mod}.{name} = {row.get(name, 0.0):.6g} {unit}"
        for mod, row in sorted(modules.items())
        for name, unit in MODULE_UNITS.items()
    ]


def write_trace(bench: Bench, result: dict) -> Path:
    out = BENCH / "traces" / f"{bench.workload}-seed{bench.seed}.json"
    out.parent.mkdir(exist_ok=True)
    doc = {
        "workload": bench.workload,
        "seed": bench.seed,
        "metrics": result["metrics"],
        "self_s": bench.tracer.self_times(),
        "modules": bench.modules(),
        "spans": bench.tracer.spans,
    }
    out.write_text(json.dumps(doc))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = BENCH / ".run" / f"{args.workload}-{os.getpid()}"
    real_stdout, sys.stdout = sys.stdout, open(os.devnull, "w")  # rename-plan prints
    bench = Bench(args.workload, args.seed, args.seconds, args.trace == 1, work)
    try:
        hermetic_env(work)
        bench.setup()
        bench.run()
        result = result_line(bench)
        if bench.trace:
            print(f"# spans: {write_trace(bench, result)}", file=sys.stderr)
            for line in module_lines(bench.modules()):
                print(line, file=sys.stderr)
        print(bench.summary(), file=sys.stderr)
    finally:
        if getattr(bench, "spark", None) is not None:
            stop_session(bench.spark)
        sys.stdout.close()
        sys.stdout = real_stdout
        os.chdir(BENCH)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            (BENCH / ".run").rmdir()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
