"""The ingest-artifact primitive (``sources.io.ingest_artifact``) is the
only corpus-artifact cache, the registry's ``pure`` flag the only plan
cache, ``sources.io.scratch_dir`` the only owner of temp dirs and
``profile`` the only measurement code: these tests pin that no module,
test or tool grows its own again, that evicting an entry releases the
blocks and directories it held, and that scratch space stays bounded."""

from __future__ import annotations

import ast
from pathlib import Path

from spark_file_mover_spark import registry

registry.load_all()

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "spark_file_mover_spark"

# entry point → may a module (path under the package) call it? Plan
# caching is a registry flag (``@query(..., pure=True)``), so only
# registry.py may call cached_plan; scratch space is owned by
# sources.io.scratch_dir, so only sources/io.py may make temp dirs; a
# scan's split count is the ingest artifact sources.io.wide_scan reads,
# so only sources/io.py may probe it.
ALLOWED = {
    "artifact_cache_key": lambda rel: rel == "sources/io.py",
    "cached_plan": lambda rel: rel == "registry.py",
    "mkdtemp": lambda rel: rel == "sources/io.py",
    "gettempdir": lambda rel: rel == "sources/io.py",
    "getNumPartitions": lambda rel: rel == "sources/io.py",
}
# names that must not exist anywhere in the package: every key builds
# through the one production path, so no cache needs a bypass for a
# plan-only build mode; table reads and split counts are ingest
# artifacts, so neither the session-scoped table cache nor the split
# memo stamped on DataFrames comes back
GONE = {
    "plan_cached",
    "lazy_checkpoints",
    "LAZY_ACTIVE",
    "scan_partitions",
    "_widen_narrow_scan",
    "_session_nonce",
    "_CACHE_SESSION_KEY",
}


def _cache_uses(path: Path):
    """(name, enclosing function, line) of every call to an ALLOWED
    entry point and every mention of a GONE name."""
    tree = ast.parse(path.read_text())
    hits = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if child.name in GONE:
                    hits.append((child.name, fn, child.lineno))
                walk(child, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None
                )
                if name in ALLOWED:
                    hits.append((name, fn, child.lineno))
            name = getattr(child, "id", None) or getattr(child, "attr", None)
            if isinstance(child, ast.alias):
                name = child.asname or child.name
            if name in GONE:
                hits.append((name, fn, child.lineno))
            walk(child, fn)

    walk(tree, None)
    return hits


def test_no_hand_rolled_artifact_cache():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for name, fn, line in _cache_uses(path):
            if name in GONE or not ALLOWED[name](rel):
                offenders.append(f"{rel}:{line} {name} ({fn})")
    assert not offenders, (
        "cache outside its owner — use ingest_artifact for corpus "
        "artifacts, @query(..., pure=True) for plans and scratch_dir "
        "for temp dirs: "
        + ", ".join(offenders)
    )


# What spark_file_mover_spark/profile.py owns: plan text, oracle views,
# plan-cache bypass, the materialize consume, and job counting (by
# job-id window, never by job group). "CREATE" and "VIEW" are joined
# here so this file does not match itself.
_ORACLE_VIEW = " ".join(("CREATE", "VIEW"))
_JOB_GROUP = {"setJobGroup", "getJobIdsForGroup"}
# test_r14_ops checks that sink-bucketed's writes carry the caller's job
# GROUP, so the group itself is what it inspects
_JOB_GROUP_CHECK = (
    "test_r14_ops.py",
    "test_sink_bucketed_writes_carry_caller_job_group",
)


def _measurement_copies(path: Path):
    """(what, enclosing function, line) of each piece of profile.py's
    job done by hand in ``path``."""
    hits = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            what = None
            if isinstance(child, ast.Attribute) and (
                child.attr == "explainString" or child.attr in _JOB_GROUP
            ):
                what = child.attr
            elif isinstance(child, ast.Constant) and _ORACLE_VIEW in str(child.value):
                what = _ORACLE_VIEW
            elif isinstance(child, ast.Assign) and any(
                getattr(t, "attr", getattr(t, "id", None)) == "cached_plan"
                for t in child.targets
            ):
                what = "cached_plan ="
            elif isinstance(child, ast.ImportFrom) and child.module == "bench":
                if any(a.name == "materialize" for a in child.names):
                    what = "from bench import materialize"
            elif isinstance(child, ast.FunctionDef) and child.name == "materialize":
                what = "def materialize"
            if what and not (
                what in _JOB_GROUP and (path.name, fn) == _JOB_GROUP_CHECK
            ):
                hits.append((what, fn, child.lineno))
            walk(child, child.name if isinstance(child, ast.FunctionDef) else fn)

    walk(ast.parse(path.read_text()), None)
    return hits


def test_no_measurement_copy_outside_profile():
    paths = [
        *sorted((REPO / "tests").rglob("*.py")),
        *sorted((REPO / "tools").rglob("*.py")),
        REPO / "bench.py",
    ]
    offenders = [
        f"{path.relative_to(REPO).as_posix()}:{line} {what} ({fn})"
        for path in paths
        for what, fn, line in _measurement_copies(path)
    ]
    assert not offenders, (
        "measurement code outside spark_file_mover_spark/profile.py — "
        "use its materialize, formatted_plan, oracle_connection, "
        "plan_cache_bypassed, counted or timed: " + ", ".join(offenders)
    )


def test_eviction_releases_checkpoint_blocks(spark, sf_dir):
    """text-boilerplate-lines' artifact is a localCheckpoint; switching
    corpora six times must not pin one more persisted RDD per switch
    (DataFrame.unpersist() alone leaves the checkpoint registered)."""
    sc = spark.sparkContext
    q = registry.QUERIES["text-boilerplate-lines"]
    small = str(Path(sf_dir).parent / "sf0.001")
    sizes = []
    for sf in [small, sf_dir] * 3 + [small]:
        q(spark, sf).collect()
        sizes.append(sc._jsc.getPersistentRDDs().size())
    assert sizes[-1] <= sizes[0], sizes


def test_scratch_sweep_removes_only_dead_owner_roots(tmp_path, monkeypatch):
    """A scratch root whose owner pid is dead goes on the first
    scratch_dir call; the live process's own root stays. Data-free."""
    import os
    import subprocess
    import sys
    import tempfile

    from spark_file_mover_spark.sources import io as sio

    dead_pid = int(
        subprocess.run(
            [sys.executable, "-c", "import os; print(os.getpid())"],
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    )
    dead = tmp_path / f"sfm-{dead_pid}-x"
    live = tmp_path / f"sfm-{os.getpid()}-y"
    for root in (dead, live):
        (root / "k-1").mkdir(parents=True)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(sio, "_SCRATCH_ROOT", None)
    monkeypatch.setattr(sio, "_SCRATCH_NAMED", {})
    first = sio.scratch_dir("k")
    assert not dead.exists() and live.exists()
    # a named call removes the directory the previous one handed out;
    # an anonymous one stays
    anon = sio.scratch_dir()
    second = sio.scratch_dir("k")
    assert not os.path.exists(first) and os.path.isdir(second)
    assert os.path.isdir(anon)
    assert os.path.dirname(second) == os.path.dirname(anon)
    assert os.path.dirname(os.path.dirname(anon)) == str(tmp_path)


def test_owner_alive_treats_eperm_as_alive(monkeypatch):
    """EPERM from kill(pid, 0) is a live process under another user —
    its files must survive every dead-owner sweep. Data-free."""
    import os

    from spark_file_mover_spark.sources import io as sio

    def kill(exc):
        def _kill(pid, sig):
            raise exc

        return _kill

    monkeypatch.setattr(os, "kill", kill(PermissionError()))
    assert sio.owner_alive(12345)
    monkeypatch.setattr(os, "kill", kill(ProcessLookupError()))
    assert not sio.owner_alive(12345)


def test_scratch_holds_one_dir_per_name(spark, sf_dir):
    """Three invocations each of a fixture key and two per-invocation
    keys leave one directory per name and at most one new fixture
    directory under the scratch root; a fixture whose directory was
    removed behind the cache's back is rebuilt, not served empty."""
    import os
    import shutil

    from spark_file_mover_spark.sources import io as sio

    keys = ("sink-compact", "scan-csv-roundtrip", "move-rename")
    registry.QUERIES[keys[0]](spark, sf_dir).collect()
    root = sio._scratch_root()

    def anonymous() -> set[str]:
        names = set(os.listdir(root))
        return {n for n in names if not n.startswith(keys)}

    before = anonymous()
    for _ in range(3):
        for key in keys:
            registry.QUERIES[key](spark, sf_dir).collect()
    names = os.listdir(root)
    for key in keys:
        assert len([n for n in names if n.startswith(key + "-")]) == 1, key
    assert anonymous() == before

    (frag,) = [
        v for k, v in sio._ARTIFACTS.items() if k[1] == "compact-fragments"
    ]
    shutil.rmtree(os.path.dirname(frag))
    rows = registry.QUERIES["sink-compact"](spark, sf_dir).collect()
    assert {r["layout"]: r["n_files"] for r in rows}["fragmented"] > 1
    after = anonymous()
    assert len(after - before) == 1 and len(after) == len(before)
