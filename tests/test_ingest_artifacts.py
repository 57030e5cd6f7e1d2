"""The ingest-artifact primitive (``sources.io.ingest_artifact``) is the
only corpus-artifact cache and the registry's ``pure`` flag the only
plan cache: these tests pin that no module grows its own again, and
that evicting an entry releases the blocks it pinned."""

from __future__ import annotations

import ast
from pathlib import Path

from spark_file_mover_spark import registry

registry.load_all()

PKG = Path(__file__).resolve().parent.parent / "spark_file_mover_spark"

# (module path under the package, enclosing function) allowed to key a
# cache on artifact_cache_key outside sources/io.py: temp-dir fixtures
# that own files on disk and rmtree them on eviction, which the
# DataFrame-releasing primitive does not manage.
KEY_EXEMPT = {
    ("operators/streaming.py", "stream_sink_exactly_once"),
    ("llm/multimodal.py", "_asset_corpus"),
}

# cache entry point → is a call at (module path, enclosing function)
# allowed? Plan caching is a registry flag (``@query(..., pure=True)``),
# so only registry.py may call cached_plan.
ALLOWED = {
    "artifact_cache_key": lambda rel, fn: rel == "sources/io.py"
    or (rel, fn) in KEY_EXEMPT,
    "cached_plan": lambda rel, fn: rel == "registry.py",
}
# names that must not exist anywhere in the package
GONE = {"plan_cached"}


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
            if name in GONE or not ALLOWED[name](rel, fn):
                offenders.append(f"{rel}:{line} {name} ({fn})")
    assert not offenders, (
        "cache outside its owner — use ingest_artifact for corpus "
        "artifacts and @query(..., pure=True) for plans: "
        + ", ".join(offenders)
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
