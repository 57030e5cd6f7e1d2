"""execute_moves_distributed: the executor-side rename pass (SCALE.md's
>10^5-files path) must produce the identical end state to the driver-side
``move_files`` on the same plan, abort identically on collisions, and be
safe to re-collect."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest

from spark_file_mover_spark.filemover import (
    NoSuchPartitionVariable,
    execute_moves_distributed,
    move_files,
)

EXAMPLE_DATA = [
    ("data", 1, "foo"),
    ("data", 1, "fooagain"),
    ("data", 2, "bar"),
    ("info", 3, "baz"),
]
COLUMNS = ["category", "id", "value"]


@pytest.fixture()
def tmp_pair():
    d = tempfile.mkdtemp(prefix="filemover-dist-")
    yield str(Path(d) / "a"), str(Path(d) / "b"), d
    shutil.rmtree(d, ignore_errors=True)


def _tree(root: str) -> set[str]:
    """Relative paths of every file at-or-under root, plus sibling files
    move_files may have landed next to root (e.g. ``<root>-data-1.csv``
    for templates rendering outside the output dir) — what the
    reference's isFile/isDirectory assertions observe."""
    r = Path(root)
    out = {str(p.relative_to(r)) for p in r.rglob("*") if p.is_file()}
    prefix = r.name
    for p in r.parent.iterdir():
        if p.is_file() and p.name.startswith(prefix):
            out.add("../" + p.name[len(prefix):])
    return out


def _write(spark, out):
    (
        spark.createDataFrame(EXAMPLE_DATA, COLUMNS)
        .coalesce(1)
        .write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy("category", "id")
        .csv(out)
    )


def test_identical_end_state_to_move_files(spark, tmp_pair):
    _, _, d = tmp_pair
    # the second template renders into a subdirectory that does not
    # exist yet: Hadoop's local rename creates it, so the executor-side
    # pass must too
    for i, template in enumerate(
        ["$outputDirectory/$category-$id.csv",
         "$outputDirectory/new/$category-$id.csv"]
    ):
        out_a, out_b = str(Path(d) / f"{i}a"), str(Path(d) / f"{i}b")
        _write(spark, out_a)
        _write(spark, out_b)

        res = move_files(spark, out_a, template)
        manifest, moved = execute_moves_distributed(spark, out_b, template)

        assert res.moved and moved, template
        rows = manifest.collect()
        assert len(rows) == len(res.renames), template
        assert all(
            r.renamed and r.status == "renamed" and r.error is None
            for r in rows
        ), (template, rows)
        assert _tree(out_a) == _tree(out_b), template


def test_collision_aborts_all_renames(spark, tmp_pair):
    out_a, out_b, _ = tmp_pair
    _write(spark, out_b)
    before = _tree(out_b)
    # every file renders to the same target -> global abort, nothing moves
    manifest, moved = execute_moves_distributed(
        spark, out_b, "$outputDirectory.csv"
    )
    assert not moved
    rows = manifest.collect()
    assert rows and all(not r.renamed for r in rows)
    assert all("collision" in r.error for r in rows)
    assert _tree(out_b) == before


def test_unknown_variable_raises_before_any_rename(spark, tmp_pair):
    out_a, out_b, _ = tmp_pair
    _write(spark, out_b)
    before = _tree(out_b)
    with pytest.raises(NoSuchPartitionVariable):
        execute_moves_distributed(spark, out_b, "$outputDirectory/$nope.csv")
    assert _tree(out_b) == before


def test_recollect_does_not_rerun_renames(spark, tmp_pair):
    out_a, out_b, _ = tmp_pair
    template = "$outputDirectory/$category-$id.csv"
    _write(spark, out_b)
    manifest, moved = execute_moves_distributed(spark, out_b, template)
    assert moved
    first = sorted(map(tuple, manifest.collect()))
    # a second collect must read the checkpointed manifest, not re-run the
    # mapInPandas pass (which would now fail: sources are gone)
    second = sorted(map(tuple, manifest.collect()))
    assert first == second
    assert all(r[2] for r in second)


def test_worker_rename_retry_idempotent(tmp_path):
    """A re-executed task re-visits renames its first attempt performed:
    destination-exists with source-gone must report the distinct
    already-moved status (size-verified against the plan), while a
    genuine collision (both exist) must still fail — and a landed file
    whose size disagrees with the plan must NOT be claimed."""
    from spark_file_mover_spark.filemover import _worker_rename

    src, dst = tmp_path / "a.csv", tmp_path / "b.csv"
    src.write_text("x")
    assert _worker_rename(str(src), str(dst), expected_size=1) == (
        "renamed", None
    )
    # retry: src is gone, dst present and size matches -> already-moved
    assert _worker_rename(str(src), str(dst), expected_size=1) == (
        "already-moved", None
    )
    # retry with a size that contradicts the plan -> refuse the claim
    status, err = _worker_rename(str(src), str(dst), expected_size=999)
    assert status == "failed" and "size" in err
    # no recorded size -> the claim cannot be verified; it must surface
    # under the distinct unverified status, not as a confirmed rename
    assert _worker_rename(str(src), str(dst)) == (
        "already-moved-unverified", None
    )
    # genuine conflict: both exist -> refuse
    src.write_text("y")
    assert _worker_rename(str(src), str(dst), expected_size=1) == (
        "failed", "destination exists"
    )


def test_split_fs_path_preserves_special_chars():
    """Hive partition escaping puts literal %XX / '#' / '?' in on-disk
    names; the path splitter must never percent-decode or truncate."""
    from spark_file_mover_spark.filemover import _split_fs_path

    assert _split_fs_path("file:/t/p_brand=Brand%2313/f.csv") == (
        "file", "", "/t/p_brand=Brand%2313/f.csv"
    )
    assert _split_fs_path("/t/x#frag?q=1") == ("file", "", "/t/x#frag?q=1")
    assert _split_fs_path("file:///tmp/a b/c.csv") == (
        "file", "", "/tmp/a b/c.csv"
    )
    assert _split_fs_path("hdfs://nn:9000/data/x%20y") == (
        "hdfs", "nn:9000", "/data/x%20y"
    )
