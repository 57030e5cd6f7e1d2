"""The file-mover: post-write single-file / templated-rename pass (SURVEY.md §2A).

Re-expresses the reference's ``MoveFilesOutputCommitter``
(`MoveFilesOutputCommitter.scala:12-56`) as an idiomatic PySpark post-write
library function. The reference hooks Spark's Hadoop committer via
``spark.sql.sources.outputCommitterClass`` and runs entirely on the driver
after ``super.commitJob`` — i.e. after all files exist at their final
location. PySpark cannot subclass a Java committer, and does not need to:
``df.write...save(path)`` blocks until job commit, so calling
:func:`move_files` right after gives the identical observable end state
for the writing caller. The residual difference vs the in-job committer
is a CONCURRENT reader's view: the reference's renames happen inside
``commitJob`` (un-moved layout is never visible after the write
returns), while the post-write pass leaves a window where a reader can
see the Hive layout first. ``write_single_file(..., staged=True)``
closes that window without Scala: the write lands in a hidden
``.__staging__-<uuid>`` dir inside the output path and each file is
renamed directly to its final target, so the un-moved layout only ever
exists under a name Hadoop/Spark readers skip (pinned by
tests/test_filemover.py's mid-publish watcher test).

The reference's CONFIG-DRIVEN activation (conf set -> every write moves,
no call-site change) is likewise re-expressed without Scala:
:func:`spark_file_mover_spark.committer.install_move_files_committer`
wraps the classic ``DataFrameWriter`` path methods once per process, and
any session that sets ``spark.writer.movefiles=<template>`` (the same
conf key the reference reads, scala :9-10,:16-17) gets the post-write
pass on every path write. Explicit calls here suppress that hook so the
two surfaces compose (see committer.py for scope notes).

Behavioral contract preserved (reference file:line):

* recursive listing, ``_SUCCESS`` excluded        — scala :27
* Hive ``key=value`` ancestor-dir parse, regex
  ``(\\w+)=([a-zA-Z0-9 -_]*)``, deeper dir wins   — scala :29-35
* synthetic ``outputDirectory`` var overrides a
  same-named partition column                     — scala :35
* ``$var`` template, names ``[a-zA-Z0-9]+`` (so
  ``_`` is a delimiter, not part of a name)       — scala :30,37-46
* unknown variable raises (fails the whole job,
  before ANY rename happens)                      — scala :40, test :144-154
* global collision guard: if any target has >1
  source, NO file is moved                        — scala :50-53
* renames executed via ``FileSystem.rename``;
  failed renames are silent; source partition
  dirs are not removed                            — scala :52, README :85
* the rename plan is printed to stdout            — scala :49

Scale note (100 TB): the plan is O(#files) driver-side metadata work —
same as the reference — which is fine to ~10^5 files. For larger outputs
:func:`plan_moves_df` surfaces the same plan as a DataFrame so the rename
pass can be executed with ``foreachPartition`` (an FS client per executor);
rename is a metadata op on HDFS. On object stores rename is a copy — prefer
naming files correctly at write time there, as the reference README implies
for HDFS-like filesystems.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

#: option name kept for API parity with the reference (scala :9-10)
MOVE_FILES_OPTION = "spark.writer.movefiles"

# Reference regexes, ported verbatim (scala :29-30). Note `[a-zA-Z0-9 -_]`
# contains the ASCII *range* space..underscore — a reference quirk we keep
# for parity (it admits most printable punctuation in partition values).
_PARTITION_RE = re.compile(r"(\w+)=([a-zA-Z0-9 -_]*)")
_VARIABLE_RE = re.compile(r"(.*?)\$([a-zA-Z0-9]+)")

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


class NoSuchPartitionVariable(KeyError):
    """Unknown ``$var`` in the target pattern (reference
    ``NoSuchElementException``, scala :40): fails the whole move, before
    any rename has been executed."""


@dataclass(frozen=True)
class MoveResult:
    """Outcome of one :func:`move_files` pass."""

    renames: dict[str, str]  # planned src -> target (always complete)
    moved: bool  # False iff the collision guard aborted the pass


# ---------------------------------------------------------------------------
# Pure plan-building functions (no filesystem, unit-testable)
# ---------------------------------------------------------------------------


def extract_partitions(file_path: str, output_dir: str) -> dict[str, str]:
    """Parse Hive ``key=value`` ancestor directories of ``file_path`` into a
    string map; deeper segments win on duplicate keys; the synthetic
    ``outputDirectory`` key is injected last and overrides a same-named
    partition column (scala :29-35).
    """
    parts: dict[str, str] = {}
    # every ancestor dir name, shallowest first (scala: parents .reverse)
    segments = file_path.split("/")[:-1]
    for seg in segments:
        m = _PARTITION_RE.fullmatch(seg)
        if m:
            parts[m.group(1)] = m.group(2)
    parts["outputDirectory"] = output_dir
    return parts


def render_segment(segment: str, env: dict[str, str]) -> str:
    """Substitute every ``$var`` in one ``/``-split template segment
    (scala :30,38-45). Variable names match ``[a-zA-Z0-9]+`` so ``_``
    delimits: ``cat_$category_id_$id.csv`` is literal ``cat_`` + var
    ``category`` + literal ``_id_`` + var ``id`` + literal ``.csv``.
    Unknown variables raise :class:`NoSuchPartitionVariable`.
    """

    def repl(m: re.Match[str]) -> str:
        name = m.group(2)
        if name not in env:
            raise NoSuchPartitionVariable(
                f"Key '{name}' not found in partitions {env}"
            )
        return m.group(1) + env[name]

    return _VARIABLE_RE.sub(repl, segment)


def _join_path(parent: str, child: str) -> str:
    """Mirror Hadoop ``new Path(parent, child)``: an absolute child (URI or
    rooted path) replaces the parent; a rooted child keeps the parent's
    scheme/authority."""
    if _SCHEME_RE.match(child):
        return child
    if child.startswith("/"):
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?)", parent)
        return (m.group(1) if m else "") + child
    return parent.rstrip("/") + "/" + child


def render_target(template: str, env: dict[str, str], root: str = "/") -> str:
    """Render the full ``/``-split target template against ``env``, folding
    from the filesystem root exactly like the reference (scala :37-46)."""
    path = root
    for segment in template.split("/"):
        if "$" in segment:
            segment = render_segment(segment, env)
        if segment:
            path = _join_path(path, segment)
    return path


def plan_moves(
    files: list[str], output_dir: str, template: str, root: str = "/"
) -> dict[str, str]:
    """Build the full rename plan ``{source -> target}`` for a completed
    write at ``output_dir`` (scala :31-48). Raises on unknown template
    variables before any rename could run."""
    plan: dict[str, str] = {}
    for f in files:
        env = extract_partitions(f, output_dir)
        plan[f] = render_target(template, env, root=root)
    return plan


def has_collisions(plan: dict[str, str]) -> bool:
    """Global collision guard (scala :50-51): True iff any target path is
    produced by more than one source file — in which case the reference
    silently moves NOTHING."""
    seen: set[str] = set()
    for target in plan.values():
        if target in seen:
            return True
        seen.add(target)
    return False


# ---------------------------------------------------------------------------
# Filesystem side (py4j Hadoop FS — works for file:// and hdfs:// alike)
# ---------------------------------------------------------------------------


def _hadoop_fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path`` via py4j (same client the reference
    gets from ``FileSystem.get(outputPath.toUri, conf)``, scala :18)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf), jpath


def list_output_files(spark: SparkSession, output_dir: str) -> list[tuple[str, int]]:
    """A1: recursively list all files under ``output_dir``, excluding
    ``_SUCCESS`` (scala :27). Returns ``[(fully-qualified path, size)]``."""
    fs, jpath = _hadoop_fs(spark, output_dir)
    it = fs.listFiles(jpath, True)
    out: list[tuple[str, int]] = []
    while it.hasNext():
        status = it.next()
        p = status.getPath()
        if p.getName() == "_SUCCESS":
            continue
        out.append((p.toString(), status.getLen()))
    return out


def move_files(
    spark: SparkSession, output_dir: str, template: str
) -> MoveResult:
    """A1–A5 composite: the post-write pass the reference runs inside
    ``commitJob`` (scala :16-53). List → extract partitions → render →
    collision-guard → rename. Unknown template variables raise before any
    rename; a collision aborts every rename; individual rename failures are
    silent (reference parity)."""
    fs, jpath = _hadoop_fs(spark, output_dir)
    qualified_out = fs.resolvePath(jpath).toString()
    root = fs.resolvePath(spark._jvm.org.apache.hadoop.fs.Path("/")).toString()

    files = [p for p, _ in list_output_files(spark, output_dir)]
    plan = plan_moves(files, qualified_out, template, root=root)
    print(plan)  # the reference prints the rename plan (scala :49)

    if has_collisions(plan):
        return MoveResult(renames=plan, moved=False)
    Jpath = spark._jvm.org.apache.hadoop.fs.Path
    for src, dst in plan.items():
        fs.rename(Jpath(src), Jpath(dst))  # return value ignored (scala :52)
    return MoveResult(renames=plan, moved=True)


def plan_moves_df(
    spark: SparkSession, output_dir: str, template: str
) -> DataFrame:
    """The rename plan as a DataFrame — the 100 TB-scale surface: build the
    manifest distributed-side and execute renames with ``foreachPartition``
    when #files outgrows driver memory. Columns: source, target, size."""
    fs, jpath = _hadoop_fs(spark, output_dir)
    qualified_out = fs.resolvePath(jpath).toString()
    # same qualified root as move_files — otherwise the manifest would emit
    # scheme-less targets that differ from what move_files actually renames
    root = fs.resolvePath(spark._jvm.org.apache.hadoop.fs.Path("/")).toString()
    files = list_output_files(spark, output_dir)
    plan = plan_moves([p for p, _ in files], qualified_out, template, root=root)
    sizes = dict(files)
    rows = [(src, dst, sizes[src]) for src, dst in plan.items()]
    return spark.createDataFrame(rows, "source string, target string, size long")


def _split_fs_path(p: str) -> tuple[str, str, str]:
    """Split a Hadoop-style path into (scheme, authority, path) WITHOUT
    urllib: Hadoop ``Path.toString`` emits the on-disk name verbatim —
    Hive partition escaping means names legitimately contain ``%23``,
    ``#`` or ``?``, which urlparse would percent-decode or truncate into
    the wrong file."""
    m = _SCHEME_RE.match(p)
    if not m:
        return "file", "", p
    scheme = p[: m.end() - 1]
    rest = p[m.end():]
    if rest.startswith("//"):
        rest = rest[2:]
        slash = rest.find("/")
        if slash < 0:
            return scheme, rest, "/"
        return scheme, rest[:slash], rest[slash:]
    return scheme, "", rest


def _worker_rename(
    src: str, dst: str, expected_size: Optional[int] = None
) -> tuple[str, Optional[str]]:
    """Rename one file from inside an executor Python worker (no py4j JVM
    access exists there). Hadoop's local ``FileSystem.rename`` semantics
    mirrored, as :func:`move_files` gets them: fail (don't overwrite)
    when the destination exists, create the destination's missing
    parent directories. One deliberate extension for task
    RETRY idempotency: destination-exists-AND-source-gone is treated as a
    prior attempt's completed rename — a re-executed task (executor loss
    mid-batch) re-visits renames its first attempt already performed, and
    recording those as failures would page on successful moves. That
    branch is reported with its own ``already-moved`` status (not folded
    into ``renamed``), and when the plan's recorded source size is
    supplied, a landed file whose size disagrees fails instead of passing
    — source-gone could otherwise mean a listed-then-deleted race or a
    different producer landing the target. Without a recorded size the
    claim cannot be verified, so it is reported as the distinct
    ``already-moved-unverified`` status: the lenient path is opt-in and
    visible in the manifest, never silently equivalent to a verified
    claim. Returns ``(status, error)`` with status ∈ {renamed,
    already-moved, already-moved-unverified, failed} and error None on
    success. ``file:`` URIs use the OS; ``hdfs:`` tries pyarrow's libhdfs
    binding (absent in this container — explicitly gated, the Spark-side
    plumbing is the tested part)."""
    import os

    scheme, _auth, _ = _split_fs_path(src)
    if scheme == "file" or scheme == "":
        _, _, sp = _split_fs_path(src)
        _, _, dp = _split_fs_path(dst)
        if os.path.exists(dp):
            if not os.path.exists(sp):
                if expected_size is not None:
                    try:
                        landed = os.path.getsize(dp)
                    except OSError as ex:
                        return "failed", str(ex)[:200]
                    if landed != expected_size:
                        return "failed", (
                            "source gone and destination size "
                            f"{landed} != planned {expected_size}; "
                            "not claiming the rename"
                        )
                    return "already-moved", None
                # No recorded size to check against: the claim cannot be
                # verified, and destination-exists/source-gone is also the
                # signature of a listed-then-deleted race or a foreign
                # producer landing the target. Report it under a distinct
                # status so the lenient claim is visible in the manifest
                # instead of passing as a confirmed rename.
                return "already-moved-unverified", None
            return "failed", "destination exists"
        try:
            os.makedirs(os.path.dirname(dp), exist_ok=True)
            os.rename(sp, dp)
        except OSError as ex:
            return "failed", str(ex)[:200]
        # Hadoop's ChecksumFileSystem moves the hidden ".name.crc" sidecar
        # with the file on local FS; mirror it (best-effort — the sidecar
        # is a local-FS artifact, invisible to Spark readers either way)
        crc_src = os.path.join(os.path.dirname(sp), f".{os.path.basename(sp)}.crc")
        if os.path.isfile(crc_src):
            crc_dst = os.path.join(
                os.path.dirname(dp), f".{os.path.basename(dp)}.crc"
            )
            try:
                os.rename(crc_src, crc_dst)
            except OSError:
                pass
        return "renamed", None
    if scheme == "hdfs":
        try:
            from pyarrow import fs as pafs
        except ImportError:  # pragma: no cover
            return "failed", "pyarrow.fs unavailable"
        try:
            _, auth, sp = _split_fs_path(src)
            _, _, dp = _split_fs_path(dst)
            host, _, port = auth.partition(":")
            client = pafs.HadoopFileSystem(host or "default", int(port or 0))
            client.move(sp, dp)
            return "renamed", None
        except Exception as ex:  # libhdfs not shipped in this container
            return "failed", f"hdfs client: {str(ex)[:160]}"
    return "failed", f"unsupported scheme {scheme!r}"


def execute_moves_distributed(
    spark: SparkSession,
    output_dir: str,
    template: str,
    num_partitions: Optional[int] = None,
) -> tuple[DataFrame, bool]:
    """A5 at 100 TB scale: execute the rename plan executor-side instead of
    in a driver loop — the path SCALE.md prescribes when #files outgrows
    ~10^5. Returns ``(manifest, moved)`` where manifest has columns
    ``source, target, renamed, status, error`` (one row per planned
    file; status ∈ renamed / already-moved / failed, where already-moved
    is a retry-idempotency claim verified against the plan's recorded
    file size) and ``moved`` is False iff the global collision guard
    aborted the pass.

    Semantics are identical to :func:`move_files` (scala :16-53): unknown
    template variables raise before any rename; any target collision
    aborts every rename; per-file rename failures are recorded in the
    manifest rather than silently dropped (strictly more observable than
    the reference's ignored boolean, scala :52).

    Execution shape: the plan manifest is a DataFrame; renames run inside
    ``mapInPandas`` with one Python-native FS client per batch (executor
    workers have no py4j bridge, so the JVM Hadoop client is driver-only
    by construction). The manifest is materialized exactly once via an
    eager ``localCheckpoint`` — re-collecting the returned DataFrame
    re-reads cached blocks and can never re-execute the renames. Task
    RETRY is idempotent (destination-exists-with-source-gone counts as
    ``already-moved`` when the landed size matches the plan, see
    :func:`_worker_rename`); do not enable speculative
    execution (``spark.speculation``, default off) for a rename job —
    two live attempts racing the same batch would interleave observably.
    """
    from pyspark.sql import functions as F

    plan_df = plan_moves_df(spark, output_dir, template)
    if num_partitions:
        plan_df = plan_df.repartition(num_partitions)

    collided = (
        plan_df.groupBy("target")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .count()
        > 0
    )
    if collided:
        manifest = plan_df.select(
            "source",
            "target",
            F.lit(False).alias("renamed"),
            F.lit("failed").alias("status"),
            F.lit("collision guard: target produced by >1 source").alias(
                "error"
            ),
        )
        return manifest, False

    def rename_batches(batches):
        for pdf in batches:
            outcomes = [
                _worker_rename(s, t, expected_size=int(sz))
                for s, t, sz in zip(pdf["source"], pdf["target"], pdf["size"])
            ]
            pdf = pdf[["source", "target"]].copy()
            pdf["renamed"] = [st != "failed" for st, _ in outcomes]
            pdf["status"] = [st for st, _ in outcomes]
            pdf["error"] = [err for _, err in outcomes]
            yield pdf

    manifest = plan_df.select("source", "target", "size").mapInPandas(
        rename_batches,
        "source string, target string, renamed boolean, "
        "status string, error string",
    ).localCheckpoint(eager=True)
    return manifest, True


def _raw_publish(
    spark: SparkSession, fs, stage: str, output_dir: str, files: list[str]
) -> None:
    """Reconstruct the UNMOVED Hive layout at ``output_dir`` from staged
    files — the abort/failed-rename path of the staged publish, keeping
    staged end states byte-identical to unstaged ones (where an aborted
    or failed move simply leaves the written layout in place)."""
    Jpath = spark._jvm.org.apache.hadoop.fs.Path
    out = output_dir.rstrip("/")
    for src in files:
        if not fs.exists(Jpath(src)):
            continue  # already renamed by the successful part of the pass
        dst = out + src[len(stage):]
        parent = dst.rsplit("/", 1)[0]
        fs.mkdirs(Jpath(parent))
        fs.rename(Jpath(src), Jpath(dst))


def _publish_staged(
    spark: SparkSession,
    stage_dir: str,
    output_dir: str,
    template: str,
    include_existing: bool = False,
) -> MoveResult:
    """Publish a completed write that landed in a HIDDEN staging dir
    inside ``output_dir``: plan the A1-A5 move pass AS IF the files sat
    at their unstaged positions (so templates render identical final
    names), then rename each staged file directly to its final target —
    a concurrent reader of ``output_dir`` never observes the un-moved
    Hive layout, because that layout only ever exists under a
    dot-prefixed dir every Hadoop/Spark reader skips as hidden.

    Semantics parity with :func:`move_files` (reference scala :37-53):
    the plan prints in final-layout terms; unknown template variables
    raise before any rename; a global collision moves nothing; a failed
    rename is silent. In every non-moved case the staged file is
    published to its UNMOVED position, so the observable end state
    matches the unstaged pass at FILE level (same relative paths, same
    bytes — pinned by the differential test). One deliberate
    directory-level difference remains: per-partition moves that drain a
    Hive ``key=value`` dir leave the unstaged pass's now-empty source
    dirs behind, while here those dirs only ever existed inside the
    deleted staging dir, so the staged tree omits the empty skeleton.

    ``include_existing=True`` (append-mode parity) re-plans every
    pre-existing file under ``output_dir`` alongside the staged ones —
    the unstaged append pass lists the WHOLE dir, not just the files the
    write added — and renames them under the same collision guard."""
    fs, jstage = _hadoop_fs(spark, stage_dir)
    Jpath = spark._jvm.org.apache.hadoop.fs.Path
    q_stage = fs.resolvePath(jstage).toString()
    qualified_out = fs.resolvePath(Jpath(output_dir)).toString()
    root = fs.resolvePath(Jpath("/")).toString()

    staged = [p for p, _ in list_output_files(spark, stage_dir)]
    virtual = {p: qualified_out + p[len(q_stage):] for p in staged}
    existing: list[str] = []
    if include_existing:
        existing = [
            p
            for p, _ in list_output_files(spark, output_dir)
            if not p.startswith(q_stage + "/")
        ]
    try:
        plan = plan_moves(
            list(virtual.values()) + existing,
            qualified_out,
            template,
            root=root,
        )
    except NoSuchPartitionVariable:
        # parity: an unstaged pass raises with the written layout in
        # place — publish the raw layout, then propagate
        _raw_publish(spark, fs, q_stage, qualified_out, staged)
        fs.delete(Jpath(q_stage), True)
        raise
    print(plan)  # the reference prints the rename plan (scala :49)

    if has_collisions(plan):
        _raw_publish(spark, fs, q_stage, qualified_out, staged)
        fs.delete(Jpath(q_stage), True)
        return MoveResult(renames=plan, moved=False)
    for src in staged:
        fs.rename(Jpath(src), Jpath(plan[virtual[src]]))  # silent (scala :52)
    for src in existing:
        fs.rename(Jpath(src), Jpath(plan[src]))  # silent (scala :52)
    # any file whose rename failed (missing target parent, existing
    # target) surfaces at its unmoved position, as it would unstaged
    _raw_publish(spark, fs, q_stage, qualified_out, staged)
    fs.delete(Jpath(q_stage), True)
    return MoveResult(renames=plan, moved=True)


def write_single_file(
    df: DataFrame,
    output_dir: str,
    template: str = "$outputDirectory",
    partition_by: Optional[list[str]] = None,
    fmt: str = "csv",
    mode: str = "overwrite",
    single: bool = True,
    options: Optional[dict[str, str]] = None,
    staged: bool = False,
) -> MoveResult:
    """A6: the user-facing composite — write a DataFrame and land it as
    exactly one named file (or one file per partition), the reference's
    headline capability ("A Spark extension for writing to single files",
    build.sc:35; README.md:33-49).

    ``single=True`` coalesces to one output file per partition-dir the way
    the reference tests ``repartition(1)`` (test :80) — ``coalesce`` avoids
    the shuffle when upstream parallelism allows.

    ``staged=True`` (opt-in, r13 verdict item 4) shrinks the post-write
    visibility window this library has instead of the reference's in-job
    committer (see module docstring): the Spark write lands in a hidden
    ``.__staging__-<uuid>`` dir INSIDE ``output_dir`` (same filesystem, so
    every publish rename is a metadata op), and the move pass renames each
    staged file directly to its final target — a concurrent reader never
    sees the un-moved Hive layout, since dot-prefixed paths are hidden to
    Hadoop/Spark readers. End states (collision abort, unknown-variable
    raise, failed renames, ``_SUCCESS`` exclusion) match the unstaged
    pass at FILE level — same relative paths, same bytes (differential
    test) — though the unstaged pass's empty drained ``key=value``
    source-dir skeleton is absent, those dirs having only ever existed
    inside the deleted staging dir. Save-mode semantics are enforced
    against ``output_dir``, not the always-fresh staging dir: ``error``/
    ``errorifexists`` raises :class:`AnalysisException` when
    ``output_dir`` exists (before any write), ``ignore`` skips the write
    but still runs the move pass over the existing content (exactly the
    unstaged behavior), ``append`` re-plans pre-existing files alongside
    the staged ones, and ``overwrite`` clears pre-existing content at
    publish time rather than write time (the one residual window,
    metadata-sized) — also sweeping ``.__staging__-*`` dirs orphaned by
    crashed prior staged runs (1 h age guard, same hygiene as the
    sink-expire-snapshots scratch sweep)."""
    spark = df.sparkSession
    writer_df = df.coalesce(1) if single else df
    writer = writer_df.write.mode(mode).option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    )
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    # compose with the config-driven committer surface: internal saves
    # must not ALSO trigger the conf-template move (the explicit
    # template passed here wins) — lazy import avoids a module cycle
    from spark_file_mover_spark.committer import suppress_move_on_write

    if not staged:
        with suppress_move_on_write():
            writer.format(fmt).save(output_dir)
        return move_files(spark, output_dir, template)

    import time as _time
    import uuid

    # Save-mode semantics must be judged against output_dir — the
    # staging dir is always fresh, so handing the mode to the Spark
    # writer alone would make error/ignore/append silently behave like
    # a plain staged write (ADVICE r14).
    norm_mode = (mode or "errorifexists").lower()
    fs, jout = _hadoop_fs(spark, output_dir)
    out_exists = fs.exists(jout)
    if out_exists and norm_mode in ("error", "errorifexists", "default"):
        from pyspark.errors import AnalysisException

        # same error class the unstaged save(output_dir) raises
        raise AnalysisException(
            f"[PATH_ALREADY_EXISTS] Path {output_dir} already exists."
            ' Set mode as "overwrite" to overwrite the existing path.'
        )
    if out_exists and norm_mode == "ignore":
        # unstaged parity: the save is a no-op, but the move pass still
        # re-plans whatever already sits in output_dir
        return move_files(spark, output_dir, template)

    stage_dir = output_dir.rstrip("/") + f"/.__staging__-{uuid.uuid4().hex}"
    stage_name = stage_dir.rsplit("/", 1)[1]
    with suppress_move_on_write():
        writer.format(fmt).save(stage_dir)
    if norm_mode == "overwrite":
        # unstaged overwrite clears output_dir at write time; staged
        # defers it to publish time so the old content stays readable
        # while the new write runs. Clear every non-hidden child now,
        # plus .__staging__-* dirs orphaned by crashed prior staged
        # runs. A staging dir names no owner process, so its age is the
        # only liveness signal: dirs younger than 1 h may belong to a
        # concurrent staged writer and stay; ours is never removed.
        cutoff_ms = (_time.time() - 3600) * 1000
        for st in fs.listStatus(jout):
            name = st.getPath().getName()
            if name.startswith(".__staging__-"):
                if name != stage_name and st.getModificationTime() < cutoff_ms:
                    fs.delete(st.getPath(), True)
            elif not name.startswith(".") and not name.startswith("_"):
                fs.delete(st.getPath(), True)
    return _publish_staged(
        spark,
        stage_dir,
        output_dir,
        template,
        include_existing=(norm_mode == "append"),
    )
