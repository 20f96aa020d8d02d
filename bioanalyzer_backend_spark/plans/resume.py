"""Checkpointed execution with exact resume (north-rule requirement).

Semantics inherited from the reference's cache-or-compute pattern
(app/services/cache_manager.py:91-166: keyed lookup, else compute and
upsert): work is split into deterministic id-hash groups over a pixel-free staged
copy of the input; each group's labels commit atomically (results + audit + checkpoint row); a re-run
left-anti-joins the checkpoint table and processes only uncommitted
groups.

Crash-window discipline: a group commit is three single-table snapshot
commits in the order results -> audit -> checkpoint, and each table's
commit is atomic (sources/catalog.py). A crash BETWEEN them leaves the
group's rows published without its checkpoint row; re-running the group
would duplicate those rows, so ``reconcile`` ROLLS THE COMMIT FORWARD
instead: a group whose rows are already in the results table gets its
audit rows regenerated (audit_rows is a pure function of the result
rows) and its checkpoint row appended — never reprocessed, never
duplicated.

At warehouse scale, groups map to Iceberg partitions and the driver loop
becomes sequential staged jobs over bucket(image_id, N).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.skew import stable_salt
from ..sources.catalog import LocalSnapshotTable
from . import pipeline as pipe
from .audit import audit_rows


def committed_groups(spark: SparkSession, ckpt: LocalSnapshotTable) -> set[int]:
    df = ckpt.read(spark)
    if df is None:
        return set()
    return {r["part_id"] for r in df.select("part_id").distinct().collect()}


def _published_groups(spark: SparkSession,
                      results: LocalSnapshotTable) -> set[int]:
    df = results.read(spark)
    if df is None or "part_id" not in df.columns:
        return set()
    return {r["part_id"] for r in df.select("part_id").distinct().collect()}


_CKPT_SCHEMA = ("part_id int, run_id string, n_rows long, "
                "committed_at double, n_groups int")


def check_n_groups(spark: SparkSession, ckpt: LocalSnapshotTable,
                   n_groups: int) -> None:
    """Refuse to resume under a different group count than the one the
    checkpoint rows were committed with: part_id is a hash MODULO
    n_groups, so reinterpreting committed ids under a new modulus
    silently reprocesses already-published rows (duplicates) and/or
    skips unprocessed ones. Pre-guard checkpoint rows (no n_groups
    column / NULL) are tolerated — they cannot be distinguished, which
    is exactly why new rows record it."""
    df = ckpt.read(spark)
    if df is None or "n_groups" not in df.columns:
        return
    rec = {r[0] for r in df.select("n_groups")
           .where(F.col("n_groups").isNotNull()).distinct().collect()}
    if rec and rec != {n_groups}:
        raise ValueError(
            f"checkpoint table was committed with n_groups={sorted(rec)}; "
            f"resuming with n_groups={n_groups} would duplicate and/or "
            f"skip rows — rerun with the original value")


def reconcile(spark: SparkSession, results: LocalSnapshotTable,
              audit: LocalSnapshotTable, ckpt: LocalSnapshotTable,
              run_id: str, n_groups: int | None = None) -> list[int]:
    """Roll forward half-committed groups (rows published, checkpoint row
    missing after a crash): regenerate their audit rows from the published
    results and append the checkpoint row. Returns the groups repaired.

    Assumes no SIBLING run is concurrently mid-commit on this warehouse:
    a live sibling sitting between its results append and its ckpt
    append is indistinguishable from a crash, and repairing it here
    races its own audit append (doubled lineage rows). See
    run_with_resume's concurrency note.

    Idempotent per group: the crash may have happened AFTER the group's
    audit append (commit order is results -> audit -> ckpt), so the
    group's audit rows are deleted by group_id before re-appending —
    blind re-append would double the lineage hit counts. The repaired
    checkpoint row is stamped ``repair:<run_id>``, not ``run_id``: the
    crashed run did that processing, and throughput metrics that sum
    n_rows for run_id == this run must not claim it (jobs/
    quality_filter.py rows_this_run)."""
    half = sorted(_published_groups(spark, results)
                  - committed_groups(spark, ckpt))
    if not half:
        return half
    full = results.read(spark)     # one table open for all repaired groups
    for g in half:
        out = full.where(F.col("part_id") == g).persist()
        try:
            # SQL-string predicate so BOTH table backends accept it
            # (IcebergTable.delete_where interpolates into DELETE FROM ...
            # WHERE, which cannot take a Column object)
            audit.delete_where(spark, f"group_id = {int(g)}")
            audit.append(audit_rows(out, run_id, None, group_id=g))
            n_rows = out.count()    # cached — audit agg materialized it
        finally:
            out.unpersist()
        ckpt.append(spark.createDataFrame(
            [(g, f"repair:{run_id}", n_rows, float(time.time()),
              n_groups)], _CKPT_SCHEMA))
    return half


def stage_input(spark: SparkSession, images: DataFrame, stage_path: str,
                n_groups: int) -> DataFrame:
    """Materialize the pixel-free, part_id-tagged input ONCE, partitioned
    by part_id, and return a reader over it. Filtering the raw input per
    group would re-scan the FULL table n_groups times (the group id is a
    computed hash, so the filter can never push down to the source); the
    staged layout turns each group's read into partition pruning — one
    input scan total, one pruned directory per group. At warehouse scale
    this staging step IS the bucket(image_id, N)-partitioned Iceberg
    table.

    Every BinaryType column is projected away first: the quality decision
    reads only captions, phash and ids, so the stage — and the label
    table the groups commit from it — never holds pixels. They stay in
    the caller's input and join back by image_id on read. The dedup join
    below therefore carries no bytes either, and needs no AQE broadcast
    conversion to keep them off the wire.

    The GLOBAL dedup flag is stamped here, before the input is split:
    duplicates share a phash but have distinct image_ids, so a dup pair
    lands in different id-hash groups with probability (n-1)/n — a
    per-group dedup inside the group loop would mark both members
    canonical, disagreeing with the whole-table batch pipeline (the same
    reason streaming/ingest.py disables in-stream dedup). Computing
    is_dup over the full frame here makes the resumed run's flags
    identical to a plain quality_filter run, and does the dedup
    shuffle ONCE instead of once per group."""
    if "part_id" in images.columns:
        # same clash discipline as apply_core_rules' temp columns and
        # skew._check_no_salt_col: silently overwriting (and later
        # dropping) a caller's part_id would vanish their column
        raise ValueError("stage_input reserves the column name 'part_id'; "
                         "rename it on the input")
    slim = images.drop(*pipe.binary_columns(images))
    tagged = pipe.apply_dedup_flag(slim) \
        .withColumn("part_id", stable_salt("image_id", n_groups))
    tagged.write.mode("overwrite").partitionBy("part_id").parquet(stage_path)
    return spark.read.parquet(stage_path)


def _stage_lock_path(stage_path: str) -> str:
    """Liveness lock file for a stage dir: a DOTFILE sibling
    (``.stage-<run_id>.lock``) so ``stage-*`` globs — the sweep's own,
    and any operator tooling counting staged copies — see only real
    stage dirs, never lock files."""
    d, b = os.path.split(stage_path)
    return os.path.join(d, f".{b}.lock")


def _acquire_stage_lock(stage_path: str, timeout_s: float = 5.0) -> int:
    """Create + flock(LOCK_EX) the run's liveness lock file (the
    ``.stage-<run_id>.lock`` dotfile from _stage_lock_path), returning
    the held fd. The kernel releases the lock on process death (no
    stale-lock break protocol needed — same rationale as
    sources/catalog._commit_lock); run_with_resume closes the fd in a
    finally so an injected in-process failure also frees it. Fresh
    run_id => uncontended; the short retry window only matters when a
    caller REUSES a crashed run_id while a sibling's sweep transiently
    holds the dead lock for its liveness probe. Still held after the
    timeout => a live run owns this run_id, a caller bug worth
    raising."""
    import fcntl
    os.makedirs(os.path.dirname(stage_path), exist_ok=True)
    fd = os.open(_stage_lock_path(stage_path),
                 os.O_CREAT | os.O_RDWR, 0o644)
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            return fd
        except OSError:
            if time.monotonic() >= deadline:
                os.close(fd)
                raise RuntimeError(
                    f"stage lock for {stage_path} is held by a live "
                    f"run (duplicate run_id?)")
            time.sleep(0.05)


def _sweep_dead_stages(stage_root: str, keep: str,
                       lockless_grace_s: float = 900.0) -> None:
    """Remove stage-* dirs whose owning run is DEAD — decided by probing
    each dir's ``.stage-<run_id>.lock`` dotfile sibling with a
    non-blocking flock: a live owner holds its lock (probe fails ->
    skip), a dead owner's lock was kernel-released (probe succeeds ->
    safe to delete). Dirs with no lock file at all (pre-liveness-lock
    layouts) count as dead ONLY once older than ``lockless_grace_s``
    by mtime (round-4 advice): in a mixed-version deploy a LIVE run on
    the pre-lock code version shares this stage_root with no lock to
    probe, and sweeping its fresh dir would yank staged input mid-run.
    The grace covers the staging-to-read window; pre-lock runs expected
    to exceed it must not share a stage_root with post-lock runs.
    ``keep`` is this run's own stage path, always skipped.

    Lock FILES are never unlinked — only the stage DIR is removed
    (CLAUDE.md's _commit_lock discipline): unlinking would re-open the
    open/unlink race where a run re-acquiring the same run_id opens the
    inode, the sweeper locks + unlinks it, and the run ends up holding
    an orphaned inode while its on-disk lock path is gone — a later
    sweep would then see its stage dir as lockless and delete the LIVE
    run's staged input. The cost is one empty dotfile per historical
    run_id under the stage root."""
    import fcntl
    for stale in glob.glob(os.path.join(stage_root, "stage-*")):
        if stale == keep or not os.path.isdir(stale):
            continue
        lock_path = _stage_lock_path(stale)
        fd = None
        try:
            if os.path.exists(lock_path):
                fd = os.open(lock_path, os.O_RDWR)
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            else:
                # no lock to probe (pre-lock code version): only a dir
                # past the grace window counts as dead
                if time.time() - os.path.getmtime(stale) < lockless_grace_s:
                    continue
            # lock acquired (or lockless past grace): owner is dead
            shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            continue   # lock held -> live sibling, leave it alone
        finally:
            if fd is not None:
                os.close(fd)


def run_with_resume(spark: SparkSession, images: DataFrame,
                    results: LocalSnapshotTable, audit: LocalSnapshotTable,
                    ckpt: LocalSnapshotTable, n_groups: int = 8,
                    run_id: str | None = None,
                    fail_after: int | None = None,
                    fail_between_commits: bool = False,
                    fail_after_audit: bool = False,
                    stage_dir: str | None = None,
                    sweep_stale_stages: bool = True) -> dict:
    """Process all uncommitted groups; returns run stats.

    ``results`` becomes a label table keyed by ``image_id``: the input's
    non-binary columns, every rule/label/gate column, ``scrubbed_caption``,
    ``is_dup`` and ``part_id`` — no pixels (stage_input drops them).
    Readers that need the pixels join ``images`` back on ``image_id``.
    A warehouse that earlier code left half-committed with byte-bearing
    rows still resumes: reconcile rolls those rows forward as they are,
    new groups append slim rows, and LocalSnapshotTable's mergeSchema
    read yields one row per image_id (NULL ``bytes`` on the slim rows).
    The same mixed-schema case on IcebergTable is untested (no runtime
    jar in the test environment).

    ``fail_after`` aborts after that many group commits; with
    ``fail_between_commits`` the abort fires BETWEEN the results append
    and the audit append; with ``fail_after_audit`` it fires between the
    audit append and the checkpoint append (test hooks for the
    kill/restart scenarios of SURVEY.md section 5.5).

    ``sweep_stale_stages`` (default on) removes crashed runs' stage-*
    dirs under the stage root before staging anew. Live siblings'
    STAGED INPUT is protected by a per-run flock liveness lock (the
    ``.stage-<run_id>.lock`` dotfile beside the stage dir, held for the
    run's duration, kernel-released on process death — the
    sources/catalog.py _commit_lock pattern): the sweep only removes a
    stage dir whose lock it can acquire. The lock file sits BESIDE the
    dir (not inside: Spark's overwrite write recreates the stage dir,
    which would drop an in-dir lock file) and is never unlinked (see
    _sweep_dead_stages).

    Concurrency contract (be precise about what is and is not safe):
    crash/RESTART sequences are exactly-once (the checkpoint anti-join +
    reconcile roll-forward), and SIMULTANEOUS runs can never corrupt a
    table (every append is an atomic snapshot commit) or yank each
    other's staged input (the liveness lock) — but group processing
    across simultaneous runs is AT-LEAST-ONCE: two runs that both read
    committed_groups before either commits group g will both process
    and append g (duplicate rows), and a sibling mid-commit can be
    "repaired" by the other's reconcile (doubled audit rows). Run one
    writer at a time per warehouse; concurrency belongs BETWEEN
    warehouses, or inside a run via Spark's own parallelism.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    check_n_groups(spark, ckpt, n_groups)
    repaired = reconcile(spark, results, audit, ckpt, run_id, n_groups)
    done = committed_groups(spark, ckpt)
    todo = [g for g in range(n_groups) if g not in done]
    n_committed = 0
    stage_path = None
    stage_lock_fd = None
    try:
        if todo:
            stage_root = stage_dir or getattr(results, "root", None)
            if stage_root is None:
                raise ValueError(
                    "stage_dir is required when the results table has no "
                    "local root (e.g. IcebergTable)")
            stage_path = os.path.join(stage_root, f"stage-{run_id}")
            # Own liveness lock FIRST (before the sweep, before the dir
            # exists) so a concurrent sweeper already sees this run live.
            stage_lock_fd = _acquire_stage_lock(stage_path)
            # Sweep stale stage-* dirs before staging anew: crash paths
            # deliberately skip their own cleanup (a killed JVM cannot),
            # and a resumed run stages under its OWN run_id — so a
            # crashed run's staged copy (every input row, pixels
            # projected away) would otherwise accumulate per
            # crash/resume cycle. Dead-vs-live is decided by the flock
            # probe, not by naming or age.
            if sweep_stale_stages:
                _sweep_dead_stages(stage_root, keep=stage_path)
            staged = stage_input(spark, images, stage_path, n_groups)
        for g in todo:
            t0 = time.time()
            sub = staged.where(F.col("part_id") == g).drop("part_id")
            # one materialization feeds all three consumers (results
            # sink, audit aggregation, row count) — uncached, the
            # UDF-gated pipeline would execute three times per group.
            # with_dedup=False: is_dup was stamped GLOBALLY at staging
            # (stage_input) — a per-group dedup here would miss dup pairs
            # split across id-hash groups
            out = pipe.quality_filter(sub, with_dedup=False) \
                .withColumn("part_id", F.lit(g))
            out = out.persist()
            try:
                results.append(out)
                if fail_between_commits \
                        and n_committed + 1 >= (fail_after or 1):
                    raise RuntimeError(
                        f"injected failure between commits of group {g}")
                wall_ms = (time.time() - t0) * 1000.0
                audit.append(audit_rows(out, run_id, wall_ms, group_id=g))
                if fail_after_audit and n_committed + 1 >= (fail_after or 1):
                    raise RuntimeError(
                        f"injected failure after audit of group {g}")
                n_rows = out.count()          # cached — no recomputation
                ckpt.append(spark.createDataFrame(
                    [(g, run_id, n_rows, float(time.time()), n_groups)],
                    _CKPT_SCHEMA))
            finally:
                out.unpersist()
            n_committed += 1
            if fail_after is not None and not fail_between_commits \
                    and not fail_after_audit and n_committed >= fail_after:
                raise RuntimeError(
                    f"injected failure after {n_committed} groups")
        if stage_path is not None:
            # crash paths skip this on purpose: a resumed run re-stages
            # under its own run_id (deterministic stable_salt => identical
            # content); the liveness lock file goes with the dir
            shutil.rmtree(stage_path, ignore_errors=True)
    finally:
        if stage_lock_fd is not None:
            os.close(stage_lock_fd)   # releases the flock; crash paths
            # leave the DIR behind on purpose but must free the lock so
            # the next run's sweep sees the owner dead
    return {"run_id": run_id, "groups_done": len(done) + n_committed,
            "groups_total": n_groups, "newly_committed": n_committed,
            "repaired_groups": repaired}
