"""Checkpointed execution with exact resume (north-rule requirement).

Semantics inherited from the reference's cache-or-compute pattern
(app/services/cache_manager.py:91-166: keyed lookup, else compute and
upsert): work is split into deterministic id-hash groups over a staged
copy of what the decision reads (``pipeline.DECISION_INPUTS``). Each
group writes its label rows once, and its fact
``{group, n_groups, run_id, n_rows, n_kept, by_lang}`` (``by_lang``: the
per-language rule-hit tallies of plans/audit.group_tallies) is decided
from the files just written and recorded in the snapshot summary of each
of its commits (results rows, then metadata-only audit and checkpoint
commits). A re-run reads the summaries at HEAD — a key probe, no Spark
job — and processes only the groups without a checkpoint summary. All
three tables are append-only.

One writer per warehouse, like the reference's single-writer SQLite
cache: a run holds ``<results.root>/.run.lock`` from its first read to
its last commit, and stages its input at ``<results.root>/stage``.

The stage is the largest intermediate, and it is cached the same
keyed way: a completed stage carries a ``_STAGED`` stamp (format,
n_groups, slim input schema, input files). A resume whose stamp matches
reads the crashed run's stage instead of re-reading the input, redoing
the global dedup and rewriting it; a stage made for other work is
replaced, or refused once groups from it are published.

Crash-window discipline: a group commit is three single-table snapshot
commits in the order results -> audit -> checkpoint, and each table's
commit is atomic (sources/catalog.py). A crash BETWEEN them leaves the
group's rows published without its checkpoint commit; re-running the
group would duplicate those rows, so ``reconcile`` ROLLS THE COMMIT
FORWARD instead: a group with a results summary gets that fact appended
as its audit commit if the audit summary is missing, then as its
checkpoint commit — never reprocessed, never duplicated, and no Spark
job.

At warehouse scale, groups map to Iceberg partitions and the driver loop
becomes sequential staged jobs over bucket(image_id, N).
"""

from __future__ import annotations

import functools
import json
import logging
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.skew import stable_salt
from ..sources.catalog import FORMAT, LocalSnapshotTable, _publish
from . import pipeline as pipe
from .audit import group_tallies

log = logging.getLogger(__name__)

STAMP = "_STAGED"


def committed_groups(table: LocalSnapshotTable) -> set[int]:
    """The groups whose commit to *table* carried a summary: the
    committed groups of the checkpoint table, or the published groups of
    the results table. One manifest read, no Spark job."""
    return {s["group"] for s in table.summaries()}


def check_n_groups(results: LocalSnapshotTable, n_groups: int) -> None:
    """Refuse to resume under a different group count than the one the
    results were published with: part_id is a hash MODULO n_groups, so
    reinterpreting committed ids under a new modulus silently reprocesses
    already-published rows (duplicates) and/or skips unprocessed ones.
    Every group ever published has a results summary, so this covers a
    crash before the first checkpoint commit too."""
    rec = {s["n_groups"] for s in results.summaries()}
    if rec and rec != {n_groups}:
        raise ValueError(
            f"results table was committed with n_groups={sorted(rec)}; "
            f"resuming with n_groups={n_groups} would duplicate and/or "
            f"skip rows — rerun with the original value")


def reconcile(results: LocalSnapshotTable, audit: LocalSnapshotTable,
              ckpt: LocalSnapshotTable, run_id: str) -> list[int]:
    """Roll forward half-committed groups (rows published, checkpoint
    commit missing after a crash): append the group's audit commit if the
    crash came before it, then its checkpoint commit. Returns the groups
    repaired. Runs no Spark job: both commits are metadata-only and carry
    the group's results summary.

    Idempotent per group: an append is atomic, so a group with an audit
    summary keeps it as the crashed run wrote it. The repaired facts are
    stamped ``repair:<run_id>``, not ``run_id`` (and a missing audit
    fact gets ``wall_ms: None``): the crashed run did that processing,
    and metrics that count rows for run_id == this run must not claim it
    (jobs/quality_filter.py rows_this_run)."""
    facts = {s["group"]: s for s in results.summaries()}
    half = sorted(set(facts) - committed_groups(ckpt))
    stamp = f"repair:{run_id}"
    audited = committed_groups(audit)
    for g in half:
        fact = {**facts[g], "run_id": stamp}
        if g not in audited:
            audit.append(None, {**fact, "wall_ms": None})
        ckpt.append(None, fact)
    if half:
        log.warning("rolled forward half-committed groups %s (rows "
                    "published, checkpoint commit missing)", half)
    return half


def stage_stamp(images: DataFrame, n_groups: int) -> dict:
    """What a stage of *images* under *n_groups* was made from: the table
    format, the group count, the schema of the decision inputs and the
    input files.
    All driver-side; no Spark job. An in-memory frame has no files, so
    only its schema and n_groups are compared."""
    slim = images.select(*pipe.DECISION_INPUTS)
    return {"format": FORMAT, "n_groups": n_groups,
            "schema": slim.schema.toDDL(),
            "inputs": sorted(images.inputFiles())}


def read_stamp(stage_path: str) -> dict | None:
    """The stamp of a completed stage, or None (no stage, or one whose
    write never finished: the stamp is written last, by an atomic
    rename)."""
    try:
        with open(os.path.join(stage_path, STAMP)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def stage_input(spark: SparkSession, images: DataFrame, stage_path: str,
                n_groups: int) -> DataFrame:
    """Materialize the decision inputs, part_id-tagged, ONCE, partitioned
    by part_id, and return a reader over it. Filtering the raw input per
    group would re-scan the FULL table n_groups times (the group id is a
    computed hash, so the filter can never push down to the source); the
    staged layout turns each group's read into partition pruning — one
    input scan total, one pruned directory per group. At warehouse scale
    this staging step IS the bucket(image_id, N)-partitioned Iceberg
    table.

    The input is projected to ``pipeline.DECISION_INPUTS`` (image_id,
    caption, phash) first: that is all the quality decision reads, so the
    stage never holds pixels or the other input columns. The groups
    commit only image_id of these; the rest stay in the caller's input
    and join back by image_id on read. The dedup join below therefore
    carries no bytes either, and needs no AQE broadcast conversion to
    keep them off the wire.

    The GLOBAL dedup flag is stamped here, before the input is split:
    duplicates share a phash but have distinct image_ids, so a dup pair
    lands in different id-hash groups with probability (n-1)/n — a
    per-group dedup inside the group loop would mark both members
    canonical, disagreeing with the whole-table batch pipeline (the same
    reason streaming/ingest.py disables in-stream dedup). Computing
    is_dup over the full frame here makes the resumed run's flags
    identical to a plain quality_filter run, and does the dedup
    shuffle ONCE instead of once per group.

    A stage whose ``_STAGED`` stamp equals this call's (``stage_stamp``)
    is returned as it is, with no Spark job: a crashed run's stage is
    complete, because the stamp is written only after the stage write
    commits. Any other stage is overwritten, and stamped anew."""
    if "part_id" in images.columns:
        # same clash discipline as apply_core_rules' temp columns and
        # skew._check_no_salt_col: the results carry part_id, so a
        # caller's part_id would clash when readers join the input back
        raise ValueError("stage_input reserves the column name 'part_id'; "
                         "rename it on the input")
    slim = images.select(*pipe.DECISION_INPUTS)
    tagged = pipe.apply_dedup_flag(slim) \
        .withColumn("part_id", stable_salt("image_id", n_groups))
    stamp = stage_stamp(images, n_groups)
    found = read_stamp(stage_path)
    stamp_path = os.path.join(stage_path, STAMP)
    if found == stamp:
        log.info("reusing the staged input at %s", stage_path)
    else:
        if found is not None:
            log.warning("replacing the staged input at %s: it was staged "
                        "from other input or n_groups", stage_path)
            os.remove(stamp_path)
        tagged.write.mode("overwrite").partitionBy("part_id") \
            .parquet(stage_path)
        _publish(stamp_path, json.dumps(stamp))
    # the known schema spares the read parquet's schema-inference job
    return spark.read.schema(tagged.schema).parquet(stage_path)


def _decide(fact: dict, written: DataFrame) -> dict:
    """Complete a group's *fact* from its *written* results rows (the
    summary function of its results append): rows in, rows kept and the
    per-language tallies of ``group_tallies``. One aggregate job."""
    by_lang = group_tallies(written)
    fact.update(n_rows=sum(t["n_in"] for t in by_lang),
                n_kept=sum(t["n_kept"] for t in by_lang), by_lang=by_lang)
    return fact


def _lock_run(root: str) -> int:
    """flock(LOCK_EX | LOCK_NB) on the persistent ``<root>/.run.lock``
    and return the held fd; raise if another process or fd holds it.
    The kernel releases the lock on process death and the file is never
    unlinked (the sources/catalog._commit_lock idiom)."""
    import fcntl
    fd = os.open(os.path.join(root, ".run.lock"), os.O_CREAT | os.O_RDWR,
                 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        raise RuntimeError(
            f"another run holds {root}: run one writer at a time per "
            f"warehouse") from None
    return fd


def run_with_resume(spark: SparkSession, images: DataFrame,
                    results: LocalSnapshotTable, audit: LocalSnapshotTable,
                    ckpt: LocalSnapshotTable, n_groups: int = 8,
                    fail_after: int | None = None,
                    fail_between_commits: bool = False) -> dict:
    """Process all uncommitted groups; returns run stats.

    ``results`` becomes a label table keyed by ``image_id``: ``image_id``,
    every rule/label/gate column, ``scrubbed_caption``, ``is_dup`` and
    ``part_id`` — what the job decided, and no input column but the key.
    Readers join every input column (``caption``, ``phash``, the pixels)
    back from ``images`` on ``image_id``.

    Each group's UDF plan runs once, with no cache: the results append
    writes the group's rows, then decides its fact with
    ``audit.group_tallies`` over the files just written (a columnar scan
    of ``lang``, ``keep`` and ``status_*``) and commits with it. Each
    committed group logs one INFO line from its fact.

    A warehouse whose manifests lack ``sources.catalog.FORMAT`` raises at
    the first table read, before anything is written. All three tables
    must be ``LocalSnapshotTable``: the commit facts live in their
    snapshot summaries.

    ``fail_after`` aborts after that many group commits; with
    ``fail_between_commits`` the abort fires BETWEEN the results append
    and the audit append (test hooks for the kill/restart scenarios of
    SURVEY.md section 5.5).

    The run holds ``<results.root>/.run.lock`` throughout, so a second
    run on the same warehouse raises. A crash leaves at most one staged
    copy, ``<results.root>/stage``, which the next run removes once every
    group is committed.

    A resume finishes the input it staged: when the crashed run's stage
    carries this run's ``stage_stamp``, the groups left to do read it
    and the input is not read again. A stage stamped for other input or
    another n_groups is staged again while no group is published, and
    raises ``ValueError`` once one is (its rows would mix two inputs in
    one results table). An in-memory frame has no files to compare, so
    rows that change between the crash and the resume are not seen.

    The returned stats carry ``staged``: ``"written"`` or ``"reused"``
    for the stage the groups read, or None when no group was left to
    do.
    """
    if n_groups < 1:
        raise ValueError(f"n_groups must be >= 1, got {n_groups}")
    if not all(isinstance(t, LocalSnapshotTable)
               for t in (results, audit, ckpt)):
        raise ValueError("run_with_resume records its commits in snapshot "
                         "summaries: results, audit and checkpoint must "
                         "all be LocalSnapshotTable")
    run_id = uuid.uuid4().hex[:12]
    stage_path = os.path.join(results.root, "stage")
    n_committed = 0
    how = None
    lock_fd = _lock_run(results.root)
    try:
        check_n_groups(results, n_groups)
        found = read_stamp(stage_path)
        # decided once: a crashed run left a stage of this run's input
        reuse = found is not None and found == stage_stamp(images, n_groups)
        if found is not None and not reuse and results.summaries():
            raise ValueError(
                f"the stage at {stage_path} was made from other input "
                f"than this run's, and groups from it are published: "
                f"resume with the original input, or use a fresh "
                f"warehouse")
        repaired = reconcile(results, audit, ckpt, run_id)
        done = committed_groups(ckpt)
        todo = [g for g in range(n_groups) if g not in done]
        if todo:
            # stage_input reads a stage stamped like this run's and
            # rewrites any other
            staged = stage_input(spark, images, stage_path, n_groups)
            how = "reused" if reuse else "written"
        for g in todo:
            t0 = time.time()
            sub = staged.where(F.col("part_id") == g).drop("part_id")
            # with_dedup=False: is_dup was stamped GLOBALLY at staging
            # (stage_input) — a per-group dedup here would miss dup pairs
            # split across id-hash groups. Of the decision inputs only
            # the key is committed.
            out = pipe.quality_filter(sub, with_dedup=False) \
                .drop(*pipe.DECISION_INPUTS[1:]) \
                .withColumn("part_id", F.lit(g))
            fact = {"group": g, "n_groups": n_groups, "run_id": run_id}
            results.append(out, functools.partial(_decide, fact))
            if fail_between_commits and n_committed + 1 >= (fail_after or 1):
                raise RuntimeError(
                    f"injected failure between commits of group {g}")
            wall_ms = (time.time() - t0) * 1000.0
            audit.append(None, {**fact, "wall_ms": wall_ms})
            ckpt.append(None, fact)
            log.info("committed group %d: n_rows=%d n_kept=%d wall_ms=%.0f",
                     g, fact["n_rows"], fact["n_kept"], wall_ms)
            n_committed += 1
            if fail_after is not None and not fail_between_commits \
                    and n_committed >= fail_after:
                raise RuntimeError(
                    f"injected failure after {n_committed} groups")
        # crash paths skip this on purpose (a killed JVM cannot clean
        # up); the next run reads the leftover if its stamp matches
        shutil.rmtree(stage_path, ignore_errors=True)
    finally:
        os.close(lock_fd)
    return {"run_id": run_id, "groups_done": len(done) + n_committed,
            "groups_total": n_groups, "newly_committed": n_committed,
            "repaired_groups": repaired, "staged": how}
