"""Snapshot-table storage layer: Iceberg semantics on plain parquet.

The reference caches every intermediate in SQLite with keyed
INSERT OR REPLACE (app/services/cache_manager.py:50-126); the warehouse
equivalents are Iceberg tables with append/MERGE and snapshot isolation.
The sandbox's PySpark bundles no Iceberg runtime jar (SURVEY.md section 7),
so this module implements the same COMMIT semantics on a parquet directory:

  * data files are written to ``data/`` with unique names (write-once);
  * a snapshot is a JSON manifest listing its data files and the
    cumulative ``summaries`` of its appends (Iceberg's snapshot summary:
    commit facts kept apart from the payload, read without a scan);
  * ``HEAD`` names the current snapshot and is replaced atomically
    (os.replace — POSIX rename atomicity);
  * readers resolve HEAD -> manifest -> exact file list, so a killed
    writer can never half-publish (exact-resume requirement);
  * every manifest carries ``"format": FORMAT`` (Iceberg's
    ``format-version``), and every manifest read checks it: a table
    written by older code raises instead of being read through per-column
    tolerances. Change the on-disk layout -> bump ``FORMAT``.

With a real cluster + Iceberg jar, ``IcebergTable`` below routes the same
calls through ``df.writeTo(...)`` / MERGE INTO; selection is automatic.
"""

from __future__ import annotations

import json
import logging
import os
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

FORMAT = 6

log = logging.getLogger(__name__)


class LocalSnapshotTable:
    """Append-only snapshot table with atomic commits on local parquet."""

    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.meta_dir = os.path.join(root, "metadata")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)

    # -- snapshot bookkeeping ------------------------------------------------

    def _head_path(self) -> str:
        return os.path.join(self.meta_dir, "HEAD")

    def _manifest(self, name: str) -> dict:
        """The manifest *name*, refusing any layout but ``FORMAT``."""
        with open(os.path.join(self.meta_dir, name)) as f:
            snap = json.load(f)
        if snap.get("format") != FORMAT:
            raise RuntimeError(
                f"snapshot table {self.root}: manifest {name} has format "
                f"{snap.get('format')!r}, not {FORMAT} — written by older "
                f"code; use a fresh warehouse")
        return snap

    def current_snapshot(self) -> dict | None:
        """HEAD manifest, or None for a genuinely empty table (no HEAD).

        A HEAD that names a MISSING manifest is corruption, not
        emptiness, and must raise: treating it as None would report the
        table empty and the next append would commit parent=None with
        files=[] + its batch — silently and permanently publishing the
        truncation of the whole prior table (partial restore / rsync of
        the metadata dir is the realistic trigger; _commit fsyncs file
        contents, not the directory entry ordering)."""
        try:
            with open(self._head_path()) as f:
                name = f.read().strip()
        except FileNotFoundError:
            return None
        try:
            return self._manifest(name)
        except FileNotFoundError:
            raise RuntimeError(
                f"snapshot table {self.root} is corrupt: HEAD names "
                f"{name} but that manifest does not exist — refusing to "
                f"treat the table as empty (restore the metadata dir or "
                f"repoint HEAD at a surviving snap-*.json)") from None

    def _commit(self, cur: dict | None, files: list[str], operation: str,
                summary: dict | None = None) -> str:
        """Publish a snapshot on parent manifest *cur* (None: first commit)
        listing *files*; it carries the parent's summaries forward, plus
        *summary* when given."""
        snap_id = f"snap-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}.json"
        summaries = (cur["summaries"] if cur else []) \
            + ([summary] if summary is not None else [])
        manifest = {"format": FORMAT, "snapshot": snap_id,
                    "parent": cur["snapshot"] if cur else None,
                    "operation": operation, "files": sorted(files),
                    "summaries": summaries}
        path = os.path.join(self.meta_dir, snap_id)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        head_tmp = self._head_path() + ".tmp"
        with open(head_tmp, "w") as f:
            f.write(snap_id)
            f.flush()
            os.fsync(f.fileno())
        os.replace(head_tmp, self._head_path())   # the atomic publish
        return snap_id

    def _commit_lock(self, timeout_s: float = 60.0):
        """Exclusive lock around the (sub-second) read-parent ->
        publish-HEAD section ONLY — slow work (Spark writes) must happen
        outside it, which is why merge/compact use optimistic retry
        instead of holding this across their rewrite: a live stream's
        per-batch appends must not wait behind a long compaction, nor
        give up after ``timeout_s`` behind it.

        flock(LOCK_EX) on a persistent lock file: the kernel releases
        the lock when the holder's fd closes — including process death —
        so there is no stale-lock state and no break protocol at all.
        (The previous create/unlink scheme checked mtime staleness and
        then renamed the lock away; between the check and the rename the
        real holder could release and a NEW holder acquire, so the
        rename would break a live, fresh lock and admit two writers into
        the read-parent->publish section — a lost-HEAD-update window.
        flock's single-winner guarantee is the kernel's.) The lock file
        is never unlinked: unlinking would let a late waiter lock an
        orphaned inode while a new creator locks the fresh one. flock
        excludes per open-file-description, so threads in one process
        exclude each other too (each waiter opens its own fd). Local
        POSIX filesystems only — exactly LocalSnapshotTable's scope; a
        real warehouse deployment uses Iceberg catalog CAS commits
        (IcebergTable below)."""
        import contextlib
        import fcntl

        lock_path = os.path.join(self.meta_dir, "COMMIT_LOCK")

        @contextlib.contextmanager
        def lock():
            fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
            deadline = time.time() + timeout_s
            try:
                while True:
                    try:
                        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                        break
                    except OSError:
                        if time.time() > deadline:
                            raise TimeoutError(
                                f"commit lock busy: {lock_path}")
                        time.sleep(0.02)
                yield
            finally:
                os.close(fd)   # releases the flock

        return lock()

    def _head_snapshot_id(self) -> str | None:
        cur = self.current_snapshot()
        return cur["snapshot"] if cur else None

    def summaries(self) -> list[dict]:
        """HEAD's summaries: one dict per append that was given one, in
        commit order. One manifest read, no Spark job."""
        cur = self.current_snapshot()
        return cur["summaries"] if cur else []

    def history(self) -> list[str]:
        out = []
        snap = self.current_snapshot()
        while snap is not None:
            out.append(snap["snapshot"])
            parent = snap.get("parent")
            if parent is None:
                break
            snap = self._manifest(parent)
        return out

    # -- operations ------------------------------------------------------------

    def _write_batch(self, df: DataFrame | None
                     ) -> tuple[str | None, list[str]]:
        """Write *df* to a fresh uuid dir under data/, returning
        ``(batch_dir, parquet_files)``; ``df=None`` writes nothing and
        returns ``(None, [])`` (a metadata-only append, or the
        racer-emptied-table arm of delete/compact). The ONE copy of
        the write-then-list block (was pasted into append/merge/delete/
        compact, which had started to diverge). A failed Spark write
        removes its own partial dir — unreferenced data dirs must never
        outlive the call that created them (see append/_commit_rewrite
        for the commit-phase counterpart)."""
        import shutil
        if df is None:
            return None, []
        batch_dir = os.path.join(self.data_dir, uuid.uuid4().hex)
        try:
            df.write.mode("overwrite").parquet(batch_dir)
        except Exception:
            shutil.rmtree(batch_dir, ignore_errors=True)
            raise
        return batch_dir, [os.path.join(batch_dir, f)
                           for f in os.listdir(batch_dir)
                           if f.endswith(".parquet")]

    def append(self, df: DataFrame | None,
               summary: dict | Callable[[DataFrame], dict] | None = None
               ) -> str:
        """Write df as new data files, then atomically extend the manifest
        (and its summaries, with *summary* when given). ``df=None`` is a
        metadata-only commit: it writes no data.

        *summary* may be a function of the written files instead: it is
        called with a reader over just this batch (``df``'s schema, so no
        inference job) and its result is committed. A fact decided that
        way counts what was published, and *df*'s plan runs once with
        no cache.

        The (slow) data write happens unlocked — unique dirs can't
        clash; only the read-parent -> publish-HEAD section is
        exclusive. If anything fails after the write (the summary
        function, a lock timeout), the just-written orphan dir is
        reclaimed — no manifest references it, so nothing else ever
        would."""
        import shutil
        batch_dir, new_files = self._write_batch(df)
        try:
            if callable(summary):
                summary = summary(df.sparkSession.read.schema(df.schema)
                                  .parquet(batch_dir))
            with self._commit_lock():
                cur = self.current_snapshot()
                return self._commit(cur, (cur["files"] if cur else [])
                                    + new_files, "append", summary)
        except Exception:
            if batch_dir is not None:
                shutil.rmtree(batch_dir, ignore_errors=True)
            raise

    def _commit_rewrite(self, df_fn, operation: str,
                        max_retries: int = 8) -> str:
        """Optimistic concurrency for content-dependent rewrites (the
        Iceberg commit model): build the rewrite DataFrame via ``df_fn``
        and run the SLOW Spark write of it UNLOCKED, then take the lock
        only to check the parent is still HEAD and publish. If another
        writer committed meanwhile, discard the orphan files and redo the
        rewrite against the new HEAD — never hold the lock across a Spark
        job (a live stream's appends would wait behind a long rewrite,
        and time out behind it after _commit_lock's ``timeout_s``). The
        rewrite keeps the parent's summaries.

        A write-phase FAILURE is also retried when HEAD moved since the
        parent was read: a concurrent expire_snapshots may have reclaimed
        the very files the rewrite was scanning (the standard
        read-vs-expire race — Iceberg rewrites hit the same
        FileNotFoundException), and the retry re-reads the new HEAD whose
        files are live. HEAD unchanged means the failure is real. Every
        failure path reclaims its orphan dir."""
        import shutil

        last_exc: Exception | None = None
        for attempt in range(max_retries):
            parent = self._head_snapshot_id()
            batch_dir = None
            try:
                batch_dir, new_files = self._write_batch(df_fn())
                with self._commit_lock():
                    cur = self.current_snapshot()
                    if (cur["snapshot"] if cur else None) == parent:
                        return self._commit(cur, new_files, operation)
            except Exception as exc:
                if batch_dir is not None:
                    shutil.rmtree(batch_dir, ignore_errors=True)
                if self._head_snapshot_id() == parent:
                    raise          # genuine failure, not a commit race
                last_exc = exc     # HEAD moved — retry, but keep the cause
            else:
                if batch_dir is not None:                   # lost race
                    shutil.rmtree(batch_dir, ignore_errors=True)
            # linear backoff desynchronizes contending writers (every
            # loser otherwise re-reads HEAD at the same instant and the
            # same writer can starve repeatedly)
            time.sleep(0.05 * (attempt + 1))
        # Chain the last swallowed write-phase exception: a DETERMINISTIC
        # failure (bad predicate, corrupt file) that kept coinciding with
        # unrelated concurrent appends would otherwise surface as a bare
        # contention error with the real cause invisible (round-4 advice).
        raise RuntimeError(
            f"{operation} lost the optimistic-commit race "
            f"{max_retries} times; table under heavy write contention"
            + (f" (last write-phase error: {last_exc})" if last_exc
               else "")) from last_exc

    def merge_by_key(self, spark: SparkSession, src: DataFrame,
                     key: str) -> str:
        """MERGE semantics (INSERT OR REPLACE of cache_manager.py:100-111):
        matched target rows are replaced by source rows, unmatched source
        rows are inserted. Anti-join + union rewrite, committed with
        optimistic retry (see _commit_rewrite).

        Schema: allowMissingColumns=True because the target's merged
        schema may carry columns the source lacks (e.g. an earlier append
        with a wider schema) — inserted/kept rows get NULL
        for the other side's missing columns, exactly like SQL MERGE's
        unset columns. Key semantics follow SQL MERGE / Iceberg, not a
        unique index: a NULL source key never matches (SQL NULL
        equality), so NULL-key rows are always INSERTED alongside
        existing NULL-key rows; duplicate keys WITHIN one src batch are
        all inserted (a cardinality Iceberg would reject) — dedupe the
        batch upstream if last-wins is wanted."""
        def df_fn():
            cur_df = self.read(spark)
            if cur_df is None:
                return src
            kept = cur_df.join(src.select(key), key, "left_anti")
            return kept.unionByName(src, allowMissingColumns=True)

        return self._commit_rewrite(df_fn, "merge")

    def delete_where(self, spark: SparkSession, condition) -> str | None:
        """DELETE FROM ... WHERE condition (Iceberg row-delete analogue):
        rewrites the table without matching rows, committed with
        optimistic retry. ``condition`` is a Column or SQL string. No-op
        (returns None) on an empty table.

        Standard SQL DELETE semantics: only rows where the predicate is
        TRUE are removed — rows where it evaluates NULL (e.g. a NULL
        group_id under ``group_id = 3``) are KEPT, exactly as Iceberg's
        ``DELETE FROM`` behaves, so the two backends stay interchangeable
        (a bare ``where(~cond)`` would silently delete NULL-predicate
        rows)."""
        cur = self.current_snapshot()
        if cur is None or not cur["files"]:
            return None

        def df_fn():
            cur_df = self.read(spark)
            if cur_df is None:          # racer emptied the table mid-retry
                return None
            from pyspark.sql import functions as F
            cond = F.expr(condition) if isinstance(condition, str) \
                else condition
            keep = ~F.coalesce(cond.cast("boolean"), F.lit(False))
            return cur_df.where(keep)

        return self._commit_rewrite(df_fn, "delete")

    def read(self, spark: SparkSession,
             snapshot_id: str | None = None) -> DataFrame | None:
        """Read HEAD, or any retained snapshot by id (time travel —
        Iceberg ``VERSION AS OF`` analogue; snapshots stay readable until
        ``expire_snapshots`` reclaims their files)."""
        snap = (self.current_snapshot() if snapshot_id is None
                else self._manifest(snapshot_id))
        if snap is None or not snap["files"]:
            return None
        # mergeSchema: a snapshot can span appends with evolving schemas
        # (e.g. a later append that adds a column); without it Spark
        # infers from ONE sampled footer and silently drops the other
        # files' columns.
        return (spark.read.option("mergeSchema", "true")
                .parquet(*snap["files"]))

    def compact(self, spark: SparkSession, target_files: int = 8) -> str:
        """Small-file compaction (Iceberg ``rewrite_data_files`` analogue).

        Streaming micro-batch appends leave a long tail of small files;
        at warehouse scale that tail dominates scan planning time.
        Rewrites the current snapshot into ``target_files`` files and
        commits the new list atomically —
        readers see either the old file set or the new one, never a mix.
        Old files stay on disk for time-travel until expired."""
        def df_fn():
            cur_df = self.read(spark)
            if cur_df is None:          # racer emptied the table mid-retry
                return None
            return cur_df.repartition(target_files)

        return self._commit_rewrite(df_fn, "compact")

    def expire_snapshots(self, keep: int = 1) -> int:
        """Delete data files referenced ONLY by snapshots older than the
        ``keep`` most recent (Iceberg ``expire_snapshots`` analogue).
        Returns the number of files deleted.

        Runs under the commit lock: the chain walk + deletions must see
        a frozen HEAD, or a commit landing mid-walk could publish a
        snapshot whose files this pass just classified as dead. File
        deletion is pure os.remove — no Spark job, so holding the lock
        is within the sub-second contract. A CONCURRENT in-flight
        rewrite that was reading a now-expired snapshot fails its Spark
        write, sees HEAD moved, and retries against the live HEAD
        (_commit_rewrite); a time-travel reader holding an expired
        snapshot id fails by design, exactly as Iceberg's
        expire_snapshots documents."""
        with self._commit_lock():
            chain = self.history()
            keep_snaps = chain[:keep]
            live: set[str] = set()
            for name in keep_snaps:
                live.update(self._manifest(name)["files"])
            gone: set[str] = set()
            for name in chain[keep:]:
                for path in self._manifest(name)["files"]:
                    if path not in live and path not in gone \
                            and os.path.exists(path):
                        os.remove(path)
                        gone.add(path)
            return len(gone)


class IcebergTable:
    """Same interface over a real Iceberg catalog (needs
    --packages org.apache.iceberg:iceberg-spark-runtime-*)."""

    def __init__(self, identifier: str):
        self.identifier = identifier

    def append(self, df: DataFrame) -> str:
        df.writeTo(self.identifier).append()
        return self.identifier

    def merge_by_key(self, spark: SparkSession, src: DataFrame,
                     key: str) -> str:
        src.createOrReplaceTempView("_merge_src")
        cols = src.columns
        sets = ", ".join(f"t.{c} = s.{c}" for c in cols)
        vals = ", ".join(f"s.{c}" for c in cols)
        spark.sql(f"""
            MERGE INTO {self.identifier} t USING _merge_src s
            ON t.{key} = s.{key}
            WHEN MATCHED THEN UPDATE SET {sets}
            WHEN NOT MATCHED THEN INSERT ({', '.join(cols)}) VALUES ({vals})
        """)
        return self.identifier

    def delete_where(self, spark: SparkSession, condition) -> str:
        spark.sql(f"DELETE FROM {self.identifier} WHERE {condition}")
        return self.identifier

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.format("iceberg").load(self.identifier)


class IdempotentBatchAppender:
    """At-least-once -> exactly-once adapter for foreachBatch sinks.

    foreachBatch replays a micro-batch after a crash between the table
    append and the streaming checkpoint commit; appending blindly
    duplicates that batch. Each append records ``{query_id, batch_id}``
    in its snapshot summary — the resumable job's protocol
    (plans/resume.py) — so a replay is answered by one manifest read,
    with no Spark job, and the rows carry no bookkeeping columns.

    Dedup is keyed on (query id, batch id) — Spark's documented
    exactly-once recipe — not batch id alone: epoch ids restart at 0
    for a new checkpoint, so a checkpoint reset (new query id) correctly
    re-admits batch ids an OLD incarnation committed, and two different
    queries can share one results table without eating each other's
    epochs. The query id is read from ``checkpoint_dir``'s ``metadata``
    json at each append: it is THE id Spark keeps stable across restarts
    from one checkpoint and regenerates for a fresh one. Spark writes it
    at query start, before batch 0 fires, so a missing file or id
    raises: there is no query to scope by."""

    def __init__(self, table: LocalSnapshotTable, checkpoint_dir: str):
        if not isinstance(table, LocalSnapshotTable):
            raise ValueError("IdempotentBatchAppender records its commits "
                             "in snapshot summaries: the table must be "
                             "LocalSnapshotTable")
        self.table = table
        self._ckpt = checkpoint_dir

    def append(self, batch_df: DataFrame, batch_id: int) -> bool:
        """Append unless (query id, batch id) already committed; True if
        written. The summary check runs BEFORE isEmpty so a replayed batch
        skips without evaluating the (possibly UDF-heavy) batch plan at
        all."""
        with open(os.path.join(self._ckpt, "metadata")) as f:
            fact = {"query_id": json.load(f)["id"], "batch_id": batch_id}
        if fact in self.table.summaries():
            log.info("skipped replayed batch %d of query %s: already "
                     "committed to %s", batch_id, fact["query_id"],
                     self.table.root)
            return False
        if batch_df.isEmpty():
            return False
        self.table.append(batch_df, fact)
        return True


def have_iceberg(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime is actually on the classpath.

    py4j returns a JavaPackage object (NO exception) for a class it
    cannot resolve, so the old bare attribute probe was always truthy
    and the loud no-runtime ValueError in open_table was dead code; a
    resolvable class comes back as JavaClass instead."""
    try:
        from py4j.java_gateway import JavaClass
        return isinstance(spark._jvm.org.apache.iceberg.Table,  # noqa: SLF001
                          JavaClass)
    except Exception:
        return False


def open_table(spark: SparkSession, location: str):
    """Location routing by FORM, not by what happens to be on the
    classpath: a dotted identifier with no path separators
    ('catalog.db.tbl') is an Iceberg table id (requires the runtime jar);
    a plain posix path -> LocalSnapshotTable. A slash-bearing string
    must never silently flip to an Iceberg identifier just because the
    jar is present.

    URI-scheme locations (s3://, hdfs://, even file://) are REJECTED:
    LocalSnapshotTable's commit machinery is os-level (makedirs/listdir/
    flock), which cannot operate on a URI — it would create a bogus
    local './s3:' tree while Spark writes to the remote store, then
    crash listing it after the (expensive) remote write. Remote object
    stores need the real Iceberg catalog (its CAS commit replaces the
    local flock)."""
    if "://" in location:
        raise ValueError(
            f"{location!r} is a URI; LocalSnapshotTable commits via local "
            f"posix metadata (makedirs/flock) and cannot manage a remote "
            f"store — use an Iceberg catalog identifier for s3/hdfs "
            f"locations, or a plain local path")
    if "/" not in location:
        if have_iceberg(spark):
            return IcebergTable(location)
        raise ValueError(
            f"{location!r} looks like an Iceberg table identifier but no "
            f"Iceberg runtime is on the classpath; pass a filesystem path "
            f"or add --packages org.apache.iceberg:iceberg-spark-runtime-*")
    return LocalSnapshotTable(location)
