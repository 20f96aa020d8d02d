"""Snapshot-table compaction + snapshot expiry (small-file management)."""

import glob

from bioanalyzer_backend_spark.sources.catalog import LocalSnapshotTable


def _parquet_files(tbl):
    return glob.glob(tbl.data_dir + "/*/*.parquet")


def test_compact_preserves_data_and_shrinks_files(spark, tmp_path):
    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    for i in range(5):   # streaming-style small appends
        tbl.append(spark.range(i * 100, (i + 1) * 100)
                   .repartition(4).withColumnRenamed("id", "k"))
    before_files = len(tbl.current_snapshot()["files"])
    assert before_files >= 20

    want = tbl.read(spark).toPandas().sort_values("k").reset_index(drop=True)
    tbl.compact(spark, target_files=2)
    snap = tbl.current_snapshot()
    assert snap["operation"] == "compact"
    assert len(snap["files"]) <= 2

    got = tbl.read(spark).toPandas().sort_values("k").reset_index(drop=True)
    assert got.equals(want)
    # history chain intact: compact -> 5 appends
    assert len(tbl.history()) == 6


def test_expire_snapshots_removes_only_dead_files(spark, tmp_path):
    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    for i in range(3):
        tbl.append(spark.range(100).repartition(2).withColumnRenamed("id", "k"))
    tbl.compact(spark, target_files=1)

    live_files = set(tbl.current_snapshot()["files"])
    n_deleted = tbl.expire_snapshots(keep=1)
    assert n_deleted > 0
    # current snapshot still fully readable
    assert tbl.read(spark).count() == 300
    remaining = set(_parquet_files(tbl))
    assert live_files <= remaining
    # every pre-compaction file is gone
    assert remaining == live_files


def test_time_travel_read_by_snapshot_id(spark, tmp_path):
    """Iceberg VERSION-AS-OF analogue: every retained snapshot stays
    readable by id; appends and compaction never mutate old snapshots."""
    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    s1 = tbl.append(spark.range(100).withColumnRenamed("id", "k"))
    s2 = tbl.append(spark.range(100, 250).withColumnRenamed("id", "k"))
    tbl.compact(spark, target_files=1)

    assert tbl.read(spark, snapshot_id=s1).count() == 100
    assert tbl.read(spark, snapshot_id=s2).count() == 250
    assert tbl.read(spark).count() == 250          # HEAD = post-compaction
    # expiry invalidates old snapshots' exclusive files
    tbl.expire_snapshots(keep=1)
    assert tbl.read(spark).count() == 250


def test_concurrent_appends_lose_no_rows(spark, tmp_path):
    """Commit locking: N threads appending concurrently must all land —
    without the lock, racers read the same parent and the last HEAD swap
    silently drops the other writers' files."""
    import threading

    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    errs = []

    def worker(i):
        try:
            tbl.append(spark.range(i * 1000, i * 1000 + 100)
                       .coalesce(1).withColumnRenamed("id", "k"))
        except Exception as e:   # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errs
    assert len(tbl.history()) == 8
    got = tbl.read(spark)
    assert got.count() == 800
    assert got.select("k").distinct().count() == 800


def test_concurrent_merges_converge(spark, tmp_path):
    """Optimistic commits under contention: concurrent merge_by_key
    writers with disjoint keys must all land (losers retry against the
    new HEAD; nothing is silently dropped)."""
    import threading

    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    tbl.append(spark.createDataFrame([(-1, "seed")], "k int, v string"))
    errs = []

    def worker(i):
        try:
            src = spark.createDataFrame(
                [(i * 10 + j, f"w{i}") for j in range(5)], "k int, v string")
            tbl.merge_by_key(spark, src, "k")
        except Exception as e:   # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(5)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errs
    got = tbl.read(spark)
    assert got.count() == 1 + 5 * 5
    assert got.select("k").distinct().count() == 26


def test_appender_scopes_dedup_by_query_id(spark, tmp_path):
    """Exactly-once keying is (query id, batch id): a fresh checkpoint
    (new query id) restarts epochs at 0 and must NOT be deduped against
    an old incarnation's batch 0 — that was silent data loss."""
    import json as _json

    import pytest as _pytest

    from bioanalyzer_backend_spark.sources.catalog import (
        IdempotentBatchAppender, LocalSnapshotTable)

    def mk_ckpt(name, qid):
        d = tmp_path / name
        d.mkdir()
        (d / "metadata").write_text(_json.dumps({"id": qid}))
        return str(d)

    tbl = LocalSnapshotTable(str(tmp_path / "tbl"))
    df = spark.range(3).toDF("v")
    a1 = IdempotentBatchAppender(tbl, checkpoint_dir=mk_ckpt("c1", "q-1"))
    assert a1.append(df, 0) is True
    assert a1.append(df, 0) is False            # same-query replay skipped
    # checkpoint reset -> new query id -> epoch 0 again: MUST append
    a2 = IdempotentBatchAppender(tbl, checkpoint_dir=mk_ckpt("c2", "q-2"))
    assert a2.append(df, 0) is True
    # crash-restart of q-2 (fresh appender, same checkpoint): replay skips
    a3 = IdempotentBatchAppender(tbl, checkpoint_dir=str(tmp_path / "c2"))
    assert a3.append(df, 0) is False
    out = tbl.read(spark)
    assert out.count() == 6                     # q-1 batch0 + q-2 batch0
    assert {s["query_id"] for s in tbl.summaries()} == {"q-1", "q-2"}
    # a checkpoint with no query id has no namespace: append raises and
    # writes nothing (batches are never namespaced under '')
    head = tbl.current_snapshot()["snapshot"]
    (tmp_path / "c4").mkdir()
    a4 = IdempotentBatchAppender(tbl, checkpoint_dir=str(tmp_path / "c4"))
    with _pytest.raises(FileNotFoundError):
        a4.append(df, 1)
    assert tbl.current_snapshot()["snapshot"] == head


def test_appender_replay_runs_no_spark_job(spark, tmp_path, caplog):
    """The commit facts live in the snapshot summaries, so a fresh
    appender (a restarted query) skips a committed batch with one
    manifest read: no Spark job, one INFO line, and the rows carry only
    their own columns."""
    import json as _json
    import logging

    from bioanalyzer_backend_spark.sources import catalog as C
    from bioanalyzer_backend_spark.sources.catalog import (
        IdempotentBatchAppender, LocalSnapshotTable)

    ckpt = tmp_path / "ck"
    ckpt.mkdir()
    (ckpt / "metadata").write_text(_json.dumps({"id": "q-1"}))
    tbl = LocalSnapshotTable(str(tmp_path / "tbl"))
    a1 = IdempotentBatchAppender(tbl, checkpoint_dir=str(ckpt))
    for b in range(5):
        assert a1.append(spark.range(b, b + 1).toDF("v"), b) is True
    assert tbl.read(spark).columns == ["v"]
    assert tbl.summaries() == [{"query_id": "q-1", "batch_id": b}
                               for b in range(5)]

    replay = spark.range(3, 4).toDF("v")
    a2 = IdempotentBatchAppender(tbl, checkpoint_dir=str(ckpt))
    sc = spark.sparkContext
    group = "appender-replay-" + tmp_path.name
    sc.setJobGroup(group, "appender replay")
    try:
        with caplog.at_level(logging.INFO, logger=C.__name__):
            assert a2.append(replay, 3) is False
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert len(tbl.summaries()) == 5
    assert [(r.levelname, r.getMessage()) for r in caplog.records] == [
        ("INFO", f"skipped replayed batch 3 of query q-1: already "
                 f"committed to {tbl.root}")]


def test_appender_needs_snapshot_table(tmp_path):
    """Batch facts live in snapshot summaries, which only
    LocalSnapshotTable keeps: any other table is refused up front."""
    import pytest as _pytest

    from bioanalyzer_backend_spark.sources.catalog import (
        IcebergTable, IdempotentBatchAppender)

    with _pytest.raises(ValueError, match="LocalSnapshotTable"):
        IdempotentBatchAppender(IcebergTable("cat.db.t"), str(tmp_path))


def test_open_table_rejects_uri_schemes(spark):
    import pytest as _pytest

    from bioanalyzer_backend_spark.sources.catalog import open_table
    for loc in ("s3://bucket/wh/results", "hdfs://nn/wh/t",
                "file:///tmp/x"):
        with _pytest.raises(ValueError, match="URI"):
            open_table(spark, loc)


def test_failed_rewrite_reclaims_orphan_dir(spark, tmp_path):
    """A rewrite whose Spark write fails must not leave an unreferenced
    data dir behind (they are never manifest-listed, so nothing else
    would ever reclaim them)."""
    import os as _os

    import pytest as _pytest

    from bioanalyzer_backend_spark.sources.catalog import LocalSnapshotTable
    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    tbl.append(spark.range(5).toDF("v"))
    n_dirs = len(_os.listdir(tbl.data_dir))
    with _pytest.raises(Exception):
        # delete_where with a predicate referencing a missing column
        # fails inside the Spark write phase with HEAD unchanged
        tbl.delete_where(spark, "no_such_column = 1")
    assert len(_os.listdir(tbl.data_dir)) == n_dirs   # no orphan dir


def test_rewrite_exhaustion_chains_real_write_error(spark, tmp_path):
    """A DETERMINISTIC write-phase failure that keeps coinciding with
    concurrent HEAD movement must surface the real error, not a bare
    'heavy write contention' (round-4 advice): the exhaustion
    RuntimeError is raised ``from`` the last swallowed exception."""
    import pytest as _pytest

    from bioanalyzer_backend_spark.sources.catalog import LocalSnapshotTable
    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    tbl.append(spark.range(3).toDF("v"))

    def df_fn():
        # a concurrent appender moves HEAD, then this rewrite's own
        # write phase fails deterministically
        tbl.append(spark.range(1).toDF("v"))
        raise ValueError("corrupt predicate")

    with _pytest.raises(RuntimeError, match="corrupt predicate") as ei:
        tbl._commit_rewrite(df_fn, "merge", max_retries=2)
    assert isinstance(ei.value.__cause__, ValueError)


def test_rewrite_retries_when_expire_reclaims_its_snapshot(spark, tmp_path):
    """The read-vs-expire race: a rewrite captured parent S1 and built
    its plan over S1's files; a concurrent commit + expire_snapshots
    then deleted those files mid-rewrite. The write phase fails, HEAD
    has moved, and _commit_rewrite must RETRY against the live HEAD
    instead of failing the merge (Iceberg rewrites hit the same
    FileNotFoundException)."""
    from pyspark.sql import functions as F

    from bioanalyzer_backend_spark.sources.catalog import LocalSnapshotTable
    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    tbl.append(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))

    calls = {"n": 0}

    def df_fn():
        calls["n"] += 1
        cur = tbl.read(spark)               # plan over the CURRENT files
        if calls["n"] == 1:
            # concurrent writer commits, maintenance expires the old
            # snapshot -> the files `cur` references are deleted before
            # the rewrite executes
            tbl.append(spark.createDataFrame([(3, "c")], ["k", "v"]))
            tbl.compact(spark, target_files=1)
            assert tbl.expire_snapshots(keep=1) > 0
        return cur.withColumn("v", F.upper(F.col("v")))

    tbl._commit_rewrite(df_fn, "upcase-test")
    assert calls["n"] >= 2                  # first attempt lost the race
    got = sorted((r["k"], r["v"]) for r in tbl.read(spark).collect())
    assert got == [(1, "A"), (2, "B"), (3, "C")]
