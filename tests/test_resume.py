"""Checkpoint/resume semantics: kill mid-run, restart, byte-identical result
(SURVEY.md section 5.5; cache_manager.py keyed-upsert semantics)."""

import pytest

from bioanalyzer_backend_spark.operators.dedup import binary_columns
from bioanalyzer_backend_spark.plans import resume
from bioanalyzer_backend_spark.plans.audit import audit_rows
from bioanalyzer_backend_spark.plans.resume import run_with_resume
from bioanalyzer_backend_spark.sources.catalog import LocalSnapshotTable


def _strip_format(tbl, name=None, stamp=None):
    """Rewrite manifest *name* (default: HEAD's) as older code wrote it:
    no ``format`` stamp, or the older *stamp*."""
    import json
    import os
    path = os.path.join(tbl.meta_dir,
                        name or open(tbl._head_path()).read().strip())
    with open(path) as f:
        snap = json.load(f)
    if stamp is None:
        del snap["format"]
    else:
        snap["format"] = stamp
    with open(path, "w") as f:
        json.dump(snap, f)


def _tables(tmp_path):
    return (LocalSnapshotTable(str(tmp_path / "results")),
            LocalSnapshotTable(str(tmp_path / "audit")),
            LocalSnapshotTable(str(tmp_path / "ckpt")))


def _assert_same_rows(got, want):
    """Row-for-row equality of two frames on want's columns, sorted by
    image_id (pandas compare: NaN equals NaN, floats exact)."""
    import pandas as pd
    cols = want.columns
    g = got.select(*cols).toPandas().sort_values("image_id") \
        .reset_index(drop=True)
    w = want.toPandas().sort_values("image_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_exact=True)


def _collect_sorted(spark, tbl):
    # is_dup included since round 5: the dedup flag is stamped GLOBALLY
    # at staging, so resumed runs match the whole-table batch pipeline
    # on it too (previously group-local and excluded here)
    df = tbl.read(spark)
    return sorted((r["image_id"], r["keep"], r["scrubbed_caption"],
                   r["is_dup"])
                  for r in df.select("image_id", "keep",
                                     "scrubbed_caption",
                                     "is_dup").collect())


def test_resume_after_injected_failure(spark, synth_images_df, tmp_path,
                                       artifacts_dir):
    df = synth_images_df.limit(400)

    # reference run: uninterrupted
    r_res, r_aud, r_ck = _tables(tmp_path / "ref")
    stats = run_with_resume(spark, df, r_res, r_aud, r_ck, n_groups=4)
    assert stats["newly_committed"] == 4
    expected = _collect_sorted(spark, r_res)

    # the grouped/resumed run must agree with the PLAIN whole-table
    # pipeline on every flag — including is_dup, whose dup pairs span
    # id-hash groups (group-local dedup would mark both canonical)
    from bioanalyzer_backend_spark.plans import pipeline as P
    plain = sorted(
        (r["image_id"], r["keep"], r["scrubbed_caption"], r["is_dup"])
        for r in P.quality_filter(df)
        .select("image_id", "keep", "scrubbed_caption", "is_dup")
        .collect())
    assert expected == plain
    # sanity: the corpus actually exercises the cross-group case
    assert any(t[3] for t in plain), "corpus must contain dup rows"

    # crashed run: dies after 2 of 4 group commits
    c_res, c_aud, c_ck = _tables(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_resume(spark, df, c_res, c_aud, c_ck, n_groups=4,
                        fail_after=2)
    assert len(resume.committed_groups(c_ck)) == 2
    # the crash leaves its staged copy behind: it holds the decision
    # inputs, the dedup flag and the group id, no pixels
    import os
    stage = os.path.join(c_res.root, "stage")
    assert sorted(spark.read.parquet(stage).columns) \
        == sorted([*P.DECISION_INPUTS, "is_dup", "part_id"])

    # restart: must process ONLY the 2 remaining groups
    stats2 = run_with_resume(spark, df, c_res, c_aud, c_ck, n_groups=4)
    assert stats2["newly_committed"] == 2
    assert _collect_sorted(spark, c_res) == expected

    # idempotent: third run does nothing
    stats3 = run_with_resume(spark, df, c_res, c_aud, c_ck, n_groups=4)
    assert stats3["newly_committed"] == 0
    assert _collect_sorted(spark, c_res) == expected

    # the crashed-then-resumed results are a label table that holds no
    # input column but image_id, and equals the whole-table pipeline on
    # EVERY column once the input is joined back by image_id
    got = c_res.read(spark)
    assert set(got.columns) & set(df.columns) == {"image_id"}
    full = P.quality_filter(df)
    assert binary_columns(full) == ["bytes"]
    _assert_same_rows(got.join(df, "image_id"), full)

    # audit rows exist with positive counts
    aud = audit_rows(spark, c_aud).toPandas()
    assert set(aud["rule"]) == {"len", "word", "rep", "alpha", "stop"}
    assert (aud["n_in"] > 0).all()


def test_snapshot_atomicity(spark, tmp_path):
    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    assert tbl.read(spark) is None
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    tbl.append(df1)
    assert tbl.read(spark).count() == 2
    tbl.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    assert tbl.read(spark).count() == 3
    assert len(tbl.history()) == 2


def test_metadata_only_append(spark, tmp_path):
    """``append(None, summary)`` moves HEAD and records the summary
    without writing data: no dir under ``data/``, and the table still
    reads as empty. Summaries accumulate in commit order."""
    import os

    tbl = LocalSnapshotTable(str(tmp_path / "meta"))
    assert tbl.summaries() == []
    s1 = tbl.append(None, {"group": 0})
    s2 = tbl.append(None, {"group": 1})
    assert tbl.history() == [s2, s1]
    assert os.listdir(tbl.data_dir) == []
    assert tbl.read(spark) is None
    assert tbl.summaries() == [{"group": 0}, {"group": 1}]
    tbl.append(spark.range(2).toDF("x"))          # no summary: none added
    assert tbl.summaries() == [{"group": 0}, {"group": 1}]
    assert tbl.read(spark).count() == 2


def test_summaries_survive_rewrites(spark, tmp_path):
    """compact, delete_where and merge_by_key rewrite the data files but
    carry the parent's summaries forward unchanged."""
    tbl = LocalSnapshotTable(str(tmp_path / "rw"))
    tbl.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
               {"group": 0})
    tbl.append(spark.createDataFrame([(3, "c")], "k int, v string"),
               {"group": 1})
    want = [{"group": 0}, {"group": 1}]
    tbl.compact(spark, target_files=1)
    assert tbl.current_snapshot()["operation"] == "compact"
    assert tbl.summaries() == want
    tbl.delete_where(spark, "k = 2")
    assert tbl.current_snapshot()["operation"] == "delete"
    assert tbl.summaries() == want
    tbl.merge_by_key(
        spark, spark.createDataFrame([(3, "C")], "k int, v string"), "k")
    assert tbl.current_snapshot()["operation"] == "merge"
    assert tbl.summaries() == want
    assert sorted((r["k"], r["v"]) for r in tbl.read(spark).collect()) \
        == [(1, "a"), (3, "C")]


def test_noop_resume_runs_no_spark_job(spark, synth_images_df, tmp_path,
                                       artifacts_dir):
    """A resume over a fully committed warehouse answers every
    bookkeeping question from the snapshot summaries at HEAD: it runs no
    Spark job at all."""
    df = synth_images_df.limit(100)
    res, aud, ck = _tables(tmp_path / "noop")
    assert run_with_resume(spark, df, res, aud, ck,
                           n_groups=2)["newly_committed"] == 2
    sc = spark.sparkContext
    group = "noop-resume-" + tmp_path.name
    sc.setJobGroup(group, "no-op resume")
    try:
        stats = run_with_resume(spark, df, res, aud, ck, n_groups=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["newly_committed"] == 0 and stats["groups_done"] == 2
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_merge_by_key_upsert(spark, tmp_path):
    """INSERT OR REPLACE semantics of cache_manager.py:100-111."""
    tbl = LocalSnapshotTable(str(tmp_path / "m"))
    tbl.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    tbl.merge_by_key(
        spark, spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string"),
        "k")
    got = {r["k"]: r["v"] for r in tbl.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "C"}


def test_crash_between_commits_rolls_forward(spark, synth_images_df,
                                             tmp_path, artifacts_dir):
    """Crash AFTER results.append but BEFORE the checkpoint row: the
    restart must roll the half-committed group forward (append its audit
    and checkpoint commits) — NOT reprocess it, which would duplicate
    rows."""
    df = synth_images_df.limit(300)
    res, aud, ck = _tables(tmp_path / "half")

    with pytest.raises(RuntimeError, match="between commits"):
        run_with_resume(spark, df, res, aud, ck, n_groups=4,
                        fail_between_commits=True, fail_after=1)
    # rows of the crashed group ARE published, checkpoint row is NOT
    assert res.read(spark) is not None
    assert len(resume.committed_groups(ck)) == 0

    stats = run_with_resume(spark, df, res, aud, ck, n_groups=4)
    assert len(stats["repaired_groups"]) == 1
    assert stats["newly_committed"] == 3

    # no duplicates: every image_id appears exactly once
    got = res.read(spark)
    assert got.count() == df.count()
    assert got.select("image_id").distinct().count() == df.count()
    # the repaired group's audit rows are stamped 'repair:<run_id>' and
    # the new groups' the plain run id
    rid = stats["run_id"]
    repaired = set(stats["repaired_groups"])
    aud_rows = audit_rows(spark, aud).select("run_id", "group_id").collect()
    assert {r["run_id"] for r in aud_rows
            if r["group_id"] in repaired} == {"repair:" + rid}
    assert {r["group_id"] for r in aud_rows if r["run_id"] == rid} \
        == {0, 1, 2, 3} - repaired
    # repaired checkpoint facts are stamped 'repair:<run_id>', so a
    # throughput metric filtering run_id == rid cannot claim the crashed
    # run's rows (jobs/quality_filter.py rows_this_run)
    repaired_ck = [s for s in ck.summaries()
                   if s["run_id"].startswith("repair:")]
    assert {s["group"] for s in repaired_ck} == set(stats["repaired_groups"])


def test_crash_after_audit_repair_is_idempotent(spark, synth_images_df,
                                                tmp_path, artifacts_dir):
    """Crash AFTER the audit append but BEFORE the checkpoint commit: the
    group's audit rows are already committed (its audit summary says so),
    so the roll-forward must keep them as the crashed run wrote them — a
    blind re-append would double the lineage hit counts."""
    df = synth_images_df.limit(300)
    res, aud, _ = _tables(tmp_path / "aud")

    class CrashOnce(LocalSnapshotTable):
        """A checkpoint table whose first append raises: the crash
        lands after the group's audit commit."""
        crashed = False

        def append(self, df, summary=None):
            if not self.crashed:
                self.crashed = True
                raise RuntimeError("injected failure after audit")
            return super().append(df, summary)

    ck = CrashOnce(str(tmp_path / "aud" / "ckpt"))
    with pytest.raises(RuntimeError, match="after audit"):
        run_with_resume(spark, df, res, aud, ck, n_groups=4)
    # rows AND audit are published; checkpoint row is not
    assert res.read(spark) is not None
    assert audit_rows(spark, aud).count() > 0
    assert len(resume.committed_groups(ck)) == 0
    crashed_group = res.read(spark).select("part_id").distinct().collect()
    g = crashed_group[0]["part_id"]

    stats = run_with_resume(spark, df, res, aud, ck, n_groups=4)
    assert stats["repaired_groups"] == [g]

    # per-rule input counts for the repaired group equal the group's row
    # count EXACTLY once — doubling would make this 2x
    group_rows = res.read(spark).where(f"part_id = {g}").count()
    per_rule = (audit_rows(spark, aud).where(f"group_id = {g}")
                .groupBy("rule").sum("n_in").collect())
    assert per_rule, "repaired group has audit rows"
    for r in per_rule:
        assert r["sum(n_in)"] == group_rows
    # the crashed run computed those rows: they keep its run_id and
    # wall_ms, while the checkpoint fact is stamped 'repair:<run_id>'
    kept = audit_rows(spark, aud).where(f"group_id = {g}") \
        .select("run_id", "wall_ms").collect()
    assert {r["run_id"] for r in kept} != {"repair:" + stats["run_id"]}
    assert all(r["wall_ms"] is not None for r in kept)
    assert [s["run_id"] for s in ck.summaries() if s["group"] == g] \
        == ["repair:" + stats["run_id"]]


def test_reconcile_runs_no_spark_job(spark, synth_images_df, tmp_path,
                                     artifacts_dir):
    """Rolling a half-committed group forward reads and writes snapshot
    summaries only: the repair runs no Spark job."""
    df = synth_images_df.limit(100)
    res, aud, ck = _tables(tmp_path / "rc")
    with pytest.raises(RuntimeError, match="between commits"):
        run_with_resume(spark, df, res, aud, ck, n_groups=2,
                        fail_between_commits=True, fail_after=1)
    sc = spark.sparkContext
    group = "reconcile-" + tmp_path.name
    sc.setJobGroup(group, "reconcile")
    try:
        repaired = resume.reconcile(res, aud, ck, "rid")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert repaired == [0]
    assert resume.committed_groups(aud) == resume.committed_groups(ck) \
        == {0}
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_repaired_audit_equals_clean_run(spark, synth_images_df, tmp_path,
                                         artifacts_dir):
    """A group repaired after a crash between its commits records the
    same audit rows as a clean run on a fresh warehouse records for it,
    on every column but run_id and wall_ms."""
    df = synth_images_df.limit(300)
    res, aud, ck = _tables(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="between commits"):
        run_with_resume(spark, df, res, aud, ck, n_groups=4,
                        fail_between_commits=True, fail_after=1)
    assert run_with_resume(spark, df, res, aud, ck,
                           n_groups=4)["repaired_groups"] == [0]
    c_res, c_aud, c_ck = _tables(tmp_path / "clean")
    run_with_resume(spark, df, c_res, c_aud, c_ck, n_groups=4)

    def group0(tbl):
        return sorted(tuple(r) for r in audit_rows(spark, tbl)
                      .where("group_id = 0").drop("run_id", "wall_ms")
                      .collect())

    got = group0(aud)
    assert got and got == group0(c_aud)


def test_open_table_routing_matches_classpath(spark, tmp_path):
    """have_iceberg must reflect the REAL classpath (py4j returns a
    truthy JavaPackage for missing classes, so the old attribute probe
    was always True and the loud no-runtime ValueError was dead code);
    open_table routes identifiers to Iceberg-or-raise and paths to the
    snapshot fallback."""
    from bioanalyzer_backend_spark.sources import catalog as C

    from .test_iceberg_runtime import _iceberg_jar_present

    assert C.have_iceberg(spark) == _iceberg_jar_present()
    if not C.have_iceberg(spark):
        with pytest.raises(ValueError, match="Iceberg"):
            C.open_table(spark, "cat.db.tbl")
    t = C.open_table(spark, str(tmp_path / "tbl"))
    assert isinstance(t, C.LocalSnapshotTable)


def test_delete_where_snapshot(spark, tmp_path):
    """Row-level DELETE commits a new snapshot; time travel still sees
    the deleted rows in the prior snapshot."""
    tbl = LocalSnapshotTable(str(tmp_path / "d"))
    tbl.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"))
    before = tbl.history()[0]
    tbl.delete_where(spark, "k = 2")
    got = sorted(r["k"] for r in tbl.read(spark).collect())
    assert got == [1, 3]
    old = sorted(r["k"] for r in
                 tbl.read(spark, snapshot_id=before).collect())
    assert old == [1, 2, 3]


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """Standard SQL DELETE semantics (Iceberg-compatible): a row whose
    predicate evaluates NULL — e.g. a NULL group_id under
    ``group_id = 3`` — must be KEPT, not swept away by a naive
    ``where(~cond)`` rewrite: deleting one group of a table that mixes
    group-stamped rows with NULL-group rows must not eat the NULL
    rows."""
    tbl = LocalSnapshotTable(str(tmp_path / "n"))
    tbl.append(spark.createDataFrame(
        [(3, "stamped"), (None, "lineage"), (4, "other")],
        "group_id int, v string"))
    tbl.delete_where(spark, "group_id = 3")
    got = sorted(((r["group_id"], r["v"])
                  for r in tbl.read(spark).collect()), key=str)
    assert got == [(4, "other"), (None, "lineage")]


def test_crashes_leave_one_stage_copy(spark, synth_images_df, tmp_path,
                                      artifacts_dir):
    """A crashed run leaves its staged input copy behind (a killed JVM
    cannot clean up). Every run stages at the one ``stage`` dir, so two
    crashes leave one staged copy, not two, and a clean resume removes
    it."""
    import os

    df = synth_images_df.limit(150)
    res, aud, ck = _tables(tmp_path / "sweep")
    for _ in range(2):
        with pytest.raises(RuntimeError, match="injected failure"):
            run_with_resume(spark, df, res, aud, ck, n_groups=4,
                            fail_after=1)
    assert len(resume.committed_groups(ck)) == 2
    assert [d for d in os.listdir(res.root) if "stage" in d] == ["stage"]

    run_with_resume(spark, df, res, aud, ck, n_groups=4)
    assert [d for d in os.listdir(res.root) if "stage" in d] == []


def test_second_run_on_warehouse_raises(spark, synth_images_df, tmp_path):
    """One writer per warehouse: while another process or fd holds
    ``<results.root>/.run.lock``, a run raises before reading or writing
    any table."""
    import fcntl
    import os

    df = synth_images_df.limit(40)
    res, aud, ck = _tables(tmp_path / "lock")
    fd = os.open(os.path.join(res.root, ".run.lock"),
                 os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        with pytest.raises(RuntimeError, match="another run"):
            run_with_resume(spark, df, res, aud, ck, n_groups=2)
    finally:
        os.close(fd)
    for t in (res, aud, ck):
        assert t.read(spark) is None and t.summaries() == []
    assert not os.path.exists(os.path.join(res.root, "stage"))


def test_n_groups_below_one_raises(spark, synth_images_df, tmp_path):
    """range(0) is empty: without the guard n_groups=0 commits nothing
    and reports success."""
    res, aud, ck = _tables(tmp_path / "zero")
    for n in (0, -1):
        with pytest.raises(ValueError, match="n_groups"):
            run_with_resume(spark, synth_images_df.limit(20), res, aud, ck,
                            n_groups=n)
    assert res.read(spark) is None


def test_input_scanned_once_via_staging(spark, synth_images_df, tmp_path,
                                        artifacts_dir):
    """IO assertion for the staged-input design: the (expensive) input
    lineage is evaluated ONCE — during staging — not once per group.
    A per-group filter on the computed hash would re-execute the input
    scan n_groups times (the marker UDF would fire 4x per row)."""
    df, acc = _marked(spark, synth_images_df.limit(200))
    res, aud, ck = _tables(tmp_path / "scan")
    stats = run_with_resume(spark, df, res, aud, ck, n_groups=4)
    assert stats["newly_committed"] == 4
    assert acc.value == 200, (
        f"input lineage ran {acc.value / 200:.1f}x per row; staging "
        "must evaluate it exactly once")


def _marked(spark, df):
    """*df* with its caption passed through a UDF that counts each
    evaluation of the input lineage and returns its input; returns
    (frame, accumulator). The caption is a decision input, so staging
    cannot prune the marker away."""
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def marker(caption):
        acc.add(1)
        return caption

    return df.withColumn("caption", marker("caption")), acc


def test_resume_reads_the_crashed_runs_stage(spark, synth_images_df,
                                             tmp_path, artifacts_dir,
                                             caplog):
    """A crashed run's stage carries the stamp the resume computes, so
    the resume reads it instead of staging again: the input lineage runs
    once per row across the crash and the resume, the resume's
    stage_input runs no Spark job, and the results equal a clean run's
    row for row."""
    import logging

    df, acc = _marked(spark, synth_images_df.limit(200))
    res, aud, ck = _tables(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_resume(spark, df, res, aud, ck, n_groups=4, fail_after=1)
    assert acc.value == 200
    stage = str(tmp_path / "crash" / "results" / "stage")
    assert resume.read_stamp(stage) == resume.stage_stamp(df, 4)

    sc = spark.sparkContext
    group = "restage-" + tmp_path.name
    sc.setJobGroup(group, "stage_input over a stamped stage")
    try:
        with caplog.at_level(logging.INFO, logger=resume.__name__):
            resume.stage_input(spark, df, stage, 4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert f"reusing the staged input at {stage}" in caplog.text

    stats = run_with_resume(spark, df, res, aud, ck, n_groups=4)
    assert stats["staged"] == "reused" and stats["newly_committed"] == 3
    assert acc.value == 200, (
        f"input lineage ran {acc.value / 200:.1f}x per row across the "
        "crash and the resume; the resume must read the crashed stage")
    assert run_with_resume(spark, df, res, aud, ck,
                           n_groups=4)["staged"] is None

    clean = _tables(tmp_path / "clean")
    assert run_with_resume(spark, df, *clean,
                           n_groups=4)["staged"] == "written"
    _assert_same_rows(res.read(spark), clean[0].read(spark))


def test_stage_for_other_n_groups_is_staged_again(spark, synth_images_df,
                                                  tmp_path, artifacts_dir,
                                                  caplog):
    """A stage stamped for n_groups=4 is not read by a run at
    n_groups=8 that has nothing published: its part_ids are a hash
    modulo 4. The run stages again, says so, and publishes each id
    once."""
    import logging

    df = synth_images_df.limit(200)
    res, aud, ck = _tables(tmp_path / "ng")
    stage = str(tmp_path / "ng" / "results" / "stage")
    resume.stage_input(spark, df, stage, 4)
    assert resume.read_stamp(stage)["n_groups"] == 4

    with caplog.at_level(logging.WARNING, logger=resume.__name__):
        with pytest.raises(RuntimeError, match="injected failure"):
            run_with_resume(spark, df, res, aud, ck, n_groups=8,
                            fail_after=1)
    assert f"replacing the staged input at {stage}" in caplog.text
    assert resume.read_stamp(stage)["n_groups"] == 8

    stats = run_with_resume(spark, df, res, aud, ck, n_groups=8)
    assert stats["staged"] == "reused" and stats["groups_done"] == 8
    got = res.read(spark)
    assert got.count() == 200
    assert got.select("image_id").distinct().count() == 200


def test_resume_on_other_input_raises(spark, synth_images_df, tmp_path,
                                      artifacts_dir):
    """A resume finishes the input it staged. Crashed on one parquet
    input with a group published, a resume on another raises before any
    commit (staging again would mix two inputs in one results table),
    and the original input still resumes."""
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    synth_images_df.limit(120).write.parquet(a)
    synth_images_df.limit(160).write.parquet(b)
    res, aud, ck = _tables(tmp_path / "wh")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_resume(spark, spark.read.parquet(a), res, aud, ck,
                        n_groups=4, fail_after=1)
    before = [t.summaries() for t in (res, aud, ck)]
    assert before[0]

    with pytest.raises(ValueError, match="original input"):
        run_with_resume(spark, spark.read.parquet(b), res, aud, ck,
                        n_groups=4)
    assert [t.summaries() for t in (res, aud, ck)] == before

    stats = run_with_resume(spark, spark.read.parquet(a), res, aud, ck,
                            n_groups=4)
    assert stats["staged"] == "reused" and stats["groups_done"] == 4
    assert res.read(spark).count() == 120


def test_unstamped_stage_is_staged_again(spark, synth_images_df, tmp_path,
                                         artifacts_dir):
    """A stage without its stamp (a half-written one, or one older code
    left) is not trusted: the resume stages again, and the results stay
    a clean run's."""
    import os

    df, acc = _marked(spark, synth_images_df.limit(200))
    res, aud, ck = _tables(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_resume(spark, df, res, aud, ck, n_groups=4, fail_after=1)
    os.remove(os.path.join(res.root, "stage", resume.STAMP))

    stats = run_with_resume(spark, df, res, aud, ck, n_groups=4)
    assert stats["staged"] == "written" and stats["groups_done"] == 4
    assert acc.value == 400
    clean = _tables(tmp_path / "clean")
    run_with_resume(spark, df, *clean, n_groups=4)
    _assert_same_rows(res.read(spark), clean[0].read(spark))


def test_reconcile_logs_rolled_forward_groups(spark, synth_images_df,
                                              tmp_path, artifacts_dir,
                                              caplog):
    """A roll-forward is a WARNING that names the groups it repaired; a
    reconcile with nothing to repair says nothing."""
    import logging

    res, aud, ck = _tables(tmp_path / "log")
    with pytest.raises(RuntimeError, match="between commits"):
        run_with_resume(spark, synth_images_df.limit(100), res, aud, ck,
                        n_groups=2, fail_between_commits=True,
                        fail_after=1)
    with caplog.at_level(logging.WARNING, logger=resume.__name__):
        assert resume.reconcile(res, aud, ck, "r1") == [0]
        assert resume.reconcile(res, aud, ck, "r2") == []
    assert [(r.levelname, r.getMessage()) for r in caplog.records] == [
        ("WARNING", "rolled forward half-committed groups [0] (rows "
                    "published, checkpoint commit missing)")]


def test_resume_rejects_changed_n_groups(spark, synth_images_df, tmp_path):
    """part_id is a hash modulo n_groups; resuming under a different
    modulus reinterprets committed ids and silently duplicates/skips
    rows — must raise instead (checkpoint rows record n_groups)."""
    df = synth_images_df.limit(120)
    res, aud, ck = _tables(tmp_path / "ng")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_resume(spark, df, res, aud, ck, n_groups=4, fail_after=1)
    with pytest.raises(ValueError, match="n_groups"):
        run_with_resume(spark, df, res, aud, ck, n_groups=8)
    # the original value still resumes fine
    stats = run_with_resume(spark, df, res, aud, ck, n_groups=4)
    assert stats["groups_done"] == 4


def test_changed_n_groups_before_first_checkpoint_raises(spark,
                                                         synth_images_df,
                                                         tmp_path):
    """A crash between the results and audit appends of the FIRST group
    leaves no checkpoint row for check_n_groups to read. Resuming under
    another modulus must still raise, before reconcile touches audit or
    checkpoint — rolling the group forward under n_groups=8 and then
    processing groups 0-7 published some ids twice."""
    df = synth_images_df.limit(400)
    res, aud, ck = _tables(tmp_path / "ng0")
    with pytest.raises(RuntimeError, match="between commits"):
        run_with_resume(spark, df, res, aud, ck, n_groups=4,
                        fail_between_commits=True, fail_after=1)
    assert ck.summaries() == []
    with pytest.raises(ValueError, match="n_groups"):
        run_with_resume(spark, df, res, aud, ck, n_groups=8)
    assert ck.summaries() == [] and aud.summaries() == []
    # the original value still resumes, one row per image_id
    stats = run_with_resume(spark, df, res, aud, ck, n_groups=4)
    assert len(stats["repaired_groups"]) == 1
    assert stats["groups_done"] == 4
    got = res.read(spark)
    assert got.count() == 400
    assert got.select("image_id").distinct().count() == 400


def test_stage_input_rejects_part_id_clash(spark, synth_images_df, tmp_path):
    """Same clash discipline as apply_core_rules / salted aggs: a
    caller's pre-existing part_id column must raise, not silently
    vanish."""
    from pyspark.sql import functions as F

    from bioanalyzer_backend_spark.plans.resume import stage_input
    df = synth_images_df.limit(10).withColumn("part_id", F.lit(7))
    with pytest.raises(ValueError, match="part_id"):
        stage_input(spark, df, str(tmp_path / "stage"), 4)


def test_corrupt_head_raises_not_empty(spark, tmp_path):
    """HEAD naming a missing manifest is corruption: reading it as an
    empty table would let the next append permanently publish the
    truncation of all prior contents. A HEAD manifest without the format
    stamp, with format 2 (no summaries: its committed groups would look
    absent and be reprocessed), with format 3 (stream batches recorded
    in row columns, not summaries: a replayed batch would be re-admitted),
    with format 4 (audit facts in data rows, summaries without
    ``by_lang``: audit_rows would fail on them) or with format 5 (results
    rows repeat the input's caption and phash: a join-back by image_id
    would carry them twice) was written by older code and is refused the
    same way, by every read path and by append before it publishes
    anything."""
    import os

    for damage, match in (("missing", "corrupt"),
                          ("formatless", "older code"),
                          ("format2", "older code"),
                          ("format3", "older code"),
                          ("format4", "older code"),
                          ("format5", "older code")):
        tbl = LocalSnapshotTable(str(tmp_path / damage))
        tbl.append(spark.range(5).toDF("x"))
        snap = tbl.current_snapshot()
        if damage == "missing":
            os.remove(os.path.join(tbl.meta_dir, snap["snapshot"]))
        else:
            _strip_format(tbl, stamp={"format2": 2, "format3": 3,
                                      "format4": 4, "format5": 5}
                          .get(damage))
        head = open(tbl._head_path()).read()
        data_dirs = set(os.listdir(tbl.data_dir))
        for call in (tbl.current_snapshot, lambda: tbl.read(spark),
                     tbl.history, tbl.summaries,
                     lambda: tbl.append(spark.range(3).toDF("x"))):
            with pytest.raises(RuntimeError, match=match):
                call()
        assert open(tbl._head_path()).read() == head
        assert set(os.listdir(tbl.data_dir)) == data_dirs


def test_formatless_parent_snapshot_raises(spark, tmp_path):
    """A format-less manifest behind HEAD is refused too: reading it by
    snapshot id, and walking the chain through it."""
    tbl = LocalSnapshotTable(str(tmp_path / "t"))
    s1 = tbl.append(spark.range(5).toDF("x"))
    tbl.append(spark.range(5, 8).toDF("x"))
    _strip_format(tbl, s1)
    assert tbl.read(spark).count() == 8          # HEAD itself is stamped
    with pytest.raises(RuntimeError, match="older code"):
        tbl.read(spark, snapshot_id=s1)
    with pytest.raises(RuntimeError, match="older code"):
        tbl.history()


def test_merge_by_key_with_extra_target_columns(spark, tmp_path):
    """A target that carries columns the source lacks (here an earlier
    append's extra ``_batch_id`` column) must merge, with NULLs for the
    source side's missing columns — previously unionByName crashed."""
    tbl = LocalSnapshotTable(str(tmp_path / "mx"))
    tbl.append(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 11)], "k int, v string, _batch_id long"))
    tbl.merge_by_key(
        spark, spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string"),
        "k")
    rows = {r["k"]: (r["v"], r["_batch_id"]) for r in tbl.read(spark).collect()}
    assert rows == {1: ("a", 10), 2: ("B", None), 3: ("C", None)}


def test_job_runs_with_aqe_off(spark, synth_images_df, tmp_path,
                               artifacts_dir):
    """Staging drops the pixels before the dedup join, so the job never
    needs AQE's broadcast conversion to keep bytes off the wire — it
    must run (not raise) with adaptive execution disabled and agree with
    the whole-table pipeline on every column once the input is joined
    back by image_id."""
    from bioanalyzer_backend_spark.plans import pipeline as P

    df = synth_images_df.limit(400)
    res, aud, ck = _tables(tmp_path / "noaqe")
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        stats = run_with_resume(spark, df, res, aud, ck, n_groups=2)
    finally:
        spark.conf.set(key, prev)
    assert stats["newly_committed"] == 2
    _assert_same_rows(res.read(spark).join(df, "image_id"),
                      P.quality_filter(df))


def _label_columns(df):
    """The columns quality_filter adds to *df*'s decision inputs, in
    order: every rule/label/gate column and scrubbed_caption."""
    from bioanalyzer_backend_spark.plans import pipeline as P

    decided = P.quality_filter(df.select(*P.DECISION_INPUTS),
                               with_dedup=False)
    return [c for c in decided.columns if c not in P.DECISION_INPUTS]


def test_results_hold_only_the_decision(spark, synth_images_df, tmp_path,
                                        artifacts_dir):
    """The job's results hold image_id, the label columns, is_dup and
    part_id: no other input column (caption, phash, w, h, fmt and the
    pixels join back by image_id)."""
    df = synth_images_df.limit(200)
    res, aud, ck = _tables(tmp_path / "lbl")
    run_with_resume(spark, df, res, aud, ck, n_groups=2)
    got = res.read(spark)
    assert sorted(got.columns) == sorted(
        ["image_id", *_label_columns(df), "is_dup", "part_id"])


def test_summaries_count_the_published_rows(spark, synth_images_df,
                                            tmp_path, artifacts_dir):
    """Each results summary's n_rows, n_kept and by_lang are
    group_tallies over the rows that group published, across a crash
    between commits and the resume that repairs it."""
    from pyspark.sql import functions as F

    from bioanalyzer_backend_spark.plans.audit import group_tallies

    df = synth_images_df.limit(300)
    res, aud, ck = _tables(tmp_path / "facts")
    with pytest.raises(RuntimeError, match="between commits"):
        run_with_resume(spark, df, res, aud, ck, n_groups=3,
                        fail_between_commits=True, fail_after=1)
    run_with_resume(spark, df, res, aud, ck, n_groups=3)
    published = res.read(spark)
    facts = res.summaries()
    assert sorted(s["group"] for s in facts) == [0, 1, 2]
    for s in facts:
        rows = published.where(F.col("part_id") == s["group"])
        assert s["by_lang"] == group_tallies(rows)
        assert s["n_rows"] == rows.count() > 0
        assert s["n_kept"] == rows.where("keep").count()
    assert sum(s["n_rows"] for s in facts) == 300


def test_groups_run_without_persist(spark, synth_images_df, tmp_path,
                                    artifacts_dir, monkeypatch):
    """No group caches its output: with DataFrame.persist and cache
    raising, a crash-and-resume run still completes, one row per id."""
    def refuse(self, *a, **k):
        raise AssertionError("a group must not cache its output")

    df = synth_images_df.limit(200)
    # the concrete frame class: pyspark.sql.DataFrame is its abstract base
    monkeypatch.setattr(type(df), "persist", refuse)
    monkeypatch.setattr(type(df), "cache", refuse)
    res, aud, ck = _tables(tmp_path / "nocache")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_resume(spark, df, res, aud, ck, n_groups=3, fail_after=1)
    stats = run_with_resume(spark, df, res, aud, ck, n_groups=3)
    assert stats["groups_done"] == 3 and stats["newly_committed"] == 2
    got = res.read(spark)
    assert got.count() == got.select("image_id").distinct().count() == 200


def test_committed_groups_are_logged(spark, synth_images_df, tmp_path,
                                     artifacts_dir, caplog):
    """Each committed group logs one INFO line whose group, n_rows,
    n_kept and wall_ms are those of its audit fact."""
    import logging

    res, aud, ck = _tables(tmp_path / "log")
    with caplog.at_level(logging.INFO, logger=resume.__name__):
        run_with_resume(spark, synth_images_df.limit(100), res, aud, ck,
                        n_groups=2)
    got = [r.getMessage() for r in caplog.records
           if r.getMessage().startswith("committed group")]
    assert got == [f"committed group {s['group']}: n_rows={s['n_rows']} "
                   f"n_kept={s['n_kept']} wall_ms={s['wall_ms']:.0f}"
                   for s in aud.summaries()]
    assert len(got) == 2


def test_resume_refuses_warehouse_from_older_code(spark, synth_images_df,
                                                 tmp_path):
    """A warehouse that earlier code half-committed: group 0's result
    rows are published with no checkpoint row, either byte-bearing under
    a manifest without the format stamp, or carrying the input's
    non-binary columns under ``"format": 5``. Resuming must raise before
    writing anything: no checkpoint, audit or stage."""
    import os

    from pyspark.sql import functions as F

    from bioanalyzer_backend_spark.operators.skew import stable_salt
    from bioanalyzer_backend_spark.plans import pipeline as P

    df = synth_images_df.limit(300)
    for stamp, inputs in ((None, df), (5, df.drop("bytes"))):
        res, aud, ck = _tables(tmp_path / f"old{stamp}")
        # what the older job committed for group 0: the dedup flag
        # stamped over the full frame of its inputs, then the group's
        # pipeline with part_id appended
        tagged = P.apply_dedup_flag(inputs) \
            .withColumn("part_id", stable_salt("image_id", 4))
        g0 = P.quality_filter(tagged.where("part_id = 0").drop("part_id"),
                              with_dedup=False) \
            .withColumn("part_id", F.lit(0))
        res.append(g0)
        assert set(res.read(spark).columns) >= set(inputs.columns)
        _strip_format(res, stamp=stamp)

        with pytest.raises(RuntimeError, match="older code"):
            run_with_resume(spark, df, res, aud, ck, n_groups=4)
        assert ck.summaries() == []
        assert aud.summaries() == []
        assert not os.path.exists(os.path.join(res.root, "stage"))
