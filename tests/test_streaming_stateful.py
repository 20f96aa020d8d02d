"""Event-time windows with watermark + applyInPandasWithState dedup."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bioanalyzer_backend_spark.datagen import synth
from bioanalyzer_backend_spark.plans import pipeline as P
from bioanalyzer_backend_spark.sources.catalog import LocalSnapshotTable
from bioanalyzer_backend_spark.streaming import stateful

TS_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
             "caption string, phash long, ts timestamp")

BASE = pd.Timestamp("2026-01-01 00:00:00")


@pytest.fixture(scope="module")
def ts_stream_input(spark, tmp_path_factory):
    """Image table + event-time column spread over 10 minutes, written as
    several files (=> several micro-batches with maxFilesPerTrigger)."""
    root = tmp_path_factory.mktemp("ts_stream_in")
    table, _ = synth.generate(600, seed=11)
    pdf = pd.DataFrame(table)
    pdf["ts"] = [BASE + pd.Timedelta(minutes=i % 10) for i in range(len(pdf))]
    df = spark.createDataFrame(pdf, schema=TS_SCHEMA)
    df.repartition(5).write.parquet(str(root / "imgs"))
    return str(root / "imgs")


def _read_stream(spark, path, per_trigger=2):
    return (spark.readStream.schema(TS_SCHEMA)
            .option("maxFilesPerTrigger", per_trigger)
            .parquet(path))


def test_windowed_stats_match_batch(spark, ts_stream_input, tmp_path):
    """Watermark wider than the event-time span => no row is late, and the
    streaming windowed agg must equal the batch one exactly."""
    results = LocalSnapshotTable(str(tmp_path / "win_results"))
    q = stateful.start_windowed_stats_stream(
        _read_stream(spark, ts_stream_input), results,
        str(tmp_path / "ckpt"), window_dur="2 minutes",
        watermark="30 minutes")
    q.awaitTermination(180)

    got = (results.read(spark)
           .select("window_start", "fmt", "n_rows", "n_keep")
           .toPandas().sort_values(["window_start", "fmt"])
           .reset_index(drop=True))

    batch = spark.read.parquet(ts_stream_input)
    want = (P.apply_core_rules(batch)
            .groupBy(F.window("ts", "2 minutes").alias("win"), "fmt")
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.col("keep_core").cast("long")).alias("n_keep"))
            .select(F.col("win.start").alias("window_start"), "fmt",
                    "n_rows", "n_keep")
            .toPandas().sort_values(["window_start", "fmt"])
            .reset_index(drop=True))

    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want)
    # update-mode MERGE commits happened per micro-batch
    assert len(results.history()) >= 2


def test_windowed_stats_drop_late_rows(spark, tmp_path):
    """Rows arriving later than the watermark allows are dropped
    deterministically (bounded state — the point of the watermark)."""
    cols = ["image_id", "caption", "fmt", "ts"]
    on_time = pd.DataFrame(
        [(f"t{i}", "a good caption with several plain words", "bmp",
          BASE + pd.Timedelta(minutes=8)) for i in range(10)], columns=cols)
    late = pd.DataFrame(
        [(f"l{i}", "a good caption with several plain words", "bmp",
          BASE) for i in range(7)], columns=cols)   # 8 min late > 2 min wm
    root = tmp_path / "in"
    schema = "image_id string, caption string, fmt string, ts timestamp"
    results = LocalSnapshotTable(str(tmp_path / "res"))

    def run_once():
        # availableNow run; the checkpoint carries the watermark across
        # restarts, so run 2 sees run 1's watermark (= 8min - 2min)
        stream = (spark.readStream.schema(schema).parquet(str(root / "*")))
        q = stateful.start_windowed_stats_stream(
            stream, results, str(tmp_path / "ck"),
            window_dur="2 minutes", watermark="2 minutes")
        q.awaitTermination(180)

    spark.createDataFrame(on_time, schema).coalesce(1) \
        .write.parquet(str(root / "a"))
    run_once()
    spark.createDataFrame(late, schema).coalesce(1) \
        .write.parquet(str(root / "b"))
    run_once()

    got = results.read(spark).toPandas()
    # only the on-time window exists; the late batch's window never appears
    assert got["n_rows"].sum() == 10
    assert (got["window_start"] == BASE + pd.Timedelta(minutes=8)).all()


def test_stateful_dedup_across_batches(spark, tmp_path):
    """A phash seen in batch 1 must flag its batch-2 re-arrival as dup —
    the cross-batch case the per-batch foreachBatch dedup cannot catch."""
    rows_b1 = [("img-000", 111), ("img-001", 111), ("img-002", 222)]
    rows_b2 = [("img-003", 111), ("img-004", 333)]
    root = tmp_path / "in"
    for i, rows in enumerate((rows_b1, rows_b2)):
        pdf = pd.DataFrame(rows, columns=["image_id", "phash"])
        # one file per logical batch; lexicographic name = arrival order
        spark.createDataFrame(pdf, "image_id string, phash long") \
            .coalesce(1).write.parquet(str(root / f"b{i}"))

    stream = (spark.readStream.schema("image_id string, phash long")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(root / "*")))
    results = LocalSnapshotTable(str(tmp_path / "dedup_results"))
    q = stateful.start_stateful_dedup(stream, results,
                                      str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    assert results.read(spark).columns == ["image_id", "phash", "is_dup"]
    got = (results.read(spark).select("image_id", "phash", "is_dup")
           .toPandas().set_index("image_id").sort_index())
    assert len(got) == 5
    # first arrival of each phash is canonical
    assert not got.loc["img-000", "is_dup"]     # phash 111 canonical
    assert got.loc["img-001", "is_dup"].item()  # same batch dup
    assert not got.loc["img-002", "is_dup"]
    assert not got.loc["img-004", "is_dup"]
    # the cross-batch duplicate: img-003 re-arrives phash 111 in batch 2
    assert got.loc["img-003", "is_dup"].item()


def test_stateful_dedup_matches_batch_dedup(spark, tmp_path):
    """When every group arrives within the stream, flags equal the batch
    two-phase dedup (min-id canonical) on the same input."""
    table, _ = synth.generate(400, seed=13)
    pdf = pd.DataFrame(table)[["image_id", "phash"]]
    src = tmp_path / "src"
    spark.createDataFrame(pdf, "image_id string, phash long") \
        .coalesce(1).write.parquet(str(src))

    stream = (spark.readStream.schema("image_id string, phash long")
              .parquet(str(src)))
    results = LocalSnapshotTable(str(tmp_path / "res"))
    q = stateful.start_stateful_dedup(stream, results,
                                      str(tmp_path / "ck"))
    q.awaitTermination(180)

    got = (results.read(spark).select("image_id", "is_dup")
           .toPandas().sort_values("image_id").reset_index(drop=True))
    want = (P.apply_dedup_flag(spark.read.parquet(str(src)))
            .select("image_id", "is_dup")
            .toPandas().sort_values("image_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want)


def test_stateful_dedup_null_phash_rows_never_dup(spark, tmp_path):
    """NULL phash = undecodable image (error-row semantics): two DISTINCT
    broken images must both flow through non-dup — grouping them into one
    NULL state group flagged the second as a dup of the first, diverging
    from the batch twin where NULL keys never equi-match."""
    pdf = pd.DataFrame([("b0", 7), ("b1", None), ("b2", None), ("b3", 7)],
                       columns=["image_id", "phash"])
    src = tmp_path / "src"
    spark.createDataFrame(pdf, "image_id string, phash long") \
        .coalesce(1).write.parquet(str(src))
    stream = (spark.readStream.schema("image_id string, phash long")
              .parquet(str(src)))
    results = LocalSnapshotTable(str(tmp_path / "res"))
    q = stateful.start_stateful_dedup(stream, results, str(tmp_path / "ck"))
    q.awaitTermination(180)
    got = {r["image_id"]: r["is_dup"]
           for r in results.read(spark).collect()}
    assert got == {"b0": False, "b1": False, "b2": False, "b3": True}
    # and it still matches the batch twin on the same input
    want = {r["image_id"]: r["is_dup"] for r in
            P.apply_dedup_flag(spark.read.parquet(str(src))).collect()}
    assert got == want


def test_stateful_dedup_with_ttl_plumbs_timeout(spark, tmp_path):
    """state_ttl_ms > 0 switches to ProcessingTimeTimeout and
    setTimeoutDuration — the query must run and flag same-batch dups
    (timeout FIRING is wall-clock-dependent; this pins the plumbing)."""
    pdf = pd.DataFrame([("a0", 7), ("a1", 7), ("a2", 8)],
                       columns=["image_id", "phash"])
    src = tmp_path / "src"
    spark.createDataFrame(pdf, "image_id string, phash long") \
        .coalesce(1).write.parquet(str(src))
    stream = (spark.readStream.schema("image_id string, phash long")
              .parquet(str(src)))
    results = LocalSnapshotTable(str(tmp_path / "res"))
    q = stateful.start_stateful_dedup(stream, results, str(tmp_path / "ck"),
                                      state_ttl_ms=60_000)
    q.awaitTermination(180)
    got = {r["image_id"]: r["is_dup"]
           for r in results.read(spark).collect()}
    assert got == {"a0": False, "a1": True, "a2": False}
