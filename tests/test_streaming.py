"""Structured Streaming ingest: same pipeline, micro-batch sink, exact
results vs the batch path."""

import os

import pandas as pd
import pytest

from bioanalyzer_backend_spark.datagen import synth
from bioanalyzer_backend_spark.plans import pipeline as P
from bioanalyzer_backend_spark.sources.catalog import LocalSnapshotTable
from bioanalyzer_backend_spark.streaming import ingest


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_in")
    table, _ = synth.generate(600, seed=7)
    pdf = pd.DataFrame(table)
    df = spark.createDataFrame(pdf, schema=ingest.IMAGES_SCHEMA)
    # several files => several micro-batches with maxFilesPerTrigger
    df.repartition(6).write.parquet(str(root / "imgs"))
    return str(root / "imgs")


def test_stream_matches_batch(spark, stream_input, tmp_path, artifacts_dir):
    results = LocalSnapshotTable(str(tmp_path / "results"))
    stream = ingest.read_image_stream(spark, stream_input,
                                      max_files_per_trigger=2)
    q = ingest.start_quality_filter_stream(
        stream, results, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    batch_df = spark.read.parquet(stream_input)
    want_df = P.quality_filter(batch_df, with_dedup=False)
    # image_id and the label columns, as the job commits them without
    # is_dup and part_id: no other input column, and the commit facts
    # live in the snapshot summaries, not in the rows
    labels = [c for c in want_df.columns if c not in batch_df.columns]
    committed = results.read(spark)
    assert committed.columns == ["image_id", *labels]

    # with every input column joined back by image_id, the stream's rows
    # equal the whole-batch pipeline's on every column
    def rows(df):
        return (df.select(*want_df.columns).toPandas()
                .sort_values("image_id").reset_index(drop=True))

    got = rows(committed.join(batch_df, "image_id"))
    want = rows(want_df)
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # several atomic commits happened (one per micro-batch)
    assert len(results.history()) >= 2
    assert os.path.isdir(str(tmp_path / "ckpt"))


def test_generated_sql_runs_on_streams(spark, tmp_path):
    """The dialect-rendered registry SQL for the stateless sampling ops
    (mixture_sample, split_assign) runs UNCHANGED on a streaming
    DataFrame registered under the same view name, and an availableNow
    pass produces exactly the batch result — hash-threshold sampling is
    deterministic, so streams and batch cannot drift."""
    from bioanalyzer_backend_spark.plans.catalog_queries import (
        SPARK, _q_mixture_sample, _q_split_assign)

    import shutil
    src = "/root/testdata/sf0.001/documents.parquet"
    batch_df = spark.read.parquet(src)
    schema = batch_df.schema
    # readStream needs a DIRECTORY source
    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    shutil.copy(src, stream_dir / "part-0.parquet")
    stream = spark.readStream.schema(schema).parquet(str(stream_dir))
    stream.createOrReplaceTempView("documents")
    try:
        for name, builder in (("mix", _q_mixture_sample),
                              ("spl", _q_split_assign)):
            out = spark.sql(builder(SPARK))
            assert out.isStreaming
            q = (out.writeStream.format("memory").queryName(f"s_{name}")
                 .outputMode("append")
                 .option("checkpointLocation",
                         str(tmp_path / f"ck_{name}"))
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)
            got = (spark.table(f"s_{name}").toPandas()
                   .sort_values("doc_id").reset_index(drop=True))
            batch_df.createOrReplaceTempView("documents")
            want = (spark.sql(builder(SPARK)).toPandas()
                    .sort_values("doc_id").reset_index(drop=True))
            stream.createOrReplaceTempView("documents")
            assert len(got) == len(want) > 0
            pd.testing.assert_frame_equal(got, want)
    finally:
        spark.catalog.dropTempView("documents")
        # this test pointed `documents` at a stream view; the memoized
        # testdata registration must not believe its views are intact
        from bioanalyzer_backend_spark.session import \
            invalidate_testdata_views
        invalidate_testdata_views(spark)


def test_checkpoint_reset_reprocesses_instead_of_silent_drop(
        spark, stream_input, tmp_path, artifacts_dir):
    """Checkpoint reset = 'process everything again'. Epoch ids restart
    at 0, so a batch-id-only dedup key silently DISCARDED every replayed
    batch (data loss); keying on (query id, batch id) re-admits them
    under the new query's namespace. Exercises the REAL checkpoint
    metadata path, not a faked metadata file."""
    import shutil

    from pyspark.sql import functions as F

    results = LocalSnapshotTable(str(tmp_path / "res"))
    ckpt = str(tmp_path / "ckpt")
    ingest.start_quality_filter_stream(
        ingest.read_image_stream(spark, stream_input),
        results, ckpt).awaitTermination(120)
    n1 = results.read(spark).count()
    assert n1 > 0

    shutil.rmtree(ckpt)                       # operator resets the stream
    ingest.start_quality_filter_stream(
        ingest.read_image_stream(spark, stream_input),
        results, ckpt).awaitTermination(120)
    out = results.read(spark)
    assert out.count() == 2 * n1              # replay ADMITTED, not eaten
    qids = {s["query_id"] for s in results.summaries()}
    assert len(qids) == 2 and all(q for q in qids)   # two real query ids
