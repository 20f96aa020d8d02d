"""Structured Streaming ingest for the quality filter.

The reference is purely batch (SURVEY.md section 1.4: finite PMID lists,
no watermarks), but a web-scale crawl arrives continuously; the rule
battery is stateless per row, so the SAME pipeline (plans/pipeline.py)
runs unchanged on a stream: readStream -> quality_filter -> sink.

Sink = foreachBatch appending to a snapshot table (sources/catalog.py):
each micro-batch commits atomically with ``{query_id, batch_id}`` in its
snapshot summary, the same exactly-once protocol as the resumable job
(Spark's own streaming checkpoint handles source offsets; the summary
check makes the append idempotent on replays). Like the job's results
(plans/resume.py), the table holds what the pipeline decided: image_id
and every rule/label/gate column, no other input column — readers join
those back from the source by image_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..datagen import synth
from ..plans import pipeline as pipe
from ..sources.catalog import IdempotentBatchAppender, LocalSnapshotTable

# derived from the ONE pyarrow writer schema: an explicit stream schema is
# never reconciled against the files, so a hand-kept twin would silently
# null any column added to the writer but missed here
IMAGES_SCHEMA = from_arrow_schema(synth.IMAGES_SCHEMA)


def read_image_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream over a directory of image+caption parquet."""
    return (spark.readStream.schema(IMAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def start_sink(df: DataFrame, sink, checkpoint_dir: str,
               output_mode: str = "append", available_now: bool = True):
    """Start *df* streaming into the foreachBatch function *sink* under
    ``checkpoint_dir``; ``available_now`` drains the source, then stops."""
    writer = (df.writeStream
              .outputMode(output_mode)
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_quality_filter_stream(stream_df: DataFrame,
                                results: LocalSnapshotTable,
                                checkpoint_dir: str,
                                available_now: bool = True):
    """Run the full (UDF-gated) pipeline per micro-batch over its
    ``pipeline.DECISION_INPUTS``; atomic appends of image_id and the
    label columns.

    NO dedup runs in-stream (``with_dedup=False``; the results table has
    no ``is_dup`` column): a global dedup window over an unbounded
    stream is unbounded state, and even per-batch flags would disagree
    with the batch pipeline's global canonical choice. Cross-batch exact
    dedup is the job of either streaming/stateful.stateful_dedup
    (first-arrival-wins with bounded TTL state) or the batch compaction
    pass — mirroring the reference's cache-then-recompute split.
    """
    appender = IdempotentBatchAppender(results, checkpoint_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = pipe.quality_filter(batch_df.select(*pipe.DECISION_INPUTS),
                                  with_dedup=False)
        appender.append(out.drop(*pipe.DECISION_INPUTS[1:]), batch_id)

    return start_sink(stream_df, sink, checkpoint_dir,
                      available_now=available_now)
