"""Streaming operators with event-time and cross-batch state.

Two operators the batch reference cannot express but a continuous crawl
needs (driver mandate: watermarks + windowed aggs for late data;
applyInPandasWithState for custom stateful operators):

* ``windowed_keep_stats`` — event-time tumbling-window keep-rate per
  format with a watermark bounding late-data state. The rule battery it
  aggregates is the NATIVE (zero-Python) core stage, so the whole
  streaming plan stays inside Catalyst/codegen; state is only the
  windowed partial aggregates.
* ``start_stateful_dedup`` — exact cross-batch dedup on ``phash`` via
  ``applyInPandasWithState``: the first arrival of a phash becomes
  canonical, every later arrival (any micro-batch) is flagged
  ``is_dup``. This is the streaming twin of the batch
  ``operators/dedup.apply_dedup_flag`` (which is per-job); an optional
  processing-time TTL bounds state the same way the reference expires
  its cache rows (app/services/cache_manager.py:296-307, 24 h TTL).

State-size discipline at 10^12-image scale: dedup state is one 8-byte
canonical id per distinct phash *per TTL window*, hash-partitioned across
executors by the groupBy key — the same key the batch dedup shuffles on.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans import pipeline as pipe
from ..sources.catalog import IdempotentBatchAppender, LocalSnapshotTable
from .ingest import start_sink

# --------------------------------------------------------------------------
# watermarked windowed aggregation
# --------------------------------------------------------------------------


def windowed_keep_stats(stream_df: DataFrame,
                        window_dur: str = "2 minutes",
                        watermark: str = "5 minutes") -> DataFrame:
    """Tumbling-window keep-rate per fmt over event time ``ts``.

    ``withWatermark`` bounds how long a window's partial aggregate stays
    in state waiting for late rows; rows later than the watermark are
    dropped deterministically. Core rules are native Column expressions
    (plans/pipeline.apply_core_rules), so this is a pure Catalyst
    streaming-agg plan — no Python in the hot path.
    """
    core = pipe.apply_core_rules(stream_df.withWatermark("ts", watermark))
    win = F.window(F.col("ts"), window_dur)
    return (core
            .groupBy(win.alias("win"), F.col("fmt"))
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.col("keep_core").cast("long")).alias("n_keep"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "fmt", "n_rows", "n_keep",
                    (F.col("n_keep") / F.col("n_rows")).alias("keep_rate")))


def start_windowed_stats_stream(stream_df: DataFrame,
                                results: LocalSnapshotTable,
                                checkpoint_dir: str,
                                window_dur: str = "2 minutes",
                                watermark: str = "5 minutes",
                                available_now: bool = True):
    """Update-mode sink: each micro-batch MERGEs its (possibly revised)
    window rows into the snapshot table keyed by (window_start, fmt) —
    the keyed-upsert semantics of the reference cache
    (cache_manager.py:100-111), so late rows revise their window row
    instead of duplicating it."""
    stats = windowed_keep_stats(stream_df, window_dur, watermark)
    stats = stats.withColumn(
        "wkey", F.concat_ws("|", F.col("window_start").cast("string"), "fmt"))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        results.merge_by_key(batch_df.sparkSession, batch_df, "wkey")

    return start_sink(stats, sink, checkpoint_dir, "update", available_now)


# --------------------------------------------------------------------------
# stateful cross-batch dedup (applyInPandasWithState)
# --------------------------------------------------------------------------

DEDUP_OUT_SCHEMA = "image_id string, phash long, is_dup boolean"
_DEDUP_STATE_SCHEMA = "canon string"


def _make_dedup_state_fn(state_ttl_ms: int):
    def fn(key: tuple[Any, ...],
           pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if key[0] is None or pd.isna(key[0]):
            # NULL phash = undecodable image (error-row semantics): such
            # rows are NOT duplicates of each other, matching the batch
            # twin apply_dedup_flag where a NULL key never equi-matches.
            # (The null group key crosses Arrow as NaN, not Python None.)
            # No state: a NULL canonical would flag every later broken
            # row as a dup of the first one.
            for pdf in pdfs:
                if len(pdf):
                    yield pd.DataFrame(
                        {"image_id": pdf["image_id"].to_numpy(),
                         "phash": None,
                         "is_dup": [False] * len(pdf)})
            return
        canon = state.get[0] if state.exists else None
        # a group larger than the Arrow batch size arrives as SEVERAL
        # chunks — concat before sorting, else the canonical would be the
        # min id of whichever chunk arrives first, diverging from the
        # batch dedup's group-min canonical. Rows here are slim
        # (id, phash) pairs, so one group fits comfortably in memory.
        chunks = list(pdfs)
        if not chunks:
            return
        ids = pd.concat(chunks, ignore_index=True)["image_id"] \
            .sort_values().to_numpy()
        if len(ids):
            # first arrival wins: the state's id, else this group's min
            if canon is None:
                canon = ids[0]
            yield pd.DataFrame({"image_id": ids, "phash": key[0],
                                "is_dup": ids != canon})
        state.update((canon,))
        if state_ttl_ms:
            state.setTimeoutDuration(state_ttl_ms)

    return fn


def stateful_dedup(stream_df: DataFrame, state_ttl_ms: int = 0) -> DataFrame:
    """First-arrival-wins exact dedup across micro-batches.

    ``state_ttl_ms > 0`` expires a phash's canonical id after that much
    processing time without re-arrival (bounded state; the reference's
    cache TTL analogue). 0 = keep state for the stream's lifetime.
    """
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if state_ttl_ms
               else GroupStateTimeout.NoTimeout)
    return (stream_df
            .select("image_id", "phash")
            .groupBy("phash")
            .applyInPandasWithState(_make_dedup_state_fn(state_ttl_ms),
                                    outputStructType=DEDUP_OUT_SCHEMA,
                                    stateStructType=_DEDUP_STATE_SCHEMA,
                                    outputMode="update",
                                    timeoutConf=timeout))


def start_stateful_dedup(stream_df: DataFrame,
                         results: LocalSnapshotTable,
                         checkpoint_dir: str,
                         state_ttl_ms: int = 0,
                         available_now: bool = True):
    """Stream ``stateful_dedup``'s flags into *results*, one
    exactly-once append per micro-batch (IdempotentBatchAppender)."""
    appender = IdempotentBatchAppender(results, checkpoint_dir)
    return start_sink(stateful_dedup(stream_df, state_ttl_ms),
                      appender.append, checkpoint_dir, "update",
                      available_now)
