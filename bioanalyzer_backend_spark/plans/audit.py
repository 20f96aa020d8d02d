"""Lineage + rule-hit audit rows (FIXTURES.md section 4).

Re-expression of the reference's structured performance log
(app/utils/performance_logger.py:36-123: query start/end, per-step
durations, success/failure, cache ops) as queryable rows in an audit
table: one row per (run_id, part_id, lang, rule) with hit counts and
per-partition in/kept tallies — computed declaratively from the result
DataFrame (no second pass over the data; Catalyst fuses it with the
pipeline when both sinks share the cached plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import spec

AUDIT_SCHEMA = ("run_id string, part_id int, lang string, rule string, "
                "hits bigint, n_in bigint, n_kept bigint, wall_ms double, "
                "group_id int")


def audit_rows(result: DataFrame, run_id: str,
               wall_ms: float | None = None,
               group_id: int | None = None) -> DataFrame:
    """Melt per-rule PRESENT hits into long-form audit rows.

    ``group_id`` stamps the resume commit unit (NOT part_id, which is
    the physical task partition), so a group's audit rows can be told
    apart from other groups'; crash repair regenerates them only for a
    group whose audit commit is missing (plans/resume.reconcile)."""
    lang = F.col("lang") if "lang" in result.columns else F.lit("all")
    base = result.select(
        F.spark_partition_id().alias("part_id"),
        lang.alias("lang"),
        F.col("keep").cast("int").alias("_keep"),
        *[(F.col(f"status_{r}") == spec.STATUS_PRESENT).cast("int")
          .alias(f"_hit_{r}") for r in spec.RULE_NAMES])
    agg = base.groupBy("part_id", "lang").agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum("_keep").alias("n_kept"),
        *[F.sum(f"_hit_{r}").alias(f"hits_{r}") for r in spec.RULE_NAMES])
    stack = ", ".join(f"'{r}', hits_{r}" for r in spec.RULE_NAMES)
    long = agg.selectExpr(
        "part_id", "lang", "n_in", "n_kept",
        f"stack({len(spec.RULE_NAMES)}, {stack}) AS (rule, hits)")
    return long.select(
        F.lit(run_id).alias("run_id"),
        F.col("part_id").cast("int"),
        "lang", "rule",
        F.col("hits").cast("long"),
        F.col("n_in").cast("long"),
        F.col("n_kept").cast("long"),
        F.lit(float(wall_ms) if wall_ms is not None else None)
        .cast("double").alias("wall_ms"),
        F.lit(group_id).cast("int").alias("group_id"))
