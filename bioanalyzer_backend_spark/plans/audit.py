"""Lineage + rule-hit audit (FIXTURES.md section 4).

Re-expression of the reference's structured performance log
(app/utils/performance_logger.py:36-123: one structured record per step)
as one record per committed group: the group's per-language tallies are
decided once (``group_tallies``) and kept in its commits' snapshot
summaries, like Iceberg's queryable snapshot metadata. The audit commit
writes no data; ``audit_rows`` renders the long-form rows, one per
(run_id, group_id, lang, rule), from those summaries on demand — no
table scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import spec
from ..sources.catalog import LocalSnapshotTable

AUDIT_SCHEMA = ("run_id string, group_id int, lang string, rule string, "
                "hits bigint, n_in bigint, n_kept bigint, wall_ms double")


def group_tallies(result: DataFrame) -> list[dict]:
    """One ``{lang, n_in, n_kept, hits: {rule: n}}`` per lang of
    *result*, sorted by lang: its rows in, rows kept, and PRESENT hits of
    each ``spec.RULE_NAMES`` rule. One aggregate job."""
    def n_where(cond):
        return F.count(F.when(cond, 1))

    rows = result.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_in"),
        n_where(F.col("keep")).alias("n_kept"),
        *[n_where(F.col(f"status_{r}") == spec.STATUS_PRESENT).alias(r)
          for r in spec.RULE_NAMES]).collect()
    return sorted(({"lang": r["lang"], "n_in": r["n_in"],
                    "n_kept": r["n_kept"],
                    "hits": {k: r[k] for k in spec.RULE_NAMES}}
                   for r in rows), key=lambda t: t["lang"])


def audit_rows(spark: SparkSession, audit: LocalSnapshotTable) -> DataFrame:
    """The audit rows of *audit*, rendered from its summaries: one row
    per (group commit, lang, rule)."""
    return spark.createDataFrame(
        [(s["run_id"], s["group"], t["lang"], rule, t["hits"][rule],
          t["n_in"], t["n_kept"], s["wall_ms"])
         for s in audit.summaries() for t in s["by_lang"]
         for rule in spec.RULE_NAMES], AUDIT_SCHEMA)
