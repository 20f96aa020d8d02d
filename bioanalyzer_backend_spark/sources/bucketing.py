"""Bucketed-table layout for shuffle-free dedup/join at warehouse scale.

The flagship's only wide operations are keyed by ``phash`` (dedup agg,
near-dup joins) and ``image_id`` (joining pixels back to labels). At
10^12 rows a shuffle of even the slim (id, phash) projection is
petabyte-class over the whole corpus lifetime, so the warehouse layout
buckets the results table by its join key once at write time and every
later agg/join on that key reads co-located, pre-hashed buckets — Spark
plans them with NO Exchange (the scan's outputPartitioning already
satisfies the required distribution).

This is the parquet analogue of Iceberg's ``bucket(N, phash)`` partition
transform (SURVEY.md section 1.4: SQLite cache tables -> Iceberg tables);
``sortBy`` additionally pre-sorts each bucket file so sort-merge joins skip
the sort. Tests assert the no-Exchange property from the physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int,
                   path: str | None = None, sort: bool = True) -> None:
    """Persist *df* as a parquet table bucketed (and per-bucket sorted) by
    *key*. With *path* the table is external — the catalog entry carries
    the bucket spec; files live at *path*."""
    w = df.write.format("parquet").bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.mode("overwrite").saveAsTable(table)


def plan_has_exchange(df: DataFrame) -> bool:
    """True if the physical plan contains any shuffle Exchange node.
    (BroadcastExchange is excluded: broadcasting a dim table is the
    desired plan, not a data shuffle.)

    The operator name is found by stripping the FULL tree-drawing prefix
    — including ':' (non-last join children print as ':- ...') and the
    codegen '*(n)' marker — and ReusedExchange counts too: a previous
    version stripped only '+-* ', so the left side of a sort-merge join
    (':  +- Exchange hashpartitioning') was invisible and a shuffle
    regression on a bucketed join passed the no-Exchange assertion
    silently. A ReusedExchange that reuses a BroadcastExchange prints
    the reused child type on the same line ('ReusedExchange [...],
    BroadcastExchange ...') and is excluded like a direct broadcast —
    reusing a broadcast is the desired plan, not a shuffle."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        op = line.lstrip(" :+-*()0123456789")
        if op.startswith("Exchange"):
            return True
        if op.startswith("ReusedExchange") and "BroadcastExchange" not in op:
            return True
    return False

