"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``bioanalyzer_backend_spark``; the registry in
``plans/catalog_queries.py`` renders every SQL-expressible operator to
BOTH dialects from one source (sqlgen), so Spark and oracle cannot drift.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from bioanalyzer_backend_spark.plans.catalog_queries import registry  # noqa: E402


def _sweep_order(names: Iterable[str], records_dir: str = _HERE) -> list[str]:
    """``names`` in the driver's sweep order. The sweep walks queries()
    in order and may stop before the end, so the least-proven entries
    go first: sorted by the round of each entry's newest PASSING
    CORRECTNESS_r{N}.json record (rows, schema and hash all match),
    entries with no passing record first, ties in the given (builder)
    order. An entry whose code changed since its last record is not
    detected here — local parity (tests/test_oracle_parity.py) covers it."""
    newest: dict[str, int] = {}
    for fname in os.listdir(records_dir):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        with open(os.path.join(records_dir, fname)) as f:
            for name, rec in json.load(f).items():
                if all(rec.get(k) for k in ("rows_match", "schema_match",
                                            "hash_match")):
                    newest[name] = max(newest.get(name, -1), int(m[1]))
    return sorted(names, key=lambda n: newest.get(n, -1))


_REG = registry()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full quality-filter pipeline (core rules + scrub +
    langid/perplexity UDF gates) over the sf0.001 documents table."""
    from bioanalyzer_backend_spark.plans import pipeline as P
    from bioanalyzer_backend_spark.session import register_testdata_views

    sf_dir = "/root/testdata/sf0.001"
    P.ensure_artifacts()
    register_testdata_views(spark, sf_dir)
    df = spark.table("documents").withColumnRenamed("text", "caption")
    out = P.quality_filter(df.select("doc_id", "caption"),
                           with_dedup=False)
    return out.select("doc_id", "lang", "lang_conf", "ppl", "quality_score",
                      "n_present", "keep_core", "keep", "scrubbed_caption")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _REG[name][0] for name in _sweep_order(_REG)}


def oracle_sql() -> dict[str, str]:
    return {name: _REG[name][1] for name in _sweep_order(_REG)}
