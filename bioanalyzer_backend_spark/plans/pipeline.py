"""The quality-filter pipeline — one declarative Catalyst plan.

Re-expression of the reference's per-document analyze flow
(cli analyze -> bugsigdb_analyzer.analyze_paper_simple, SURVEY.md section 3.1)
as a single DataFrame chain over (image_id, bytes, w, h, fmt, caption, phash):

  scan -> native rule battery (sqlgen stages; zero Python)
       -> scrub projection (regexp_replace chain)
       -> truncate -> langid pandas_udf -> perplexity pandas_udf
       -> final keep (core rules AND lang/ppl gates)
       -> phash dedup flag (slim two-phase: never shuffles `bytes`)

Stage ordering is deliberate: all cheap native expressions come BEFORE the
Python-UDF barrier (Catalyst will not push filters below a UDF —
SURVEY.md section 4), and the UDFs read the TRUNCATED caption so Arrow
transfer is bounded (text_processing.py:127-146 analogue).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import spec, sqlgen

_TEMP_COLS = ("t", "toks", "n", "n_tok", "n_utok", "n_stop", "n_alpha",
              "n_nonspace", "is_sentinel")

DEFAULT_ARTIFACT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "artifacts")


def apply_core_rules(df: DataFrame, text_col: str = "caption") -> DataFrame:
    """Append score_*/status_*/quality_score/n_present/keep_core columns.

    Pure Column expressions rendered by sqlgen (same source as the DuckDB
    oracle); Catalyst collapses the staged selects into one projection
    inside a single WholeStageCodegen span.
    """
    clash = set(_TEMP_COLS) & set(df.columns)
    if clash:
        raise ValueError(f"input columns clash with rule temps: {clash}")
    d = sqlgen.SPARK
    out = (df
           .selectExpr("*", *sqlgen.base_exprs(d, text_col))
           .selectExpr("*", *sqlgen.count_exprs(d))
           .selectExpr("*", *sqlgen.score_exprs(d))
           .selectExpr("*", *sqlgen.final_exprs(d)))
    out = out.withColumnRenamed("keep", "keep_core")
    return out.drop(*_TEMP_COLS)


def apply_scrub(df: DataFrame, text_col: str = "caption",
                out_col: str = "scrubbed_caption") -> DataFrame:
    return df.withColumn(
        out_col, F.expr(sqlgen.scrub_expr(text_col, sqlgen.SPARK)))


def apply_langid_ppl(df: DataFrame, artifact_dir: str | None = None,
                     text_col: str = "caption") -> DataFrame:
    """Arrow-batched langid + perplexity over the truncated caption.

    One FUSED pandas UDF (functions/gates.py): a single Arrow transfer
    and one batch pass evaluate both models."""
    from ..functions import gates

    artifact_dir = artifact_dir or DEFAULT_ARTIFACT_DIR
    gate_udf = gates.make_pandas_udf(
        os.path.join(artifact_dir, "langid.npz"),
        os.path.join(artifact_dir, "lm.npz"))
    trunc = F.substring(F.col(text_col), 1, spec.TRUNCATE_CHARS)
    df = df.withColumn("_g", gate_udf(trunc))
    return (df
            .withColumn("lang", F.col("_g.lang"))
            .withColumn("lang_conf", F.col("_g.lang_conf"))
            .withColumn("ppl", F.col("_g.ppl"))
            .drop("_g"))


def apply_final_keep(df: DataFrame) -> DataFrame:
    """keep = core rules AND langid confidence AND perplexity gates."""
    return df.withColumn(
        "keep",
        F.col("keep_core")
        & (F.col("lang") != F.lit("und"))
        & (F.col("ppl") <= F.lit(spec.PPL_MAX)))


def binary_columns(df: DataFrame) -> list[str]:
    """Names of df's BinaryType (pixel payload) columns."""
    from pyspark.sql.types import BinaryType

    return [f.name for f in df.schema.fields
            if isinstance(f.dataType, BinaryType)]


def apply_dedup_flag(df: DataFrame, key: str = "phash",
                     id_col: str = "image_id",
                     broadcast_hint: bool = False) -> DataFrame:
    """is_dup: non-canonical rows of a phash group (canonical = min id).

    Two-phase so the binary `bytes` column never enters a network shuffle
    (SURVEY.md section 4, "binary-column hygiene"): canonical ids come
    from ``groupBy(phash).min(id)`` over a two-column projection — an
    algebraic aggregate with map-side partial combine, so a hot phash
    (mass-duplicated image) reduces to one row per map task instead of
    concentrating every duplicate row in a single window reducer.

    Join-strategy gating (the 10^12-row case): ``dup_groups`` is the set
    of multi-member phash groups — a few % of a crawl, but at 10^12 rows
    that can still be billions of (phash, canon) pairs, so an
    UNCONDITIONAL broadcast hint would OOM the driver. Default is
    therefore NO hint: AQE measures the materialized build side at
    runtime and picks broadcast when it is actually small (and a local
    shuffle read on the probe side, so small-scale plans stay
    bytes-shuffle-free — asserted in tests/test_plans_explain.py). At
    warehouse scale the input is bucketed by bucket(phash, N), making
    the agg shuffle-free and the probe a bucket-local join with no
    exchange on either side. Callers that KNOW the group set is bounded
    (e.g. post-cap pipelines) may force the hint with
    ``broadcast_hint=True``.

    is_dup falls out as ``id != canonical`` on the probe side, so no
    second pass over the input exists at all.

    The bytes-never-network-shuffled property is therefore CONDITIONAL,
    and the guard below closes only the CONFIGURED-off hole: a
    byte-bearing frame with AQE disabled and no hint is rejected loudly
    (round-2 advice, pipeline.py:128). Two residual cases remain, by
    design rather than oversight: (1) even under AQE, if the measured
    dup-group side exceeds the adaptive broadcast threshold the join
    stays sort-merge and bytes DO shuffle — at that dup density no
    driver-side strategy is safe, and the warehouse answer is the
    bucket(phash, N) layout (shuffle-free agg + bucket-local probe,
    tests/test_bucketing.py); (2) under AQE's broadcast conversion the
    probe side's shuffle-map stage still spills its batches to LOCAL
    shuffle files before the plan flips to a local shuffle read — disk,
    never the wire.
    """
    if "_canon" in df.columns:
        # the post-join F.col('_canon') reference would be ambiguous
        # (two same-named columns after the left join) — the same
        # temp-column clash apply_core_rules raises on
        raise ValueError("apply_dedup_flag reserves the column name "
                         "'_canon'; rename it on the input")
    if binary_columns(df) and not broadcast_hint:
        aqe = str(df.sparkSession.conf.get(
            "spark.sql.adaptive.enabled", "true")).lower()
        if aqe != "true":
            raise ValueError(
                "apply_dedup_flag on a byte-bearing frame needs AQE "
                "(spark.sql.adaptive.enabled=true) or broadcast_hint=True "
                "— otherwise the probe join network-shuffles the binary "
                "column")
    slim = df.select(id_col, key)
    dup_groups = (slim.groupBy(key)
                  .agg(F.min(id_col).alias("_canon"), F.count("*").alias("_n"))
                  .where(F.col("_n") > 1)
                  .select(key, "_canon"))
    if broadcast_hint:
        dup_groups = F.broadcast(dup_groups)
    out = df.join(dup_groups, key, "left")
    return (out
            .withColumn("is_dup",
                        F.col("_canon").isNotNull()
                        & (F.col(id_col) != F.col("_canon")))
            .drop("_canon"))


def quality_filter(df: DataFrame, artifact_dir: str | None = None,
                   with_dedup: bool = True) -> DataFrame:
    """Full pipeline; returns the input columns + all rule/label columns."""
    out = apply_core_rules(df)
    out = apply_scrub(out)
    out = apply_langid_ppl(out, artifact_dir)
    out = apply_final_keep(out)
    if with_dedup:
        out = apply_dedup_flag(out)
    return out


def ensure_artifacts(artifact_dir: str | None = None) -> str:
    """Train langid/LM artifacts once if absent (deterministic)."""
    from ..functions import langid, perplexity

    artifact_dir = artifact_dir or DEFAULT_ARTIFACT_DIR
    lp = os.path.join(artifact_dir, "langid.npz")
    pp = os.path.join(artifact_dir, "lm.npz")
    if not os.path.exists(lp):
        langid.save_artifact(lp)
    if not os.path.exists(pp):
        perplexity.save_artifact(pp)
    return artifact_dir
