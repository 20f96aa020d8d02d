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
from ..operators.dedup import apply_dedup_flag

# the input columns the quality decision reads; the label tables (the
# job's results, the stream's) keep only the key of these, and readers
# join every input column back by it
DECISION_INPUTS = ("image_id", "caption", "phash")

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
