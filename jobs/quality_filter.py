#!/usr/bin/env python
"""spark-submit entrypoint for the quality-filter pipeline.

North-rule packaging (BASELINE.json): the engine ships as a zip via
``--py-files`` and the langid/LM model artifacts via ``--files`` +
SparkFiles; the job resumes from the commit facts its tables' snapshot
summaries record.

    python scripts/build_dist.py
    spark-submit --master local[32] \
        --py-files dist/engine.zip \
        --files artifacts/langid.npz,artifacts/lm.npz \
        jobs/quality_filter.py \
        --input /path/to/images.parquet \
        --warehouse /path/to/warehouse [--n-groups 16]

``--input`` accepts a parquet path (or an Iceberg table id when the
runtime jar is on the classpath — sources/catalog.open_table switches
automatically). ``--synth N`` generates the deterministic synthetic
image+caption table instead, for smoke runs with no external data.
Re-running with the same --warehouse resumes: id-hash groups with a
checkpoint summary are skipped (plans/resume.py). One run at a time per
warehouse: a second, simultaneous run raises.

``<warehouse>/results`` is a label table keyed by ``image_id``: every
rule/label/gate column, ``scrubbed_caption``, ``is_dup`` and
``part_id`` — what the job decided. It holds no input column but
``image_id``: captions, phash, dimensions and pixels stay in the input
(``--input``, or the ``--synth`` parquet under the warehouse); join them
back on ``image_id`` to read them.

Prints ONE JSON line: run stats, with row counts summed from the
tables' snapshot summaries (no Spark read after the run).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# When launched via spark-submit --py-files engine.zip, the zip is on
# sys.path already; when run from the repo, add the repo root.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def _build_session(master: str | None) -> SparkSession:
    from bioanalyzer_backend_spark.session import build_session
    return build_session("quality-filter-job", master=master)


def _load_input(spark: SparkSession, args) -> tuple:
    if args.synth:
        from bioanalyzer_backend_spark.datagen import synth

        # write-once parquet under the warehouse, then a distributed scan:
        # a driver-local createDataFrame would ship image bytes inside
        # task payloads, which is exactly what breaks at scale
        path = synth.write_images_parquet(
            os.path.join(args.warehouse, "_synth_input"),
            args.synth, seed=args.seed)
        df = spark.read.parquet(path).select(
            "image_id", "bytes", "w", "h", "fmt", "caption", "phash")
        return df, f"synth:{args.synth}"
    from bioanalyzer_backend_spark.sources.catalog import open_table
    # route by FORM: any path-shaped input (absolute/relative/URI —
    # s3://, hdfs://, file:) is a parquet location; only a dotted
    # identifier with no separators is an Iceberg table id
    if "/" in args.input or args.input.startswith("file:") \
            or args.input.endswith(".parquet"):
        return spark.read.parquet(args.input), args.input
    df = open_table(spark, args.input).read(spark)
    if df is None:
        raise SystemExit(f"input table {args.input!r} is empty or missing")
    return df, args.input


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path or Iceberg table id")
    ap.add_argument("--synth", type=int, default=0,
                    help="generate N synthetic rows instead of --input")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--warehouse", required=True,
                    help="root for results/audit/checkpoint tables")
    ap.add_argument("--n-groups", type=int, default=8,
                    help="checkpoint granularity (id-hash groups)")
    ap.add_argument("--master", default=None,
                    help="override master (else session/env default)")
    args = ap.parse_args(argv)
    if not args.synth and not args.input:
        ap.error("one of --input / --synth is required")

    spark = _build_session(args.master)
    try:
        from bioanalyzer_backend_spark.plans.resume import run_with_resume
        from bioanalyzer_backend_spark.sources.catalog import open_table

        images, src = _load_input(spark, args)
        results = open_table(spark, os.path.join(args.warehouse, "results"))
        audit = open_table(spark, os.path.join(args.warehouse, "audit"))
        ckpt = open_table(spark, os.path.join(args.warehouse, "checkpoint"))

        t0 = time.time()
        stats = run_with_resume(spark, images, results, audit, ckpt,
                                n_groups=args.n_groups)
        wall = time.time() - t0
        published = results.summaries()
        # throughput counts only rows committed by THIS run — a resumed
        # run that skipped already-committed groups must not claim their
        # rows against its own wall time; roll-forward repairs are
        # stamped 'repair:<run_id>' by reconcile, so the equality filter
        # below excludes rows the CRASHED run actually processed too
        rows_this_run = sum(s["n_rows"] for s in ckpt.summaries()
                            if s["run_id"] == stats["run_id"])
        print(json.dumps({
            "input": src, "wall_sec": round(wall, 2),
            "rows_total": sum(s["n_rows"] for s in published),
            "rows_kept": sum(s["n_kept"] for s in published),
            "rows_this_run": rows_this_run,
            "images_per_sec": (round(rows_this_run / wall, 1)
                               if wall > 0 else None),
            **stats,
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
