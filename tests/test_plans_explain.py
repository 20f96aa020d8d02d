"""Physical-plan assertions: the optimizations SURVEY.md section 4 claims
must actually appear in `explain` output — pushdown reaching the parquet
scan, column pruning, broadcast joins on small dims, whole-stage codegen
in the native rule battery, and no Python barrier above cheap filters.
"""

from pyspark.sql import functions as F

from bioanalyzer_backend_spark import sqlgen
from bioanalyzer_backend_spark.plans import pipeline as P
from bioanalyzer_backend_spark.plans.catalog_queries import registry
from bioanalyzer_backend_spark.session import register_testdata_views

SF01 = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_parquet_scan(spark):
    register_testdata_views(spark, SF01)
    df = spark.table("documents").where(F.col("lang") == "en") \
        .select("doc_id", "lang")
    plan = _formatted(df)
    # note: no IsNotNull — InferFiltersFromConstraints is excluded
    assert "PushedFilters: [EqualTo(lang,en)]" in plan


def test_column_pruning_reads_only_projected_columns(spark):
    register_testdata_views(spark, SF01)
    df = spark.table("documents").select("doc_id", "lang")
    plan = _formatted(df)
    # ReadSchema carries just the two projected columns, not text/url/...
    assert "struct<doc_id:" in plan and "lang:string" in plan
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_join_orders_nation_broadcasts_small_side(spark):
    fn, _ = registry()["join_orders_nation"]
    plan = _plan(fn(spark, SF01))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_core_rules_run_inside_wholestage_codegen(spark):
    register_testdata_views(spark, SF01)
    df = P.apply_core_rules(
        spark.table("documents").withColumnRenamed("text", "caption"))
    plan = _plan(df)
    assert "*(" in plan   # WholeStageCodegen spans print as *(n)
    # zero Python in the native battery
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_probe_never_shuffles_bytes(spark, synth_images_df):
    """Binary-column hygiene: in the FINALIZED adaptive plan (AQE picks
    the probe-join strategy at runtime now that the hint is gated) no
    hashpartitioning Exchange carries the image bytes — the dup-group
    build side broadcasts and the agg shuffles only (phash, id)."""
    out = P.apply_dedup_flag(synth_images_df)
    out.collect()                       # finalize the adaptive plan
    plan = _plan(out)
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan  # AQE chose broadcast from size
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "bytes" not in line


def test_dedup_broadcast_hint_is_gated(spark, synth_images_df):
    """NO broadcast hint (AQE decides from the measured size — an
    unconditional hint OOMs the driver at 10^12 rows). Proven by
    disabling auto-broadcast: the plan falls back to a non-broadcast
    join, so the code adds no hint of its own."""
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = synth_images_df.select("image_id", "phash")
        plain = _plan(P.apply_dedup_flag(df))
        assert "BroadcastHashJoin" not in plain
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_dedup_flag_rejects_bytes_without_aqe(spark, synth_images_df):
    """The bytes-never-network-shuffled invariant is conditional on AQE;
    that configuration hole must fail loudly, not silently
    sort-merge-shuffle the binary column — for exact_dedup too, which
    goes through the same dup-group join."""
    import pytest

    from bioanalyzer_backend_spark.operators import dedup

    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with pytest.raises(ValueError, match="AQE"):
            P.apply_dedup_flag(synth_images_df)
        with pytest.raises(ValueError, match="AQE"):
            dedup.exact_dedup(synth_images_df)
        # slim non-binary projection: allowed (nothing to protect)
        P.apply_dedup_flag(synth_images_df.select("image_id", "phash"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_cheap_filter_stays_below_udf_barrier(spark, artifacts_dir):
    """A native where() composed after the UDF stage must still execute
    before Python (we order stages explicitly; Catalyst cannot push
    through a Python UDF)."""
    df = spark.createDataFrame(
        [("a", "x" * 10), ("b", "")], "image_id string, caption string")
    gated = P.apply_langid_ppl(
        df.where(F.length("caption") > 0))     # filter BEFORE udf stage
    plan = _plan(gated)
    py = plan.find("ArrowEvalPython")
    flt = plan.rfind("Filter")
    scan = plan.rfind("Scan")
    assert py != -1 and flt != -1
    # bottom-up plan text: Scan prints last, the filter sits between the
    # scan and the Python eval node
    assert py < flt < scan


def test_scrub_expr_is_native_regexp_chain(spark):
    register_testdata_views(spark, SF01)
    df = spark.table("documents").selectExpr(
        sqlgen.scrub_expr("text", sqlgen.SPARK) + " AS scrubbed")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "*(" in plan   # codegen span


def test_snowflake_join_broadcasts_all_dims(spark):
    """TPC-H Q5 shape: every dimension side (region/nation/customer/
    supplier) broadcasts; no dimension triggers a sort-merge join."""
    fn, _ = registry()["local_supplier_volume"]
    df = fn(spark, SF01)
    assert len(df.collect()) > 0              # finalize adaptive plan
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_literal_scoring_queries_are_single_stage_projections(spark):
    """The literal reference-formula entries (R2/A1/A5/A6/R12/P4) are
    per-row column arithmetic: each must compile to one codegen'd
    projection over the parquet scan — no Exchange, no Python, no join.
    At 100 TB these run at scan speed or they are wrong."""
    for name in ("field_confidence_documents", "methods_coverage_documents",
                 "factor_score_documents", "finding_confidence_documents",
                 "condition_extract_documents", "found_terms_documents",
                 "id_valid_documents"):
        fn, _ = registry()[name]
        plan = _plan(fn(spark, SF01))
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "*(" in plan, name


def test_sampling_split_plans_have_expected_shuffles(spark):
    """split/mixture are hash-predicate projections — zero Exchange,
    zero Python; stratified sampling and sequence packing need exactly
    ONE shuffle (the lang window) and nothing else."""
    reg = registry()
    for name in ("split_assign_documents", "mixture_sample_documents"):
        plan = _plan(reg[name][0](spark, SF01))
        assert "Exchange" not in plan, name
        assert "Python" not in plan, name
    for name in ("stratified_sample_documents", "pack_sequences_documents"):
        plan = _plan(reg[name][0](spark, SF01))
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert "Python" not in plan, name


def test_threshold_sweep_aggregates_before_expanding(spark):
    """The calibration sweep must be ONE aggregate (five conditional
    accumulators) pivoted by a tiny broadcast join — never a 5x row
    expansion feeding the partial agg (the rejected cross-join-then-
    group form). Load-bearing at 10^12 rows: 4x10^12 avoided row
    evaluations."""
    fn, _ = registry()["keep_threshold_sweep_documents"]
    plan = _plan(fn(spark, SF01))            # tree form: one line per op
    assert "Expand" not in plan              # no GROUPING-SETS style blowup
    # exactly one partial/final HashAggregate pair over the battery scan
    assert plan.count("HashAggregate") == 2
    # the pivot joins AFTER aggregation: a 1-row side against the 5-row
    # dim via broadcast nested loop, never the raw battery rows
    assert "BroadcastNestedLoopJoin" in plan
