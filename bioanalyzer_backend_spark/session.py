"""SparkSession factory tuned for the quality-filter workload.

Defaults are chosen for the 100 TB design point but work on local[N]:
  * AQE on (runtime skew-join splitting + partition coalescing);
  * Arrow enabled with a bounded batch size so binary image rows don't
    blow up the Python worker (SURVEY.md section 4: Arrow batch sizing);
  * shuffle partitions sized by env so the bench can sweep parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def default_cpus() -> int:
    """Local parallelism: $SPARK_GRAFT_CPUS, else every core of the box."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def build_session(app_name: str = "bioanalyzer-spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict[str, str] | None = None) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cpus)

    b = (SparkSession.builder.appName(app_name).master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # Pin the session timezone: the testdata parquet timestamps are
         # TIMESTAMP_NTZ, and any NTZ->LTZ cast (e.g. sqlgen.epoch_us)
         # interprets the wall-clock in SESSION time — an inherited
         # machine tz would silently shift epoch arithmetic vs the
         # DuckDB oracle (which is tz-naive throughout).
         .config("spark.sql.session.timeZone", "UTC")
         # image rows carry ~10-100 KB binary payloads: cap Arrow batches
         # so a batch stays well under executor-python memory
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         # InferFiltersFromConstraints turns join keys into IsNotNull
         # filters and pushes them below projections; for our computed
         # join keys (minhash/simhash signatures: nested higher-order
         # funcs over shingle arrays) that re-evaluates the whole
         # expression once more per row per branch — measured 10x
         # slowdown on the near-dup queries at sf0.1. NULL keys are
         # dropped by the hash join itself, so the rule buys nothing
         # for these plans.
         .config("spark.sql.optimizer.excludedRules",
                 "org.apache.spark.sql.catalyst.optimizer."
                 "InferFiltersFromConstraints")
         .config("spark.driver.memory",
                 os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
         .config("spark.ui.enabled", "false"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


# (applicationId -> sf_dir) of the currently-registered view set. The
# registry calls register_testdata_views once per entry; re-reading ten
# parquet footers and re-planning ten views per query adds seconds of pure
# overhead across a 70-entry sweep, so registration is memoized per
# session and re-done only when the sf_dir actually changes.
_VIEWS_FOR: dict[str, str] = {}

# Invalidation hooks: modules that memoize DERIVED state on top of the
# testdata views (catalog_queries' cached shingles_v/minhash_sig_v/
# tfidf_tf_v temp views) register a callback here so one
# invalidate_testdata_views call flushes the whole derivation chain —
# otherwise a derived cached view surviving a base-view replacement
# would lazily recompute from the impostor view (round-3 advice,
# catalog_queries.py:1689). Registered via a hook, not a direct import,
# because catalog_queries imports this module.
_INVALIDATION_HOOKS: list = []


def on_view_invalidation(fn) -> None:
    """Register ``fn(spark)`` to run whenever the testdata views are
    invalidated. Idempotent per function object."""
    if fn not in _INVALIDATION_HOOKS:
        _INVALIDATION_HOOKS.append(fn)


def invalidate_testdata_views(spark: SparkSession) -> None:
    """Forget the memoized registration for this session — AND every
    registered derived-state memo (see on_view_invalidation). Call after
    REPLACING one of the testdata view names with something else (the
    streaming tests point ``documents`` at a stream view) — the memo
    cannot detect that, and a later register call would silently keep
    the impostor."""
    _VIEWS_FOR.pop(spark.sparkContext.applicationId, None)
    for fn in _INVALIDATION_HOOKS:
        fn(spark)


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver-provided parquet tables as temp views
    (idempotent per (session, sf_dir) — see _VIEWS_FOR; a dropped view
    re-triggers registration, a REPLACED one needs
    invalidate_testdata_views)."""
    app_id = spark.sparkContext.applicationId
    if _VIEWS_FOR.get(app_id) == sf_dir \
            and all(spark.catalog.tableExists(t) for t in TESTDATA_TABLES):
        return
    missing = []
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(t)
        else:
            missing.append(t)
            # NEVER leave a stale same-named view from a PREVIOUS sf_dir
            # standing: a later query would silently join this sf_dir's
            # tables against the old scale's data
            spark.catalog.dropTempView(t)
    if missing:
        # partial dir: views for the present tables are registered, but
        # the memo must NOT claim the full set — the next register call
        # re-checks instead of trusting a cross-scale mix
        _VIEWS_FOR.pop(app_id, None)
    else:
        _VIEWS_FOR[app_id] = sf_dir
