"""Per-layer metrics of the traced run.

Layers are the program's modules. Every number is measured from outside:
the benchmark times its own calls into public functions, wraps those
functions in its own spans (``instrumented``), and reads the Spark status
store for the stages each span's job group ran. Layers a workload does not
exercise report 0.
"""

from __future__ import annotations

import contextlib
import os
import time

from harness import OUT, Ops, build, du, log, median, nproc
from spans import SpanRecorder, StatusReader

REPS = 3   # noop-write repetitions per ablation step; the median counts

PER_LAYER = (
    ("session.build_s", "s"),
    ("sources.scan_s", "s"),
    ("sources.append_results_s", "s"),
    ("sources.append_audit_s", "s"),
    ("sources.append_ckpt_s", "s"),
    ("sources.commits", "count"),
    ("sources.results_mb", "MB"),
    ("pipeline.rules_s", "s"),
    ("pipeline.scrub_s", "s"),
    ("pipeline.gates_s", "s"),
    ("pipeline.dedup_s", "s"),
    ("gates.python_s", "s"),
    ("gates.wasted_frac", "ratio"),
    ("dedup.build_rows", "count"),
    ("dedup.broadcast", "bool"),
    ("dedup.shuffle_write_mb", "MB"),
    ("dedup.dup_frac", "ratio"),
    ("resume.stage_s", "s"),
    ("resume.stage_mb", "MB"),
    ("resume.group_s", "s"),
    ("resume.group_fixed_s", "s"),
    ("resume.reconcile_s", "s"),
    ("resume.repaired_groups", "count"),
    ("resume.noop_s", "s"),
    ("resume.noop_run_s", "s"),
    ("resume.recovery_s", "s"),
    ("resume.job_self_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.cpu_util", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.tasks", "count"),
    ("spark.task_skew", "ratio"),
    ("spark.speedup_1_to_n", "ratio"),
    ("run.rows_per_s", "rows/s"),
    ("trace.overhead_frac", "ratio"),
)


@contextlib.contextmanager
def instrumented(rec: SpanRecorder):
    """Wrap the resume and snapshot-table entry points in spans for the
    duration of the block. The per-group span has no function of its own:
    it opens when run_with_resume asks for a group's plan
    (``pipeline.quality_filter``) and closes after the group's checkpoint
    append, or when the run unwinds."""
    from bioanalyzer_backend_spark.plans import pipeline, resume
    from bioanalyzer_backend_spark.sources.catalog import LocalSnapshotTable

    saved = []

    def patch(obj, attr, new):
        saved.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    patch(resume, "run_with_resume",
          rec.wrap(resume.run_with_resume, lambda *a: "resume.run"))
    for name in ("check_n_groups", "committed_groups"):
        patch(resume, name, rec.wrap(getattr(resume, name),
                                     lambda *a, _n=name: f"resume.{_n}"))
    patch(resume, "reconcile", rec.wrap(
        resume.reconcile, lambda *a: "resume.reconcile",
        after=lambda s, out, *a, **k: s.attrs.update(repaired=len(out))))
    patch(resume, "stage_input", rec.wrap(
        resume.stage_input, lambda *a: "resume.stage_input",
        after=lambda s, out, *a, **k: s.attrs.update(
            stage_mb=du(a[2]) / 1e6)))

    quality_filter = pipeline.quality_filter

    def group_plan(*a, **k):
        if rec.open("resume.run") and not rec.open("resume.group"):
            rec.begin("resume.group")
        return quality_filter(*a, **k)

    patch(pipeline, "quality_filter", group_plan)

    def table_op(op):
        fn = getattr(LocalSnapshotTable, op)

        def wrapped(self, *a, **k):
            table = os.path.basename(self.root)
            s = rec.begin(f"sources.{op}.{table}")
            try:
                return fn(self, *a, **k)
            finally:
                rec.end(s)
                group = rec.open("resume.group")
                if table == "checkpoint" and group is not None:
                    rec.end(group)
        return wrapped

    for op in ("append", "delete_where"):
        patch(LocalSnapshotTable, op, table_op(op))
    try:
        yield
    finally:
        for obj, attr, old in reversed(saved):
            setattr(obj, attr, old)


def ablation(ops: Ops, rec: SpanRecorder) -> dict:
    """Cumulative noop-write ablation through the pipeline stages, and the
    dedup flag alone on the scan; each step is the median of REPS runs."""
    from bioanalyzer_backend_spark.plans import pipeline as P

    def rules(df):
        return P.apply_core_rules(df)

    def scrub(df):
        return P.apply_scrub(rules(df))

    def gates(df):
        return P.apply_final_keep(P.apply_langid_ppl(scrub(df)))

    steps = {"scan": lambda df: df, "rules": rules, "scrub": scrub,
             "gates": gates, "dedup": P.apply_dedup_flag}
    wall, groups = {}, {}
    for name, fn in steps.items():
        times = []
        groups[name] = set()
        for _ in range(REPS):
            s = rec.begin(f"ablate.{name}")
            t0 = time.perf_counter()
            fn(ops.images()).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            rec.end(s)
            groups[name].add(s.sid)
        wall[name] = median(times)

    reader = StatusReader(ops.spark)
    python_s = sent = 0.0
    for node, ms in reader.sql_nodes(groups["gates"]):
        if node == "ArrowEvalPython":
            python_s += ms.get("time to run Python workers", 0.0)
            sent += ms.get("number of output rows", 0.0)
    broadcast = any("BroadcastHashJoin" in node
                    for node, _ in reader.sql_nodes(groups["dedup"]))
    kept_core = float(ops.checker.ref_pdf["keep_core"].sum())
    dedup = reader.stage_totals(groups["dedup"])
    return {
        "sources.scan_s": wall["scan"],
        "pipeline.rules_s": wall["rules"] - wall["scan"],
        "pipeline.scrub_s": wall["scrub"] - wall["rules"],
        "pipeline.gates_s": wall["gates"] - wall["scrub"],
        "pipeline.dedup_s": wall["dedup"] - wall["scan"],
        "gates.python_s": python_s / REPS,
        "gates.wasted_frac": max(0.0, sent - REPS * kept_core) / sent
        if sent else 0.0,
        "dedup.broadcast": float(broadcast),
        "dedup.shuffle_write_mb": dedup.shuffle_write_b / 1e6 / REPS,
    }


def job_layers(rec: SpanRecorder, traced: list[dict]) -> dict:
    """Resume and snapshot-table layers from the traced job operations."""
    ids = set().union(*(s["groups"] for s in traced))
    spans = [s for s in rec.spans if s.sid in ids and s.end is not None]

    def named(name):
        return [s for s in spans if s.name == name]

    def med(xs):
        return median(xs) if xs else 0.0

    runs = named("resume.run")
    # a job operation is (crashed run, resume, no-op resume): the no-op
    # resume's bookkeeping is its probe of the committed warehouse
    probes = ("resume.check_n_groups", "resume.reconcile",
              "resume.committed_groups")
    noop = med([sum(c.dur for c in spans
                    if c.parent == r.sid and c.name in probes)
                for r in runs[2::3]])
    n_ops = len(traced)
    return {
        "sources.append_results_s": med([s.dur for s in
                                         named("sources.append.results")]),
        "sources.append_audit_s": med([s.dur for s in
                                       named("sources.append.audit")]),
        "sources.append_ckpt_s": med([s.dur for s in
                                      named("sources.append.checkpoint")]),
        "sources.commits": med([s["commits"] for s in traced]),
        "sources.results_mb": med([s["results_mb"] for s in traced]),
        "resume.stage_s": sum(s.dur for s in named("resume.stage_input"))
        / n_ops,
        "resume.stage_mb": med([s.attrs["stage_mb"] for s in
                                named("resume.stage_input")]),
        "resume.group_s": med([s.dur for s in named("resume.group")]),
        "resume.group_fixed_s": med([rec.self_time(s) for s in
                                     named("resume.group")]),
        "resume.reconcile_s": sum(s.dur for s in named("resume.reconcile"))
        / n_ops,
        "resume.repaired_groups": sum(s.attrs.get("repaired", 0) for s in
                                      named("resume.reconcile")) / n_ops,
        "resume.noop_s": noop,
        "resume.job_self_s": sum(rec.self_time(s) for s in runs) / n_ops,
    }


def speedup(ops: Ops, n_wall: float) -> float:
    """The flagship at local[1] against local[nproc] (N -> 4N on a 4-core
    box): one untimed pass warms the new session's Python workers, the
    next is timed. Replaces ops.spark with the local[1] session."""
    from bioanalyzer_backend_spark.plans import pipeline as P
    ops.spark.stop()
    ops.spark = build(master="local[1]")
    walls = []
    for _ in range(2):
        t0 = time.perf_counter()
        P.quality_filter(ops.images()).write.format("noop") \
            .mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return walls[-1] / n_wall


def alternate(ops: Ops, rec: SpanRecorder, seconds: float):
    """Closed loop for *seconds* (at least one of each) alternating traced
    and untraced operations, so both see the same warm-up state; returns
    (untraced, traced) operations that completed."""
    plain, traced = [], []
    t_end = time.perf_counter() + seconds
    i = 0
    while i < 2 or time.perf_counter() < t_end:
        if i % 2 == 0:
            ops.rec = rec
            with instrumented(rec):
                s = ops.run_one(f"traced-{i // 2}")
            ops.rec = None
            traced.append(s)
        else:
            plain.append(ops.run_one(f"plain-{i // 2}"))
        i += 1
    plain = [s for s in plain if s is not None]
    traced = [s for s in traced if s is not None]
    if not plain or not traced:
        raise RuntimeError("all untraced or all traced operations failed")
    return plain, traced


def per_layer(ops: Ops, build_s: float, args) -> dict:
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["session.build_s"] = build_s
    reader = StatusReader(ops.spark)
    rec = SpanRecorder(ops.spark.sparkContext, f"w{os.getpid()}")

    untraced, traced = alternate(ops, rec, args.seconds)
    n_wall = median([s["wall"] for s in untraced])
    t_wall = median([s["wall"] for s in traced])
    m["run.rows_per_s"] = ops.w.n / n_wall
    m["trace.overhead_frac"] = 1.0 - n_wall / t_wall

    groups = set().union(*(s["groups"] for s in traced))
    tot = reader.stage_totals(groups, skew=True)
    n_ops = len(traced)
    m.update({
        "spark.executor_cpu_s": tot.cpu_s / n_ops,
        "spark.executor_run_s": tot.run_s / n_ops,
        "spark.cpu_util": tot.cpu_s / (t_wall * n_ops * nproc()),
        "spark.gc_s": tot.gc_s / n_ops,
        "spark.shuffle_write_mb": tot.shuffle_write_b / 1e6 / n_ops,
        "spark.spill_mb": tot.spill_b / 1e6 / n_ops,
        "spark.tasks": tot.tasks / n_ops,
        "spark.task_skew": tot.task_skew,
    })
    if ops.w.kind == "job":
        m.update(job_layers(rec, traced))
        m["resume.noop_run_s"] = median([s["noop_s"] for s in untraced])
        m["resume.recovery_s"] = median([s["recovery_s"] for s in untraced])

    import pandas as pd
    phash = pd.read_parquet(ops.path, columns=["phash"])["phash"]
    m["dedup.build_rows"] = float((phash.value_counts() > 1).sum())
    m["dedup.dup_frac"] = median([s["dups"] for s in untraced]) / ops.w.n
    m.update(ablation(ops, rec))

    table = rec.table()
    log(f"{'span':32s} {'calls':>5s} {'total_s':>9s} {'self_s':>9s}")
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        log(f"{name:32s} {row['calls']:5d} {row['total_s']:9.3f} "
            f"{row['self_s']:9.3f}")
    op_s = median([s.dur for s in rec.spans if s.name == "op"])
    log(f"timed wall: traced {t_wall:.3f} s, untraced {n_wall:.3f} s; whole "
        f"'op' span {op_s:.3f} s (the self times of the spans under it add "
        f"up to it); {len(traced)} + {len(untraced)} operations")
    rec.dump(os.path.join(OUT, f"spans-{args.workload}-s{args.seed}.json"))

    if ops.w.kind == "flagship":
        m["spark.speedup_1_to_n"] = speedup(ops, n_wall)
    return {name: (m[name], unit) for name, unit in PER_LAYER}
