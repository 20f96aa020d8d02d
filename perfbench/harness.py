"""Closed-loop benchmark of the quality-filter engine, end to end and per layer.

    python3 perfbench/run.py --workload mix_flagship --seed 1 --seconds 6 --trace 0

One client runs one operation at a time on ``local[nproc]``; the workload's
input is generated from ``--seed`` (cached under ``perfbench/.cache``) and the
program only sees the parquet path. Every timed operation's output is checked
against a reference computed once per (workload, seed) outside timing. The
last stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``. Human-readable tables, the box-health
record and warnings go to stderr; records and spans to ``perfbench/.out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from dataclasses import dataclass

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CACHE = os.path.join(BENCH, ".cache")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, ".out")
WARM_OPS = 6         # untimed flagship passes before the timed ones
HEAP = "1g"          # Spark JVM heap, fixed (-Xms = -Xmx); see build()
STEAL_WARN = 0.05    # warn above this share of CPU time stolen by the VM
# Checkpoint groups per job run. The shipped job defaults to 8; with 3, one
# job operation (crash in group 0, resume, no-op resume) takes ~13 s on an
# idle 4-core box, so a run, start-up included, takes about a minute.
N_GROUPS = 3
CHECK_COLS = ("image_id", "keep", "keep_core", "is_dup", "lang",
              "quality_score")


@dataclass(frozen=True)
class Workload:
    kind: str                  # flagship | job
    n: int
    dims: tuple
    dup_frac: float


WORKLOADS = {
    "mix_flagship": Workload("flagship", 4000, (16, 32), 0.04),
    "dup_bytes_job": Workload("job", 3000, (64,), 0.25),
}


def why(name: str) -> str:
    """The workload's reason for being, as BENCHMARK.json states it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return next(w["why"] for w in json.load(f)["workloads"]
                    if w["name"] == name)


_T0 = time.perf_counter()


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def phase(name: str) -> None:
    log(f"[{time.perf_counter() - _T0:7.2f}s] {name}")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests: load that the load average of a
    virtual machine does not show."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d[:8])
    return d[7] / total if total else 0.0


# --------------------------------------------------------------------------
# inputs and reference (outside timing)
# --------------------------------------------------------------------------

def corpus(w: Workload, seed: int) -> tuple[str, str]:
    """Generate-once parquet of ``synth.generate(n, seed, dims, dup_frac)``
    and its reference labels; returns (input path, reference path)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bioanalyzer_backend_spark import spec
    from bioanalyzer_backend_spark.datagen import synth
    from bioanalyzer_backend_spark.functions import langid, perplexity
    from bioanalyzer_backend_spark.plans.pipeline import ensure_artifacts
    from bioanalyzer_backend_spark.rules.reference_impl import expected_labels

    dtag = "x".join(map(str, w.dims))
    key = f"images_n{w.n}_s{seed}_d{dtag}_f{w.dup_frac}"
    path = os.path.join(CACHE, key + ".parquet")
    ref_path = os.path.join(CACHE, key + "_ref.parquet")
    if os.path.exists(path) and os.path.exists(ref_path):
        return path, ref_path
    os.makedirs(CACHE, exist_ok=True)
    table, _meta = synth.generate(w.n, seed=seed, dims=w.dims,
                                  dup_frac=w.dup_frac)
    images = pd.DataFrame(table)
    ref = expected_labels(images).rename(columns={"keep": "keep_core"})
    art = ensure_artifacts()
    logp, langs = langid.load_model(os.path.join(art, "langid.npz"))
    lm = perplexity.load_model(os.path.join(art, "lm.npz"))
    texts = [c[:spec.TRUNCATE_CHARS] for c in images["caption"]]
    ref["lang"], _conf = langid.predict_batch(texts, logp, langs)
    ppl = perplexity.ppl_batch(texts, lm)
    ref["keep"] = ref["keep_core"] & (ref["lang"] != langid.UNKNOWN) \
        & (ppl <= spec.PPL_MAX)
    ref["lang"] = ref["lang"].astype(str)
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(pa.table(table, schema=synth.IMAGES_SCHEMA), tmp,
                   row_group_size=8192)
    os.replace(tmp, path)
    tmp = f"{ref_path}.{os.getpid()}.tmp"
    ref[list(CHECK_COLS)].to_parquet(tmp, index=False)
    os.replace(tmp, ref_path)
    return path, ref_path


class Checker:
    """Order-independent checksum of the checked columns: row count,
    distinct ids and the XOR of per-row hashes. The reference's checksum
    is computed once by the same Spark expressions."""

    def __init__(self, spark, ref_path: str):
        import pandas as pd
        self.ref_pdf = pd.read_parquet(ref_path)
        self.ref = self._agg(spark.read.parquet(ref_path))
        self.n = len(self.ref_pdf)

    @staticmethod
    def exprs():
        from pyspark.sql import functions as F
        return (F.count(F.lit(1)).alias("rows"),
                F.bit_xor(F.xxhash64(*CHECK_COLS)).alias("xor"),
                F.sum(F.col("is_dup").cast("long")).alias("dups"))

    def _agg(self, df) -> dict:
        from pyspark.sql import functions as F
        r = df.agg(*self.exprs(),
                   F.countDistinct("image_id").alias("ids")).collect()[0]
        return r.asDict()

    def observed(self, got: dict) -> bool:
        return all(got.get(k) == self.ref[k] for k in ("rows", "xor", "dups"))

    def table(self, df) -> tuple[bool, dict]:
        if df is None:
            return False, {}
        got = self._agg(df.select(*CHECK_COLS))
        ok = (got == self.ref and got["ids"] == self.n)
        if not ok:
            self.diff(df)
        return ok, got

    def diff(self, df) -> None:
        """On a mismatch, name the first differing rows on stderr."""
        got = df.select(*CHECK_COLS).toPandas()
        m = got.merge(self.ref_pdf, on="image_id", how="outer",
                      suffixes=("", "_ref"), indicator=True)
        bad = m[(m["_merge"] != "both") | (m["keep"] != m["keep_ref"])
                | (m["keep_core"] != m["keep_core_ref"])
                | (m["is_dup"] != m["is_dup_ref"])
                | (m["lang"] != m["lang_ref"])
                | (m["quality_score"] != m["quality_score_ref"])]
        log(f"MISMATCH: {len(got)} rows vs {self.n} expected, "
            f"{got['image_id'].duplicated().sum()} duplicate ids, "
            f"{len(bad)} differing rows; first:\n{bad.head(5)}")


# --------------------------------------------------------------------------
# Spark session lifecycle
# --------------------------------------------------------------------------

def isolate_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    benchmark's own directory, and let workers import the program."""
    import tempfile
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build(master: str | None = None):
    """The program's session with a fixed 1 GiB heap (HEAP) instead of
    the program's 8g. Left to grow up to 8g, the JVM's peak RSS follows
    G1's heap sizing and swings 1.5-3.2 GB between identical runs. With
    -Xms8g it is steady but reads ~6.3 GB, G1 filling its eden before it
    collects, and the first touch of those pages adds ~40% CPU per row."""
    from bioanalyzer_backend_spark.session import build_session
    tmp = os.path.join(WORK, "tmp")
    return build_session("perfbench", master=master, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"})


def setup(path: str) -> tuple[object, float, float]:
    """The user's set-up, cold as in a fresh process of the shipped job:
    the JVM's start, the session, model artifacts, first touch of the input.
    Returns (spark, build_session wall, total wall)."""
    from bioanalyzer_backend_spark.plans.pipeline import ensure_artifacts
    t0 = time.perf_counter()
    spark = build()
    t1 = time.perf_counter()
    ensure_artifacts()
    spark.read.parquet(path).count()
    return spark, t1 - t0, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of this process, of process *root* and
    of its descendants, live or reaped: the benchmark's Python driver, the
    Spark JVM and its Python workers. Time the hypervisor steals is not in
    it, unlike a wall clock's."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:           # the process exited meanwhile
            continue
        fields = st[st.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    own = os.times()
    return total / os.sysconf("SC_CLK_TCK") + own.user + own.system


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def shutdown(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    gw.shutdown()            # close py4j connections before the JVM goes
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    proc.stdin.close()       # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# --------------------------------------------------------------------------
# operations (one closed-loop step each)
# --------------------------------------------------------------------------

class Ops:
    def __init__(self, spark, w: Workload, path: str, checker: Checker,
                 pid: int):
        self.spark, self.w, self.path, self.checker = spark, w, path, checker
        self.pid = pid            # the Spark JVM's
        self.samples: list[dict] = []
        self.rec = None           # a spans.SpanRecorder in the traced run
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def images(self):
        return self.spark.read.parquet(self.path)

    def flagship(self) -> dict:
        from pyspark.sql import Observation

        from bioanalyzer_backend_spark.plans import pipeline as P
        obs = Observation()
        c0, t0 = tree_cpu_s(self.pid), time.perf_counter()
        P.quality_filter(self.images()).observe(obs, *Checker.exprs()) \
            .write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(self.pid) - c0
        got = obs.get
        return {"wall": wall, "cpu_s": cpu,
                "ok": self.checker.observed(got), "dups": got["dups"]}

    def job(self) -> dict:
        wh = os.path.join(WORK, f"wh-{uuid.uuid4().hex[:8]}")
        try:
            c0 = tree_cpu_s(self.pid)
            s = run_job(self.spark, self.images(), wh)
            s["cpu_s"] = tree_cpu_s(self.pid) - c0
            # the check's own shuffle is not the operation's disk write
            self.spark.sparkContext.setJobGroup("check", "check")
            ok, got = self.checker.table(s.pop("results").read(self.spark))
            s["ok"] = ok and s["ok"]
            return {**s, "dups": got.get("dups"), **self._tables_info(wh)}
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def _tables_info(self, wh: str) -> dict:
        from bioanalyzer_backend_spark.sources.catalog import LocalSnapshotTable
        commits = sum(len(LocalSnapshotTable(os.path.join(wh, t)).history())
                      for t in ("results", "audit", "checkpoint"))
        return {"commits": commits,
                "results_mb": du(os.path.join(wh, "results", "data")) / 1e6}

    def run_one(self, tag: str) -> dict | None:
        """One timed operation; a raise or a wrong output counts as a
        failure (the injected crash is expected). Without a span recorder
        the operation's Spark jobs are tagged with job group *tag*; with
        one, every span the operation opens is a job group of its own."""
        self.attempted += 1
        rec = self.rec
        first = len(rec.spans) if rec else 0
        root = rec.begin("op") if rec else None
        if rec is None:
            self.spark.sparkContext.setJobGroup(tag, tag)
        try:
            s = getattr(self, self.w.kind)()
        except Exception as e:    # the loop must go on and report it
            import traceback
            self.failed += 1
            self.errors.append(f"{tag}: {type(e).__name__}: {e}")
            log(traceback.format_exc())
            return None
        finally:
            if root is not None:
                rec.end(root)
        s["tag"] = tag
        s["groups"] = {sp.sid for sp in rec.spans[first:]} if rec else {tag}
        if not s["ok"]:
            self.failed += 1
            self.errors.append(f"{tag}: output differs from the reference")
        self.samples.append(s)
        return s

    def loop(self, seconds: float, prefix: str) -> list[dict]:
        """Closed loop for *seconds* (at least one operation); returns the
        operations that completed."""
        out = []
        t_end = time.perf_counter() + seconds
        while not out or time.perf_counter() < t_end:
            out.append(self.run_one(f"{prefix}-{len(out)}"))
        return [s for s in out if s is not None]


def run_job(spark, images, wh: str) -> dict:
    """The shipped job over *images* on a fresh warehouse *wh*, crashed
    between the results and audit appends of group 0, before any group is
    committed; the resume that repairs group 0 and runs the others; a no-op
    resume on the committed warehouse.
    ``wall`` is the first two (job start until every group is committed);
    ``ok`` checks the runs' statistics, not the results."""
    from bioanalyzer_backend_spark.plans import resume
    from bioanalyzer_backend_spark.sources.catalog import open_table
    tables = [open_table(spark, os.path.join(wh, t))
              for t in ("results", "audit", "checkpoint")]

    def run(**kw):
        t0 = time.perf_counter()
        st = resume.run_with_resume(spark, images, *tables,
                                    n_groups=N_GROUPS, **kw)
        return st, time.perf_counter() - t0

    crashed = False
    t0 = time.perf_counter()
    try:
        run(fail_between_commits=True, fail_after=1)
    except RuntimeError as e:
        crashed = "injected failure" in str(e)
        if not crashed:
            raise
    first = time.perf_counter() - t0
    st, recovery = run()
    again, noop = run()
    ok = crashed and len(st["repaired_groups"]) == 1 \
        and st["groups_done"] == N_GROUPS and again["newly_committed"] == 0
    return {"wall": first + recovery, "recovery_s": recovery,
            "noop_s": noop, "ok": ok, "results": tables[0]}


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def warm_up(ops: Ops) -> None:
    """Untimed: start the Python workers, load the models, and JIT the
    rule battery (and, for the job, staging, commits and reconcile) so the
    timed operations run near steady state. The flagship warms with
    WARM_OPS full passes. A job operation is long and each run measures
    one, so the job warms with one whole operation on an eighth of the
    rows: warmed by a pipeline pass alone, its first timed operation ran
    ~25-40% slower than the next, by an amount that followed the load on
    the machine."""
    from pyspark.sql import functions as F

    from bioanalyzer_backend_spark.plans import pipeline as P
    ops.spark.sparkContext.setJobGroup("warmup", "warmup")
    if ops.w.kind == "flagship":
        for _ in range(WARM_OPS):
            P.quality_filter(ops.images()).write.format("noop") \
                .mode("overwrite").save()
        return
    run_job(ops.spark, ops.images().where(F.xxhash64("image_id") % 8 == 0),
            os.path.join(WORK, "warmup"))


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def end_to_end(ops: Ops, samples: list[dict], setup_s: float,
               pid: int) -> dict:
    from spans import StatusReader
    reader = StatusReader(ops.spark)
    disk = [reader.stage_totals(s["groups"]).disk_write_b / 1e6
            for s in samples]
    return {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_row": (1e3 * median([s["cpu_s"] for s in samples])
                           / ops.w.n, "ms"),
        "disk_write_mb": (median(disk), "MB"),
        "peak_rss_mb": (vm_hwm_mb(pid), "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="override the workload's row count (smoke tests)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bioanalyzer_backend_spark")):
        log(f"error: the program (bioanalyzer_backend_spark/) is not in "
            f"{ROOT}; run from a full checkout")
        return 2
    w = WORKLOADS[args.workload]
    if args.rows:
        w = Workload(w.kind, args.rows, w.dims, w.dup_frac)
    isolate_env()
    os.makedirs(OUT, exist_ok=True)
    cores = nproc()
    health = {"nproc": cores, "master": f"local[{cores}]",
              "load_start": load1()}
    ticks = cpu_ticks()

    phase("inputs")
    path, ref_path = corpus(w, args.seed)
    phase("set-up")

    spark = None
    try:
        spark, build_s, setup_s = setup(path)
        pid = jvm_pid(spark)
        checker = Checker(spark, ref_path)
        ops = Ops(spark, w, path, checker, pid)
        phase("warm-up")
        warm_up(ops)
        phase("measure")
        if args.trace:
            from layers import per_layer
            metrics = per_layer(ops, build_s, args)
            spark = ops.spark      # the speedup probe swaps the session
        else:
            samples = ops.loop(args.seconds, "op")
            if not samples:
                raise RuntimeError("every operation failed: "
                                   + "; ".join(ops.errors))
            metrics = end_to_end(ops, samples, setup_s, pid)
    finally:
        phase("shutdown")
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    phase("done")
    health["load_end"] = load1()
    health["steal_frac"] = steal_frac(ticks, cpu_ticks())
    if max(health["load_start"], health["load_end"]) > cores:
        log(f"WARNING: load average {health['load_start']:.1f} -> "
            f"{health['load_end']:.1f} exceeds nproc={cores}; outside load "
            f"can swing timings 2-6x (kept in the record)")
    if health["steal_frac"] > STEAL_WARN:
        log(f"WARNING: the hypervisor stole {health['steal_frac']:.0%} of "
            f"CPU time during the run; timings are inflated (kept in the "
            f"record)")
    corpus_info = {"rows": w.n, "bytes_per_row": os.path.getsize(path) / w.n,
                   "dup_share": float(checker.ref_pdf["is_dup"].mean()),
                   "why": why(args.workload)}
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "box": health,
              "corpus": corpus_info, "setup_s": setup_s,
              "ops": ops.samples,
              "errors": ops.errors,
              "metrics": {k: v for k, (v, _u) in metrics.items()}}
    rec_path = os.path.join(
        OUT, f"record-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    log(f"box: {json.dumps(health)}")
    log(f"corpus: {json.dumps(corpus_info)}")
    log(f"{len(ops.samples)} operations, {ops.failed} failed; record: "
        f"{os.path.relpath(rec_path, ROOT)}")
    for k, (v, u) in metrics.items():
        log(f"  {k:28s} {v:14.4f} {u}")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)
    return 0
