#!/usr/bin/env python3
"""KG-build benchmark for docopenie_spark.

    python3 kgbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Set-up starts a ``local[4]`` session with
4 shuffle partitions and writes a seeded datagen corpus as parquet (the
Iceberg stand-in). Then one client thread issues complete KG builds
back to back (a closed loop), each over a corpus no earlier build in the
process has read, until ``--seconds`` of build time have passed. There
is no warm-up build: the first build of a fresh process is the one a
user who builds each new batch once pays for, and after a single
warm-up the JVM is still on a steep JIT curve, so that build's wall
spread far more across runs (README.md, "Why cold builds"). A build is
timed from the public runner call until every column of every row of
the final table has been written to a ``noop`` sink. Every build's
final table is then checked against the imperative pipeline twin
(``tests/pipeline_twin.py``), outside the clock.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns the
Spark event log on, repeats the same loop, runs one more whole build and
then the stage ledger, which times each layer's public function over
persisted, plan-verified inputs (see ledger.py), and prints the
per-layer metrics. The last stdout line is the result
object; the line before it carries context (host canary before and
after, sample counts, failure ratio) that is recorded, never compared.
Exit code 0 means every build matched the twin, 1 means a build failed
or mismatched, 2 means the benchmark could not run at all.

See kgbench/README.md for why each workload exists and what each
metric should move.
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
import traceback
import uuid
from dataclasses import dataclass, field
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_work"
CACHE = ROOT / ".bench_cache"
NPROC = 4
STORE_BUCKETS = 32


@dataclass
class Workload:
    runner: str  # "pipeline" or "eval_diff"
    n_turns: int


# Why these two, and why 1k turns: README.md ("Workloads")
WORKLOADS = {
    "small_builds": Workload("pipeline", 1_000),
    "eval_diff": Workload("eval_diff", 1_000),
}

# run_checkpointed's stages, as named in the store's _metrics table
CHECKPOINT_STAGES = ["doc_chunks", "annotated", "clusters", "links", "best_mentions",
                     "best_mentions_expanded", "triples"]


@dataclass
class Build:
    wall: float
    construct: float
    n_turns: int
    kind: str = "triples"  # which twin output the final table is checked against
    final: object = None  # the final DataFrame
    release: object = None  # frees what the build persisted
    resume: float | None = None
    failure: str | None = None
    digest: dict | None = None
    extra: dict = field(default_factory=dict)


# ------------------------------------------------------------------ set-up

def _prepare_env(trace: bool) -> dict:
    """Environment for the JVM and Python workers, set before the session
    starts: workers import docopenie_spark from ROOT whatever the working
    directory, and scratch files stay inside the checkout."""
    run_dir = WORK / f"run-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    for sub in ("tmp", "spark-local", "corpora", "eventlog"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_") or k == "SPARK_DRIVER_MEM"]:
        del os.environ[k]  # knobs that would change what is measured
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
        })
    return {"run_dir": run_dir, "conf": conf}


class Corpora:
    """Seeded corpora, one parquet directory each, never reused. Written
    to a temporary name and renamed, so an aborted write never leaves a
    directory that later reads as a corpus."""

    def __init__(self, spark, root: Path, n_turns: int, seed: int):
        self._spark, self._root, self.n_turns = spark, root, n_turns
        self._seed0 = seed * 1000
        self._next = 0
        self.prep_s: list[float] = []

    def make(self):
        from docopenie_spark import datagen

        seed = self._seed0 + self._next
        self._next += 1
        path = self._root / f"c{self.n_turns}-{seed}"
        tmp = self._root / f".tmp-{uuid.uuid4().hex}"
        t0 = time.perf_counter()
        self._spark.sparkContext.setJobDescription("setup")
        datagen.transcripts_df(self._spark, self.n_turns, seed=seed).write.parquet(str(tmp))
        tmp.rename(path)
        df = self._spark.read.parquet(str(path))
        self.prep_s.append(time.perf_counter() - t0)
        return df, str(path), seed


# ------------------------------------------------------------------ builds
#
# A build function times one complete build and returns it with its final table
# (still computable: persisted fan-outs are released only afterwards, by
# ``Build.release``), so the twin check can run outside the clock.

def build_pipeline(ctx, df) -> Build:
    from docopenie_spark.plans.pipeline import run_pipeline

    ctx.describe("construct")
    t0 = time.perf_counter()
    r = run_pipeline(ctx.spark, df)
    t1 = time.perf_counter()
    ctx.describe("build")
    r.triples.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    ctx.note_result(r)
    return Build(t2 - t0, t1 - t0, ctx.n_turns, kind="triples",
                 final=r.triples, release=r.unpersist)


def build_eval_diff(ctx, df) -> Build:
    from docopenie_spark.plans.evaluation import eval_diff
    from docopenie_spark.plans.pipeline import annotate, run_pipeline

    ctx.describe("construct")
    t0 = time.perf_counter()
    ann = annotate(ctx.spark, df)
    base = run_pipeline(ctx.spark, df, with_linking=False,
                        with_coref_expansion=False, annotated=ann)
    comp = run_pipeline(ctx.spark, df, annotated=ann)
    diff = eval_diff(base.triples, comp.triples, comp.sentences)
    t1 = time.perf_counter()
    ctx.describe("build")
    diff.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    for r in (ann, base, comp):
        ctx.note_result(r)

    def release():
        base.unpersist()
        comp.unpersist()
        ann.unpersist()

    return Build(t2 - t0, t1 - t0, ctx.n_turns, kind="eval_diff",
                 final=diff, release=release)


def build_checkpointed(ctx, df) -> Build:
    """One run_checkpointed build into a fresh timed StageStore, then a
    resume over the complete store. Run only in traced runs, to measure
    the store layers (see README.md)."""
    from docopenie_spark.plans.checkpointed import run_checkpointed

    from ledger import TimedStageStore

    root = ctx.run_dir / f"store-{uuid.uuid4().hex[:8]}"
    store = TimedStageStore(ctx.spark, str(root), buckets=STORE_BUCKETS)
    run_id = uuid.uuid4().hex[:12]
    ctx.describe("checkpointed")
    t0 = time.perf_counter()
    run_checkpointed(ctx.spark, df, store, run_id=run_id).write.format(
        "noop").mode("overwrite").save()
    t1 = time.perf_counter()
    b = Build(t1 - t0, 0.0, ctx.n_turns, kind="triples")
    b.extra = {"store_calls": dict(store.calls), "store_secs": dict(store.secs),
               "store_bytes": store.bytes_on_disk()}
    walls = store.metrics().where(f"run_id = '{run_id}' AND metric = 'wall_sec'").collect()
    b.extra["stage_s"] = {r["stage"]: r["value"] for r in walls}
    ctx.describe("resume")
    t2 = time.perf_counter()
    b.final = run_checkpointed(ctx.spark, df, store)
    b.final.write.format("noop").mode("overwrite").save()
    b.resume = time.perf_counter() - t2
    b.release = lambda: shutil.rmtree(root, ignore_errors=True)
    return b


BUILD_FNS = {"pipeline": build_pipeline, "eval_diff": build_eval_diff}


@dataclass
class Ctx:
    spark: object
    run_dir: Path
    n_turns: int
    label: str | None = None  # overrides the job description when set
    results: list = field(default_factory=list)
    plan_cache_hits: int = 0

    def describe(self, what: str) -> None:
        """Job description, by which the event log groups task metrics."""
        self.spark.sparkContext.setJobDescription(self.label or what)

    def note_result(self, r) -> None:
        """Counts runner results that are the same object an earlier call
        returned (a plan-cache hit; fresh corpora should give none)."""
        if any(r is x for x in self.results):
            self.plan_cache_hits += 1
        self.results.append(r)


# ------------------------------------------------------------------ metrics

def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(builds, setup_s) -> dict:
    ok = [b for b in builds if b.failure is None]
    return {
        "build_s": (_median([b.wall for b in ok]), "s"),
        "turns_per_s": (sum(b.n_turns for b in ok) / sum(b.wall for b in ok) if ok else 0.0,
                        "turns/s"),
        "setup_s": (setup_s, "s"),
    }


def per_layer(ctx, builds, peak_mb, ref, ledger, probe, ev) -> dict:
    """Per-layer metrics of a traced run. ``ref`` is the whole build run
    just before the stage ledger ``ledger``; ``probe`` the checkpointed
    build (None when the workload has none); ``ev`` the event log.
    Layers a workload does not run report 0."""
    from ledger import PY_BOOT, PY_INIT, PY_RETURNED, PY_RUN, PY_SENT

    ok = [b for b in builds if b.failure is None]
    n = max(len(ok), 1)
    build_s = _median([b.wall for b in ok])
    construct_s = _median([b.construct for b in ok])
    m = {
        "trace.build_s": (build_s, "s"),
        "pipeline.construct_s": (construct_s, "s"),
        "pipeline.construct_jobs": (ev.jobs["construct"] / n, "count"),
        "pipeline.plan_cache_hits": (ctx.plan_cache_hits, "count"),
    }
    walls = ledger.walls
    for key, stage in [
        ("ledger.source_s", "source"),
        ("assembly.turn_offsets_s", "assembly.turn_offsets"),
        ("assembly.doc_chunks_s", "assembly.doc_chunks"),
        ("fused.annotate_s", "fused.annotate"),
        ("coref.clusters_s", "coref.clusters"),
        ("link.links_s", "link.links"),
        ("bestmention.best_mentions_s", "bestmention.best_mentions"),
        ("bestmention.expand_s", "bestmention.expand"),
        ("evaluation.eval_diff_s", "evaluation.eval_diff"),
    ]:
        m[key] = (walls.get(stage, 0.0), "s")
    m["substitute.triples_s"] = (
        walls.get("substitute.triples", 0.0) + walls.get("substitute.base_triples", 0.0), "s")
    for layer, stage in [("fused", "fused.annotate"),
                         ("bestmention", "bestmention.best_mentions")]:
        d = f"ledger:{stage}"
        m[f"{layer}.py_run_s"] = (ev.total(d, PY_RUN) / 1e3, "s")
        m[f"{layer}.py_init_s"] = (ev.total(d, PY_INIT) / 1e3, "s")
        m[f"{layer}.py_boot_s"] = (ev.total(d, PY_BOOT) / 1e3, "s")
        m[f"{layer}.py_bytes_sent"] = (ev.total(d, PY_SENT), "bytes")
    m["fused.py_bytes_returned"] = (ev.total("ledger:fused.annotate", PY_RETURNED), "bytes")
    m["bestmention.task_skew"] = (
        ev.python_stage_skew("ledger:bestmention.best_mentions"), "ratio")

    x = probe.extra if probe is not None else {}
    calls, secs = x.get("store_calls", {}), x.get("store_secs", {})
    for meth in ("write_stage", "done_buckets", "read_stage"):
        m[f"checkpoints.{meth}_s"] = (secs.get(meth, 0.0), "s")
        m[f"checkpoints.{meth}_calls"] = (calls.get(meth, 0), "count")
    m["checkpoints.bytes_written"] = (x.get("store_bytes", 0), "bytes")
    m["checkpointed.build_s"] = (probe.wall if probe else 0.0, "s")
    m["checkpointed.resume_s"] = (probe.resume if probe else 0.0, "s")
    for st in CHECKPOINT_STAGES:
        m[f"checkpointed.{st}_s"] = (x.get("stage_s", {}).get(st, 0.0), "s")

    def per_build(metric):
        return sum(ev.total(d, metric) for d in ("construct", "build")) / n

    cpu = per_build("cpu_s")
    stage_sum = sum(walls.values())
    m.update({
        "spark.jobs": ((ev.jobs["construct"] + ev.jobs["build"]) / n, "count"),
        "spark.stages": ((ev.stages["construct"] + ev.stages["build"]) / n, "count"),
        "spark.tasks": (per_build("tasks"), "count"),
        "spark.executor_cpu_s": (cpu, "s"),
        "spark.cpu_busy_ratio": (cpu / (build_s * NPROC) if build_s else 0.0, "ratio"),
        "spark.shuffle_bytes": (per_build("shuffle_bytes"), "bytes"),
        "spark.spill_bytes": (per_build("spill_bytes"), "bytes"),
        "spark.gc_s": (per_build("gc_s"), "s"),
        "spark.peak_rss_mb": (peak_mb, "MB"),
        "ledger.reference_build_s": (ref.wall, "s"),
        "ledger.stage_sum_s": (stage_sum, "s"),
        "ledger.residual_ratio": ((ref.wall - ref.construct - stage_sum) / ref.wall, "ratio"),
        "ledger.violations": (len(ledger.violations), "count"),
    })
    return m


# ------------------------------------------------------------------ main

def _digest(b: Build) -> dict:
    from check import EVAL_DIFF_COLS, TRIPLE_COLS, digest

    b.final.sparkSession.sparkContext.setJobDescription("check")
    cols = TRIPLE_COLS if b.kind == "triples" else EVAL_DIFF_COLS
    return digest((r.asDict() for r in b.final.collect()), cols)


def run(args) -> int:
    wl = WORKLOADS[args.workload]
    env = _prepare_env(args.trace)
    run_dir = env["run_dir"]
    from host import canary_gbps, tree_peak_rss_mb

    phases, last = {}, [time.perf_counter()]

    def mark(name):  # wall of each phase of the run, for the context line
        now = time.perf_counter()
        phases[name] = round(now - last[0], 3)
        last[0] = now

    context = {"workload": args.workload, "seed": args.seed, "n_turns": wl.n_turns,
               "canary_gbps_before": canary_gbps()}
    mark("canary")

    from docopenie_spark.session import get_spark

    from check import TwinGate

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"kgbench-{args.workload}", master=f"local[{NPROC}]",
                      shuffle_partitions=NPROC, extra_conf=env["conf"])
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    mark("session")
    jvm = spark.sparkContext._gateway.proc
    ctx = Ctx(spark, run_dir, wl.n_turns)
    corpora = Corpora(spark, run_dir / "corpora", wl.n_turns, args.seed)
    build = BUILD_FNS[wl.runner]
    builds: list[Build] = []
    checks = []  # (Build, corpus path, corpus seed)
    ledger = probe = ref = None
    try:
        pending = [corpora.make()]  # set-up: the first corpus
        mark("setup")
        clock = 0.0
        while clock < args.seconds:
            df, path, seed = pending.pop() if pending else corpora.make()
            try:
                b = build(ctx, df)
                b.digest = _digest(b)
                b.release()
            except Exception:
                b = Build(0.0, 0.0, wl.n_turns, failure=traceback.format_exc(limit=4))
            builds.append(b)
            checks.append((b, path, seed))
            clock += b.wall if b.failure is None else args.seconds
        peak_mb = tree_peak_rss_mb(jvm.pid)
        mark("loop")
        if args.trace:
            from ledger import pipeline_ledger

            # a whole build in the JIT state the ledger runs in, for the
            # ledger's reconciliation
            ctx.label = "reference"
            df, path, seed = corpora.make()
            ref = build(ctx, df)
            ref.digest = _digest(ref)
            ref.release()
            checks.append((ref, path, seed))
            ctx.label = None
            df, path, seed = corpora.make()
            ledger, final = pipeline_ledger(spark, df, wl.runner == "eval_diff")
            lb = Build(0.0, 0.0, wl.n_turns, final=final,
                       kind="eval_diff" if wl.runner == "eval_diff" else "triples")
            lb.digest = _digest(lb)
            ledger.unpersist()
            checks.append((lb, path, seed))
            mark("ledger")
            if wl.runner == "pipeline":
                df, path, seed = corpora.make()
                probe = build_checkpointed(ctx, df)
                probe.digest = _digest(probe)
                probe.release()
                checks.append((probe, path, seed))
                mark("checkpointed")
    finally:
        spark.stop()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    mark("stop")

    gate = TwinGate(ROOT, CACHE / "twin")
    for b, path, seed in checks:
        if b.failure is None:
            b.failure = gate.check(b.kind, b.digest, path, wl.n_turns, seed)
    mark("twin")
    failures = [b.failure for b, _, _ in checks if b.failure]
    if ledger is not None:
        failures += [f"ledger: {v}" for v in ledger.violations]
    attempted = len(builds)
    failed = sum(1 for b in builds if b.failure)

    if args.trace:
        from ledger import EventLog

        metrics = per_layer(ctx, builds, peak_mb, ref, ledger, probe,
                            EventLog(str(run_dir / "eventlog")))
    else:
        metrics = end_to_end(builds, session_s + corpora.prep_s[0])
    context.update({
        "builds": attempted,
        "failed_ratio": failed / attempted if attempted else 1.0,
        "build_walls_s": [round(b.wall, 4) for b in builds],
        "construct_s": [round(b.construct, 4) for b in builds],
        "session_s": round(session_s, 4),
        "corpus_prep_s": [round(x, 4) for x in corpora.prep_s],
        "twin_cache_hits": gate.cache_hits,
        "peak_rss_mb": round(peak_mb, 1),
        "failures": failures,
        "canary_gbps_after": canary_gbps(),
    })
    mark("canary_after")
    context["phase_s"] = phases
    print(json.dumps({"context": context}))
    correct = not failures
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path[:0] = [str(BENCH), str(ROOT), str(ROOT / "tests")]
    try:
        import docopenie_spark  # noqa: F401
        import pipeline_twin  # noqa: F401
    except ImportError as e:
        print(f"kgbench: the repository sources are not importable: {e}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)  # leftovers of killed runs
    try:
        return run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
