"""Traced-run instruments: the verified per-stage ledger, a timed
StageStore, and the Spark event-log reader.

The ledger calls each layer's public function in the order
``run_pipeline`` wires them, persists every stage output, and times the
action that fills that cache. A stage wall is only meaningful if its
inputs were read from those caches, so after each stage the ledger walks
the stage's executed plan (the physical plan that built its cache),
stopping at ``InMemoryTableScan`` leaves, and fails the run if a Python
exec node the stage does not own, or a file scan, sits outside them, or
if an input cache was not materialised. A substring search over the
plan string cannot do this: ``InMemoryTableScan`` prints its cached
child, so every downstream stage would look like a miss.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from pathlib import Path

from pyspark import StorageLevel

from docopenie_spark.sources.checkpoints import StageStore

_PY_EXEC_PACKAGE = "org.apache.spark.sql.execution.python."
_SCANS = {"FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec"}


def _walk(node, out: list, cached_inputs: list) -> None:
    name = node.getClass().getSimpleName()
    if name == "InMemoryTableScanExec":
        cached_inputs.append(node.relation().cacheBuilder())
        return
    out.append(node.getClass().getName())
    if name == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), out, cached_inputs)
        return
    if name.endswith("QueryStageExec"):
        _walk(node.plan(), out, cached_inputs)
        return
    children = node.children()
    for i in range(children.size()):
        _walk(children.apply(i), out, cached_inputs)


class Ledger:
    """Times one stage at a time over persisted, verified inputs."""

    def __init__(self, spark):
        self._spark = spark
        self._cm = spark._jsparkSession.sharedState().cacheManager()
        self.walls: dict[str, float] = {}
        self.violations: list[str] = []
        self._persisted = []

    def stage(self, name: str, df, own_python: int, reads_corpus: bool = False):
        """Persist ``df``, time the job that fills its cache, verify the
        executed plan. ``own_python`` is the number of Python exec nodes
        the stage itself runs; ``reads_corpus`` allows a file scan."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        self._spark.sparkContext.setJobDescription(f"ledger:{name}")
        t0 = time.perf_counter()
        df.count()  # fills the cache: every column of every row
        self.walls[name] = time.perf_counter() - t0
        cached = self._cm.lookupCachedData(df._jdf).get().cachedRepresentation()
        nodes, inputs = [], []
        _walk(cached.cacheBuilder().cachedPlan(), nodes, inputs)
        python = [n.rsplit(".", 1)[1] for n in nodes if n.startswith(_PY_EXEC_PACKAGE)]
        scans = [n.rsplit(".", 1)[1] for n in nodes if n.rsplit(".", 1)[1] in _SCANS]
        if len(python) != own_python:
            self.violations.append(
                f"{name}: {len(python)} Python exec nodes outside cached inputs "
                f"({', '.join(python) or 'none'}), expected {own_python}")
        if scans and not reads_corpus:
            self.violations.append(f"{name}: reads source files ({', '.join(scans)})")
        if not all(b.isCachedColumnBuffersLoaded() for b in inputs):
            self.violations.append(f"{name}: an input cache was not materialised")
        return df

    def unpersist(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()


def pipeline_ledger(spark, corpus, with_eval_diff: bool) -> tuple[Ledger, object]:
    """The ``run_pipeline`` stage graph (and, for the eval_diff workload,
    the base variant plus ``eval_diff``) as one timed stage per layer
    call. Returns the ledger and the final table it built."""
    from pyspark.sql import functions as F

    from docopenie_spark import datagen
    from docopenie_spark.operators import (
        assembly, bestmention, coref, fused, link, ner, substitute,
    )
    from docopenie_spark.plans import pipeline as P
    from docopenie_spark.plans.evaluation import eval_diff

    L = Ledger(spark)
    t = L.stage("source", corpus, 0, reads_corpus=True)
    # run_pipeline's size-adaptive flags, derived the same way (untimed)
    row = t.groupBy("conv_id").count().agg(
        F.sum("count").alias("n"), F.max("count").alias("mx")).first()
    slim = row["n"] >= P.SLIM_SENTENCE_THRESHOLD
    hot = (P.COREF_HOT_THRESHOLD
           if row["mx"] * P.COREF_MENTIONS_PER_TURN_BOUND > P.COREF_HOT_THRESHOLD
           else None)
    gaz_rows = datagen.gazetteer_rows()
    first, gaz_names, last = P.default_dictionaries()
    gaz_names |= {r[0] for r in gaz_rows}

    turns = L.stage("assembly.turn_offsets", assembly.with_turn_offsets(t), 0)
    chunks = L.stage("assembly.doc_chunks", assembly.doc_chunks(t), 0)
    ann = L.stage("fused.annotate", fused.parse_extract_annotate(
        turns, first, gaz_names, last, rebalance=False,
        emit_sentence_text=not slim), 1)
    sents = fused.split_sentences(ann, turns if slim else None)
    triples_raw = fused.split_triples(ann)
    mentions = fused.split_entities(ann)
    ents, _ = ner.split_mentions(mentions)
    cl = L.stage("coref.clusters", coref.clusters(mentions, hot_threshold=hot), 0)
    lk = L.stage("link.links", link.links(
        triples_raw, datagen.entity_dict_df(spark), clusters=cl, sentences=sents), 0)
    bems = L.stage("bestmention.best_mentions",
                   bestmention.best_mentions(ents, chunks, gaz_rows), 1)
    bems_x = L.stage("bestmention.expand",
                     bestmention.expand_with_coref(bems, cl, lk), 0)
    final = L.stage("substitute.triples", substitute.substituted_triples(
        triples_raw, bestmention.display_filter(bems_x)), 0)
    if with_eval_diff:
        base = L.stage("substitute.base_triples", substitute.substituted_triples(
            triples_raw, bestmention.display_filter(bems)), 0)
        final = L.stage("evaluation.eval_diff", eval_diff(base, final, sents), 0)
    return L, final


class TimedStageStore(StageStore):
    """StageStore whose public methods record call counts and walls, for
    the traced run's checkpointed probe. ``read_stage`` walls include the
    ``done_buckets`` call it makes."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.calls: dict[str, int] = defaultdict(int)
        self.secs: dict[str, float] = defaultdict(float)

    def _timed(self, name, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.calls[name] += 1
            self.secs[name] += time.perf_counter() - t0

    def write_stage(self, *args, **kwargs):
        return self._timed("write_stage", super().write_stage, *args, **kwargs)

    def done_buckets(self, *args, **kwargs):
        return self._timed("done_buckets", super().done_buckets, *args, **kwargs)

    def read_stage(self, *args, **kwargs):
        return self._timed("read_stage", super().read_stage, *args, **kwargs)

    def bytes_on_disk(self) -> int:
        return sum(p.stat().st_size for p in Path(self.root).rglob("*") if p.is_file())


# ---------------------------------------------------------------- event log

# SQL metric names of Spark's Python exec nodes (PythonSQLMetrics);
# the times are milliseconds summed over tasks
PY_BOOT = "time to start Python workers"
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class EventLog:
    """Task metrics from an uncompressed Spark event log, grouped by the
    job description that was set when each stage was submitted."""

    def __init__(self, log_dir: str):
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[str, int] = defaultdict(int)
        self.stages: dict[str, int] = defaultdict(int)
        self.sum: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        # (description, stage id) -> per-task run ms, for skew
        self.task_ms: dict[tuple, list] = defaultdict(list)
        self.stage_py_ms: dict[tuple, float] = defaultdict(float)
        desc_of_stage: dict[int, str] = {}
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[_desc(ev)] += 1
                elif kind == "SparkListenerStageSubmitted":
                    desc_of_stage[ev["Stage Info"]["Stage ID"]] = _desc(ev)
                elif kind == "SparkListenerStageCompleted":
                    self.stages[desc_of_stage.get(ev["Stage Info"]["Stage ID"], "")] += 1
                elif kind == "SparkListenerTaskEnd":
                    self._task(ev, desc_of_stage.get(ev["Stage ID"], ""))

    def _task(self, ev, desc: str) -> None:
        m = ev.get("Task Metrics") or {}
        s = self.sum[desc]
        s["tasks"] += 1
        s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        s["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        key = (desc, ev["Stage ID"])
        self.task_ms[key].append(m.get("Executor Run Time", 0))
        for acc in ev["Task Info"].get("Accumulables", []):
            name = acc.get("Name")
            if name in (PY_BOOT, PY_RUN, PY_INIT, PY_SENT, PY_RETURNED):
                s[name] += float(acc.get("Update", 0))
                if name == PY_RUN:
                    self.stage_py_ms[key] += float(acc.get("Update", 0))

    def total(self, desc: str, metric: str) -> float:
        return self.sum[desc][metric]

    def python_stage_skew(self, desc: str) -> float:
        """max/median task run time of the stage under ``desc`` that
        spent the most time in Python workers (0 if none did)."""
        keys = [k for k in self.stage_py_ms if k[0] == desc]
        if not keys:
            return 0.0
        ms = self.task_ms[max(keys, key=self.stage_py_ms.__getitem__)]
        median = statistics.median(ms)
        return max(ms) / median if median else 0.0


def _desc(ev) -> str:
    return (ev.get("Properties") or {}).get("spark.job.description") or ""
