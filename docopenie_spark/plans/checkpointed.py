"""Checkpointed, resumable pipeline run (north rule axis B: "extraction
stages checkpoint per-partition with lineage and metrics tables so the
pipeline resumes mid-run without recomputation").

Every stage writes a conv_id-bucketed table through
sources/checkpoints.StageStore; a killed run leaves lineage rows for the
buckets it finished, and the next invocation recomputes ONLY missing
buckets per stage (anti-join of buckets against lineage). Stage inputs
are filtered with the same bucket predicate so partially-complete stages
compose: bucket b of `triples` only ever derives from bucket b of
`annotated` (conv_id-functional bucketing guarantees alignment).

The stages are those of the one KG stage graph (plans/pipeline.py
``_stage_graph``), each materialized by :func:`_resumable`.
"""

from __future__ import annotations

import time
import uuid
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.checkpoints import BUCKET_COL, StageStore, schema_fingerprint, with_bucket
from .pipeline import COREF_HOT_THRESHOLD, _stage_graph


def _resumable(store: StageStore, stage: str, inputs: list[DataFrame], fn,
               run_id: str, key: str = "conv_id") -> DataFrame:
    """Generalized multi-input resume: filter every input to the buckets
    lineage has NOT recorded for ``stage``, compute, append, read back.
    Buckets committed under a different output schema (pre-change code)
    count as not-done — the schema guard in sources/checkpoints."""
    expected_fp = schema_fingerprint(fn(*[df.limit(0) for df in inputs]).schema)
    done = store.done_buckets(stage, schema_fp=expected_fp)
    if len(done) == store.buckets:
        return store.read_stage(stage, schema_fp=expected_fp)
    filtered = []
    for df in inputs:
        b = with_bucket(df, key, store.buckets)
        if done:
            b = b.where(~F.col(BUCKET_COL).isin(done))
        filtered.append(b.drop(BUCKET_COL))
    t0 = time.time()
    out = fn(*filtered)
    remaining = [b for b in range(store.buckets) if b not in set(done)]
    store.write_stage(stage, out, key=key, run_id=run_id, only_buckets=remaining)
    store.record_metric(run_id, stage, "wall_sec", time.time() - t0)
    return store.read_stage(stage, schema_fp=expected_fp)


def run_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    store: StageStore,
    run_id: str | None = None,
) -> DataFrame:
    """Full pipeline with per-stage checkpoint/lineage/metrics; returns the
    final triples table (read from its checkpoint).

    Sentence rows are always slim (no inline text; the turns join
    rebuilds it): the schema fingerprint is the same either way, so a
    stage written with the other setting would go unnoticed and read as
    null sentence text."""
    run_id = run_id or uuid.uuid4().hex[:12]
    triples = _stage_graph(
        spark, transcripts, partial(_resumable, store, run_id=run_id),
        slim=True, hot_threshold=COREF_HOT_THRESHOLD,
    )["triples"]
    store.record_metric(run_id, "triples", "row_count", triples.count())
    return triples
