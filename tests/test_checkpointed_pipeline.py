"""Resumable full-pipeline runs: resumed ≡ fresh, re-run is a no-op."""

import pyspark.sql.functions as F

from docopenie_spark import datagen
from docopenie_spark.plans.checkpointed import run_checkpointed
from docopenie_spark.plans.pipeline import run_pipeline
from docopenie_spark.sources.checkpoints import StageStore


def _norm(df):
    return df.select("conv_id", "turn_idx", "sent_num", "subj", "pred", "obj", "extractor")


def test_checkpointed_equals_in_memory(spark, tmp_path):
    """Both runners interpret the same stage graph: the final triples AND
    every intermediate checkpointed stage match run_pipeline's stage."""
    t = datagen.transcripts_df(spark, 160)
    r = run_pipeline(spark, t)
    fresh = _norm(r.triples)
    store = StageStore(spark, str(tmp_path / "cp"), buckets=4)
    cp = _norm(run_checkpointed(spark, t, store, run_id="r1"))
    assert cp.exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(cp).isEmpty()
    for stage, want in [("clusters", r.clusters), ("links", r.links),
                        ("best_mentions", r.best_mentions),
                        ("best_mentions_expanded", r.best_mentions_expanded)]:
        got = store.read_stage(stage)
        assert got.schema.simpleString() == want.schema.simpleString(), stage
        assert got.count() == want.count() > 0, stage
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty(), stage
    r.unpersist()


def test_mid_run_kill_then_resume(spark, tmp_path):
    """Simulate a run killed mid-way: the annotated stage finished only
    half its buckets; the resumed run must produce the identical triple
    set."""
    from docopenie_spark.operators import assembly, fused
    from docopenie_spark.plans.pipeline import default_dictionaries

    t = datagen.transcripts_df(spark, 160)
    fresh = _norm(run_pipeline(spark, t).triples)

    store = StageStore(spark, str(tmp_path / "cp"), buckets=4)
    # "killed" first run: only buckets 0-1 of the first stage completed
    fn, gz, ln = default_dictionaries()
    annotated = fused.parse_extract_annotate(
        assembly.with_turn_offsets(t), fn, gz, ln
    )
    store.write_stage("annotated", annotated, run_id="killed", only_buckets=[0, 1])
    assert store.done_buckets("annotated") == [0, 1]

    resumed = _norm(run_checkpointed(spark, t, store, run_id="resume"))
    assert resumed.exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(resumed).isEmpty()
    # lineage shows both runs contributed annotated buckets
    lin = store.lineage().where(F.col("stage") == "annotated").collect()
    assert {r.run_id for r in lin} == {"killed", "resume"}

    # a third invocation recomputes nothing (no new lineage rows)
    n_before = store.lineage().count()
    again = _norm(run_checkpointed(spark, t, store, run_id="noop"))
    assert again.count() == fresh.count()
    lineage_runs = {r.run_id for r in store.lineage().collect()}
    assert "noop" not in lineage_runs
    assert store.lineage().count() == n_before


def test_metrics_recorded(spark, tmp_path):
    t = datagen.transcripts_df(spark, 80)
    store = StageStore(spark, str(tmp_path / "cp"), buckets=4)
    run_checkpointed(spark, t, store, run_id="m1")
    m = store.metrics().collect()
    stages = {r.stage for r in m}
    assert "annotated" in stages and "triples" in stages
    assert all(r.value >= 0 for r in m)


def test_disk_only_storage_level_same_triples(spark):
    """storage_level='DISK_ONLY' (the executor-mode scaling setting) must
    not change results — only where the persisted fan-out points live."""
    from docopenie_spark import datagen
    from docopenie_spark.plans.pipeline import run_pipeline

    t = datagen.transcripts_df(spark, 160)
    a = run_pipeline(spark, t).triples
    b = run_pipeline(spark, t, storage_level="DISK_ONLY").triples
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.count() == b.count() > 0
