"""End-to-end pipeline DAG (SURVEY.md §3 EP1 Spark equivalent):

transcripts → turns+offsets → fused NLP pass (annotated) → [sentences ∥
triples_raw ∥ mentions] → clusters → links → best_mentions →
best_mentions_expanded → substituted triples.

The graph is defined once (:func:`_stage_graph`) and interpreted by two
runners: ``run_pipeline`` builds the lazy DAG with its fan-out points
persisted and returns every stage DataFrame; ``run_checkpointed``
(plans/checkpointed.py) writes each stage to a bucketed, resumable store
(the reference's serialized-doc two-phase design,
main/KbpDocSerializer.scala, becomes per-stage tables + lineage).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import datagen
from ..operators import (
    assembly, bestmention, coref, fused, link, ner, substitute,
)


@dataclass
class PipelineResult:
    turns: DataFrame
    sentences: DataFrame
    triples_raw: DataFrame
    entities: DataFrame
    mentions: DataFrame
    clusters: DataFrame
    links: DataFrame | None
    best_mentions: DataFrame
    best_mentions_expanded: DataFrame
    triples: DataFrame
    persisted: list[DataFrame]

    def unpersist(self, blocking: bool = False) -> None:
        """Release every DataFrame run_pipeline persisted (the fan-out
        points). Call once downstream results are materialized — a
        long-lived session running many pipeline variants leaks executor
        storage otherwise (VERDICT r3 #4: eval_diff's shared annotate()
        output was never freed)."""
        for df in self.persisted:
            df.unpersist(blocking)


# Crossover for the slim-sentence path (round-4 interleaved A/B): 's'
# rows carrying only (offset, length) + a JVM join+substring win 15-20%
# at 2M+ turns (less Arrow traffic, smaller persist — the 16-cpu
# memory-bandwidth bottleneck), but at bench scale (~400k turns) the
# join+re-normalization overhead LOSES ~10-25% on the pipeline wall
# (r2-vs-r3 pairs 5.12→6.70 / 5.22→5.57 / 5.14→6.60 s). Same shape as
# the coref hot-conversation threshold: pay the extra shuffle only when
# the Arrow savings outweigh it.
SLIM_SENTENCE_THRESHOLD = 1 << 20

# Coref skew machinery gate (round-4 probe, 400k turns, local[32]): the
# hot-conversation DETECTION itself — a mention-level aggregation, a
# broadcast semi/anti pair, and the (empty) segmented branch's extra
# query stages — costs ~1.4-1.7s of a ~10s pipeline when NO conversation
# is hot. Both coref paths are parity-identical, so detection is purely
# a performance heuristic and may be gated on a cheap UPPER BOUND from
# the turn table: a conversation can only exceed hot_threshold mentions
# if it has > hot_threshold / BOUND turns (measured ~3.3 mentions/turn;
# 16 is a safe over-estimate — being wrong costs a straggler window,
# never a wrong row).
COREF_HOT_THRESHOLD = 1 << 22
COREF_MENTIONS_PER_TURN_BOUND = 16


def _input_stats(transcripts: DataFrame) -> tuple[int, int]:
    """(total turns, max turns in one conversation) in ONE column-pruned
    map-side-combined job over the raw input."""
    row = (
        transcripts.groupBy("conv_id").agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.sum("_n").alias("n"), F.max("_n").alias("mx"))
        .first()
    )
    return int(row["n"] or 0), int(row["mx"] or 0)


def _slim_sentences(transcripts: DataFrame, slim: bool | None) -> bool:
    """Resolve the adaptive default. One cheap job over the input;
    annotate() and run_pipeline() both derive the SAME decision from the
    same input, so a shared annotated table always matches the
    split_sentences path."""
    if slim is not None:
        return slim
    return _input_stats(transcripts)[0] >= SLIM_SENTENCE_THRESHOLD


def default_dictionaries(
    gazetteer_rows: list[tuple] | None = None,
) -> tuple[set[str], set[str], set[str]]:
    """(first_names, gazetteer_names, last_names) from the synthesized
    dimension data — the stand-ins for the reference's model/gazetteer
    files under /scratch (BestEntityMentionFinder.scala:556-582). The
    names of a caller's ``gazetteer_rows`` join the default gazetteer
    names."""
    first_names = {p[0] for p in datagen.PERSONS}
    last_names = {p[1] for p in datagen.PERSONS}
    rows = datagen.gazetteer_rows()
    gaz_names = {r[0] for r in rows} | {r[4] for r in rows if len(r) > 4 and r[4]}
    gaz_names |= {r[0] for r in gazetteer_rows or ()}
    return first_names, gaz_names, last_names


def _fused_pass(turns: DataFrame, gazetteer_rows: list[tuple] | None,
                slim: bool) -> DataFrame:
    """segment+tokenize+extract+NER in ONE Python pass over the turn table
    (operators/fused.parse_extract_annotate): token arrays never cross
    the Arrow boundary. rebalance off: the salted turn-offset join
    already partitions on (conv_id, salt), balanced even for the hot
    conversation. ``slim`` 's' rows carry no inline sentence text."""
    return fused.parse_extract_annotate(
        turns, *default_dictionaries(gazetteer_rows), rebalance=False,
        emit_sentence_text=not slim,
    )


# run_pipeline persists these stages of the graph (plus the raw input):
# the fan-out points — annotated feeds the sentence/triple/mention
# splits, clusters feeds links and the coref expansion, and all four
# are read again by callers through PipelineResult. doc_chunks is not
# persisted (r7): best_mentions is its only consumer, so a persist only
# paid cache build + CacheManager plan canonicalization for a single
# read; the persisted transcripts underneath keep the rebuild cheap.
_PERSISTED_STAGES = frozenset({"annotated", "clusters", "links", "best_mentions"})


def _stage_graph(
    spark: SparkSession,
    transcripts: DataFrame,
    materialize: Callable[[str, list, Callable], DataFrame],
    *,
    slim: bool,
    hot_threshold: int | None,
    gazetteer_rows: list[tuple] | None = None,
    entity_dict: DataFrame | None = None,
    annotated: DataFrame | None = None,
    with_linking: bool = True,
    with_coref_expansion: bool = True,
) -> dict[str, DataFrame | None]:
    """The KG stage graph, defined once for both runners: turn offsets →
    fused NLP pass → sentence/triple/mention splits → coref clusters →
    links → best_mentions → coref expansion → substitution.

    Each named stage (``doc_chunks``, ``annotated``, ``clusters``,
    ``links``, ``best_mentions``, ``best_mentions_expanded``,
    ``triples``) is handed to ``materialize(name, inputs, fn)``, which
    returns the stage's table built by ``fn(*inputs)``. Every input is
    conv_id-keyed, so a materializer may filter them by conversation
    bucket. A supplied ``annotated`` table skips the fused pass. Returns
    the PipelineResult stage fields by name."""
    gaz_rows = gazetteer_rows if gazetteer_rows is not None else datagen.gazetteer_rows()
    turns = assembly.with_turn_offsets(transcripts)
    # the rule engine consumes BOUNDED chunks — the hot conversation
    # never materializes as one row (assembly.doc_chunks)
    chunks = materialize("doc_chunks", [transcripts], assembly.doc_chunks)
    if annotated is None:
        annotated = materialize(
            "annotated", [turns], lambda t: _fused_pass(t, gazetteer_rows, slim)
        )
    # slim: sentence text reconstructed JVM-side from the turn table (the
    # 's' rows carry only offset+length); otherwise the text rode inline
    # through Arrow and no join is needed. Sentences, triples and
    # mentions are JVM filters over the combined table.
    sentences = fused.split_sentences(annotated, turns if slim else None)
    triples_raw = fused.split_triples(annotated)
    mentions = fused.split_entities(annotated)
    entities = ner.split_mentions(mentions)[0]
    clusters = materialize(
        "clusters", [mentions],
        lambda m: coref.clusters(m, hot_threshold=hot_threshold),
    )
    links = None
    if with_linking:
        ed = entity_dict if entity_dict is not None else datagen.entity_dict_df(spark)
        # T9/T10: doc_sim scores against coref-extended arg context
        links = materialize(
            "links", [triples_raw, clusters, sentences],
            lambda tr, c, s: link.links(tr, ed, clusters=c, sentences=s),
        )
    bems = materialize(
        "best_mentions", [entities, chunks],
        lambda e, c: bestmention.best_mentions(e, c, gaz_rows),
    )
    bems_x = bems
    if with_coref_expansion:
        bems_x = materialize(
            "best_mentions_expanded", [bems, clusters, links],
            bestmention.expand_with_coref,
        )
    triples = materialize(
        "triples", [triples_raw, bems_x],
        lambda tr, b: substitute.substituted_triples(tr, bestmention.display_filter(b)),
    )
    return {
        "turns": turns, "sentences": sentences, "triples_raw": triples_raw,
        "entities": entities, "mentions": mentions, "clusters": clusters,
        "links": links, "best_mentions": bems, "best_mentions_expanded": bems_x,
        "triples": triples,
    }


def annotate(
    spark: SparkSession,
    transcripts: DataFrame,
    gazetteer_rows: list[tuple] | None = None,
    fabricate_metadata: bool = False,
    slim_sentences: bool | None = None,
) -> DataFrame:
    """The fused segment+tokenize+extract+NER pass alone, persisted —
    pass the result as ``run_pipeline(..., annotated=)`` to share ONE
    Python pass across several pipeline variants (VERDICT r2 #3: the
    differential evaluation runs base and comp over identical annotated
    output; only linking/expansion differ). ``slim_sentences`` defaults
    to the same size-adaptive decision run_pipeline makes over the same
    input, so the shared table always matches the downstream path.
    Every call builds a new plan from the ``transcripts`` it is given;
    reuse across calls is the caller's, by holding the returned table."""
    from pyspark import StorageLevel

    slim = _slim_sentences(transcripts, slim_sentences)
    if fabricate_metadata:
        transcripts = assembly.fabricated_metadata_turns(transcripts)
    out = _fused_pass(assembly.with_turn_offsets(transcripts), gazetteer_rows, slim)
    # Record the resolved slim decision IN the annotated schema (ADVICE
    # r4 / VERDICT r5 #2): run_pipeline(annotated=) must join sentence
    # text back exactly when this pass omitted it — re-deriving the
    # decision from a possibly-different transcripts DataFrame could
    # silently disagree and yield null/mis-substringed sentence text.
    # Column METADATA on e_text (the column whose 's'-row contents the
    # decision governs) travels through filter/select/persist on any
    # DERIVED DataFrame — the round-5 Python attribute survived only
    # the exact returned object and silently fell back after any
    # transformation.
    out = out.withMetadata("e_text", {"docopenie_slim": slim})
    return out.persist(StorageLevel.MEMORY_AND_DISK)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    entity_dict: DataFrame | None = None,
    gazetteer_rows: list[tuple] | None = None,
    with_linking: bool = True,
    with_coref_expansion: bool = True,
    fabricate_metadata: bool = False,
    annotated: DataFrame | None = None,
    storage_level: str = "MEMORY_AND_DISK",
    slim_sentences: bool | None = None,
    coref_hot_threshold: int | None | str = "auto",
) -> PipelineResult:
    """Build the full DAG from the DataFrames given. The fan-out points
    (see ``_PERSISTED_STAGES``) are persisted so shared prefixes compute
    once — the Spark analogue of the reference's lazy-val memoization per
    document (SURVEY.md §4 row 1). At cluster scale these become
    checkpoint tables (sources/checkpoints.py) instead of memory. Nothing
    is memoized across calls: a caller that rebuilds holds its
    PipelineResult instead.

    ``annotated`` (from :func:`annotate` over the SAME transcripts and
    fabrication setting) skips the fused Python pass — callers running
    several variants (eval_diff base vs comp) pay for it once.

    ``storage_level`` picks the persist level for the fan-out points:
    the default keeps deserialized rows in executor memory (fastest when
    it fits); small fixed-heap executors holding a large corpus should
    pass "DISK_ONLY" — serialized spill, bounded heap (the executor-mode
    scaling protocol does; VERDICT r2 #1a)."""
    from pyspark import StorageLevel

    # size-adaptive decisions (see SLIM_SENTENCE_THRESHOLD /
    # COREF_HOT_THRESHOLD above), resolved from ONE cheap job over the
    # RAW input — skipped entirely when the caller passes both
    # explicitly (the scaling harness does, keeping its timed region
    # identical across rounds). A shared annotate() over the same
    # transcripts resolves the identical slim decision.
    # an annotate()-built table carries its own resolved slim decision
    # (ADVICE r4): trust the marker over re-derivation — the fused pass
    # either emitted inline sentence text or it did not, and only the
    # producer knows. An explicit contradictory flag is a caller bug.
    # The marker is e_text column METADATA, which travels through any
    # derived DataFrame (VERDICT r5 #2); without it, re-derive.
    ann_slim = None
    if annotated is not None and "e_text" in annotated.columns:
        ann_slim = annotated.schema["e_text"].metadata.get("docopenie_slim")
    if ann_slim is not None:
        if slim_sentences is not None and slim_sentences != ann_slim:
            raise ValueError(
                f"slim_sentences={slim_sentences} contradicts the supplied "
                f"annotated table, which was built with slim={ann_slim}"
            )
        slim_sentences = ann_slim
    if slim_sentences is not None and coref_hot_threshold != "auto":
        slim, hot_thr = slim_sentences, coref_hot_threshold
    else:
        n_turns, max_conv_turns = _input_stats(transcripts)
        slim = (
            slim_sentences if slim_sentences is not None
            else n_turns >= SLIM_SENTENCE_THRESHOLD
        )
        if coref_hot_threshold != "auto":
            hot_thr = coref_hot_threshold
        elif max_conv_turns * COREF_MENTIONS_PER_TURN_BOUND > COREF_HOT_THRESHOLD:
            hot_thr = COREF_HOT_THRESHOLD
        else:
            hot_thr = None  # no conversation can be hot: skip detection

    lvl = getattr(StorageLevel, storage_level)
    persisted: list[DataFrame] = []

    def _p(df: DataFrame) -> DataFrame:
        df = df.persist(lvl)
        persisted.append(df)
        return df

    def _materialize(name: str, inputs: list, fn: Callable) -> DataFrame:
        df = fn(*inputs)
        return _p(df) if name in _PERSISTED_STAGES else df

    if fabricate_metadata:
        # S6: role/ts metadata becomes mention-bearing fabricated turns
        transcripts = assembly.fabricated_metadata_turns(transcripts)
    # the raw input is itself a fan-out point: the salted-offset join
    # reads it twice (rows + per-group partial sums) and doc_chunks
    # reads it again — for a generated/derived source each of those
    # is a full recompute (measured r7: the bench corpus is a mapInPandas
    # generator, so the un-persisted turn table ran 2-4× per pipeline
    # materialization). Persist only if the caller has not already
    # chosen a level (persist with a different level raises).
    if transcripts.storageLevel == StorageLevel.NONE:
        transcripts = _p(transcripts)
    stages = _stage_graph(
        spark, transcripts, _materialize, slim=slim, hot_threshold=hot_thr,
        gazetteer_rows=gazetteer_rows, entity_dict=entity_dict,
        annotated=annotated, with_linking=with_linking,
        with_coref_expansion=with_coref_expansion,
    )
    return PipelineResult(**stages, persisted=persisted)
