"""The join-based best_mentions (resolve once per distinct name, fan out
via JVM join) must match the per-occurrence Python reference on every
field except best_entity.offset, which is pick-order metadata (the
nearest OCCURRENCE of the chosen candidate — the chosen NAME, kind, and
count are identical) and is consumed nowhere downstream."""

import pyspark.sql.functions as F

from docopenie_spark import datagen
from docopenie_spark.operators import assembly, bestmention, fused, ner
from docopenie_spark.plans.pipeline import default_dictionaries


def _norm(df):
    return df.select(
        "conv_id", "kind", "target", "best_mention",
        F.col("best_entity.name").alias("be_name"),
        F.col("best_entity.entity_type").alias("be_type"),
        F.col("container_entity.name").alias("ce_name"),
        F.col("contained_entity.name").alias("cde_name"),
        "candidate_count",
    )


def test_join_based_chunked_equals_python_full_doc(spark):
    """The join-based resolver over CHUNKED doc text must match the
    per-occurrence Python resolver over the FULL doc string — this is
    simultaneously the distinct-name-join parity test AND the doc-chunking
    parity test (boundary matches found exactly once)."""
    t = datagen.transcripts_df(spark, 400)
    ann = fused.parse_extract_annotate(assembly.with_turn_offsets(t), *default_dictionaries())
    ents = ner.split_mentions(fused.split_entities(ann))[0].cache()
    docs = assembly.doc_text_salted(t).cache()
    # tiny chunks (group=4 turns) force many boundaries on the fixture
    chunks = assembly.doc_chunks(t, group=4).cache()
    gzr = datagen.gazetteer_rows()
    a = _norm(bestmention.best_mentions(ents, chunks, gzr))
    b = _norm(bestmention.best_mentions_python(ents, docs, gzr))
    assert a.exceptAll(b).isEmpty(), "join-based+chunked ⊄ python+full-doc"
    assert b.exceptAll(a).isEmpty(), "python+full-doc ⊄ join-based+chunked"
    assert a.count() > 0


def test_doc_chunks_reassemble_to_doc_text(spark):
    """Stripping each chunk's overlap tail and joining with the separator
    reproduces doc_text exactly (offsets/keeps are consistent)."""
    t = datagen.transcripts_df(spark, 240)
    docs = {r.conv_id: r.doc_text for r in assembly.doc_text_salted(t).collect()}
    rows = assembly.doc_chunks(t, group=4).collect()
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, []).append(r)
    for conv, cs in by_conv.items():
        cs.sort(key=lambda r: r.chunk_off)
        own = [c.chunk_text[: c.keep_len - 1] for c in cs]
        assert "\n".join(own) == docs[conv], conv
        for c in cs:
            assert docs[conv][c.chunk_off : c.chunk_off + len(c.chunk_text)] == c.chunk_text
