"""The fused pass's sentence rows must be row-identical to the
segmentation stage (operators/fused.py parity contract)."""

from docopenie_spark import datagen
from docopenie_spark.operators import assembly, fused, segment


def test_reconstructed_sentences_equal_direct(spark):
    """'s' rows carry only offset+length; split_sentences(annotated,
    turns) must reproduce the exact sentence text the segment path emits
    (sentences are exact substrings of the normalized turn text)."""
    from docopenie_spark.plans.pipeline import default_dictionaries

    t = datagen.transcripts_df(spark, 240)
    turns = assembly.with_turn_offsets(t)
    fn, gz, ln = default_dictionaries()
    ann = fused.parse_extract_annotate(turns, fn, gz, ln)
    rebuilt = fused.split_sentences(ann, turns)
    direct = segment.sentences(turns)
    assert rebuilt.exceptAll(direct).isEmpty(), "rebuilt ⊄ direct"
    assert direct.exceptAll(rebuilt).isEmpty(), "direct ⊄ rebuilt"
    assert rebuilt.count() == direct.count() > 0
    # inline-text mode still works without the turn table
    ann_t = fused.parse_extract_annotate(turns, fn, gz, ln, emit_sentence_text=True)
    inline = fused.split_sentences(ann_t)
    assert inline.exceptAll(direct).isEmpty() and direct.exceptAll(inline).isEmpty()
