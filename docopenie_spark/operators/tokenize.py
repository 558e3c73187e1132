"""Tokenize + POS + chunk + lemma (SURVEY.md §2.3 T3; reference
prep/KbpSentenceParser.scala:37-61 and repr/document/ParsedDocument.scala:74-94).

The reference uses OpenNLP chunker + ClearNLP parser + Morpha lemmatizer
(library models, not in its repo). We implement a deterministic
rule-based tagger/chunker with the coarse distinctions the extractors
need (verb groups, noun phrases, prepositions). It runs inside the
fused ``mapInArrow`` pass (operators/fused.py) — the Spark-native
replacement for the reference's grouped(100) + .par thread pool +
ThreadLocal models (prep/KbpSentenceParser.scala:26-31,73-76; SURVEY.md
§3 EP2).

Invariant kept from the reference (prep/ParsedKbpSentence.scala:18):
every token carries its char ``start`` in the sentence, and the chunk
array is aligned 1:1 with the token array.
"""

from __future__ import annotations

import re

_TOKEN_RE = re.compile(r"[A-Za-z0-9]+(?:['’][A-Za-z]+)?|[^\sA-Za-z0-9]")

DETERMINERS = {"the", "a", "an", "this", "that", "these", "those", "its"}
PRONOUNS_SUBJ = {"he", "she", "it", "they", "we", "i", "you", "who"}
PRONOUNS_OBJ = {"him", "her", "them", "us", "me"}
PRONOUNS_POSS = {"his", "hers", "their", "our", "my", "your", "mine", "ours", "theirs"}
PREPOSITIONS = {
    "of", "in", "on", "at", "by", "for", "with", "from", "to", "into", "over",
    "under", "after", "before", "during", "against", "between", "about", "as",
    "through", "across", "near", "within",
}
CONJUNCTIONS = {"and", "or", "but", "nor"}
MODALS = {"will", "would", "can", "could", "may", "might", "shall", "should", "must"}
COPULA = {"is": "VBZ", "are": "VBP", "was": "VBD", "were": "VBD", "be": "VB",
          "been": "VBN", "am": "VBP", "being": "VBG"}
HAVE = {"has": "VBZ", "have": "VBP", "had": "VBD", "having": "VBG"}
DO = {"does": "VBZ", "do": "VBP", "did": "VBD"}

# Verb lemma bank: common verbs incl. everything the datagen templates use
# and a general newswire-ish set. Forms are derived, not listed.
VERB_LEMMAS = {
    "say", "announce", "acquire", "open", "visit", "meet", "work", "live",
    "return", "review", "approve", "praise", "finish", "close", "buy", "sell",
    "found", "lead", "run", "join", "leave", "start", "launch", "report",
    "build", "sign", "win", "lose", "raise", "cut", "hire", "fire", "name",
    "appoint", "elect", "publish", "release", "move", "grow", "fall", "rise",
    "plan", "agree", "deny", "confirm", "reject", "accept", "serve", "own",
    "operate", "manage", "direct", "head", "create", "develop", "produce",
    "make", "take", "give", "get", "go", "come", "see", "know", "think",
    "want", "use", "call", "tell", "ask", "need", "become", "include", "vote",
}
_IRREGULAR_PAST = {
    "said": "say", "met": "meet", "found": "find", "led": "lead", "ran": "run",
    "left": "leave", "won": "win", "lost": "lose", "cut": "cut", "took": "take",
    "gave": "give", "got": "get", "went": "go", "came": "come", "saw": "see",
    "knew": "know", "thought": "think", "told": "tell", "became": "become",
    "made": "make", "grew": "grow", "fell": "fall", "rose": "rise", "built": "build",
}

NOUN_WHITELIST = {
    # common nouns that look verb-ish or appear sentence-initial capitalized
    "team", "report", "budget", "merger", "office", "lab", "plan", "audit",
    "deal", "query", "status", "regulators", "filing", "spring", "dollars",
    "tool", "president", "director", "chairman", "founder", "treasurer",
    "spokesman", "time", "week", "year",
}


def _verb_forms() -> dict[str, tuple[str, str]]:
    """lemma bank → {surface: (penn_tag, lemma)}."""
    out: dict[str, tuple[str, str]] = {}
    for v in VERB_LEMMAS:
        out[v] = ("VB", v)
        out[v + "s" if not v.endswith(("s", "sh", "ch")) else v + "es"] = ("VBZ", v)
        if v.endswith("e"):
            out[v + "d"] = ("VBD", v)
            out[v[:-1] + "ing"] = ("VBG", v)
        else:
            out[v + "ed"] = ("VBD", v)
            out[v + "ing"] = ("VBG", v)
    for past, lemma in _IRREGULAR_PAST.items():
        out[past] = ("VBD", lemma)
    return out


_VERB_FORMS = _verb_forms()
_VERB_TAGS = {"VB", "VBD", "VBZ", "VBP", "VBG", "VBN", "MD"}
_NP_TAGS = {"DT", "PRP", "PRP$", "JJ", "NN", "NNS", "NNP", "NNPS", "CD", "POS"}


def _tag_word(w: str, is_first: bool, prev_tag: str | None) -> tuple[str, str]:
    """(penn_tag, lemma) for one word token."""
    lw = w.lower()
    if w.isdigit():
        return "CD", w
    if lw in DETERMINERS:
        return "DT", lw
    if lw in PRONOUNS_POSS:
        return "PRP$", lw
    if lw in PRONOUNS_SUBJ or lw in PRONOUNS_OBJ:
        return "PRP", lw
    if lw in CONJUNCTIONS:
        return "CC", lw
    if lw in MODALS:
        return "MD", lw
    if lw in COPULA:
        return COPULA[lw], "be"
    if lw in HAVE:
        return HAVE[lw], "have"
    if lw in DO:
        return DO[lw], "do"
    if lw in PREPOSITIONS:
        return "IN", lw
    if w[0].isupper():
        # capitalized: proper noun unless sentence-initial AND a known
        # common word (noun/verb) in lowercase form
        if is_first and (lw in NOUN_WHITELIST):
            return "NN", lw
        if is_first and lw in _VERB_FORMS:
            t, lem = _VERB_FORMS[lw]
            return t, lem
        return "NNP", w
    if lw in _VERB_FORMS:
        # determiner/adjective context forces a noun reading ("the plan",
        # "the report") — resolves the systematic noun/verb ambiguity
        if prev_tag in {"DT", "PRP$", "JJ", "CD"}:
            return ("NNS" if lw.endswith("s") and not lw.endswith("ss") else "NN"), lw
        # participle after copula/have → VBN-ish; keep derived tag otherwise
        t, lem = _VERB_FORMS[lw]
        if t == "VBD" and prev_tag in {"VBZ", "VBP", "VBD", "VB", "VBN"}:
            return "VBN", lem
        return t, lem
    if lw in NOUN_WHITELIST:
        return "NNS" if lw.endswith("s") and not lw.endswith("ss") else "NN", lw
    if lw.endswith("ly"):
        return "RB", lw
    if lw.endswith("ing") and len(lw) > 5:
        return "VBG", lw[:-3]
    if lw.endswith("ed") and len(lw) > 4:
        return "VBD", lw[:-2]
    if lw.endswith("s") and not lw.endswith("ss") and len(lw) > 3:
        return "NNS", lw[:-1]
    return "NN", lw


def _chunk(tags: list[str], words: list[str]) -> list[str]:
    """BIO chunking aligned 1:1 with tokens (NP / VP / PP / O)."""
    out = []
    prev = "O"
    for i, t in enumerate(tags):
        if t in _NP_TAGS:
            kind = "NP"
        elif t in _VERB_TAGS or (t == "RB" and prev.endswith("VP")):
            kind = "VP"
        elif t == "IN" or (t == "TO"):
            kind = "PP"
        else:
            kind = "O"
        if kind == "O":
            out.append("O")
        elif prev.endswith(kind):
            # determiners start a fresh NP after a bare NP? no — keep inside
            out.append("I-" + kind)
        else:
            out.append("B-" + kind)
        prev = out[-1]
    return out


# token tuple layout — plain tuples instead of dicts: the tokenizer runs
# inside the fused hot loop where dict allocation is measurable memory
# traffic (the host's concurrency inflation is bandwidth-bound)
TOK, START, POS, CHUNK, LEMMA = range(5)


def tokenize_sentence(text: str) -> list[tuple]:
    """Deterministic tokenize+tag+chunk+lemma for one sentence.

    Returns aligned (token, start, pos, chunk, lemma) tuples (see
    TOK/START/POS/CHUNK/LEMMA); pure Python so unit tests and the
    extraction UDF share one implementation.
    """
    toks = [(m.group(), m.start()) for m in _TOKEN_RE.finditer(text)]
    words, starts = [t[0] for t in toks], [t[1] for t in toks]
    tags: list[str] = []
    lemmas: list[str] = []
    first_word = True
    for w in words:
        if not (w[0].isalnum()):
            tag, lemma = (w, w)  # punctuation tags itself (Penn style)
            if w == "'s":
                tag = "POS"
        else:
            tag, lemma = _tag_word(w, first_word, tags[-1] if tags else None)
            first_word = False
        tags.append(tag)
        lemmas.append(lemma)
    chunks = _chunk(tags, words)
    assert len(chunks) == len(words)  # ParsedKbpSentence.scala:18 invariant
    return list(zip(words, starts, tags, chunks, lemmas))
