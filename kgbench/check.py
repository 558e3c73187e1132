"""Correctness gate: every timed build's final table against the
independent imperative twin in ``tests/pipeline_twin.py``.

Both sides reduce their rows to the same order-independent digest: the
row count plus the sum, modulo 2**128, of a SHA-1 per canonicalised row.
Equal digests mean equal multisets (up to a 2**-128 collision chance).
The twin costs seconds per thousand turns, so its digest is cached on
disk per corpus, keyed by a hash of the twin, datagen and this module's
sources; a change to any of them recomputes it.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

TRIPLE_COLS = ["conv_id", "turn_idx", "sent_num", "subj", "pred", "obj",
               "subj_raw", "obj_raw", "confidence", "extractor"]
EVAL_DIFF_COLS = ["conv_id", "turn_idx", "sent_num", "comp_arg1", "rel",
                  "comp_arg2", "base_arg1", "base_arg2", "arg1_changed",
                  "arg2_changed", "extractor", "sentence_text"]

_MOD = 1 << 128


def _norm(v):
    # doubles compare to 9 decimals, as tests/test_pipeline_twin.py does
    return round(v, 9) if isinstance(v, float) else v


def row_key(row: dict, cols: list[str]) -> str:
    return json.dumps([_norm(row[c]) for c in cols], default=str)


def digest(rows, cols: list[str]) -> dict:
    n, acc = 0, 0
    for r in rows:
        h = hashlib.sha1(row_key(r, cols).encode()).digest()
        acc = (acc + int.from_bytes(h[:16], "big")) % _MOD
        n += 1
    return {"rows": n, "sum": format(acc, "032x")}


def _source_hash(root: Path) -> str:
    h = hashlib.sha1()
    for p in (root / "tests" / "pipeline_twin.py",
              root / "docopenie_spark" / "datagen.py",
              Path(__file__)):
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


class TwinGate:
    """Computes (or loads) the twin's digest for one corpus and compares
    a build's collected rows against it."""

    def __init__(self, root: Path, cache_dir: Path):
        self._root = root
        self._cache = cache_dir
        self._src = _source_hash(root)
        self.cache_hits = 0

    def _twin_digest(self, kind: str, corpus_path: str, n_turns: int,
                     seed: int) -> dict:
        key = f"{kind}-{n_turns}-{seed}-{self._src}"
        path = self._cache / f"{key}.json"
        if path.exists():
            self.cache_hits += 1
            return json.loads(path.read_text())
        import pandas as pd

        from docopenie_spark import datagen
        from pipeline_twin import _eval_diff, twin_pipeline

        pdf = pd.read_parquet(corpus_path, columns=["conv_id", "turn_idx", "text"])
        ed, gaz = datagen.entity_dict_rows(), datagen.gazetteer_rows()
        comp = twin_pipeline(pdf, ed, gaz)
        if kind == "triples":
            d = digest(comp["triples"], TRIPLE_COLS)
        else:
            base = twin_pipeline(pdf, ed, gaz, with_linking=False,
                                 with_coref_expansion=False)
            d = digest(_eval_diff(base["triples"], comp["triples"],
                                  comp["sentences"]), EVAL_DIFF_COLS)
        self._cache.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(json.dumps(d))
        tmp.replace(path)  # atomic: a killed run never leaves half a file
        return d

    def check(self, kind: str, got: dict, corpus_path: str, n_turns: int,
              seed: int) -> str | None:
        """``kind`` is "triples" or "eval_diff"; ``got`` the build's
        digest. Returns None when they agree, else a one-line reason."""
        want = self._twin_digest(kind, corpus_path, n_turns, seed)
        if got == want:
            return None
        return (f"{kind} differs from the pipeline twin on corpus seed {seed}: "
                f"spark {got['rows']} rows/{got['sum'][:12]}, "
                f"twin {want['rows']} rows/{want['sum'][:12]}")
