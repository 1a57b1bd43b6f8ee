"""Seeded benchmark inputs: the corpus parquet and the query streams.

Everything here is a pure function of the seed, so two runs with the
same seed feed the engine byte-identical inputs. The engine only ever
sees the generated parquet files and query strings.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from engine.ids import doc_id_py
from fixtures.gen_corpus import VOCAB, _VOCAB_BODY, _VOCAB_HOT, _zipf_probs, gen_corpus

STOPWORD_ONLY = "the and of"
# a term the generator never emits: exercises the unknown-term path
UNKNOWN_TERM = "quuxfrob"

# Popularity bands of the generator's zipfian vocabulary (stopwords and
# tokenizer edge cases left out): long, medium and short posting lists.
_WORDS = [w for w in _VOCAB_HOT + _VOCAB_BODY if w not in ("the", "and", "for")]
BANDS = {"hot": _WORDS[:5], "mid": _WORDS[5:40], "tail": _WORDS[40:]}

# Interactive query slots: (hot, mid, tail) term counts, or a literal
# query. Fixed shapes keep the latency mix the same for every seed.
SLOTS = [(1, 1, 0), (0, 2, 0), (0, 1, 1), (2, 1, 0), (0, 0, 2), (0, 3, 1),
         STOPWORD_ONLY, (1, 2, 2), (0, 0, 1), UNKNOWN_TERM]
# one closed-loop cycle: slot 0 is the popular, repeated query
CYCLE = [0, 0, 2, 4, 6, 9]


def write_corpus(pdf: pd.DataFrame, out_dir: str, n_files: int) -> str:
    """Write ``pdf`` as ``n_files`` parquet files under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    step = (len(pdf) + n_files - 1) // n_files
    for i in range(n_files):
        part = pdf.iloc[i * step:(i + 1) * step]
        if len(part):
            pq.write_table(
                pa.Table.from_pandas(part, preserve_index=False),
                os.path.join(out_dir, f"part-{i:03d}.parquet"),
            )
    return out_dir


def make_corpus(n_base: int, n_delta: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Base corpus A and a disjoint delta B (paths carry the row index,
    so every generated doc has a distinct doc_id), each with a
    ``doc_id`` column computed the way the engine computes it."""
    pdf = gen_corpus(n_base + n_delta, seed)
    pdf["doc_id"] = [
        doc_id_py(r, p, c) for r, p, c in zip(pdf["repo"], pdf["path"], pdf["commit"])
    ]
    return pdf.iloc[:n_base].reset_index(drop=True), pdf.iloc[n_base:].reset_index(drop=True)


def content_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["content"].str.encode("utf-8").str.len().sum())


# Query texts come from this fixed seed and only their order from the
# run's seed: with texts drawn per seed, which terms a seed happened to
# draw moved the medians between seeds by more than run-to-run noise.
TEXT_SEED = 20260101


class QueryGen:
    """Query streams over the corpus vocabulary: fixed texts, seeded order."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed + 7919)
        self.text_rng = np.random.default_rng(TEXT_SEED)
        self.probs = _zipf_probs(len(VOCAB))

    def _pick(self, band: str, n: int) -> list[str]:
        return self.text_rng.choice(BANDS[band], size=n, replace=False).tolist()

    def interactive_pool(self) -> list[str]:
        pool = []
        for shape in SLOTS:
            if isinstance(shape, str):
                pool.append(shape)
            else:
                terms = [t for band, n in zip(BANDS, shape) for t in self._pick(band, n)]
                pool.append(" ".join(self.text_rng.permutation(terms).tolist()))
        return pool

    def interactive_cycle(self, pool: list[str]) -> list[str]:
        """One closed-loop cycle over the pool, in a seeded order."""
        return [pool[i] for i in self.rng.permutation(CYCLE)]

    def refresh_query(self) -> str:
        return " ".join(self._pick("hot", 1) + self._pick("tail", 1))

    def batch(self, size: int) -> dict[str, str]:
        """``size`` distinct queries of 1-5 zipf-drawn terms, each
        length equally often, in a seeded order."""
        qs: list[str] = []
        while len(qs) < size:
            n = 1 + len(qs) % 5
            q = " ".join(self.text_rng.choice(VOCAB, size=n, p=self.probs, replace=False).tolist())
            if q not in qs:
                qs.append(q)
        return {f"q{i:04d}": qs[j] for i, j in enumerate(self.rng.permutation(size))}
