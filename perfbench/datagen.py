"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(seed, stream)``: the same seed gives
the same corpus, append batches, delete sets and query streams, and the
engine under test only ever sees the generated tables and strings.

The documents are the engine's own synthetic source-code corpus
(``synspark.corpus``, the rows ``generate_corpus`` yields), taken over a
window of row ids the seed chooses and renumbered to dense local
``doc_id``s. Only the query stream, the delete sets and the injected
dedup clones are generated here.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from synspark.corpus import _VOCAB, _gen_batch

# the seed's corpus window starts at seed * WINDOW; the base corpus, the
# append batches and the probe's own batch all lie inside it
WINDOW = 1_000_000
PROBE_OFFSET = WINDOW // 2

TWO_CHAR_WORDS = [w for w in _VOCAB if len(w) == 2 and w.isalpha()]

SYNONYMS = "あ,かき\n東京,とうきょう\ndata,info\nsort,order"

# unseen words: CJK ideographs, which the corpus has almost none of
CJK_BASE, CJK_SPAN = 0x4E00, 0x5000
MAX_POOL_WORD = 32

_WORD = re.compile(r"\w+")

# stream ids: one independent random stream per input kind
_DELETE, _QUERY, _CLONES, CHECKS = range(4)


def rng(seed: int, stream: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index])


def corpus(seed: int, n_docs: int, offset: int = 0) -> pd.DataFrame:
    """``n_docs`` corpus rows from id ``seed * WINDOW + offset`` on, with
    dense local ``doc_id`` 0..n-1."""
    start = seed * WINDOW + offset
    pdf = _gen_batch(np.arange(start, start + n_docs, dtype=np.int64))
    pdf = pdf.drop(columns="row_id")
    pdf.insert(0, "doc_id", np.arange(n_docs, dtype=np.int64))
    return pdf


def append_batch(seed: int, n_base: int, i: int, n_docs: int) -> pd.DataFrame:
    """The ``i``-th append batch of the ingest stream: the rows right
    after the base corpus and the earlier batches."""
    return corpus(seed, n_docs, offset=n_base + i * n_docs)


def delete_set(seed: int, i: int, live: np.ndarray, n: int) -> list[int]:
    """``n`` distinct ids drawn from the currently ``live`` ids."""
    r = rng(seed, _DELETE, i)
    return sorted(int(x) for x in r.choice(live, size=n, replace=False))


EXACT_CLONE, NEAR_CLONE = 1_000_000, 2_000_000    # clone id offsets


def with_clones(docs: pd.DataFrame, seed: int, n_exact: int,
                n_near: int) -> pd.DataFrame:
    """``(doc_id, text)`` with injected exact clones (id + EXACT_CLONE) and
    near clones (three words appended, id + NEAR_CLONE) of seeded docs."""
    r = rng(seed, _CLONES)
    base = docs[["doc_id", "content"]].rename(columns={"content": "text"})
    ex = base.iloc[r.choice(len(base), n_exact, replace=False)].copy()
    ex["doc_id"] += EXACT_CLONE
    nr = base.iloc[r.choice(len(base), n_near, replace=False)].copy()
    nr["doc_id"] += NEAR_CLONE
    nr["text"] = nr["text"] + " zq zq zq"
    return pd.concat([base, ex, nr], ignore_index=True)


class QueryStream:
    """Seeded query texts drawn from words of the corpus itself."""

    def __init__(self, docs: pd.DataFrame, seed: int, pool_size: int = 400):
        self.r = rng(seed, _QUERY)
        self.docs = [d.split() for d in docs["content"]]
        self.long_docs = [ws for ws in self.docs if len(ws) >= 2]
        sample = self.r.choice(len(self.docs), min(len(self.docs), 300),
                               replace=False)
        pool = sorted({w for i in sample for w in self.docs[i]
                       if len(w) <= MAX_POOL_WORD})
        pool = np.array(pool, dtype=object)[self.r.permutation(len(pool))]
        self.pool = pool[:pool_size]
        ranks = np.arange(1, len(self.pool) + 1, dtype=float)
        self.weights = ranks ** -1.1 / (ranks ** -1.1).sum()

    def words(self, n: int) -> list[str]:
        """``n`` Zipf-skewed words from the pool (terms repeat)."""
        return list(self.r.choice(self.pool, size=n, p=self.weights))

    def text(self, n: int) -> str:
        return " ".join(self.words(n))

    def phrase(self, n: int = 2, safe: bool = False) -> list[str]:
        """``n`` adjacent words from a seeded document (so it matches);
        ``safe`` ones hold only word characters, for query_string."""
        while True:
            ws = self.long_docs[int(self.r.integers(len(self.long_docs)))]
            if len(ws) < n:
                continue
            at = int(self.r.integers(0, len(ws) - n + 1))
            out = ws[at:at + n]
            if not safe or all(_WORD.fullmatch(x) for x in out):
                return out

    def safe_word(self) -> str:
        while True:
            w = self.words(1)[0]
            if _WORD.fullmatch(w):
                return w

    def unseen_text(self) -> str:
        """One unseen word (three random CJK ideographs: terms the run has
        not asked for before) plus one pool word."""
        cjk = "".join(map(chr, CJK_BASE + self.r.integers(0, CJK_SPAN, 3)))
        return f"{cjk} {self.words(1)[0]}"
