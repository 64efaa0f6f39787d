"""Seeded input generators.

Everything a workload hands to the library is made here from the run's
``--seed``: the same seed gives byte-identical inputs. The shapes follow
the repository's synthetic TPC-H subset (``lineitem``) and its
``documents`` table (bag-of-words text), generated rather than read, so
the benchmark needs no data outside its checkout.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_FLAGS = np.array(["A", "N", "R"])
_FLAG_P = [0.25, 0.5, 0.25]
_STATUS = np.array(["F", "O"])
_COMMENT_WORDS = np.array(
    "carefully final deposits sleep furiously quickly bold requests "
    "ironic packages haggle blithely pending accounts unusual theodolites "
    "express pinto beans slyly regular ideas across the".split())
# 1992-01-01 .. 1998-12-01 as days since the epoch (the TPC-H ship window)
_DAY0, _DAY1 = 8035, 10561


def lineitem(rng: np.random.Generator, n_orders: int, first_key: int
             ) -> pa.Table:
    """``n_orders`` consecutive orders starting at ``first_key``, 1-7
    lines each, in order-key order (so files written from it carry tight
    ``l_orderkey`` ranges, as TPC-H dbgen output does)."""
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    okey = np.repeat(np.arange(first_key, first_key + n_orders,
                               dtype=np.int64), lines)
    lnum = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines)
            + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    day = np.repeat(rng.integers(_DAY0, _DAY1, n_orders), lines) \
        + rng.integers(1, 122, n)
    comment = [" ".join(w) for w in
               _COMMENT_WORDS[rng.integers(0, len(_COMMENT_WORDS),
                                           (n, 3))]]
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, 20_001, n),
        "l_suppkey": rng.integers(1, 1_001, n),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(_FLAGS, n, p=_FLAG_P),
        "l_linestatus": rng.choice(_STATUS, n),
        "l_shipdate": pa.array((day * 86_400_000_000).astype(
            "datetime64[us]")),
        "l_comment": comment,
    })


class DocStream:
    """Near-duplicate document stream with known ground truth.

    The document shape follows the repository's sf0.1 ``documents``
    table and its 10x model in ``tools/gen_sf1.py``:

    - word counts uniform on 10-99, as measured on sf0.1 (5000
      documents, every length from 10 to 99 held by 38-90 of them);
    - Zipf-like tokens: rank ``r`` of a 20 000-word vocabulary drawn
      with probability proportional to ``1 / (r + 2)``, as
      ``gen_sf1.py`` draws them, so common words and hot shingles
      exist (the sf0.1 table itself uses 31 words almost uniformly);
    - a duplicate rate drawn from the seed around ``gen_sf1.py``'s 8 %
      (6-10 %), split 5 : 3 between exact and near copies as there.

    A duplicate is an exact copy of an earlier document of the same
    batch or of a live corpus document, or a near copy of a live corpus
    document with one token appended (the ``gen_sf1.py`` edit). A near
    copy of a document with ``s >= 1`` distinct word-3-shingles keeps
    Jaccard of at least ``s / (s + 1) >= 0.5`` to its source (0.89 or
    more for 10+ distinct words), which ``cross_corpus_dedup``'s 0.5
    threshold catches, so the expected admission decision of
    every document is known in advance: fresh documents are admitted,
    duplicates are not.
    """

    VOCAB = 20_000
    MIN_WORDS, MAX_WORDS = 10, 99

    def __init__(self, rng: np.random.Generator, first_id: int = 0):
        self.rng = rng
        self.next_id = first_id
        self.dup_rate = float(rng.uniform(0.06, 0.10))
        self.vocab = np.array([f"w{i:05d}" for i in range(self.VOCAB)])
        p = 1.0 / (np.arange(self.VOCAB) + 2.0)
        self.cdf = np.cumsum(p / p.sum())
        self.generated = 0
        self.duplicates = 0

    def _tokens(self, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return self.vocab[np.minimum(idx, self.VOCAB - 1)]

    def _fresh_texts(self, n: int) -> "list[str]":
        lens = self.rng.integers(self.MIN_WORDS, self.MAX_WORDS + 1, n)
        toks = self._tokens(int(lens.sum()))
        ends = np.cumsum(lens)
        return [" ".join(toks[e - k:e]) for e, k in zip(ends, lens)]

    def fresh(self, n: int) -> pa.Table:
        """``n`` fresh documents (the seed corpus)."""
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return pa.table({"doc_id": ids, "text": self._fresh_texts(n)})

    def batch(self, n: int, live_texts: "list[str]"
              ) -> "tuple[pa.Table, np.ndarray]":
        """A batch of ``n`` docs drawing duplicates from ``live_texts``
        (the corpus as it stands). Returns the batch and a boolean mask
        of the documents expected to be admitted."""
        texts = self._fresh_texts(n)
        expect = self.rng.random(n) >= self.dup_rate
        # exact copy of an earlier batch doc / of a corpus doc, near copy
        kinds = self.rng.choice(3, n, p=[5 / 16, 5 / 16, 3 / 8])
        for i in np.flatnonzero(~expect):
            if kinds[i] == 0 and i > 0:
                texts[i] = texts[int(self.rng.integers(0, i))]
                continue
            texts[i] = live_texts[int(self.rng.integers(0,
                                                        len(live_texts)))]
            if kinds[i] == 2:
                texts[i] += " " + self._tokens(1)[0]
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        self.generated += n
        self.duplicates += int((~expect).sum())
        return pa.table({"doc_id": ids, "text": texts}), expect
