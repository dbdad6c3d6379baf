"""Spec oracle for result checks: ``tests/oracle_util.CorpusOracle`` with
a vectorized ``topk``, documents appended the way a fold numbers them,
and tombstones.

The parent class scores one posting at a time in Python (about half a
second per query on the stopword at 10k docs), which would make result
checking most of a run.  ``topk`` here applies the same term selection
and the same BM25 formula to whole posting lists with NumPy, adding
each term's contributions in the same order; perfbench/tests pins it to
the parent's answers.
"""

from __future__ import annotations

import collections

import numpy as np
import pandas as pd

from invertedindexbuilder_spark import LEXICON_KEY_LEN
from invertedindexbuilder_spark.functions.bm25 import bm25 as bm25_np
from invertedindexbuilder_spark.functions.tokenize import tokenize_text
from tests.oracle_util import CorpusOracle


class Oracle(CorpusOracle):
    def __init__(self, n_docs: int, seed: int):
        super().__init__(n_docs, seed)
        self._reindex()

    def _reindex(self) -> None:
        self._doc_len = self.pdf.doc_len.to_numpy(np.int64)
        self._lists: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        # strict lookup: the byte-wise last term of each 14-char key (D5)
        self._last: dict[str, str] = {}
        for t in self.postings:
            key = t[:LEXICON_KEY_LEN]
            if t > self._last.get(key, ""):
                self._last[key] = t

    def extend(self, src: pd.DataFrame) -> None:
        """Append ``src`` (docs_src rows) as ``plans.build.compact`` does:
        ids continue after the last one in (repo, path, commit) order,
        and N and the average doc length take in the new documents."""
        pdf = src.copy()
        pdf["url"] = "http://" + pdf.repo + "/" + pdf.path + "#" + pdf["commit"]
        pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        pdf["doc_id"] = np.arange(self.n_docs, self.n_docs + len(pdf), dtype=np.int64)
        pdf["doc_len"] = pdf.url.str.len() + 1 + pdf.content.str.len()
        for r in pdf.itertuples():
            for t, tf in collections.Counter(tokenize_text(r.content)).items():
                self.postings[t][r.doc_id] = tf
        self.pdf = pd.concat([self.pdf, pdf], ignore_index=True)
        self.n_docs = len(self.pdf)
        self.d_avr = float(self.pdf.doc_len.sum()) / (self.n_docs - 1)
        self._reindex()

    @property
    def n_terms(self) -> int:
        return len(self.postings)

    @property
    def n_postings(self) -> int:
        return sum(len(pl) for pl in self.postings.values())

    @property
    def content_bytes(self) -> int:
        return int(self.pdf.content.str.len().sum())

    def _list(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        if term not in self._lists:
            pl = self.postings[term]
            self._lists[term] = (
                np.fromiter(pl.keys(), np.int64, len(pl)),
                np.fromiter(pl.values(), np.int64, len(pl)),
            )
        return self._lists[term]

    def topk(self, query_terms: list[str], mode: str, k: int, strict: bool = True,
             exclude=()):
        """The parent's top k; ``exclude`` holds tombstoned ids, dropped
        after scoring as the serving paths drop them."""
        keyw: dict[str, int] = {}
        for t in query_terms:
            key = t[:LEXICON_KEY_LEN] if strict else t
            keyw[key] = keyw.get(key, 0) + 1
        sel: list[tuple[str, int]] = []
        for key, w in keyw.items():
            term = self._last.get(key) if strict else (key if key in self.postings else None)
            if term is not None:
                sel.append((term, w))
        scores = np.zeros(self.n_docs)
        hits = np.zeros(self.n_docs, np.int64)
        for term, w in sel:
            ids, tfs = self._list(term)
            scores[ids] += w * bm25_np(
                tfs, len(ids), self._doc_len[ids], self.n_docs, self.d_avr
            )
            hits[ids] += 1
        keep = hits == len(sel) if mode == "and" else hits > 0
        if not sel:
            keep[:] = False
        keep[list(exclude)] = False
        ids = np.flatnonzero(keep)
        order = np.lexsort((ids, -scores[ids]))[:k]
        return [(int(ids[i]), float(scores[ids[i]])) for i in order]
