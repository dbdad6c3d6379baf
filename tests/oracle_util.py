"""Pure-pandas brute-force oracle used by the Spark test suites.

Independent re-derivation of the engine's semantics (shared tokenizer
core only — everything downstream recomputed the dumb way), plus the
reference BM25 spec (query.c:80-86) for query goldens.
"""

from __future__ import annotations

import collections
import math

import numpy as np
import pandas as pd

from invertedindexbuilder_spark import LEXICON_KEY_LEN
from invertedindexbuilder_spark.functions.bm25 import bm25 as bm25_np
from invertedindexbuilder_spark.functions.compress import decode_posting_list
from invertedindexbuilder_spark.functions.tokenize import tokenize_text
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src_pandas


class CorpusOracle:
    def __init__(self, n_docs: int, seed: int = 42):
        pdf = synthetic_docs_src_pandas(n_docs, seed)
        pdf["url"] = "http://" + pdf.repo + "/" + pdf.path + "#" + pdf["commit"]
        pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        pdf["doc_id"] = np.arange(len(pdf), dtype=np.int64)
        pdf["doc_len"] = pdf.url.str.len() + 1 + pdf.content.str.len()
        self.pdf = pdf
        self.postings: dict[str, dict[int, int]] = collections.defaultdict(dict)
        for r in pdf.itertuples():
            for t, tf in collections.Counter(tokenize_text(r.content)).items():
                self.postings[t][r.doc_id] = tf
        self.n_docs = len(pdf)
        # sum / (N - 1), a double division: +inf for a one-doc corpus
        self.d_avr = (
            float(pdf.doc_len.sum()) / (self.n_docs - 1)
            if self.n_docs > 1
            else math.inf
        )

    def postings_table(self) -> pd.DataFrame:
        rows = [
            (t, d, tf)
            for t, pl in self.postings.items()
            for d, tf in sorted(pl.items())
        ]
        return (
            pd.DataFrame(rows, columns=["term", "doc_id", "tf"])
            .sort_values(["term", "doc_id"])
            .reset_index(drop=True)
        )

    def topk(self, query_terms: list[str], mode: str, k: int, strict: bool = True):
        keyw: dict[str, int] = {}
        for t in query_terms:
            key = t[: LEXICON_KEY_LEN] if strict else t
            keyw[key] = keyw.get(key, 0) + 1
        sel: dict[str, tuple[str, int]] = {}
        for key, w in keyw.items():
            if strict:
                cands = sorted(u for u in self.postings if u[:LEXICON_KEY_LEN] == key)
            else:
                cands = [key] if key in self.postings else []
            if cands:
                sel[key] = (cands[-1], w)  # last in term order wins (D5)
        scores: dict[int, float] = collections.defaultdict(float)
        counts: dict[int, set] = collections.defaultdict(set)
        for key, (term, w) in sel.items():
            pl = self.postings[term]
            df = len(pl)
            for did, tf in pl.items():
                s = w * float(
                    bm25_np(tf, df, self.pdf.doc_len.iloc[did], self.n_docs, self.d_avr)
                )
                scores[did] += s
                counts[did].add(key)
        items = list(scores.items())
        if mode == "and":
            items = [(d, s) for d, s in items if len(counts[d]) == len(sel)]
        return sorted(items, key=lambda x: (-x[1], x[0]))[:k]


def decoded_lists(table) -> dict[str, tuple[list[int], list[int]]]:
    """term -> (doc_ids, tfs) decoded from a merged INDEX frame
    (``merge_chunks``) or an INDEX_CHUNK frame.  A chunk's first gap is
    absolute, so chunks decode alone and concatenate in first_doc_id
    order: both layouts compare directly."""
    chunked = "first_doc_id" in table.columns
    parts: dict[str, list] = collections.defaultdict(list)
    for r in table.collect():
        docs, tfs = decode_posting_list(
            bytes(r["payload"]),
            int(r["df"]),
            np.asarray(r["block_bytes"]),
            block_counts=np.asarray(r["block_counts"]),
        )
        first = r["first_doc_id"] if chunked else 0
        parts[r["term"]].append((first, docs.tolist(), tfs.tolist()))
    return {
        t: (
            [d for _, ds, _ in sorted(ps) for d in ds],
            [f for _, _, fs in sorted(ps) for f in fs],
        )
        for t, ps in parts.items()
    }
