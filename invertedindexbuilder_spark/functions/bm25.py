"""BM25 scoring, exact reference semantics (query.c:80-86).

score(term, doc) = log2((N - df + 0.5) / (df + 0.5))
                   * (k1 + 1) * tf / (k1 * ((1 - b) + b * |d| / d_avr) + tf)

with k1 = 1.2, b = 0.75 (query.c:82-83) and the reference's quirks
(SURVEY §2 Q8, all verified to 6 printed decimals against the binary):

- ``N``    = total number of documents (query.c:47)
- ``d_avr`` = sum(doc_len) / (N - 1)   — note N-1, a reference quirk
  (query.c:48); +inf when N = 1
- ``df``   = posting-list length of the term
- ``|d|``  = the reference's ``size_of_doc`` = len(url) + 1 + len(body)
- IDF may be NEGATIVE (df > N/2); there is no floor
- duplicate query terms are scored once per occurrence (x multiplicity)
"""

from __future__ import annotations

import numpy as np

from invertedindexbuilder_spark import BM25_B, BM25_K1


def idf(df, n_docs: int) -> np.ndarray:
    """log2 IDF, no floor (negative allowed)."""
    df = np.asarray(df, dtype=np.float64)
    return np.log2((n_docs - df + 0.5) / (df + 0.5))


def bm25(tf, df, doc_len, n_docs: int, d_avr: float) -> np.ndarray:
    """Vectorized per-(term, doc) BM25 contribution (float64, same
    doubles as the C formula evaluated left-to-right)."""
    tf = np.asarray(tf, dtype=np.float64)
    doc_len = np.asarray(doc_len, dtype=np.float64)
    k = BM25_K1 * ((1.0 - BM25_B) + BM25_B * doc_len / d_avr)
    return idf(df, n_docs) * (BM25_K1 + 1.0) * tf / (k + tf)


def d_avr(sum_doc_len: int, n_docs: int) -> float:
    """Reference average doc length: sum / (N - 1) (query.c:48).

    A one-document corpus divides by zero; like the reference's double
    division it yields IEEE +inf, so |d| / d_avr is 0 and the length
    normalisation reduces to k1 * (1 - b).  Every serving surface gets
    d_avr from here."""
    if n_docs == 1:
        return float("inf")
    return float(sum_doc_len) / float(n_docs - 1)
