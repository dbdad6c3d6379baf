"""Driver-local query session: <100 ms interactive top-k BM25 without
launching a Spark job (the analog of the reference's -q session,
query.c:29-300 — load once, then answer from memory + targeted reads).

Two exact pruning mechanisms over the block metadata:

- conjunctive: progressive intersection from the rarest list; for each
  further list only blocks whose doc range intersects the current
  candidate set are decoded (nextGEQ skipping, set-at-a-time —
  inverted_list.c:36-77 semantics without the cursor);
- disjunctive: BLOCK-MAX pruning in the spirit of Block-Max WAND
  (Ding & Suel, SIGIR 2011) — the north-star addition; the reference
  has docid skips only.  Light lists are decoded fully and
  seed a threshold theta = current k-th score; a heavy-list block is
  decoded only if its score upper bound (from the stored per-block
  max_tf and the corpus-wide min doc_len) could still lift a doc into
  the top-k, or if it contains an existing candidate (candidates must
  be scored EXACTLY, so their heavy postings are always fetched — this
  completion loop is what keeps pruning lossless).

Exactness (proved by tests/test_local_query.py against full-decode
scoring): a doc never decoded is in no light list and only in skipped
heavy blocks; for its best block, ub(block) + sum of other heavy
full-list ubs < theta bounds its total score below the k-th result.
"""

from __future__ import annotations

import bisect

import numpy as np
import pyarrow.parquet as pq

from invertedindexbuilder_spark import BM25_B, BM25_K1, LEXICON_KEY_LEN
from invertedindexbuilder_spark.functions.bm25 import bm25, d_avr, idf
from invertedindexbuilder_spark.functions.compress import decode_block_run
from invertedindexbuilder_spark.operators.query_exec import tokenize_query

HEAVY_QUERY_DF = 8192  # lists above this get block-max treatment in OR


def _merge_chunk_table(chunks):
    """pyarrow INDEX_CHUNK table -> merged one-row-per-term pyarrow-like
    table (driver-side twin of operators.index_build.merge_chunks, via
    the same _merge_sorted_frame)."""
    import pandas as pd
    import pyarrow as pa

    from invertedindexbuilder_spark.operators.index_build import (
        _merge_sorted_frame,
    )

    pdf = chunks.to_pandas()
    out = {k: [] for k in ("term", "df", "last_doc_ids", "block_bytes",
                           "block_counts", "max_tf", "payload")}
    for _term, grp in pdf.groupby("term", sort=False):
        m = _merge_sorted_frame(
            pd.DataFrame(grp).sort_values("first_doc_id")
        )
        for k in out:
            out[k].append(m[k])
    return pa.table(out)


class LocalIndex:
    """In-process view of the built tables (index/docs/stats parquet).

    Loads the doc-length array and the per-term metadata eagerly (the
    reference's 12 s query-prep step at MS MARCO scale); payloads are
    memory-resident here — at cluster scale the same session reads
    term rows on demand with a parquet term-range filter instead.
    """

    def __init__(self, index_root: str):
        import os

        from invertedindexbuilder_spark.catalog import resolve_table_path

        self.index_root = index_root  # for lazy docs-side reads (facets)

        def _p(name: str) -> str:
            # resolve generation pointers (tables.json) like Catalog does
            return resolve_table_path(index_root, name)

        if os.path.exists(_p("index")):
            t = pq.read_table(_p("index"))
        else:
            # chunk-only build (plans.build merged=False): assemble the
            # merged per-term view in driver memory — the whole point of
            # the local session is an index that FITS the driver, so the
            # concat the distributed plan avoids is fine here
            t = _merge_chunk_table(pq.read_table(_p("index_chunks")))
        self.terms: list[str] = t.column("term").to_pylist()
        order = np.argsort(self.terms)
        self.terms = [self.terms[i] for i in order]
        rows = {
            name: t.column(name).to_pylist()
            for name in ("df", "last_doc_ids", "block_bytes", "block_counts",
                         "max_tf", "payload")
        }
        self.rows = [
            {k: rows[k][i] for k in rows} | {"term": self.terms[j]}
            for j, i in enumerate(order)
        ]
        d = pq.read_table(_p("docs"), columns=["doc_id", "doc_len"])
        ids = np.asarray(d.column("doc_id"), dtype=np.int64)
        lens = np.asarray(d.column("doc_len"), dtype=np.int64)
        self.doc_len = np.zeros(int(ids.max()) + 1 if ids.size else 0, np.int64)
        self.doc_len[ids] = lens
        s = pq.read_table(_p("stats")).to_pylist()[0]
        self.n_docs = int(s["n_docs"])
        self.d_avr = d_avr(s["sum_doc_len"], self.n_docs)
        self.min_doc_len = int(lens.min()) if lens.size else 0
        self.blocks_decoded = 0  # instrumentation
        # logical deletions (plans/deletes.delete_docs): loaded once per
        # session like everything else; topk_local applies them by
        # default so a tombstoned doc can never surface from any CLI
        self.tombstones: np.ndarray | None = None
        tomb_path = _p("deleted_docs")
        if os.path.exists(tomb_path):
            tt = pq.read_table(tomb_path, columns=["doc_id"])
            if tt.num_rows:
                self.tombstones = np.sort(
                    np.asarray(tt.column("doc_id"), dtype=np.int64)
                )

    # -- lexicon lookup (Q2 + D5) --
    def lookup(self, term: str, strict: bool = True) -> dict | None:
        if strict:
            key = term[:LEXICON_KEY_LEN]
            lo = bisect.bisect_left(self.terms, key)
            hi = bisect.bisect_right(self.terms, key + "\x7f")
            match = [
                i for i in range(lo, hi)
                if self.terms[i][:LEXICON_KEY_LEN] == key
            ]
            return self.rows[match[-1]] if match else None  # last wins
        lo = bisect.bisect_left(self.terms, term)
        if lo < len(self.terms) and self.terms[lo] == term:
            return self.rows[lo]
        return None

    # -- block-level decode helpers --
    def _decode_blocks(self, row: dict, want: np.ndarray):
        """Decode the selected block indices of one list ->
        (doc_ids, tfs) concatenated.  Consecutive indices decode as
        RUNS — one varbyte pass per run (compress.decode_block_run),
        not one per block; a full-list decode is exactly one pass."""
        if want.size == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        bb = np.asarray(row["block_bytes"], dtype=np.int64)
        bc = np.asarray(row["block_counts"], dtype=np.int64)
        last = np.asarray(row["last_doc_ids"], dtype=np.int64)
        payload = bytes(row["payload"])
        offs = np.concatenate(([0], np.cumsum(bb)))
        self.blocks_decoded += int(want.size)
        span0, span1 = int(want[0]), int(want[-1])
        n_span = span1 - span0 + 1
        if want.size * 3 >= n_span:
            # dense selection: ONE decode of the whole span, then mask
            # off the unwanted blocks' rows — far cheaper than many
            # fragmented runs when BMW pruning leaves a gappy pattern
            d, t = decode_block_run(
                payload[offs[span0] : offs[span1 + 1]],
                bb[span0 : span1 + 1],
                bc[span0 : span1 + 1],
                prev_doc_id=int(last[span0 - 1]) if span0 > 0 else 0,
            )
            if want.size == n_span:
                return d, t
            keep_block = np.zeros(n_span, dtype=bool)
            keep_block[want - span0] = True
            keep = np.repeat(keep_block, bc[span0 : span1 + 1])
            return d[keep], t[keep]
        out_d, out_t = [], []
        cuts = np.flatnonzero(np.diff(want) != 1) + 1
        for run in np.split(want, cuts):
            b0, b1 = int(run[0]), int(run[-1])
            d, t = decode_block_run(
                payload[offs[b0] : offs[b1 + 1]],
                bb[b0 : b1 + 1],
                bc[b0 : b1 + 1],
                prev_doc_id=int(last[b0 - 1]) if b0 > 0 else 0,
            )
            out_d.append(d)
            out_t.append(t)
        return np.concatenate(out_d), np.concatenate(out_t)

    def decode_all(self, row: dict):
        n_blocks = len(row["block_bytes"])
        return self._decode_blocks(row, np.arange(n_blocks))

    def blocks_overlapping(self, row: dict, cand: np.ndarray) -> np.ndarray:
        """Indices of blocks whose doc range contains >= 1 candidate.
        Block b covers (last[b-1], last[b]] — metadata only, no decode."""
        last = np.asarray(row["last_doc_ids"], dtype=np.int64)
        lo = np.concatenate(([-1], last[:-1]))  # exclusive lower bound
        left = np.searchsorted(cand, lo + 1, side="left")
        right = np.searchsorted(cand, last, side="right")
        return np.flatnonzero(right > left)


def _score(li: LocalIndex, tfs, df):
    return lambda doc_ids, tfs_: bm25(
        tfs_, df, li.doc_len[doc_ids], li.n_docs, li.d_avr
    )


def _block_ubs(li: LocalIndex, row: dict) -> np.ndarray:
    """Per-block score upper bound from block-max tf.  Sound for
    negative IDF (df > N/2): every contribution is negative, so 0."""
    t_idf = float(idf(row["df"], li.n_docs))
    if t_idf <= 0:
        return np.zeros(len(row["max_tf"]))
    mt = np.asarray(row["max_tf"], dtype=np.float64)
    denom = BM25_K1 * ((1 - BM25_B) + BM25_B * li.min_doc_len / li.d_avr) + mt
    return t_idf * (BM25_K1 + 1.0) * mt / denom


def _drop_excluded(d: np.ndarray, t: np.ndarray, ex: np.ndarray | None):
    """Filter (doc_ids, tfs) against a SORTED excluded-id array at the
    decode site — applied before any score enters the accumulator, so
    the heavy-path theta pruning never sees an excluded doc and stays
    sound (the same reason the Spark paths force or_prune off)."""
    if ex is None or not d.size:
        return d, t
    pos = np.searchsorted(ex, d)
    hit = (pos < ex.size) & (ex[np.minimum(pos, ex.size - 1)] == d)
    if not hit.any():
        return d, t
    return d[~hit], t[~hit]


def _match_rows(
    li: LocalIndex, query: str, strict: bool = True
) -> list[tuple[dict, int]]:
    """Lexicon lookup shared by ranking and facets: (row, weight) per
    matched key (D5 collision winner, duplicate-term weights, unknown
    terms dropped), shortest-list-first (Q5)."""
    weights: dict[str, int] = {}
    for t in tokenize_query(query):
        key = t[:LEXICON_KEY_LEN] if strict else t
        weights[key] = weights.get(key, 0) + 1
    matched: list[tuple[dict, int]] = []
    seen = set()
    for key, w in weights.items():
        row = li.lookup(key, strict=strict)
        if row is not None and row["term"] not in seen:
            seen.add(row["term"])
            matched.append((row, w))
    matched.sort(key=lambda rw: rw[0]["df"])
    return matched


def topk_local(
    li: LocalIndex,
    query: str,
    mode: str = "and",
    k: int = 10,
    strict: bool = True,
    apply_tombstones: bool = True,
) -> list[tuple[int, float]]:
    """Exact top-k (doc_id, score), descending; ties to smaller doc_id.

    ``apply_tombstones``: exclude logically-deleted docs (the index's
    ``deleted_docs`` table, plans/deletes.py); stats stay as-indexed —
    identical semantics to the Spark paths' ``exclude_doc_ids``."""
    matched = _match_rows(li, query, strict)
    if not matched:
        return []

    ex = li.tombstones if apply_tombstones else None
    if mode == "and":
        return _conjunctive(li, matched, k, ex)
    if mode == "or":
        return _disjunctive(li, matched, k, ex)
    raise ValueError(mode)


def _dense_topk(scores: np.ndarray, mask: np.ndarray, k: int):
    """Exact top-k (score desc, doc_id asc) from the dense accumulator.
    argpartition prunes to the k-th-largest threshold in C before the
    (tie-complete) lexsort — the python-object dict sort this replaced
    was the single hottest line of the OR path (~77 ms of a 94 ms
    query at 1M docs)."""
    ids = np.flatnonzero(mask)
    if ids.size == 0:
        return []
    sc = scores[ids]
    if ids.size > k:
        kth = np.partition(sc, ids.size - k)[ids.size - k]
        keep = sc >= kth  # ties at the boundary stay in for exactness
        ids, sc = ids[keep], sc[keep]
    order = np.lexsort((ids, -sc))[:k]
    return [(int(ids[i]), float(sc[i])) for i in order]


def _dense_theta(scores: np.ndarray, mask: np.ndarray, k: int) -> float:
    """Current k-th best score (the BMW pruning threshold)."""
    ids = np.flatnonzero(mask)
    if ids.size < k:
        return -np.inf
    sc = scores[ids]
    return float(np.partition(sc, ids.size - k)[ids.size - k])


def _conjunctive(li, matched, k, ex=None):
    # leapfrog, set-at-a-time: rarest list seeds the candidates; each
    # further list is decoded only where its blocks overlap them
    cand, _ = li.decode_all(matched[0][0])
    cand, _unused = _drop_excluded(cand, cand, ex)
    for row, _w in matched[1:]:
        if cand.size == 0:
            return []
        d, _t = li._decode_blocks(row, li.blocks_overlapping(row, cand))
        cand = cand[np.isin(cand, d, assume_unique=True)]
    if cand.size == 0:
        return []
    # exact scoring: per-term tf restricted to the final candidates
    scores = np.zeros(cand.size, dtype=np.float64)
    for row, w in matched:
        d, t = li._decode_blocks(row, li.blocks_overlapping(row, cand))
        pos = np.searchsorted(d, cand)
        assert (d[pos] == cand).all()
        scores += w * bm25(t[pos], row["df"], li.doc_len[cand], li.n_docs, li.d_avr)
    order = np.lexsort((cand, -scores))[:k]
    return [(int(cand[i]), float(scores[i])) for i in order]


def _disjunctive(li, matched, k, ex=None):
    # dense accumulator sized like li.doc_len (same memory posture as
    # the session's resident doc-length array): per-posting updates are
    # one fancy-indexed add, never a python dict op per posting
    scores = np.zeros(li.doc_len.size, dtype=np.float64)
    mask = np.zeros(li.doc_len.size, dtype=bool)
    light = [(r, w) for r, w in matched if r["df"] <= HEAVY_QUERY_DF]
    heavy = [(r, w) for r, w in matched if r["df"] > HEAVY_QUERY_DF]

    for row, w in light:
        d, t = li.decode_all(row)
        d, t = _drop_excluded(d, t, ex)
        scores[d] += w * bm25(t, row["df"], li.doc_len[d], li.n_docs, li.d_avr)
        mask[d] = True

    if not heavy:
        return _dense_topk(scores, mask, k)

    ubs = [_block_ubs(li, r) for r, _ in heavy]
    full_ub = [float(u.max()) * w if u.size else 0.0 for (r, w), u in zip(heavy, ubs)]
    decoded: list[set] = [set() for _ in heavy]

    # candidate completion loop: candidates' heavy postings must all be
    # fetched; newly admitted docs may require blocks of OTHER heavy
    # lists, so iterate to a fixed point (<= len(heavy) rounds).
    while True:
        cand = np.flatnonzero(mask)
        theta = _dense_theta(scores, mask, k)
        grew = False
        for i, (row, w) in enumerate(heavy):
            others = sum(full_ub[: i]) + sum(full_ub[i + 1 :])
            want_ub = np.flatnonzero(w * ubs[i] + others >= theta)
            want_cand = li.blocks_overlapping(row, cand)
            want = [
                b
                for b in np.union1d(want_ub, want_cand).tolist()
                if b not in decoded[i]
            ]
            if not want:
                continue
            grew = True
            decoded[i].update(want)
            d, t = li._decode_blocks(row, np.array(want, dtype=np.int64))
            d, t = _drop_excluded(d, t, ex)
            scores[d] += w * bm25(
                t, row["df"], li.doc_len[d], li.n_docs, li.d_avr
            )
            mask[d] = True
        if not grew:
            break
    return _dense_topk(scores, mask, k)


def match_ids_local(
    li: LocalIndex,
    query: str,
    mode: str = "and",
    strict: bool = True,
    apply_tombstones: bool = True,
) -> np.ndarray:
    """Sorted doc_ids of the boolean match set (no scoring) — the
    driver-local twin of the match set inside query_exec.facet_counts.
    AND reuses the conjunctive leapfrog (rarest list seeds candidates,
    other lists decode candidate-overlapping blocks only); OR is the
    union of full decodes — facet counts are exact over the WHOLE
    match set, so there is no lossless pruning shortcut for OR."""
    matched = _match_rows(li, query, strict)
    if not matched:
        return np.empty(0, dtype=np.int64)
    if mode == "and":
        ids, _ = li.decode_all(matched[0][0])
        for row, _w in matched[1:]:
            if ids.size == 0:
                break
            d, _t = li._decode_blocks(row, li.blocks_overlapping(row, ids))
            ids = ids[np.isin(ids, d, assume_unique=True)]
    elif mode == "or":
        ids = np.unique(
            np.concatenate([li.decode_all(row)[0] for row, _w in matched])
        )
    else:
        raise ValueError(mode)
    ex = li.tombstones if apply_tombstones else None
    ids, _ = _drop_excluded(ids, ids, ex)
    return ids


def facet_counts_local(
    li: LocalIndex,
    query: str,
    facet_cols: list[str],
    mode: str = "and",
    top: int | None = None,
    strict: bool = True,
    apply_tombstones: bool = True,
) -> list[tuple]:
    """Facet distribution of the boolean match set from the local
    session — result-identical to query_exec.facet_counts over the
    same build root (pinned in tests/test_facet_counts.py): a list of
    (*facet values, n_docs) tuples, count desc then facet values asc.
    The facet columns read lazily from the build's docs table (one
    column-pruned parquet read per session call — facets are not part
    of the eagerly-loaded session state)."""
    import pandas as pd  # noqa: F401  (pyarrow.to_pandas dependency)

    from invertedindexbuilder_spark.catalog import resolve_table_path

    ids = match_ids_local(li, query, mode, strict, apply_tombstones)
    if ids.size == 0:
        return []
    fac = pq.read_table(
        resolve_table_path(li.index_root, "docs"),
        columns=["doc_id"] + list(facet_cols),
    ).to_pandas()
    fac = fac[fac["doc_id"].isin(ids)]
    # dropna=False (ADVICE r7): pandas' default silently drops null
    # facet groups while the Spark surface keeps a null group — the
    # surfaces must count identically on nullable facet columns
    counts = (
        fac.groupby(list(facet_cols), dropna=False)
        .size()
        .reset_index(name="n_docs")
    )
    counts = counts.sort_values(
        ["n_docs"] + list(facet_cols),
        ascending=[False] + [True] * len(facet_cols),
        # Spark's asc ordering places nulls FIRST; pandas defaults to
        # last — match the Spark surface for null facet groups
        na_position="first",
    )
    rows = [
        tuple(r[:-1]) + (int(r[-1]),)
        for r in counts.itertuples(index=False)
    ]
    return rows[:top] if top is not None else rows
