"""Driver-local query session: <100 ms interactive top-k BM25 without
launching a Spark job (the analog of the reference's -q session,
query.c:29-300 — load once, then answer from memory + targeted reads).
The session loads the serving chunk table (index_chunks) into flat
columns (LocalIndex).

Two exact pruning mechanisms over the block metadata:

- conjunctive: progressive intersection from the rarest list; for each
  further list only blocks whose doc range intersects the current
  candidate set are decoded (nextGEQ skipping, set-at-a-time —
  inverted_list.c:36-77 semantics without the cursor); the tfs decoded
  there score the final candidates, so no block is decoded twice;
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

Both modes select their top k the same way (``_topk``): a partition
keeps the scores >= the k-th largest, ties included, and only those
are sorted.

Result cache: a ``LocalIndex`` is an immutable snapshot (a fold or a
delete publishes new tables, read by a new ``LocalIndex``), so it keeps
its answers in a bounded LRU (``RESULT_CACHE_ENTRIES``) that lives and
dies with it; no invalidation protocol is needed.  ``topk_local`` looks
a query up after the lexicon lookup and before any decode, keyed by the
matched (term, weight) pairs in the order the scorer consumes them plus
(mode, k, apply_tombstones): the D5 winner, ``strict`` and duplicate
weights are resolved in the key, and identical keys sum identical
floats, so a hit is bit-identical to a recomputation.  A hit decodes
no block.  Reassigning ``tombstones`` drops the cache.
"""

from __future__ import annotations

import bisect
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from invertedindexbuilder_spark import BM25_B, BM25_K1, LEXICON_KEY_LEN
from invertedindexbuilder_spark.functions.bm25 import bm25, d_avr, idf
from invertedindexbuilder_spark.functions.compress import decode_block_run
from invertedindexbuilder_spark.operators.query_exec import (
    HEAVY_QUERY_DF,
    _key_weights,
    tokenize_query,
)


# Result-cache bound, in entries.  Measured with tracemalloc over 58
# cached pool queries on a 10k-doc index: 1.6 KB per entry at k=10
# (about 0.55 KB of key and LRU bookkeeping plus 0.12 KB per returned
# (doc_id, score) row), so a full cache of k=10 answers holds ~1.6 MB;
# a deep k grows each entry by its rows.
RESULT_CACHE_ENTRIES = 1024


def _offsets(counts) -> np.ndarray:
    """Per-row counts -> int64 start offsets, plus the total at the end."""
    return np.concatenate(([0], np.cumsum(np.asarray(counts, np.int64))))


class LocalIndex:
    """In-process view of the built tables (index_chunks/docs/stats,
    plus deleted_docs when present), loaded eagerly (the reference's
    12 s query-prep step at MS MARCO scale).

    The chunk table is held as flat columns: the sorted term list,
    per-term offsets into per-block arrays (last doc id, byte size,
    posting count, max tf, delta-chain base) and one payload buffer
    with per-block byte offsets.  A term's chunks are consecutive block
    runs in first_doc_id order, so one-chunk, salted and folded terms
    take one path.  Payloads are memory-resident here — at cluster
    scale the same session reads term rows on demand with a parquet
    term-range filter instead.

    A session serves one thread: its result cache and counters are not
    synchronised.
    """

    def __init__(self, index_root: str):
        import os

        from invertedindexbuilder_spark.catalog import resolve_table_path

        self.index_root = index_root  # for lazy docs-side reads (facets)

        def _p(name: str) -> str:
            # resolve generation pointers (tables.json) like Catalog does
            return resolve_table_path(index_root, name)

        # Arrow orders strings by UTF-8 bytes = code points, the order
        # bisect sees on the Python term list
        t = pq.read_table(_p("index_chunks")).sort_by(
            [("term", "ascending"), ("first_doc_id", "ascending")]
        )
        names = np.asarray(t.column("term").to_pylist(), dtype=object)
        new_term = np.ones(names.size, dtype=bool)
        new_term[1:] = names[1:] != names[:-1]
        term_rows = np.append(np.flatnonzero(new_term), names.size)
        self.terms: list[str] = names[term_rows[:-1]].tolist()
        row_blk = _offsets(pc.list_value_length(t.column("max_tf")))
        self._term_blk = row_blk[term_rows]
        self._df = np.diff(_offsets(t.column("df"))[term_rows])
        self._last, self._bb, self._bc, self._mtf = (
            pc.list_flatten(t.column(c)).to_numpy().astype(np.int64)
            for c in ("last_doc_ids", "block_bytes", "block_counts", "max_tf")
        )
        self._boff = _offsets(self._bb)
        pay = t.column("payload").combine_chunks().cast(pa.large_binary())
        lo, hi = np.frombuffer(pay.buffers()[1], np.int64)[
            [pay.offset, pay.offset + len(pay)]]
        self._payload = np.frombuffer(pay.buffers()[2], np.uint8)[lo:hi]
        # delta-chain base per block: the previous block's last doc, or
        # 0 where a chunk starts (a chunk's first gap is absolute).  A
        # run decoded in one pass across chunk starts adds each start's
        # previous last doc to every later posting; ``_shift``
        # accumulates those, so the run corrects by one subtraction
        chunk_start = np.zeros(self._last.size, dtype=bool)
        chunk_start[row_blk[:-1]] = True
        prev_last = np.concatenate(([0], self._last[:-1]))
        self._base = np.where(chunk_start, 0, prev_last)
        self._shift = np.cumsum(np.where(chunk_start, prev_last, 0))

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
        self.cache_hits = 0
        self._results: OrderedDict = OrderedDict()  # key -> top-k tuple
        # logical deletions (plans/deletes.delete_docs): loaded once per
        # session like everything else; topk_local applies them by
        # default so a tombstoned doc can never surface from any CLI
        self.tombstones = None
        tomb_path = _p("deleted_docs")
        if os.path.exists(tomb_path):
            tt = pq.read_table(tomb_path, columns=["doc_id"])
            if tt.num_rows:
                self.tombstones = np.sort(
                    np.asarray(tt.column("doc_id"), dtype=np.int64)
                )

    @property
    def tombstones(self) -> np.ndarray | None:
        """Sorted excluded doc ids, or None."""
        return self._tombstones

    @tombstones.setter
    def tombstones(self, ids: np.ndarray | None) -> None:
        # cached answers were computed against the old exclusions
        self._tombstones = ids
        self.clear_results()

    def clear_results(self) -> None:
        """Drop every cached top-k answer."""
        self._results.clear()

    # -- lexicon lookup (Q2 + D5) --
    def lookup(self, term: str, strict: bool = True) -> dict | None:
        """The term's row: term, df, first block index ``lo`` and its
        per-block arrays over all of its chunks."""
        if strict:
            key = term[:LEXICON_KEY_LEN]
            lo = bisect.bisect_left(self.terms, key)
            hi = bisect.bisect_right(self.terms, key + "\x7f")
            match = [
                i for i in range(lo, hi)
                if self.terms[i][:LEXICON_KEY_LEN] == key
            ]
            return self._row(match[-1]) if match else None  # last wins
        lo = bisect.bisect_left(self.terms, term)
        if lo < len(self.terms) and self.terms[lo] == term:
            return self._row(lo)
        return None

    def _row(self, i: int) -> dict:
        lo, hi = int(self._term_blk[i]), int(self._term_blk[i + 1])
        return {"term": self.terms[i], "df": int(self._df[i]), "lo": lo,
                "last_doc_ids": self._last[lo:hi],
                "block_bytes": self._bb[lo:hi], "max_tf": self._mtf[lo:hi]}

    # -- block-level decode helpers --
    def _decode_run(self, b0: int, b1: int):
        """Global blocks b0..b1 of one term -> (doc_ids, tfs) with ONE
        varbyte pass (compress.decode_block_run), corrected where the
        run crosses chunk starts."""
        bc = self._bc[b0 : b1 + 1]
        d, t = decode_block_run(
            self._payload[self._boff[b0] : self._boff[b1 + 1]],
            self._bb[b0 : b1 + 1], bc, prev_doc_id=int(self._base[b0]),
        )
        if self._shift[b1] != self._shift[b0]:
            d -= np.repeat(self._shift[b0 : b1 + 1] - self._shift[b0], bc)
        return d, t

    def _decode_blocks(self, row: dict, want: np.ndarray):
        """Decode the selected block indices of one list ->
        (doc_ids, tfs) concatenated.  Consecutive indices decode as
        RUNS — one varbyte pass per run, not one per block; a
        full-list decode is exactly one pass."""
        if want.size == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        self.blocks_decoded += int(want.size)
        want = want + row["lo"]
        span0, span1 = int(want[0]), int(want[-1])
        n_span = span1 - span0 + 1
        if want.size * 3 >= n_span:
            # dense selection: ONE decode of the whole span, then mask
            # off the unwanted blocks' rows — far cheaper than many
            # fragmented runs when BMW pruning leaves a gappy pattern
            d, t = self._decode_run(span0, span1)
            if want.size == n_span:
                return d, t
            keep_block = np.zeros(n_span, dtype=bool)
            keep_block[want - span0] = True
            keep = np.repeat(keep_block, self._bc[span0 : span1 + 1])
            return d[keep], t[keep]
        cuts = np.flatnonzero(np.diff(want) != 1) + 1
        runs = [self._decode_run(int(r[0]), int(r[-1]))
                for r in np.split(want, cuts)]
        return (np.concatenate([d for d, _ in runs]),
                np.concatenate([t for _, t in runs]))

    def decode_all(self, row: dict):
        n_blocks = len(row["block_bytes"])
        return self._decode_blocks(row, np.arange(n_blocks))

    def blocks_overlapping(self, row: dict, cand: np.ndarray) -> np.ndarray:
        """Indices of blocks whose doc range contains >= 1 candidate.
        Block b covers (last[b-1], last[b]] — metadata only, no decode."""
        last = row["last_doc_ids"]
        lo = np.concatenate(([-1], last[:-1]))  # exclusive lower bound
        left = np.searchsorted(cand, lo + 1, side="left")
        right = np.searchsorted(cand, last, side="right")
        return np.flatnonzero(right > left)


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
    matched: list[tuple[dict, int]] = []
    seen = set()
    for key, w in _key_weights(tokenize_query(query), strict).items():
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
    identical semantics to the Spark paths' ``exclude_doc_ids``.

    Answers are cached on ``li`` (module docstring): a repeated query
    returns a fresh list of the same tuples and decodes no block."""
    matched = _match_rows(li, query, strict)
    if not matched or k == 0:
        return []

    key = (tuple((row["term"], w) for row, w in matched), mode, k,
           apply_tombstones)
    cache = li._results
    hit = cache.get(key)
    if hit is not None:
        cache.move_to_end(key)
        li.cache_hits += 1
        return list(hit)

    ex = li.tombstones if apply_tombstones else None
    if mode == "and":
        res = _conjunctive(li, matched, k, ex)
    elif mode == "or":
        res = _disjunctive(li, matched, k, ex)
    else:
        raise ValueError(mode)
    cache[key] = tuple(res)
    if len(cache) > RESULT_CACHE_ENTRIES:
        cache.popitem(last=False)  # least recently used
    return res


def _topk(ids: np.ndarray, sc: np.ndarray, k: int):
    """Exact top-k (score desc, doc_id asc) of aligned (ids, scores).
    A partition in C keeps the scores >= the k-th largest (ties at the
    boundary stay in for exactness), so the lexsort sorts only those,
    not every candidate."""
    if 0 < k < ids.size:
        kth = np.partition(sc, ids.size - k)[ids.size - k]
        keep = sc >= kth
        ids, sc = ids[keep], sc[keep]
    order = np.lexsort((ids, -sc))[:k]
    return [(int(ids[i]), float(sc[i])) for i in order]


def _dense_topk(scores: np.ndarray, mask: np.ndarray, k: int):
    """Exact top-k from the dense accumulator's touched docs."""
    ids = np.flatnonzero(mask)
    return _topk(ids, scores[ids], k)


def _dense_theta(scores: np.ndarray, mask: np.ndarray, k: int) -> float:
    """Current k-th best score (the BMW pruning threshold)."""
    ids = np.flatnonzero(mask)
    if ids.size < k:
        return -np.inf
    sc = scores[ids]
    return float(np.partition(sc, ids.size - k)[ids.size - k])


def _leapfrog(li, matched, ex=None):
    """AND match set, set-at-a-time: the rarest list seeds the
    candidates; each further list decodes only the blocks overlapping
    them.  -> (sorted candidate doc_ids, per matched list the tfs at
    those candidates), every block decoded at most once."""
    cand, tf = _drop_excluded(*li.decode_all(matched[0][0]), ex)
    tfs = [tf]
    for row, _w in matched[1:]:
        if cand.size == 0:
            break
        d, t = li._decode_blocks(row, li.blocks_overlapping(row, cand))
        pos = np.searchsorted(d, cand)
        hit = pos < d.size
        hit[hit] = d[pos[hit]] == cand[hit]
        cand = cand[hit]
        tfs = [x[hit] for x in tfs] + [t[pos[hit]]]
    return cand, tfs


def _conjunctive(li, matched, k, ex=None):
    cand, tfs = _leapfrog(li, matched, ex)
    if cand.size == 0:
        return []
    # exact scoring from the tfs the intersection already decoded
    scores = np.zeros(cand.size, dtype=np.float64)
    for (row, w), tf in zip(matched, tfs):
        scores += w * bm25(tf, row["df"], li.doc_len[cand], li.n_docs, li.d_avr)
    return _topk(cand, scores, k)


def _disjunctive(li, matched, k, ex=None):
    # dense accumulator sized like li.doc_len (same memory posture as
    # the session's resident doc-length array): per-posting updates are
    # one fancy-indexed add, never a python dict op per posting
    scores = np.zeros(li.doc_len.size, dtype=np.float64)
    mask = np.zeros(li.doc_len.size, dtype=bool)
    light = [(r, w) for r, w in matched if r["df"] <= HEAVY_QUERY_DF]
    heavy = [(r, w) for r, w in matched if r["df"] > HEAVY_QUERY_DF]

    for row, w in light:
        d, t = _drop_excluded(*li.decode_all(row), ex)
        scores[d] += w * bm25(t, row["df"], li.doc_len[d], li.n_docs, li.d_avr)
        mask[d] = True

    if not heavy:
        return _dense_topk(scores, mask, k)

    ubs = [_block_ubs(li, r) for r, _ in heavy]
    full_ub = [float(u.max()) * w if u.size else 0.0 for (r, w), u in zip(heavy, ubs)]
    decoded = [np.zeros(len(r["max_tf"]), dtype=bool) for r, _ in heavy]

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
            want = np.union1d(want_ub, want_cand)
            want = want[~decoded[i][want]]
            if not want.size:
                continue
            grew = True
            decoded[i][want] = True
            d, t = _drop_excluded(*li._decode_blocks(row, want), ex)
            scores[d] += w * bm25(t, row["df"], li.doc_len[d], li.n_docs, li.d_avr)
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
    ex = li.tombstones if apply_tombstones else None
    if mode == "and":
        return _leapfrog(li, matched, ex)[0]
    if mode == "or":
        ids = np.unique(
            np.concatenate([li.decode_all(row)[0] for row, _w in matched])
        )
        return _drop_excluded(ids, ids, ex)[0]
    raise ValueError(mode)


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
