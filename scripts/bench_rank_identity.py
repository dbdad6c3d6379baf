"""BM25 top-k rank-identity RATE on a reference-shaped query set.

BASELINE.json's metric names "BM25 top-10 rank-identity rate on the
reference query set" as half the headline number.  The pytest suite
pins rank identity as an invariant (tests/test_query_rank_identity.py,
14 queries x {and,or} x k in {1,10,100} at 500 docs); this script
turns the same invariant into the reportable RATE at a larger corpus,
across every serving surface, on a generated query set that covers the
reference's query classes (reference query.c:52-112 — AND/OR modes,
k=10 default, unknown-term drop, duplicate-term weights, 14-char
lexicon truncation):

- single-term rare / mid / heavy (df strata sampled from the built
  lexicon), digits, >14-char truncation (D5),
- two-term rare+heavy / mid+mid / rare+rare, both modes,
- multi-term (3-5 terms) mixed strata,
- adversarial: all-unknown, unknown+known, duplicated terms.

Surfaces (each compared independently against the pure-pandas spec
oracle, tests/oracle_util.CorpusOracle — the query golden source,
since the reference C binary's own query path carries defect D3):

- chunked:  query_exec.topk_bm25_chunked over INDEX_CHUNK (the
            distributed serving path),
- local:    local_query.LocalIndex/topk_local (the -q session analog),
- sharded:  topk_bm25_chunked over a two-shard sharded_view split on
            the id midpoint (scatter-gather serving; r8, VERDICT r7
            #6),
- batch:    query_batch.topk_bm25_batch — all queries in one job per
            mode, split per query_id (r8, VERDICT r7 #6).

A query counts as rank-identical iff the doc_id sequence at k equals
the oracle's exactly AND every score matches within 1e-9 relative.
Mismatches are not hidden: each one prints a diagnosis line (score-set
equal but order flipped at the k boundary => float-sum tie; anything
else => real defect, go fix it).

    python scripts/bench_rank_identity.py [--docs 20000] [--k 10]
        [--cores 8] [--keep]

Prints one JSON line:
  {"rank_identity_rate": 1.0, "n_evals": N, "k": 10,
   "surfaces": {"chunked": 1.0, "local": 1.0, "sharded": 1.0,
                "batch": 1.0}, ...}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
WORK = "/tmp/iib_rankid"


def build_query_set(oracle) -> list[str]:
    """Deterministic reference-class query set from the built lexicon."""
    rng = np.random.RandomState(7)
    terms = sorted(oracle.postings)
    dfs = np.array([len(oracle.postings[t]) for t in terms])

    def stratum(lo_q: float, hi_q: float) -> list[str]:
        lo, hi = np.quantile(dfs, [lo_q, hi_q])
        idx = [i for i in range(len(terms)) if lo <= dfs[i] <= hi]
        if not idx:  # degenerate lexicon: stratum empty (ADVICE r7)
            return []
        return [terms[i] for i in rng.choice(idx, size=min(8, len(idx)),
                                             replace=False)]

    # pad each stratum by cycling (ADVICE r7): on a small or skewed
    # lexicon a stratum can come back with <8 members, and the fixed
    # slice indexes below would raise IndexError / silently shrink the
    # query set; cycling keeps every query shape populated (duplicate
    # terms inside a query are legal — the engine scores weights)
    def pad(xs: list[str], n: int = 8) -> list[str]:
        if not xs:
            return []
        return [xs[i % len(xs)] for i in range(n)]

    rare, mid, heavy = (
        pad(stratum(0.0, 0.25)), pad(stratum(0.4, 0.6)),
        pad(stratum(0.9, 1.0)),
    )
    if not (rare and mid and heavy):
        raise SystemExit(
            "lexicon too small to build the reference-class query set "
            f"({len(terms)} terms) — use a bigger corpus"
        )
    qs: list[str] = []
    qs += rare[:4] + mid[:4] + heavy[:4]                     # single-term
    qs += [f"{r} {h}" for r, h in zip(rare[:3], heavy[:3])]  # rare+heavy
    qs += [f"{a} {b}" for a, b in zip(mid[:3], mid[3:6])]    # mid+mid
    qs += [f"{a} {b}" for a, b in zip(rare[4:6], rare[6:8])] # rare+rare
    qs += [" ".join([rare[0], mid[0], heavy[0]]),            # multi-term
           " ".join(mid[:5]),
           " ".join([heavy[0], heavy[1], rare[1], mid[1]])]
    long = [t for t in terms if len(t) > 14]                 # D5 truncation
    qs += long[:2]
    digit = [t for t in terms if t[0].isdigit()]
    qs += digit[:2]
    qs += [f"{mid[0]} {mid[0]}",                             # duplicate weights
           f"zzznotinlexicon {heavy[0]}",                    # unknown+known
           "zzznotinlexicon qqqneitherthisone"]              # all unknown
    return qs


def ensure_index(spark, n_docs: int, keep: bool) -> str:
    from invertedindexbuilder_spark.plans.build import build
    from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

    out = os.path.join(WORK, f"idx_{n_docs}")
    mpath = os.path.join(out, "manifest.json")
    if keep and os.path.exists(mpath):
        with open(mpath) as f:
            if json.load(f).get("phases", {}).get("index", {}) \
                    .get("status") == "done":
                return out
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    build(spark, synthetic_docs_src(spark, n_docs), out)
    print(f"# built idx_{n_docs} (chunks) in {time.time()-t0:.1f}s",
          file=sys.stderr)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--keep", action="store_true",
                    help="reuse a cached index under /tmp/iib_rankid")
    args = ap.parse_args()

    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.operators.local_query import (
        LocalIndex, topk_local)
    from invertedindexbuilder_spark.operators.query_exec import (
        tokenize_query, topk_bm25_chunked)
    from invertedindexbuilder_spark.plans.build import load_stats
    from invertedindexbuilder_spark.session import get_spark
    from tests.oracle_util import CorpusOracle

    spark = get_spark(cores=args.cores)
    root = ensure_index(spark, args.docs, args.keep)
    cat = Catalog(spark, root)
    chunks = cat.read("index_chunks").cache()
    docs = cat.read("docs").cache()
    stats = load_stats(spark, root)
    chunks.count(), docs.count()  # warm the caches

    t0 = time.time()
    oracle = CorpusOracle(args.docs)
    print(f"# oracle built in {time.time()-t0:.1f}s", file=sys.stderr)
    queries = build_query_set(oracle)

    def surface_chunked(q, mode):
        return [(r["doc_id"], r["score"]) for r in topk_bm25_chunked(
            spark, chunks, docs, stats, q, mode=mode, k=args.k).collect()]

    li = LocalIndex(root)

    def surface_local(q, mode):
        return topk_local(li, q, mode=mode, k=args.k)

    # ---- sharded scatter-gather surface (VERDICT r7 #6): two shards
    # split on the global id midpoint, chunk-encoded from the oracle's
    # id-aligned postings; results must equal the oracle through the
    # sharded_view rebase machinery (zero payload bytes rewritten) ----
    from invertedindexbuilder_spark.operators.index_build import encode_chunks
    from invertedindexbuilder_spark.operators.sharding import sharded_view

    pt = oracle.postings_table()
    mid_id = oracle.n_docs // 2
    shard_list = []
    for lo, hi in ((0, mid_id), (mid_id, oracle.n_docs)):
        sl = pt[(pt.doc_id >= lo) & (pt.doc_id < hi)].copy()
        sl["doc_id"] -= lo
        sdocs = oracle.pdf[
            (oracle.pdf.doc_id >= lo) & (oracle.pdf.doc_id < hi)
        ]
        shard_list.append({
            "chunks": encode_chunks(
                spark.createDataFrame(
                    sl, schema="term string, doc_id long, tf long"
                ),
                salt_threshold=4096, chunk_blocks=8,
            ).cache(),
            "docs": spark.createDataFrame(
                sdocs[["doc_id", "doc_len"]].assign(
                    doc_id=sdocs.doc_id - lo
                ),
                schema="doc_id long, doc_len long",
            ).cache(),
            "stats": {
                "n_docs": int(hi - lo),
                "sum_doc_len": int(sdocs.doc_len.sum()),
                "min_doc_len": int(sdocs.doc_len.min()),
            },
        })
    view = sharded_view(shard_list)

    def surface_sharded(q, mode):
        return [(r["doc_id"], r["score"]) for r in topk_bm25_chunked(
            spark, view["chunks"], view["docs"], view["stats"], q,
            mode=mode, k=args.k, docs_shards=view["docs_shards"],
        ).collect()]

    # ---- batch surface: every query answered in ONE job per mode,
    # split per query_id (the production serving shape) ----
    from invertedindexbuilder_spark.operators.query_batch import (
        topk_bm25_batch,
    )

    batch_cache: dict[str, dict[int, list]] = {}
    qid_of = {q: i for i, q in enumerate(queries)}

    def surface_batch(q, mode):
        if mode not in batch_cache:
            qdf = spark.createDataFrame(
                list(enumerate(queries)), "query_id long, text string"
            )
            res = topk_bm25_batch(
                spark, chunks, docs, stats, qdf, mode=mode, k=args.k
            ).collect()
            per: dict[int, list] = {}
            for r in res:
                per.setdefault(r["query_id"], []).append(
                    (r["rank"], r["doc_id"], r["score"])
                )
            batch_cache[mode] = {
                qid: [(d, s) for _, d, s in sorted(v)]
                for qid, v in per.items()
            }
        return batch_cache[mode].get(qid_of[q], [])

    surfaces = {"chunked": surface_chunked, "local": surface_local, "sharded": surface_sharded,
                "batch": surface_batch}
    per_surface = {name: [0, 0] for name in surfaces}  # [identical, total]
    mismatches = []
    for q in queries:
        for mode in ("and", "or"):
            want = oracle.topk(tokenize_query(q), mode, args.k)
            for name, fn in surfaces.items():
                got = fn(q, mode)
                per_surface[name][1] += 1
                same_ids = [g[0] for g in got] == [w[0] for w in want]
                same_scores = len(got) == len(want) and all(
                    abs(gs - ws) <= 1e-9 * max(1.0, abs(ws))
                    for (_, gs), (_, ws) in zip(got, want))
                if same_ids and same_scores:
                    per_surface[name][0] += 1
                else:
                    tie = sorted(d for d, _ in got) == sorted(
                        d for d, _ in want)
                    mismatches.append({
                        "surface": name, "query": q, "mode": mode,
                        "kind": "k-boundary order flip (same doc set)"
                        if tie else "REAL MISMATCH",
                        "got": got[:3], "want": want[:3]})
                    print(f"# MISMATCH {name} {mode} {q!r}: "
                          f"{mismatches[-1]['kind']}", file=sys.stderr)

    rates = {n: (c / t if t else 1.0) for n, (c, t) in per_surface.items()}
    total_ok = sum(c for c, _ in per_surface.values())
    total = sum(t for _, t in per_surface.values())
    print(json.dumps({
        "metric": "bm25_rank_identity_rate",
        "rank_identity_rate": round(total_ok / total, 6),
        "n_evals": total,
        "n_queries": len(queries),
        "modes": ["and", "or"],
        "k": args.k,
        "docs": args.docs,
        "surfaces": {n: round(r, 6) for n, r in rates.items()},
        "mismatches": mismatches,
    }))
    return 0 if total_ok == total else 1


if __name__ == "__main__":
    sys.exit(main())
