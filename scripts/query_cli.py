"""spark-submit entry point: top-k BM25 queries against a built index.

    python scripts/query_cli.py --index /tmp/idx --mode and --k 10 data join
    python scripts/query_cli.py --index /tmp/idx            # interactive

Interactive protocol mirrors the reference's -q session (§3.2): first
line k, second line mode (0=AND, 1=OR), then one query per line.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", default=None)
    ap.add_argument("--shards", metavar="ROOT1,ROOT2,...", default=None,
                    help="with --spark: scatter-gather serving over "
                         "INDEPENDENT shard builds (disjoint "
                         "corpora, dense local ids) — one lazy-union "
                         "job, global df/N/d_avr, results identical to "
                         "querying merge_builds' output")
    ap.add_argument("--mode", choices=["and", "or"], default="and")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--no-strict", action="store_true",
                    help="disable the reference's 14-char key truncation")
    ap.add_argument("--spark", action="store_true",
                    help="distributed DataFrame execution over the "
                         "chunk table (index_chunks; heavy terms decode "
                         "one chunk per task) instead of the driver-local "
                         "session")
    ap.add_argument("--batch", metavar="QUERIES_FILE",
                    help="with --spark: answer a whole FILE of queries "
                         "(one per line) in ONE job via "
                         "operators/query_batch.topk_bm25_batch — each "
                         "matched chunk row decodes once however many "
                         "queries share the term")
    ap.add_argument("--not", dest="exclude", metavar="TERMS", default=None,
                    help="with --spark: boolean NOT — exclude docs "
                         "containing any of these space-separated terms")
    ap.add_argument("--filter", dest="doc_filter", metavar="SQL_PRED",
                    default=None,
                    help="with --spark: faceted search — a SQL predicate "
                         "over docs columns, e.g. 'doc_id % 3 = 0'")
    ap.add_argument("--facets", metavar="COL1,COL2", default=None,
                    help="print the facet distribution (count desc) of "
                         "the boolean match set over docs-table columns "
                         "— e.g. --facets repo — instead of ranking; "
                         "works on both runners (--spark: "
                         "query_exec.facet_counts; local: "
                         "local_query.facet_counts_local)")
    ap.add_argument("--explain", action="store_true",
                    help="with --spark: print a JSON line of pruning "
                         "evidence to stderr after each query — whether "
                         "the candidate decoder ran, its blocks decoded "
                         "vs total (Spark accumulators) and the chunks "
                         "its scan filter kept vs total (0 when the "
                         "filter did not run)")
    ap.add_argument("--force-prune", action="store_true",
                    help="with --explain: force or_prune/and_prune on "
                         "below the auto floors (measurement aid)")
    ap.add_argument("--snippets-from", metavar="DOCS_SRC_PARQUET",
                    help="also print a best-window snippet per result, "
                         "re-reading content from the source table "
                         "(reference Q10, cleanly re-specified)")
    ap.add_argument("--ignore-tombstones", action="store_true",
                    help="rank logically-deleted docs anyway (tombstones "
                         "from delete_docs are applied by default)")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("terms", nargs="*")
    args = ap.parse_args()

    if args.shards and not args.spark:
        ap.error("--shards requires --spark (scatter-gather is a "
                 "distributed serving mode)")
    if not args.shards and not args.index:
        ap.error("one of --index or --shards is required")
    if args.spark and args.batch:
        return _spark_batch(args)
    if args.spark:
        run = _spark_runner(args)
    else:
        # default: driver-local session (reference -q analog, <100 ms)
        import pyarrow.parquet as pq

        from invertedindexbuilder_spark.operators.local_query import (
            LocalIndex,
            topk_local,
        )

        from invertedindexbuilder_spark.catalog import resolve_table_path

        li = LocalIndex(args.index)
        docs_path = resolve_table_path(args.index, "docs")
        urls = {
            r["doc_id"]: r["url"]
            for r in pq.read_table(
                docs_path, columns=["doc_id", "url"]
            ).to_pylist()
        }

        if args.snippets_from:
            import duckdb

            con = duckdb.connect()
            key_by_id = {
                r["doc_id"]: (r["repo"], r["path"], r["commit"])
                for r in pq.read_table(
                    docs_path,
                    columns=["doc_id", "repo", "path", "commit"],
                ).to_pylist()
            }

        def run(query: str, mode: str, k: int) -> None:
            t0 = time.time()
            if args.facets:
                from invertedindexbuilder_spark.operators.local_query import (
                    facet_counts_local,
                )

                cols = [c.strip() for c in args.facets.split(",") if c.strip()]
                rows = facet_counts_local(
                    li, query, cols, mode=mode,
                    strict=not args.no_strict,
                    apply_tombstones=not args.ignore_tombstones,
                )
                dt = (time.time() - t0) * 1000
                for r in rows:
                    print("\t".join(str(v) for v in (r[-1],) + r[:-1]))
                print(f"# {len(rows)} facet rows in {dt:.0f} ms",
                      file=sys.stderr)
                return
            res = topk_local(li, query, mode=mode, k=k,
                             strict=not args.no_strict,
                             apply_tombstones=not args.ignore_tombstones)
            dt = (time.time() - t0) * 1000
            for doc_id, score in res:
                print(f"{score:.6f}\t{doc_id}\t{urls.get(doc_id, '')}")
                if args.snippets_from and doc_id in key_by_id:
                    from invertedindexbuilder_spark.operators.query_exec import (
                        tokenize_query,
                    )
                    from invertedindexbuilder_spark.operators.snippets import (
                        best_window,
                    )

                    rk, pk, ck = key_by_id[doc_id]
                    row = con.execute(
                        "SELECT content FROM read_parquet(?) WHERE "
                        "repo = ? AND path = ? AND commit = ?",
                        [f"{args.snippets_from}/*.parquet", rk, pk, ck],
                    ).fetchone()
                    if row:
                        s, snip = best_window(row[0], tokenize_query(query))
                        print(f"    [{s}] {snip[:200]}")
            print(f"# {len(res)} results in {dt:.0f} ms", file=sys.stderr)

    if args.terms:
        run(" ".join(args.terms), args.mode, args.k)
        return 0

    try:
        k = int(input("top-k: ").strip())
        mode = "or" if input("mode (0=AND,1=OR): ").strip() == "1" else "and"
        for line in sys.stdin:
            if line.strip():
                run(line.strip(), mode, k)
    except (EOFError, KeyboardInterrupt):
        pass
    return 0


def _spark_batch(args) -> int:
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.operators.query_batch import (
        topk_bm25_batch,
    )
    from invertedindexbuilder_spark.plans.build import load_stats
    from invertedindexbuilder_spark.session import get_spark

    with open(args.batch) as f:
        texts = [ln.strip() for ln in f if ln.strip()]
    if not texts:
        return 0
    spark = get_spark(app_name="query-cli-batch", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    qdf = spark.createDataFrame(
        list(enumerate(texts)), "query_id long, text string"
    )
    if args.shards:
        # scatter-gather batch: the sharded view is an ordinary
        # INDEX_CHUNK frame (rebased metadata + id_offset decode base),
        # so the batch executor serves it unchanged — one union job,
        # every key decoded once across all shards and queries
        from invertedindexbuilder_spark.operators.sharding import (
            load_shards,
            sharded_view,
        )

        shards = load_shards(spark, args.shards.split(","))
        if args.ignore_tombstones:
            for sh in shards:
                sh["tombstones"] = None
        view = sharded_view(shards)
        index = view["chunks"]
        docs = view["docs"].select("doc_id", "doc_len")
        stats = view["stats"]
        tombstones = view["tombstones"]
    else:
        cat = Catalog(spark, args.index)
        index = cat.read("index_chunks")
        docs = cat.read("docs").select("doc_id", "doc_len")
        stats = load_stats(spark, args.index)
        tombstones = None
        if not args.ignore_tombstones:
            from invertedindexbuilder_spark.plans.deletes import (
                load_tombstones,
            )

            tombstones = load_tombstones(spark, args.index)
    t0 = time.time()
    rows = topk_bm25_batch(
        spark, index, docs, stats, qdf,
        mode=args.mode, k=args.k, strict=not args.no_strict,
        exclude_doc_ids=tombstones,
    ).orderBy("query_id", "rank").collect()
    dt = (time.time() - t0) * 1000
    for r in rows:
        print(f"{texts[r['query_id']]}\t{r['rank']}\t{r['doc_id']}\t"
              f"{r['score']:.6f}")
    print(
        f"# {len(texts)} queries, {len(rows)} result rows in {dt:.0f} ms",
        file=sys.stderr,
    )
    return 0


def _spark_runner(args):
    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.operators.query_exec import (
        topk_bm25_chunked,
    )
    from invertedindexbuilder_spark.plans.build import load_stats
    from invertedindexbuilder_spark.session import get_spark

    spark = get_spark(app_name="query-cli", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    doc_filter = F.expr(args.doc_filter) if args.doc_filter else None
    docs_shards = None
    if args.shards:
        from invertedindexbuilder_spark.operators.sharding import (
            load_shards,
            sharded_view,
        )

        shards = load_shards(spark, args.shards.split(","))
        if args.ignore_tombstones:
            for sh in shards:
                sh["tombstones"] = None
        view = sharded_view(shards)
        index = view["chunks"].cache()
        docs_full = view["docs"]
        docs = view["docs"].select("doc_id", "url", "doc_len").cache()
        index.count(), docs.count()  # warm the caches (Q1 session load)
        stats = view["stats"]
        tombstones = view["tombstones"]
        docs_shards = view["docs_shards"]
        if tombstones is not None:
            tombstones = tombstones.cache()
            print(f"# excluding {tombstones.count()} tombstoned docs "
                  "(across shards)", file=sys.stderr)
    else:
        cat = Catalog(spark, args.index)
        index = cat.read("index_chunks").cache()
        docs_full = cat.read("docs")
        docs = docs_full.select("doc_id", "url", "doc_len").cache()
        index.count(), docs.count()  # warm the caches (Q1 session load)
        stats = load_stats(spark, args.index)
        tombstones = None
        if not args.ignore_tombstones:
            from invertedindexbuilder_spark.plans.deletes import (
                load_tombstones,
            )

            tombstones = load_tombstones(spark, args.index)
            if tombstones is not None:
                tombstones = tombstones.cache()
                n_tomb = tombstones.count()
                print(f"# excluding {n_tomb} tombstoned docs",
                      file=sys.stderr)

    def run(query: str, mode: str, k: int) -> None:
        t0 = time.time()
        if args.facets:
            from invertedindexbuilder_spark.operators.query_exec import (
                facet_counts,
            )

            cols = [c.strip() for c in args.facets.split(",") if c.strip()]
            missing = [c for c in cols if c not in docs_full.columns]
            if missing:
                print(f"--facets: {missing} not in docs table columns "
                      f"{docs_full.columns}", file=sys.stderr)
                return
            rows = facet_counts(
                spark, index, docs_full.select("doc_id", *cols), query,
                cols, mode=mode, exclude_doc_ids=tombstones,
            ).collect()
            dt = (time.time() - t0) * 1000
            for r in rows:
                print("\t".join([str(r["n_docs"])] + [str(r[c]) for c in cols]))
            print(f"# {len(rows)} facet rows in {dt:.0f} ms", file=sys.stderr)
            return
        kw = {}
        counters = None
        if args.explain:
            sc = spark.sparkContext
            counters = {"decoded": sc.accumulator(0), "total": sc.accumulator(0)}
            kw["counters"] = counters
            if args.force_prune:
                kw["or_prune"] = True
                kw["and_prune"] = True
        if docs_shards is not None:
            kw["docs_shards"] = docs_shards
        res = topk_bm25_chunked(
            spark, index, docs, stats, query,
            mode=mode, k=k, strict=not args.no_strict,
            exclude=args.exclude, doc_filter=doc_filter,
            exclude_doc_ids=tombstones, **kw,
        )
        rows = res.join(docs.select("doc_id", "url"), "doc_id").orderBy(
            res["score"].desc(), "doc_id"
        ).collect()
        dt = (time.time() - t0) * 1000
        for r in rows:
            print(f"{r['score']:.6f}\t{r['doc_id']}\t{r['url']}")
        print(f"# {len(rows)} results in {dt:.0f} ms", file=sys.stderr)
        if counters is not None:
            import json as _json

            total = int(counters["total"].value)
            decoded = int(counters["decoded"].value)
            print(
                _json.dumps(
                    {
                        "query": query,
                        "mode": mode,
                        "prune_engaged": total > 0,
                        "blocks_total": total,
                        "blocks_decoded": decoded,
                        "blocks_skipped": total - decoded,
                        "chunks_total": counters.get("chunks_total", 0),
                        "chunks_kept": counters.get("chunks_kept", 0),
                        "n_docs": int(stats["n_docs"]),
                        "ms": round(dt, 1),
                    }
                ),
                file=sys.stderr,
            )

    return run


if __name__ == "__main__":
    sys.exit(main())
