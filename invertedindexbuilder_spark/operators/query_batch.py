"""Batch BM25 serving: answer a whole TABLE of queries in one Spark
job — the cluster serving mode the reference (one query per
interactive -q loop, query.c:29-64) has no analog for, and the place a
DataFrame engine genuinely beats a cursor engine: each matched chunk
row is DECODED EXACTLY ONCE however many queries share the term, and
per-query top-k is one window over the scored frame.

Plan shape (no driver loop, no per-query jobs):

  queries (query_id, text)
    -> tokenize + strict-key weights     (one narrow mapInPandas)
    -> distinct keys JOIN index_chunks   (one payload-free metadata
                                          collect picks the collision
                                          winner per key, one payload
                                          scan)
    -> decode distinct matched rows      (once per key, not per query)
    -> join decoded postings back to (query_id, key, weight)
    -> doc_len join + BM25 + groupBy(query_id, doc_id)
    -> row_number window <= k per query_id

Scale notes: a batch of Q queries touches at most Q x terms-per-query
distinct keys; the decode stage is identical to single-query serving
(chunk rows stay in their scan partitions), and the postings->query
fan-out happens AFTER decode via a broadcast of the (query_id, key,
weight) table (Q x terms rows — tiny for any realistic batch).  The
per-query top-k window partitions by query_id — Q-way parallel, k-row
output per partition.

Reference parity per query: same tokenizer, D5 14-byte truncation +
last-term-wins collisions, duplicate-term weights, N-1 d_avr, and the
tie-to-smaller-doc_id heap policy (rank on rounded score when
round_digits is set, like topk_bm25_chunked).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import numpy as np

from invertedindexbuilder_spark import LEXICON_KEY_LEN
from invertedindexbuilder_spark.functions.bm25 import d_avr
from invertedindexbuilder_spark.operators.query_exec import (
    DOCLEN_PUSH_CAP,
    _DECODED_SCHEMA,
    _doc_lens_for,
    _lookup_chunk_meta,
    _winner_rows,
    bm25_expr,
    decode_matched_rows,
    decode_matched_rows_bmw,
    lookup_chunk_rows,
    tokenize_query,
)

_QKEYS_SCHEMA = "query_id long, key string, weight int"

# Batch conjunctive candidate pruning (r8, VERDICT r7 #5): per query
# the rarest matched key's decoded doc_ids bound the result set, so
# the OTHER keys decode candidate-bearing blocks only and doc_lens
# come from one In-pushed scan of the union candidate set — the batch
# form of the single-query r7 machinery.  Engage only when (a) the
# union candidate set stays within the doc_len pushdown cap and (b)
# the would-be-skipped decode volume (sum of non-rare matched dfs)
# clears this floor — below it the two extra driver jobs cost more
# than the skipped decode (same shape as the single-query crossover,
# scripts/bench_bmw.py).  Conf-overridable per deployment like the
# other auto floors.
BATCH_AND_PRUNE_MIN_SKIPPABLE = 100_000
BATCH_AND_PRUNE_MIN_SKIPPABLE_CONF = "spark.iib.batchAndPruneMinSkippable"


def _query_keys(queries: DataFrame, strict: bool) -> DataFrame:
    """(query_id, text) -> (query_id, key, weight): tokenize each query
    with the exact reference rules and count duplicate-term weights per
    strict lookup key.  Arrow-batched; narrow."""

    def tok(batches):
        for pdf in batches:
            out = {"query_id": [], "key": [], "weight": []}
            for qid, text in zip(pdf["query_id"], pdf["text"]):
                keys: dict[str, int] = {}
                for t in tokenize_query(text):
                    k = t[:LEXICON_KEY_LEN] if strict else t
                    keys[k] = keys.get(k, 0) + 1
                for k, w in keys.items():
                    out["query_id"].append(int(qid))
                    out["key"].append(k)
                    out["weight"].append(w)
            if out["query_id"]:
                yield pd.DataFrame(out)

    return queries.select("query_id", "text").mapInPandas(
        tok, schema=_QKEYS_SCHEMA
    )


def topk_bm25_batch(
    spark: SparkSession,
    chunks: DataFrame,
    docs: DataFrame,
    stats: dict,
    queries: DataFrame,
    mode: str = "and",
    k: int = 10,
    strict: bool = True,
    round_digits: int | None = None,
    exclude_col: str | None = None,
    exclude_doc_ids: DataFrame | None = None,
) -> DataFrame:
    """All queries at once -> DataFrame(query_id, doc_id, score, rank).

    ``exclude_col``: optional column of per-query NOT-terms (space-
    separated; null/empty = none) — docs containing any of a query's
    excluded terms leave THAT query's ranking.  Excluded keys decode
    once for the whole batch, like positive keys.

    ``exclude_doc_ids``: (doc_id) frame removed from EVERY query's
    ranking — the tombstone surface (plans/deletes.py); stats stay
    as-indexed, matching the single-query paths.

    ``chunks`` is the chunked table (INDEX_CHUNK): chunk rows decode
    independently and the full-term scoring df comes from the lookup's
    per-key metadata, exactly like topk_bm25_chunked.  ``queries``
    needs (query_id: long, text: string).  Results per query are
    identical to topk_bm25_chunked (same gate oracle, per-query)."""
    if mode not in ("and", "or"):
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
    n_docs = int(stats["n_docs"])
    davr = d_avr(stats["sum_doc_len"], n_docs)

    # qkeys is deliberately NOT cached: it re-derives from the queries
    # table in one narrow pass wherever the plan needs it (a cache here
    # would pin executor storage per batch in a long-running server)
    qkeys = _query_keys(queries, strict)
    # collect the whole (query_id, key, weight) map — Q x terms rows,
    # tiny for any realistic batch; the same single job the old
    # distinct-keys collect ran, now also feeding the driver-side
    # found-count and candidate-pruning decisions
    qk_rows = qkeys.collect()
    distinct_keys = {r["key"]: 1 for r in qk_rows}
    if not distinct_keys:
        return spark.createDataFrame(
            [], schema="query_id long, doc_id long, score double, rank int"
        )
    # the single-query metadata lookup: ONE payload-free collect
    # derives collision winners + per-key stats on the driver and joins
    # the winner set back as a broadcast literal (one payload-bearing
    # scan; the stats feed the found counts and candidate pruning)
    matched, winners = _lookup_chunk_meta(chunks, list(distinct_keys), strict)

    docs_join = docs.select("doc_id", "doc_len")
    decoded = None
    # per-query found counts, free from the lookup metadata
    by_q: dict[int, list[str]] = {}
    for r in qk_rows:
        if r["key"] in winners:
            by_q.setdefault(int(r["query_id"]), []).append(r["key"])

    if mode == "and" and winners:
        # ---- batch conjunctive candidate pruning (r8) ----
        rare_of = {
            q: min(ks, key=lambda k: winners[k]["term_df"])
            for q, ks in by_q.items()
        }
        rare_keys = sorted(set(rare_of.values()))
        other_keys = sorted(set(winners) - set(rare_keys))
        cand_total = sum(winners[k]["term_df"] for k in rare_keys)
        skippable = sum(winners[k]["term_df"] for k in other_keys)
        floor = spark.conf.get(BATCH_AND_PRUNE_MIN_SKIPPABLE_CONF, None)
        floor = (
            BATCH_AND_PRUNE_MIN_SKIPPABLE if floor is None else int(floor)
        )
        if (
            other_keys
            and 0 < cand_total <= DOCLEN_PUSH_CAP
            and skippable >= floor
        ):
            rare_rows_df = decode_matched_rows(
                _winner_rows(chunks, winners, rare_keys, strict).withColumn("weight", F.lit(1))
            )
            rrows = rare_rows_df.collect()  # <= cand_total rows
            cand_by_key: dict[str, list[int]] = {}
            for r in rrows:
                cand_by_key.setdefault(r["key"], []).append(r["doc_id"])
            all_cands = np.unique(
                np.fromiter(
                    (r["doc_id"] for r in rrows), np.int64, count=len(rrows)
                )
            )
            # every AND result doc of query q is in q's rare list, so
            # the union candidate set bounds every result doc: the
            # other keys decode candidate-bearing blocks only (exact —
            # a ride-along posting's doc is missing from its query's
            # rare list and dies to the all-keys filter), and doc_lens
            # for the whole batch come from one In-pushed scan instead
            # of a corpus-scale doc_len join.
            import collections

            other_dec = decode_matched_rows_bmw(
                _winner_rows(chunks, winners, other_keys, strict).withColumn("weight", F.lit(1)),
                all_cands, float("inf"), collections.defaultdict(float),
                n_docs=1 << 62, min_doc_len=1.0, davr=1.0,
            )
            rare_local = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "key": [r["key"] for r in rrows],
                        "df": np.fromiter(
                            (r["df"] for r in rrows), np.int64,
                            count=len(rrows),
                        ),
                        "weight": np.ones(len(rrows), dtype=np.int32),
                        "doc_id": np.fromiter(
                            (r["doc_id"] for r in rrows), np.int64,
                            count=len(rrows),
                        ),
                        "tf": np.fromiter(
                            (r["tf"] for r in rrows), np.int64,
                            count=len(rrows),
                        ),
                    }
                ),
                schema=_DECODED_SCHEMA,
            )
            decoded = rare_local.unionByName(other_dec)
            dl_map = _doc_lens_for(docs, all_cands)
            docs_join = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "doc_id": np.fromiter(
                            dl_map.keys(), np.int64, count=len(dl_map)
                        ),
                        "doc_len": np.fromiter(
                            dl_map.values(), np.float64, count=len(dl_map)
                        ),
                    }
                ),
                schema="doc_id long, doc_len double",
            )

    if decoded is None:
        # decode each matched row ONCE (weight=1 placeholder; the
        # per-query weight multiplies in after the fan-out join)
        decoded = decode_matched_rows(matched.withColumn("weight", F.lit(1)))

    scored = (
        decoded.drop("weight")
        .join(F.broadcast(qkeys), "key")
        .join(docs_join, "doc_id")
        .withColumn("contrib", F.col("weight") * bm25_expr(n_docs, davr))
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").alias("score"),
        F.count("*").alias("_nk"),
    )
    if mode == "and":
        # docs containing ALL FOUND keys of their query: per-query found
        # count = distinct keys that matched at least one chunk row,
        # already on the driver from the lookup metadata (pre-decode),
        # so the decode pipeline runs exactly once
        found = spark.createDataFrame(
            [(q, len(ks)) for q, ks in by_q.items()],
            schema="query_id long, _need long",
        )
        agg = agg.join(F.broadcast(found), "query_id").filter(
            F.col("_nk") == F.col("_need")
        )
    agg = agg.drop("_nk", "_need")
    if exclude_col is not None and exclude_col in queries.columns:
        # per-query NOT-terms: decode each excluded key once for the
        # whole batch, fan out to (query_id, doc_id) exclusion pairs,
        # anti-join AFTER the per-(query, doc) aggregate
        ex_qkeys = _query_keys(
            queries.select(
                "query_id",
                F.coalesce(F.col(exclude_col), F.lit("")).alias("text"),
            ),
            strict,
        )
        ex_keys = {
            r["key"]: 1 for r in ex_qkeys.select("key").distinct().collect()
        }
        if ex_keys:
            ex_pairs = (
                decode_matched_rows(
                    lookup_chunk_rows(chunks, list(ex_keys), strict)
                    .withColumn("weight", F.lit(1))
                )
                .join(F.broadcast(ex_qkeys.select("query_id", "key")), "key")
                .select("query_id", "doc_id")
                .distinct()
            )
            agg = agg.join(ex_pairs, ["query_id", "doc_id"], "left_anti")
    if exclude_doc_ids is not None:
        agg = agg.join(
            exclude_doc_ids.select("doc_id"), "doc_id", "left_anti"
        )
    if round_digits is not None:
        agg = agg.withColumn("score", F.round(F.col("score"), round_digits))
    rank_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    out = (
        agg.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )
    return out
