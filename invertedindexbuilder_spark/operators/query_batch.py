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

from invertedindexbuilder_spark import LEXICON_KEY_LEN
from invertedindexbuilder_spark.functions.bm25 import d_avr
from invertedindexbuilder_spark.operators.query_exec import (
    _doc_lens_for,
    _local_doc_lens,
    _lookup_chunk_meta,
    candidate_pass,
    and_candidates_engaged,
    bm25_expr,
    decode_matched_rows,
    lookup_chunk_rows,
    tokenize_query,
)

_QKEYS_SCHEMA = "query_id long, key string, weight int"

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
        # conjunctive candidate pass over the whole batch: each query's
        # result docs are in its rarest list, so the union of the rare
        # lists bounds every result doc of the batch
        rare_keys = sorted(
            {min(ks, key=lambda k: winners[k]["term_df"]) for ks in by_q.values()}
        )
        if and_candidates_engaged(winners, rare_keys):
            decoded, cand = candidate_pass(chunks, winners, rare_keys, strict)
            docs_join = _local_doc_lens(spark, _doc_lens_for(docs, cand))

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
