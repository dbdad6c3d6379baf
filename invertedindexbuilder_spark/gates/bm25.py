"""BM25 serving gates: conjunctive/disjunctive DAAT, chunked serving,
batch serving, boolean NOT, faceted filters, and tombstone exclusion
(SURVEY §2.1 rows Q2-Q9 + the r3-r6 serving extensions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .shared import (
    BATCH_AND_QUERIES,
    BATCH_OR_QUERIES,
    bm25_batch_sql,
    bm25_chunked_query,
    bm25_query,
    bm25_sql,
    built,
    chunked,
    documents,
    facet_sql,
    shard_envs,
)


def queries() -> dict:
    def bm25_and(spark, sf_dir):
        return bm25_query(spark, sf_dir, [("data", 1), ("join", 1)], "and", 10)

    def bm25_or(spark, sf_dir):
        return bm25_query(
            spark, sf_dir, [("spark", 1), ("merge", 1), ("vector", 1)], "or", 10
        )

    def bm25_or_dup(spark, sf_dir):
        return bm25_query(spark, sf_dir, [("data", 2), ("window", 1)], "or", 10)

    def bm25_and_unknown(spark, sf_dir):
        return bm25_query(
            spark, sf_dir, [("filter", 1), ("zzznotaterm", 1)], "and", 10
        )

    def bm25_and_chunked(spark, sf_dir):
        return bm25_chunked_query(
            spark, sf_dir, [("data", 1), ("spark", 1)], "and", 10
        )

    def bm25_or_chunked(spark, sf_dir):
        return bm25_chunked_query(
            spark, sf_dir, [("merge", 1), ("filter", 1), ("data", 2)], "or", 10
        )

    def bm25_batch_and(spark, sf_dir):
        # one job answers a TABLE of queries (operators/query_batch):
        # each matched index row decodes once however many queries
        # share the term; per-query top-k is a window
        from invertedindexbuilder_spark.operators.query_batch import (
            topk_bm25_batch,
        )

        env = built(spark, sf_dir)
        qdf = spark.createDataFrame(
            [(q, " ".join(t for t, w in terms for _ in range(w)))
             for q, terms in BATCH_AND_QUERIES],
            "query_id long, text string",
        )
        return topk_bm25_batch(
            spark, env["index_chunks"], env["docs"], env["stats"], qdf,
            mode="and", k=10, round_digits=5,
        )

    def bm25_batch_or(spark, sf_dir):
        # the same batch operator against the SALTED chunk table
        from invertedindexbuilder_spark.operators.query_batch import (
            topk_bm25_batch,
        )

        env = built(spark, sf_dir)
        chunks = chunked(spark, sf_dir)
        qdf = spark.createDataFrame(
            [(q, " ".join(t for t, w in terms for _ in range(w)))
             for q, terms in BATCH_OR_QUERIES],
            "query_id long, text string",
        )
        return topk_bm25_batch(
            spark, chunks, env["docs"], env["stats"], qdf,
            mode="or", k=10, round_digits=5,
        )

    def bm25_and_not(spark, sf_dir):
        # boolean NOT: docs containing the excluded term leave the
        # ranking (anti-join after the per-doc aggregate); IDF/d_avr
        # stay full-corpus — classic filtered-search semantics
        return bm25_query(
            spark, sf_dir, [("data", 1), ("join", 1)], "and", 10,
            exclude="window",
        )

    def bm25_filtered(spark, sf_dir):
        # faceted search: a docs-side predicate restricts scoring via
        # the inner doc_len join (pushes into the docs scan at scale)
        return bm25_query(
            spark, sf_dir, [("data", 1), ("join", 1)], "and", 10,
            doc_filter=F.col("doc_id") % 3 == 0,
        )

    def bm25_and_deleted(spark, sf_dir):
        # logical deletion (tombstones, r6): docs with doc_id % 11 == 5
        # leave the ranking via exclude_doc_ids; IDF/d_avr stay
        # as-indexed — same filtered-search semantics as boolean NOT
        from invertedindexbuilder_spark.operators.query_exec import (
            topk_bm25_chunked,
        )

        env = built(spark, sf_dir)
        tomb = env["docs"].select("doc_id").filter(F.col("doc_id") % 11 == 5)
        out = topk_bm25_chunked(
            spark, env["index_chunks"], env["docs"], env["stats"],
            "data join", mode="and", k=10, round_digits=5,
            exclude_doc_ids=tomb,
        )
        return out.select("doc_id", "score")

    def bm25_or_ioprune(spark, sf_dir):
        # the OR candidate pass, forced ON (heavy_df lowered so
        # sf-scale dfs classify as heavy) with its chunk scan filter.
        # The skip moves I/O, never results: the oracle is the plain
        # OR twin.
        from invertedindexbuilder_spark.operators.query_exec import (
            topk_bm25_chunked,
        )

        env = built(spark, sf_dir)
        chunks = chunked(spark, sf_dir)
        out = topk_bm25_chunked(
            spark, chunks, env["docs"], env["stats"], "dup batch scan",
            mode="or", k=10, round_digits=5, or_prune=True, heavy_df=64,
        )
        return out.select("doc_id", "score")

    def bm25_sharded(spark, sf_dir):
        # scatter-gather serving (r7): two INDEPENDENT shard builds
        # over doc-id halves answer one disjunction as a lazy union —
        # global df / N / d_avr / D5 winner all cross-shard, payloads
        # decode with the shard id offset as block 0's chain base.
        # Shard ids reconstruct the full build's ids exactly, so the
        # oracle is the plain full-corpus OR twin.
        from invertedindexbuilder_spark.operators.sharding import (
            topk_bm25_sharded,
        )

        out = topk_bm25_sharded(
            spark, shard_envs(spark, sf_dir), "data filter merge",
            mode="or", k=10, round_digits=5,
        )
        return out.select("doc_id", "score")

    def facet_counts_and(spark, sf_dir):
        # facet distribution of the boolean match set (search-UI
        # companion to ranking; r7): unsalted chunks, AND semantics
        from invertedindexbuilder_spark.operators.query_exec import (
            facet_counts,
        )

        env = built(spark, sf_dir)
        fac = documents(spark, sf_dir).select("doc_id", "lang", "source")
        return facet_counts(
            spark, env["index_chunks"], fac, "data join",
            ["lang", "source"], mode="and",
        )

    def facet_counts_or(spark, sf_dir):
        # the same operator against the SALTED chunk table, OR mode
        from invertedindexbuilder_spark.operators.query_exec import (
            facet_counts,
        )

        chunks = chunked(spark, sf_dir)
        fac = documents(spark, sf_dir).select("doc_id", "lang")
        return facet_counts(
            spark, chunks, fac, "merge window", ["lang"], mode="or",
        )

    return {
        "bm25_and": bm25_and,
        "bm25_or": bm25_or,
        "bm25_or_dup": bm25_or_dup,
        "bm25_and_unknown": bm25_and_unknown,
        "bm25_and_chunked": bm25_and_chunked,
        "bm25_or_chunked": bm25_or_chunked,
        "bm25_batch_and": bm25_batch_and,
        "bm25_batch_or": bm25_batch_or,
        "bm25_and_not": bm25_and_not,
        "bm25_filtered": bm25_filtered,
        "bm25_and_deleted": bm25_and_deleted,
        "bm25_or_ioprune": bm25_or_ioprune,
        "bm25_sharded": bm25_sharded,
        "facet_counts_and": facet_counts_and,
        "facet_counts_or": facet_counts_or,
    }


def oracle_sql() -> dict:
    return {
        "bm25_and": bm25_sql([("data", 1), ("join", 1)], "and", 10),
        "bm25_or": bm25_sql([("spark", 1), ("merge", 1), ("vector", 1)], "or", 10),
        "bm25_or_dup": bm25_sql([("data", 2), ("window", 1)], "or", 10),
        "bm25_and_unknown": bm25_sql(
            [("filter", 1), ("zzznotaterm", 1)], "and", 10
        ),
        "bm25_and_not": bm25_sql(
            [("data", 1), ("join", 1)], "and", 10,
            extra=(
                "doc_id NOT IN (SELECT p.doc_id FROM postings p "
                "WHERE p.term = 'window')"
            ),
        ),
        "bm25_filtered": bm25_sql(
            [("data", 1), ("join", 1)], "and", 10, extra="doc_id % 3 = 0"
        ),
        # tombstones: pure exclusion — stats stay full-corpus, so the
        # twin is the ordinary BM25 SQL with the deleted ids filtered
        "bm25_and_deleted": bm25_sql(
            [("data", 1), ("join", 1)], "and", 10, extra="doc_id % 11 <> 5"
        ),
        # salted chunks must produce the SAME answers as the unsalted
        # ones — the oracle is the ordinary BM25 twin
        "bm25_and_chunked": bm25_sql([("data", 1), ("spark", 1)], "and", 10),
        "bm25_or_chunked": bm25_sql(
            [("merge", 1), ("filter", 1), ("data", 2)], "or", 10
        ),
        "bm25_batch_and": bm25_batch_sql(BATCH_AND_QUERIES, "and", 10),
        "bm25_batch_or": bm25_batch_sql(BATCH_OR_QUERIES, "or", 10),
        # scan-pruned OR must equal the plain OR twin bit-for-bit
        "bm25_or_ioprune": bm25_sql(
            [("dup", 1), ("batch", 1), ("scan", 1)], "or", 10
        ),
        # scatter-gather over shard halves reconstructs the full
        # build's ids and stats — the plain full-corpus OR twin
        "bm25_sharded": bm25_sql(
            [("data", 1), ("filter", 1), ("merge", 1)], "or", 10
        ),
        # facet counts over the boolean match set: unknown terms drop,
        # AND = every matched term present; deterministic total order
        # (count desc, facet values asc) on both engines
        "facet_counts_and": facet_sql(
            ["data", "join"], "and", ["lang", "source"]
        ),
        "facet_counts_or": facet_sql(["merge", "window"], "or", ["lang"]),
    }
