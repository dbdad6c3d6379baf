"""Shared SQL fragments and Spark-side fixtures for the driver gates.

Both engines round floating outputs and use the same md5-prefix hash
primitive so value-hash comparison is deterministic; the SQL here is
DuckDB-dialect ANSI over the pre-registered testdata views.  Moved
verbatim from ``__spark_entry__`` in the r6 gate-module split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF = "/root/testdata/sf0.001"

# ----------------------------------------------------------------- shared SQL

# Exact-semantics tokenizer (reference main.c:104-123 incl. trailing-drop
# D0 and the 1..15 length filter) as DuckDB SQL.  NB: RE2's '$' does not
# match before a trailing newline, same as Python's \Z — verified.
TOKENIZE_CTE = """
raw AS (
  SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS l,
         regexp_matches(text, '[A-Za-z0-9]$') AS ends_alnum
  FROM documents
),
tok AS (
  SELECT doc_id, lower(t) AS term
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN ends_alnum THEN l[1:len(l)-1] ELSE l END) AS t
    FROM raw
  )
  WHERE len(t) BETWEEN 1 AND 15
),
postings AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf FROM tok GROUP BY term, doc_id
)
"""

BM25_PRELUDE = (
    "WITH "
    + TOKENIZE_CTE
    + """,
doclen AS (SELECT doc_id, length(text)::BIGINT AS doc_len FROM documents),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n,
         (SELECT sum(doc_len) FROM doclen)::BIGINT AS sdl
),
tdf AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term),
matched AS (SELECT q.term, q.w, t.df FROM qterms q JOIN tdf t USING (term)),
contrib AS (
  SELECT p.doc_id, m.term,
         m.w * log2((s.n - m.df + 0.5) / (m.df + 0.5)) * 2.2 * p.tf
         / (1.2 * (0.25 + 0.75 * d.doc_len / (s.sdl / (s.n - 1.0))) + p.tf) AS c
  FROM postings p
  JOIN matched m ON p.term = m.term
  JOIN doclen d ON p.doc_id = d.doc_id
  CROSS JOIN stats s
),
agg AS (
  SELECT doc_id, round(sum(c), 5) AS score, count(DISTINCT term) AS nk
  FROM contrib GROUP BY doc_id
)
"""
)


def bm25_sql(
    qterms: list[tuple[str, int]], mode: str, k: int, extra: str = ""
) -> str:
    """``extra``: additional predicate ANDed into the final agg filter
    (NOT-term exclusion, faceted doc filters)."""
    vals = ", ".join(f"('{t}', {w})" for t, w in qterms)
    conds = []
    if mode == "and":
        conds.append("nk = (SELECT count(*) FROM matched)")
    if extra:
        conds.append(extra)
    where = f"WHERE {' AND '.join(conds)}" if conds else ""
    return (
        f"WITH qterms(term, w) AS (VALUES {vals}),"
        + BM25_PRELUDE[len("WITH ") :]
        + f"SELECT doc_id, score FROM agg {where} "
        f"ORDER BY score DESC, doc_id LIMIT {k}"
    )


def facet_sql(terms: list[str], mode: str, facet_cols: list[str]) -> str:
    """Oracle twin of operators/query_exec.facet_counts: facet counts
    of the boolean match set (unknown terms drop, reference parser
    semantics; AND = doc holds every MATCHED term), deterministic
    total order = count desc then facet values asc on both engines."""
    vals = ", ".join(f"('{t}')" for t in terms)
    matchset = (
        "SELECT doc_id FROM hits WHERE nk = (SELECT count(*) FROM matched)"
        if mode == "and"
        else "SELECT doc_id FROM hits"
    )
    cols = ", ".join(facet_cols)
    return (
        f"WITH qterms(term) AS (VALUES {vals}), "
        + TOKENIZE_CTE
        + f""",
tdf AS (SELECT DISTINCT term FROM postings),
matched AS (SELECT q.term FROM qterms q JOIN tdf t USING (term)),
hits AS (
  SELECT p.doc_id, count(DISTINCT p.term) AS nk
  FROM postings p JOIN matched m USING (term)
  GROUP BY p.doc_id
),
matchset AS ({matchset})
SELECT {cols}, count(*)::BIGINT AS n_docs
FROM matchset JOIN documents USING (doc_id)
GROUP BY {cols}
ORDER BY n_docs DESC, {cols}"""
    )


def bm25_batch_sql(
    queries: list[tuple[int, list[tuple[str, int]]]], mode: str, k: int
) -> str:
    """Oracle twin of operators/query_batch.topk_bm25_batch: UNION ALL
    of the per-query single-query oracle, each re-ranked with the same
    (score DESC, doc_id) policy."""
    parts = []
    for qid, qterms in queries:
        inner = bm25_sql(qterms, mode, k)
        parts.append(
            f"SELECT {qid}::BIGINT AS query_id, doc_id, score, "
            "(row_number() OVER (ORDER BY score DESC, doc_id))::INT AS rank "
            f"FROM ({inner})"
        )
    return " UNION ALL ".join(parts)


# The dedup corpus: documents plus deterministic exact copies
# (doc_id+100000) and mutated near-copies (doc_id+200000) of the first
# 20 docs — the shared tables contain no natural duplicates, so the
# dedup operators need planted ones (identical in Spark and SQL).
# The planted SHORT docs (0/1/2/3 tokens) exercise the sub-n-gram guard
# (Spark's unguarded sequence(1,0) is descending and crashes; DuckDB's
# generate_series(1,0) is empty — both must agree on the empty set).
# Batch-serving gate queries: known terms, duplicate-term weights, an
# unknown term (dropped -> single-found-term AND), disjoint per query.
BATCH_AND_QUERIES = [
    (1, [("data", 1), ("join", 1)]),
    (2, [("filter", 1), ("zzznotaterm", 1)]),
    (3, [("data", 2), ("window", 1)]),
]
BATCH_OR_QUERIES = [
    (1, [("spark", 1), ("merge", 1), ("vector", 1)]),
    (2, [("data", 2), ("window", 1)]),
    (3, [("merge", 1), ("filter", 1), ("data", 2)]),
]

DEDUP_SUFFIX = " mutated suffix tokens appended here"
SHORT_DOCS = [
    (300000, ""),
    (300001, "one"),
    (300002, "only two"),
    (300003, "three short tokens"),
]
SHORT_VALUES = ", ".join(f"({i}, '{t}')" for i, t in SHORT_DOCS)
DEDUP_CORPUS_SQL = f"""
dd AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT doc_id + 200000, text || '{DEDUP_SUFFIX}' FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT * FROM (VALUES {SHORT_VALUES}) sd(doc_id, text)
)
"""

SHINGLE_CTE = """
sl AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'), t -> t) AS l
  FROM dd
),
shing AS (
  SELECT DISTINCT doc_id, s AS shingle
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(l) - 2, 0)),
             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS s
    FROM sl
  )
)
"""

JACCARD_CTES = """
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shing GROUP BY doc_id),
inter AS (
  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*)::BIGINT AS n_inter
  FROM shing s1
  JOIN shing s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
  {cand_join}
  GROUP BY 1, 2
)
"""

JACCARD_SELECT = """
SELECT i.doc_a, i.doc_b, i.n_inter,
       round(i.n_inter / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.n_inter / (sa.sz + sb.sz - i.n_inter), 6) >= {tau}
"""

JACCARD_TAIL = JACCARD_CTES + JACCARD_SELECT

MINHASH_CTE = """
mh AS (
  SELECT doc_id, ks.k,
         min(((1000003 * ks.k + 12345) * h + (40503 * ks.k + 17))
             % 2147483647) AS minhash
  FROM (SELECT doc_id,
               CAST('0x' || SUBSTR(md5(shingle), 1, 8) AS BIGINT) AS h
        FROM shing) s
  CROSS JOIN generate_series(0, 15) ks(k)
  GROUP BY doc_id, ks.k
),
banded AS (
  SELECT doc_id, k // 4 AS band,
         md5(string_agg(k || ':' || minhash, ',' ORDER BY k)) AS bucket
  FROM mh GROUP BY doc_id, k // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id
)
"""

LANGS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "que", "es", "una"],
}


def _lang_hits_sql(lang: str) -> str:
    # non-overlapping left-to-right match counting — same semantics as
    # Spark's regexp_count on the padded text
    terms = [f"len(regexp_extract_all(p, ' {w} '))" for w in LANGS[lang]]
    return " + ".join(terms)


# winner = FIRST language (sorted order) achieving the positive max —
# mirrors the Spark loop's strict-> running max exactly
def lang_ctes(src: str) -> str:
    """Composable CTE pair: p0/hits/lang over any doc source."""
    return (
        f"p0 AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM {src}), "
        + "hits AS (SELECT doc_id, "
        + ", ".join(f"{_lang_hits_sql(lg)} AS h_{lg}" for lg in sorted(LANGS))
        + " FROM p0), "
        + "lang AS (SELECT doc_id, CASE "
        + "WHEN greatest(h_de, h_en, h_es, h_fr) <= 0 THEN 'und' "
        + "WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de' "
        + "WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en' "
        + "WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es' "
        + "ELSE 'fr' END AS lang_pred FROM hits)"
    )


LANG_SQL = (
    "WITH " + lang_ctes("documents") + " SELECT doc_id, lang_pred FROM lang"
)


def quality_ctes(src: str) -> str:
    """Composable CTE pair: m/qual over any doc source (same formula as
    the quality_score gate)."""
    return (
        f"m AS (SELECT doc_id, length(text)::BIGINT AS n_chars, "
        "len(regexp_extract_all(trim(text), '\\S+'))::BIGINT AS n_ws, "
        "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::BIGINT AS n_punct "
        f"FROM {src}), "
        "qual AS (SELECT doc_id, round("
        "(CASE WHEN n_chars BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.5 END) * "
        "(CASE WHEN n_ws > 0 AND n_chars * 1.0 / n_ws BETWEEN 3.0 AND 12.0 "
        " THEN 1.0 ELSE 0.5 END) * "
        "(1.0 - CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 1.0 END)"
        ", 6) AS quality FROM m)"
    )


def cell_sql(vec: str, planes: int) -> str:
    """SQL twin of similarity.grid_cell_expr: sign bits of the first
    ``planes`` components."""
    return (
        "("
        + " + ".join(
            f"CASE WHEN {vec}[{d + 1}] > 0 THEN {1 << d} ELSE 0 END"
            for d in range(planes)
        )
        + ")"
    )


COS_AB = (
    "round(list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
)

# ------------------------------------------------------------ spark helpers

_INDEX_CACHE: dict[str, dict] = {}


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# The index_meta oracle derives n_blocks/payload geometry from the
# UNSALTED whole-list layout (ceil(df/128) full blocks); skew salting
# produces ragged-but-self-describing tail blocks that would legitimately
# differ.  Gate builds therefore pin salting OFF (one chunk per term,
# served by the plain bm25 entries; the index_meta gates read the
# per-term merge_chunks view of those chunks); the salted multi-chunk
# layout is gate-covered separately via the bm25_*_chunked entries,
# whose results are layout-independent.
UNSALTED = 1 << 62


def built(spark: SparkSession, sf_dir: str) -> dict:
    """Build (once per sf_dir) the unsalted chunks, their per-term
    merge_chunks view, docs and stats over documents."""
    if sf_dir in _INDEX_CACHE:
        return _INDEX_CACHE[sf_dir]
    from invertedindexbuilder_spark.operators.index_build import (
        encode_chunks,
        merge_chunks,
    )
    from invertedindexbuilder_spark.operators.postings import build_postings
    from invertedindexbuilder_spark.sources.docs_src import (
        docs_from_documents_table,
    )

    docs = docs_from_documents_table(documents(spark, sf_dir)).cache()
    postings = build_postings(docs).cache()
    chunks = encode_chunks(postings, salt_threshold=UNSALTED, heavy=[]).cache()
    agg = docs.agg(
        F.count("*").alias("n"),
        F.sum("doc_len").alias("sdl"),
        F.min("doc_len").alias("mdl"),
    ).collect()[0]
    env = {
        "docs": docs,
        "postings": postings,
        "index_chunks": chunks,
        "index": merge_chunks(chunks).cache(),
        "stats": {
            "n_docs": int(agg["n"]),
            "sum_doc_len": int(agg["sdl"]),
            "min_doc_len": int(agg["mdl"]),
        },
    }
    _INDEX_CACHE[sf_dir] = env
    return env


def shard_envs(spark: SparkSession, sf_dir: str) -> list[dict]:
    """Two INDEPENDENT shard builds over doc-id halves of the corpus
    (each with dense LOCAL ids 0..n-1), for the scatter-gather serving
    gate: global id = shard offset + local id matches the full build's
    ids exactly, so the full-corpus BM25 oracle applies unchanged."""
    env = built(spark, sf_dir)
    if "shards" not in env:
        from invertedindexbuilder_spark.operators.index_build import (
            encode_chunks,
        )

        n = int(env["stats"]["n_docs"])
        n_a = n // 2
        shards = []
        for lo, hi in ((0, n_a), (n_a, n)):
            in_range = (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            docs = env["docs"].filter(in_range).withColumn(
                "doc_id", (F.col("doc_id") - F.lit(lo)).cast("long")
            ).cache()
            post = env["postings"].filter(in_range).withColumn(
                "doc_id", (F.col("doc_id") - F.lit(lo)).cast("long")
            )
            agg = docs.agg(
                F.count("*").alias("n"),
                F.sum("doc_len").alias("sdl"),
                F.min("doc_len").alias("mdl"),
            ).collect()[0]
            shards.append(
                {
                    "chunks": encode_chunks(
                        post, salt_threshold=64, chunk_blocks=1
                    ).cache(),
                    "docs": docs,
                    "stats": {
                        "n_docs": int(agg["n"]),
                        "sum_doc_len": int(agg["sdl"]),
                        "min_doc_len": int(agg["mdl"]),
                    },
                }
            )
        env["shards"] = shards
    return env["shards"]


def chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked SERVING index over the same corpus, with an artificially
    LOW salt threshold so common terms really do span several doc-range
    chunks — the gate then exercises multi-chunk distributed decode
    (the 100 TB stopword path), not just the 1-chunk degenerate case."""
    env = built(spark, sf_dir)
    if "chunks" not in env:
        from invertedindexbuilder_spark.operators.index_build import (
            encode_chunks,
        )

        env["chunks"] = encode_chunks(
            env["postings"], salt_threshold=64, chunk_blocks=1
        ).cache()
    return env["chunks"]


_PAIRS_CACHE: dict[str, DataFrame] = {}


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash-LSH near-dup pairs over the planted-duplicate
    corpus, computed ONCE per sf_dir — minhash_dedup localCheckpoints
    its (small) output, so the three gates that consume the pair set
    (dedup_minhash_lsh, dedup_clusters, curated_corpus) share one LSH
    pass instead of re-running the shingle pipeline each."""
    if sf_dir not in _PAIRS_CACHE:
        from invertedindexbuilder_spark.operators.dedup import minhash_dedup

        _PAIRS_CACHE[sf_dir] = minhash_dedup(
            dedup_corpus(spark, sf_dir), threshold=0.6
        )
    return _PAIRS_CACHE[sf_dir]


def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = documents(spark, sf_dir).select("doc_id", "text")
    head = d.filter(F.col("doc_id") < 20)
    return (
        d.unionAll(head.select(F.col("doc_id") + 100000, "text"))
        .unionAll(
            head.select(
                F.col("doc_id") + 200000,
                F.concat(F.col("text"), F.lit(DEDUP_SUFFIX)).alias("text"),
            )
        )
        .unionAll(
            spark.createDataFrame(SHORT_DOCS, "doc_id long, text string")
        )
    )


# Near-dup embedding corpus: embeddings (as double) plus exact copies
# (vec_id+100000) and sign-preserving perturbed copies (vec_id+200000,
# first component doubled) of the first 10 vectors — the shared table
# has no natural near-duplicates.
def embed_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    head = e.filter(F.col("vec_id") < 10)
    exact = head.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    pert = head.select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) * F.lit(2.0)),
            F.slice(F.col("embedding"), F.lit(2), F.size("embedding") - 1),
        ).alias("embedding"),
    )
    return e.unionAll(exact).unionAll(pert)


def bm25_query(
    spark: SparkSession,
    sf_dir: str,
    qterms: list[tuple[str, int]],
    mode: str,
    k: int,
    exclude: str | None = None,
    doc_filter=None,
) -> DataFrame:
    from invertedindexbuilder_spark.operators.query_exec import (
        topk_bm25_chunked,
    )

    env = built(spark, sf_dir)
    query = " ".join(t for t, w in qterms for _ in range(w))
    out = topk_bm25_chunked(
        spark,
        env["index_chunks"],
        env["docs"],
        env["stats"],
        query,
        mode=mode,
        k=k,
        round_digits=5,
        exclude=exclude,
        doc_filter=doc_filter,
    )
    return out.select("doc_id", "score")


def bm25_chunked_query(
    spark: SparkSession, sf_dir: str, qterms: list[tuple[str, int]], mode: str, k: int
) -> DataFrame:
    from invertedindexbuilder_spark.operators.query_exec import (
        topk_bm25_chunked,
    )

    env = built(spark, sf_dir)
    chunks = chunked(spark, sf_dir)
    query = " ".join(t for t, w in qterms for _ in range(w))
    out = topk_bm25_chunked(
        spark,
        chunks,
        env["docs"],
        env["stats"],
        query,
        mode=mode,
        k=k,
        round_digits=5,
    )
    return out.select("doc_id", "score")
