"""Explicit schemas for every persistent table (SURVEY §1.3).

The engine's tables (all columnar, partitioned; written through
``catalog.py`` as Iceberg when a runtime is configured, parquet
otherwise):

- ``docs_src``  — the ONLY input (BASELINE.json input_hint): one row per
  source file at a commit.
- ``docs``     — docID lexicon: deterministic doc_id, synthesized url,
  reference doc_len semantics, sha256(content) per-row invariant.
- ``postings`` — (term, doc_id, tf); intermediate, checkpointable.
- ``index_chunks`` — the serving layout: one row per (term, salt)
  doc-range chunk (``first_doc_id`` + df + block metadata + compressed
  payload whose first gap is absolute); every query path reads it.
- ``index``    — optional merged export (``build(merged=True)``): one
  row per term, the reference-parity artifact for oracle runs and
  introspection; no query path reads it.
- ``stats``    — singleton corpus aggregates used by the scorer.
- ``deleted_docs`` — tombstoned doc ids (plans/deletes.py).

``TABLE_SCHEMAS`` maps the engine's table names to these schemas:
``catalog.Catalog.read`` passes the schema, so opening one of them
runs no parquet footer-inference job.
"""

from __future__ import annotations

from pyspark.sql import types as T

DOCS_SRC = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)

DOCS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("doc_len", T.LongType(), False),
        T.StructField("content_sha256", T.StringType(), False),
    ]
)

POSTINGS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
    ]
)

# block_counts: postings per block.  For an unsalted list this is
# [128, ..., 128, tail] (the reference's implicit layout, model.h:87);
# after a skew-salted chunk merge interior blocks may be short, so the
# layout must be self-describing.
INDEX = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("last_doc_ids", T.ArrayType(T.LongType(), False), False),
        T.StructField("block_bytes", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("block_counts", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("max_tf", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

# serving chunk rows: one per (term, salt); light terms are one salt-0
# chunk, heavy terms span doc-range chunks (SURVEY §7.4)
INDEX_CHUNK = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("first_doc_id", T.LongType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("last_doc_ids", T.ArrayType(T.LongType(), False), False),
        T.StructField("block_bytes", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("block_counts", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("max_tf", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

STATS = T.StructType(
    [
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("sum_doc_len", T.LongType(), False),
        T.StructField("n_terms", T.LongType(), False),
        T.StructField("n_postings", T.LongType(), False),
        # corpus-wide doc_len floor: the heavy lists' BM25 upper bound
        # in the OR candidate pass's bound check (query_exec)
        T.StructField("min_doc_len", T.LongType(), False),
    ]
)

DELETED_DOCS = T.StructType([T.StructField("doc_id", T.LongType(), True)])

TABLE_SCHEMAS = {
    "docs": DOCS,
    "index_chunks": INDEX_CHUNK,
    "index": INDEX,
    "stats": STATS,
    "deleted_docs": DELETED_DOCS,
}
