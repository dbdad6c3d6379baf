"""Build-pipeline equivalence vs the pandas brute-force oracle:
docs table, full decoded postings, salting invariance, sha256
invariant, resume skipping (SURVEY §5.4.2/4/5)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.functions.compress import decode_posting_list
from invertedindexbuilder_spark.operators.index_build import merge_chunks
from invertedindexbuilder_spark.plans.build import build, load_stats
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

from tests.oracle_util import CorpusOracle

N_DOCS = 500


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "sf_small")
    src = synthetic_docs_src(spark, N_DOCS)
    manifest = build(spark, src, out, salt_threshold=10**9)
    return out, manifest


@pytest.fixture(scope="module")
def oracle():
    return CorpusOracle(N_DOCS)


def decoded_index(spark, out) -> dict:
    rows = merge_chunks(Catalog(spark, out).read("index_chunks")).collect()
    got = {}
    for r in rows:
        docs, tfs = decode_posting_list(
            bytes(r["payload"]),
            r["df"],
            np.asarray(r["block_bytes"]),
            block_counts=np.asarray(r["block_counts"]),
        )
        got[r["term"]] = list(zip(docs.tolist(), tfs.tolist()))
    return got


def test_docs_table_matches_oracle(spark, built, oracle):
    out, _ = built
    sdocs = (
        Catalog(spark, out)
        .read("docs")
        .select("doc_id", "url", "doc_len")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (sdocs.doc_id.values == oracle.pdf.doc_id.values).all()
    assert (sdocs.url.values == oracle.pdf.url.values).all()
    assert (sdocs.doc_len.values == oracle.pdf.doc_len.values).all()


def test_full_decoded_index_matches_oracle(spark, built, oracle):
    out, _ = built
    got = decoded_index(spark, out)
    want = {t: sorted(pl.items()) for t, pl in oracle.postings.items()}
    assert set(got) == set(want)
    for t in want:
        assert got[t] == want[t], f"postings differ for term {t!r}"
    # multi-block coverage: the stopword must span >= 3 blocks
    assert len(want["common"]) > 256


def test_stats_match(spark, built, oracle):
    out, _ = built
    stats = load_stats(spark, out)
    assert stats["n_docs"] == oracle.n_docs
    assert stats["sum_doc_len"] == int(oracle.pdf.doc_len.sum())
    assert stats["n_postings"] == sum(len(p) for p in oracle.postings.values())


def test_sha256_invariant(spark, built):
    """North-rule per-row invariant: sha256(content) in docs equals a
    recompute from the source table; exceptAll must be empty."""
    out, _ = built
    docs = Catalog(spark, out).read("docs")
    src = synthetic_docs_src(spark, N_DOCS)
    recomputed = src.select(
        "repo", "path", "commit", F.sha2(F.coalesce("content", F.lit("")), 256).alias("sha")
    )
    stored = docs.select("repo", "path", "commit", F.col("content_sha256").alias("sha"))
    assert stored.exceptAll(recomputed).count() == 0
    assert recomputed.exceptAll(stored).count() == 0


def test_salted_build_identical_decoded(spark, tmp_path, oracle):
    """Skew path: aggressive salting (threshold 50, 2-block chunks) must
    produce the same logical index as the unsalted build."""
    out = str(tmp_path / "salted")
    src = synthetic_docs_src(spark, N_DOCS)
    manifest = build(spark, src, out, salt_threshold=50, chunk_blocks=2)
    assert manifest["phases"]["index"]["salted_terms"] > 0
    got = decoded_index(spark, out)
    want = {t: sorted(pl.items()) for t, pl in oracle.postings.items()}
    assert got == want


def test_jvm_and_pandas_tokenizer_parity(spark):
    """The selectable JVM tokenizer (explode + partial-agg tf) must
    produce exactly the pandas path's postings on the adversarial
    fixture corpus (D0, 15/16-char, unicode, empty docs)."""
    from invertedindexbuilder_spark.operators.docids import assign_doc_ids
    from invertedindexbuilder_spark.operators.postings import (
        build_postings,
        build_postings_jvm,
    )

    docs = assign_doc_ids(synthetic_docs_src(spark, 300)).select(
        "doc_id", "content"
    )
    a = [
        (r["term"], r["doc_id"], r["tf"])
        for r in build_postings(docs).orderBy("term", "doc_id").collect()
    ]
    b = [
        (r["term"], r["doc_id"], r["tf"])
        for r in build_postings_jvm(docs).orderBy("term", "doc_id").collect()
    ]
    assert a == b and len(a) > 0


def test_resume_skips_completed_phases(spark, tmp_path):
    out = str(tmp_path / "resume")
    src = synthetic_docs_src(spark, 200)
    m1 = build(spark, src, out, checkpoint_postings=True)
    m2 = build(spark, src, out, checkpoint_postings=True)
    # second run must skip every phase: recorded metrics unchanged
    assert m1 == m2
    # changed input => fingerprints differ => phases re-run
    src2 = synthetic_docs_src(spark, 201)
    m3 = build(spark, src2, out, checkpoint_postings=True)
    assert m3["phases"]["docs"]["fingerprint"] != m1["phases"]["docs"]["fingerprint"]
    assert m3["phases"]["docs"]["rows"] == 201
