"""Build-artifact equivalence vs the patched reference C binary
(SURVEY §5.4.2, the strongest invariant): per-term (df, postings) and
per-doc (doc_id, url, doc_len) must match exactly — modulo the two
documented reference defects D2 (lexicographically-last term lost from
the C index) and D4 (unpatched-only: uninitialized map keys split
terms).
"""

import collections
import os
import shutil
import subprocess

import numpy as np
import pytest

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.functions.compress import decode_posting_list
from invertedindexbuilder_spark.operators.index_build import merge_chunks
from invertedindexbuilder_spark.plans.build import build
from invertedindexbuilder_spark.sources.docs_src import (
    synthetic_docs_src,
    synthetic_docs_src_pandas,
)
from oracle.c_oracle import build_reference_index
from oracle.decode import read_doc_table, read_lexicon, read_reference_index

N_DOCS = 500

pytestmark = pytest.mark.skipif(
    shutil.which("gcc") is None, reason="gcc unavailable"
)


@pytest.fixture(scope="module")
def ref_output(tmp_path_factory):
    pdf = synthetic_docs_src_pandas(N_DOCS)
    return build_reference_index(pdf, str(tmp_path_factory.mktemp("c_oracle")))


@pytest.fixture(scope="module")
def our_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ours") / "idx")
    build(spark, synthetic_docs_src(spark, N_DOCS), out, salt_threshold=10**9)
    return out


def test_doc_table_exact(spark, ref_output, our_index):
    ref_docs = read_doc_table(os.path.join(ref_output, "doc_table"))
    ours = (
        Catalog(spark, our_index)
        .read("docs")
        .select("doc_id", "url", "doc_len")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(ref_docs) == len(ours) == N_DOCS
    for i, (doc_id, size_of_doc, _offset, url) in enumerate(ref_docs):
        assert doc_id == int(ours.doc_id.iloc[i])
        assert size_of_doc == int(ours.doc_len.iloc[i])
        assert url == ours.url.iloc[i]


def test_index_exact_modulo_d2(spark, ref_output, our_index):
    ref = read_reference_index(ref_output)
    rows = merge_chunks(
        Catalog(spark, our_index).read("index_chunks")
    ).collect()
    got = {}
    for r in rows:
        docs, tfs = decode_posting_list(
            bytes(r["payload"]),
            r["df"],
            np.asarray(r["block_bytes"]),
            block_counts=np.asarray(r["block_counts"]),
        )
        got[r["term"]] = list(zip(docs.tolist(), tfs.tolist()))
    # D2: the byte-wise largest surviving term is lost by the C merge's
    # flush protocol — present in OURS, absent in THEIRS.
    largest = max(got)
    assert largest == "zzzsentinel"
    assert largest not in ref
    assert set(ref) == set(got) - {largest}
    for t in ref:
        assert ref[t] == got[t], f"postings differ for {t!r}"


def test_lexicon_term_sorted_no_splits(ref_output):
    lex = read_lexicon(os.path.join(ref_output, "lexicon"))
    terms = [t for t, _ in lex]
    assert terms == sorted(terms)
    assert len(terms) == len(set(terms)), "D4 patch should remove splits"


def test_d4_unpatched_splits(tmp_path):
    """Pin the UNPATCHED reference behavior: without the memset fix,
    terms split into multiple lexicon records (heap-garbage keys) and
    some postings are lost outright.  This documents why the oracle
    binary carries the D4 patch."""
    pdf = synthetic_docs_src_pandas(N_DOCS)
    try:
        out = build_reference_index(pdf, str(tmp_path), patch_d4=False)
    except subprocess.CalledProcessError:
        pytest.skip("unpatched reference crashed outright on this corpus")
    lex = read_lexicon(os.path.join(out, "lexicon"))
    counts = collections.Counter(t for t, _ in lex)
    assert max(counts.values()) > 1, "expected split terms without D4 patch"
