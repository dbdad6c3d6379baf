"""Facet counts over the boolean match set (query_exec.facet_counts):
counts vs a brute-force recompute on a corpus with known facet
structure, parity between whole-list rows (``index``: the merged
layout, one unsalted chunk per term) and salted chunks, OR vs AND, unknown-term drop,
all-unknown empty frame, tombstone exclusion, and the top-N limit.
(The reference's query surface has no facet analog — serving
extension layer, like boolean NOT.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.operators.index_build import encode_chunks
from invertedindexbuilder_spark.operators.postings import build_postings
from invertedindexbuilder_spark.operators.query_exec import facet_counts
from invertedindexbuilder_spark.sources.docs_src import (
    docs_from_documents_table,
)

LANGS = ["py", "go", "rs"]
SOURCES = ["gh", "gl"]


def _toks(d: int) -> set[str]:
    toks = set()
    if d % 2 == 0:
        toks.add("data")
    if d % 3 == 0:
        toks.add("join")
    if d % 5 == 0:
        toks.add("window")
    toks.add("common")
    return toks


@pytest.fixture(scope="module")
def env(spark):
    rows = [
        (d, " ".join(sorted(_toks(d))) + " .", LANGS[d % 3], SOURCES[d % 2])
        for d in range(90)
    ]
    documents = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    docs = docs_from_documents_table(documents).cache()
    postings = build_postings(docs).cache()
    return {
        "index": encode_chunks(postings, heavy=[]).cache(),
        "chunks": encode_chunks(
            postings, salt_threshold=16, chunk_blocks=1
        ).cache(),
        "facets": documents.select("doc_id", "lang", "source").cache(),
    }


def _expect(match_ids, cols=("lang", "source")):
    counts: dict[tuple, int] = {}
    for d in match_ids:
        key = tuple(
            {"lang": LANGS[d % 3], "source": SOURCES[d % 2]}[c] for c in cols
        )
        counts[key] = counts.get(key, 0) + 1
    return counts


def _got(df, n_cols=2):
    return {
        tuple(r[i] for i in range(n_cols)): r["n_docs"] for r in df.collect()
    }


@pytest.mark.parametrize("layout", ["index", "chunks"])
def test_and_mode_counts(spark, env, layout):
    out = facet_counts(
        spark, env[layout], env["facets"], "data join",
        ["lang", "source"], mode="and",
    )
    want = _expect([d for d in range(90) if d % 6 == 0])
    assert _got(out) == want
    # ordering contract: count desc, then facet values asc
    rows = out.collect()
    keys = [(-r["n_docs"], r["lang"], r["source"]) for r in rows]
    assert keys == sorted(keys)


@pytest.mark.parametrize("layout", ["index", "chunks"])
def test_or_mode_counts(spark, env, layout):
    out = facet_counts(
        spark, env[layout], env["facets"], "data window",
        ["lang"], mode="or",
    )
    want = _expect(
        [d for d in range(90) if d % 2 == 0 or d % 5 == 0], cols=("lang",)
    )
    assert _got(out, n_cols=1) == {(k[0],): v for k, v in want.items()}


def test_unknown_term_drops_from_and(spark, env):
    # reference parser semantics: unknown terms drop, the rest match
    out = facet_counts(
        spark, env["index"], env["facets"], "data zzznotaterm",
        ["source"], mode="and",
    )
    want = _expect([d for d in range(90) if d % 2 == 0], cols=("source",))
    assert _got(out, n_cols=1) == {(k[0],): v for k, v in want.items()}


def test_all_unknown_is_empty_with_schema(spark, env):
    out = facet_counts(
        spark, env["chunks"], env["facets"], "zzz qqq",
        ["lang", "source"], mode="or",
    )
    assert out.columns == ["lang", "source", "n_docs"]
    assert out.count() == 0


def test_tombstones_leave_facet_counts(spark, env):
    tomb = env["facets"].select("doc_id").filter(F.col("doc_id") % 9 == 0)
    out = facet_counts(
        spark, env["index"], env["facets"], "data join",
        ["lang"], mode="and", exclude_doc_ids=tomb,
    )
    want = _expect(
        [d for d in range(90) if d % 6 == 0 and d % 9 != 0], cols=("lang",)
    )
    assert _got(out, n_cols=1) == {(k[0],): v for k, v in want.items()}


def test_top_limits_rows(spark, env):
    full = facet_counts(
        spark, env["index"], env["facets"], "common",
        ["lang", "source"], mode="or",
    ).collect()
    top2 = facet_counts(
        spark, env["index"], env["facets"], "common",
        ["lang", "source"], mode="or", top=2,
    ).collect()
    assert [tuple(r) for r in top2] == [tuple(r) for r in full[:2]]


@pytest.fixture(scope="module")
def built_root(spark, tmp_path_factory):
    from invertedindexbuilder_spark.plans.build import build
    from invertedindexbuilder_spark.sources.docs_src import (
        synthetic_docs_src,
    )

    out = str(tmp_path_factory.mktemp("fc") / "idx")
    build(spark, synthetic_docs_src(spark, 600), out)
    return out


@pytest.mark.parametrize("query,mode", [
    ("alpha common", "and"), ("alpha beta", "or"),
])
def test_local_facets_match_spark_surface(spark, built_root, query, mode):
    import numpy as np

    from invertedindexbuilder_spark.catalog import Catalog
    from invertedindexbuilder_spark.operators.local_query import (
        LocalIndex,
        facet_counts_local,
    )

    cat = Catalog(spark, built_root)
    fac = cat.read("docs").select("doc_id", "repo")
    want = [
        (r["repo"], r["n_docs"])
        for r in facet_counts(
            spark, cat.read("index_chunks"), fac, query, ["repo"], mode=mode
        ).collect()
    ]
    li = LocalIndex(built_root)
    got = facet_counts_local(li, query, ["repo"], mode=mode)
    assert got == want
    # tombstones leave the local counts exactly like exclude_doc_ids
    # leaves the Spark counts
    from invertedindexbuilder_spark.operators.query_exec import (
        facet_counts as fc,
    )

    li.tombstones = np.arange(0, 600, 7, dtype=np.int64)
    tomb = fac.select("doc_id").filter(F.col("doc_id") % 7 == 0)
    want_t = [
        (r["repo"], r["n_docs"])
        for r in fc(
            spark, cat.read("index_chunks"), fac, query, ["repo"], mode=mode,
            exclude_doc_ids=tomb,
        ).collect()
    ]
    assert facet_counts_local(li, query, ["repo"], mode=mode) == want_t


def test_and_candidate_path_forced_equals_unpruned(spark, env, monkeypatch):
    """Conjunctive candidate facet path: with the skippable floor
    forced to 0 the candidate pass must engage on the chunked layout
    and produce counts identical to the unpruned path and the brute
    expectation."""
    from invertedindexbuilder_spark.operators import query_exec as qe

    calls = []
    real = qe.candidate_pass

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    want = _expect([d for d in range(90) if d % 6 == 0])
    monkeypatch.setattr(qe, "candidate_pass", spy)
    monkeypatch.setattr(qe, "AND_PRUNE_MIN_SKIPPABLE", 0)
    pruned = facet_counts(
        spark, env["chunks"], env["facets"], "data join",
        ["lang", "source"], mode="and",
    )
    assert _got(pruned) == want
    rows = pruned.collect()
    keys = [(-r["n_docs"], r["lang"], r["source"]) for r in rows]
    assert keys == sorted(keys)
    # single-key query through the engaged path
    single = facet_counts(
        spark, env["chunks"], env["facets"], "join", ["lang"], mode="and",
    )
    assert _got(single, n_cols=1) == {
        (k,): v
        for (k,), v in _expect(
            [d for d in range(90) if d % 3 == 0], cols=("lang",)
        ).items()
    }
    assert len(calls) == 2, "forced floor must engage the candidate pass"


@pytest.mark.parametrize("mode", ["and", "or"])
def test_sharded_view_facets_match_single_build(spark, env, mode):
    """Sharded facet parity (VERDICT r7 #6): facet_counts over a
    two-shard sharded_view must count identically to the single chunked
    build — the SURVEY row claims sharded facets; pin it beyond the CLI
    wiring."""
    from invertedindexbuilder_spark.operators.postings import (
        build_postings as _bp,
    )
    from invertedindexbuilder_spark.operators.sharding import sharded_view
    from invertedindexbuilder_spark.sources.docs_src import (
        docs_from_documents_table as _dfd,
    )

    # rebuild the fixture's corpus split at the id midpoint; local ids
    # = global - lo, exactly the merge_builds id contract
    rows = [
        (d, " ".join(sorted(_toks(d))) + " .", LANGS[d % 3], SOURCES[d % 2])
        for d in range(90)
    ]
    mid = 45
    shards = []
    for lo, hi in ((0, mid), (mid, 90)):
        documents = spark.createDataFrame(
            [(d - lo, t, la, so) for (d, t, la, so) in rows if lo <= d < hi],
            "doc_id long, text string, lang string, source string",
        )
        docs = _dfd(documents).cache()
        shards.append({
            "chunks": encode_chunks(
                _bp(docs), salt_threshold=16, chunk_blocks=1
            ).cache(),
            "docs": docs.select("doc_id", "doc_len").cache(),
            "stats": {
                "n_docs": hi - lo,
                "sum_doc_len": docs.agg(F.sum("doc_len")).collect()[0][0],
                "min_doc_len": docs.agg(F.min("doc_len")).collect()[0][0],
            },
        })
    view = sharded_view(shards)
    for query, cols in (("data join", ["lang", "source"]),
                        ("data window", ["lang"])):
        single = facet_counts(
            spark, env["chunks"], env["facets"], query, cols, mode=mode,
        )
        shard_out = facet_counts(
            spark, view["chunks"], env["facets"], query, cols, mode=mode,
        )
        n = len(cols)
        assert _got(shard_out, n_cols=n) == _got(single, n_cols=n), (
            query, mode,
        )
