"""Document deletion: tombstones (logical) + purge (physical).

Contracts pinned here (plans/deletes.py):

- tombstoned docs vanish from every query surface (Spark single-query,
  Spark batch, driver-local) while stats stay as-indexed;
- purge == fresh rebuild over the surviving corpus: identical merged
  posting lists (decode), docs table, stats, and top-k answers, and
  the rewritten merged export decodes like the rewritten chunk table;
- chunks with no tombstone inside their doc range take the
  one-varbyte first-gap rebase (payload tail byte-identical), only
  overlapping chunks re-encode;
- delete_docs is idempotent and validates the id range; purge clears
  tombstones and keeps the dense-id contract (a later compact works).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.functions.compress import decode_posting_list
from invertedindexbuilder_spark.operators.index_build import (
    encode_chunks,
    merge_chunks,
    purge_chunks,
)
from invertedindexbuilder_spark.operators.local_query import (
    LocalIndex,
    topk_local,
)
from invertedindexbuilder_spark.operators.postings import build_postings
from invertedindexbuilder_spark.operators.query_exec import (
    tokenize_query,
    topk_bm25_chunked,
)
from invertedindexbuilder_spark.plans.build import build, compact, load_stats
from invertedindexbuilder_spark.plans.deletes import (
    delete_docs,
    load_tombstones,
    purge_deletes,
)
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

from tests.oracle_util import CorpusOracle, decoded_lists

N_DOCS = 300
DELETED = sorted({3, 17, 42, 120, 121, 122, 250, 299})


def _decode_all(index_df):
    """merged index -> {term: [(doc_id, tf), ...]}"""
    out = {}
    for r in index_df.collect():
        docs, tfs = decode_posting_list(
            bytes(r["payload"]),
            int(r["df"]),
            np.asarray(r["block_bytes"]),
            block_counts=np.asarray(r["block_counts"]),
        )
        out[r["term"]] = list(zip(docs.tolist(), tfs.tolist()))
    return out


@pytest.fixture(scope="module")
def purged_and_rebuilt(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("deletes")
    out = str(root / "full")
    out_ref = str(root / "survivors")
    build(spark, synthetic_docs_src(spark, N_DOCS), out)
    delete_docs(spark, out, DELETED)
    res = purge_deletes(spark, out)
    assert res == {"n_purged": len(DELETED), "n_docs": N_DOCS - len(DELETED)}
    # the reference build: drop the same docs from the SOURCE (keyed by
    # what survived the purge) and rebuild from scratch
    src = synthetic_docs_src(spark, N_DOCS)
    build(spark, _surviving_src(spark, src, out), out_ref)
    return out, out_ref


def _surviving_src(spark, src, purged_root):
    # survivors = keys still present in the purged docs table
    keys = Catalog(spark, purged_root).read("docs").select(
        "repo", "path", "commit"
    )
    return src.join(keys, ["repo", "path", "commit"], "left_semi")


# ------------------------------------------------------------ tombstones


def test_tombstoned_docs_leave_every_surface(spark, tmp_out):
    build(spark, synthetic_docs_src(spark, 200), tmp_out)
    cat = Catalog(spark, tmp_out)
    stats = load_stats(spark, tmp_out)
    chunks = cat.read("index_chunks")
    docs = cat.read("docs").select("doc_id", "doc_len")
    base = topk_bm25_chunked(
        spark, chunks, docs, stats, "alpha common", mode="or", k=200
    ).collect()
    assert base, "query must match something for the test to mean anything"
    victims = [r["doc_id"] for r in base[:3]]
    # a session opened before the delete caches its snapshot's answer
    before = LocalIndex(tmp_out)
    cached = topk_local(before, "alpha common", mode="or", k=200)
    delete_docs(spark, tmp_out, victims)

    tomb = load_tombstones(spark, tmp_out)
    spark_res = topk_bm25_chunked(
        spark, chunks, docs, stats, "alpha common", mode="or", k=200,
        exclude_doc_ids=tomb,
    ).collect()
    got = {r["doc_id"] for r in spark_res}
    assert not (got & set(victims))
    # exclusion-only difference: same scores for every surviving doc
    # (stats stay as-indexed)
    base_scores = {r["doc_id"]: r["score"] for r in base}
    for r in spark_res:
        assert r["score"] == pytest.approx(base_scores[r["doc_id"]])

    # driver-local surface applies tombstones by default
    li = LocalIndex(tmp_out)
    assert li.tombstones is not None
    local = topk_local(li, "alpha common", mode="or", k=200)
    assert not ({d for d, _ in local} & set(victims))
    assert {d for d, _ in local} == got
    # the new snapshot answers the query the old session had cached with
    # the new snapshot's results (the oracle without the victims); the
    # old session keeps answering from its own snapshot
    want = [
        (d, sc)
        for d, sc in CorpusOracle(200).topk(
            tokenize_query("alpha common"), "or", 200
        )
        if d not in victims
    ]
    assert [d for d, _ in local] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(local, want):
        assert abs(gs - ws) <= 1e-9 * max(1.0, abs(ws))
    assert topk_local(before, "alpha common", mode="or", k=200) == cached
    assert before.cache_hits == 1 and set(victims) <= {d for d, _ in cached}
    # and can be asked not to
    raw = topk_local(li, "alpha common", mode="or", k=200,
                     apply_tombstones=False)
    assert {d for d, _ in raw} == {r["doc_id"] for r in base}


def test_batch_serving_excludes_tombstones(spark, tmp_out):
    from invertedindexbuilder_spark.operators.query_batch import (
        topk_bm25_batch,
    )

    build(spark, synthetic_docs_src(spark, 150), tmp_out)
    cat = Catalog(spark, tmp_out)
    stats = load_stats(spark, tmp_out)
    chunks = cat.read("index_chunks")
    docs = cat.read("docs").select("doc_id", "doc_len")
    qdf = spark.createDataFrame(
        [(0, "alpha common"), (1, "beta common")],
        "query_id long, text string",
    )
    base = topk_bm25_batch(
        spark, chunks, docs, stats, qdf, mode="or", k=150
    ).collect()
    victims = sorted({r["doc_id"] for r in base})[:4]
    delete_docs(spark, tmp_out, victims)
    tomb = load_tombstones(spark, tmp_out)
    res = topk_bm25_batch(
        spark, chunks, docs, stats, qdf, mode="or", k=150,
        exclude_doc_ids=tomb,
    ).collect()
    assert not ({r["doc_id"] for r in res} & set(victims))
    # exclusion-only: surviving (query, doc) scores unchanged
    base_s = {(r["query_id"], r["doc_id"]): r["score"] for r in base}
    for r in res:
        assert r["score"] == pytest.approx(base_s[(r["query_id"], r["doc_id"])])


def test_delete_docs_idempotent_and_validated(spark, tmp_out):
    build(spark, synthetic_docs_src(spark, 50), tmp_out)
    assert delete_docs(spark, tmp_out, [1, 2]) == {"n_tombstones": 2}
    assert delete_docs(spark, tmp_out, [2, 3]) == {"n_tombstones": 3}
    assert delete_docs(spark, tmp_out, [1, 2, 3]) == {"n_tombstones": 3}
    with pytest.raises(ValueError, match="outside the indexed range"):
        delete_docs(spark, tmp_out, [50])
    with pytest.raises(ValueError, match="outside the indexed range"):
        delete_docs(spark, tmp_out, [-1])


# ----------------------------------------------------------------- purge


def test_purge_equals_rebuild(spark, purged_and_rebuilt):
    out, out_ref = purged_and_rebuilt
    cat, ref = Catalog(spark, out), Catalog(spark, out_ref)

    # docs: identical key -> (doc_id, doc_len, sha) mapping
    cols = ["repo", "path", "commit", "doc_id", "doc_len", "content_sha256"]
    a = {tuple(r) for r in cat.read("docs").select(*cols).collect()}
    b = {tuple(r) for r in ref.read("docs").select(*cols).collect()}
    assert a == b

    # stats: identical
    sa, sb = load_stats(spark, out), load_stats(spark, out_ref)
    assert sa == sb

    # merged index: identical decoded posting lists
    assert _decode_all(cat.read("index")) == _decode_all(ref.read("index"))
    # the purged export and the purged chunk table agree
    assert decoded_lists(cat.read("index")) == decoded_lists(
        cat.read("index_chunks")
    )

    # end to end: identical top-k from both builds
    for mode in ("and", "or"):
        ra = topk_local(LocalIndex(out), "alpha common", mode=mode, k=20)
        rb = topk_local(LocalIndex(out_ref), "alpha common", mode=mode, k=20)
        assert [(d, round(s, 9)) for d, s in ra] == [
            (d, round(s, 9)) for d, s in rb
        ]


def test_purge_clears_tombstones_and_compact_still_works(
    spark, purged_and_rebuilt
):
    out, _ = purged_and_rebuilt
    assert load_tombstones(spark, out) is None
    # dense-id contract survives: a delta compact on top of the purged
    # build must succeed and serve the union corpus
    n_before = int(load_stats(spark, out)["n_docs"])
    compact(spark, synthetic_docs_src(spark, 40, start=N_DOCS), out)
    stats = load_stats(spark, out)
    assert int(stats["n_docs"]) == n_before + 40
    ids = sorted(
        r["doc_id"] for r in Catalog(spark, out).read("docs").collect()
    )
    assert ids == list(range(n_before + 40))


def test_purge_noop_without_tombstones(spark, tmp_out):
    build(spark, synthetic_docs_src(spark, 60), tmp_out)
    assert purge_deletes(spark, tmp_out)["n_purged"] == 0


# --------------------------------------------------- purge_chunks cases


def test_purge_chunks_shift_only_path(spark):
    """Deleting a contiguous LOW id range must re-encode only chunks
    overlapping it; chunks entirely above take the first-gap rebase
    (payload tail bytes identical, ids shifted down)."""
    docs = synthetic_docs_src(spark, 300, with_ids=True)
    postings = build_postings(docs.select("doc_id", "content"))
    # salt every term (threshold 1) into per-128-doc chunks (the
    # minimum span, chunk_blocks=1) -> salt bucket b covers exactly
    # ids [128b, 128(b+1))
    chunks = encode_chunks(
        postings, salt_threshold=1, chunk_blocks=1
    ).cache()
    span = 128
    deleted = np.arange(0, span, dtype=np.int64)  # all of salt bucket 0
    purged = purge_chunks(chunks, deleted).cache()

    from invertedindexbuilder_spark.functions.compress import (
        vb_byte_lengths,
    )

    old = {
        (r["term"], r["salt"]): r
        for r in chunks.filter(F.col("salt") > 0).collect()
    }
    new = {
        (r["term"], r["salt"]): r
        for r in purged.filter(F.col("salt") > 0).collect()
    }
    assert old.keys() == new.keys() and old
    for key, o in old.items():
        n = new[key]
        assert n["first_doc_id"] == o["first_doc_id"] - span
        assert list(n["last_doc_ids"]) == [x - span for x in o["last_doc_ids"]]
        assert n["df"] == o["df"]
        # tail after the first varbyte is byte-identical (no re-encode)
        o_first_len = int(vb_byte_lengths(np.array([o["first_doc_id"]]))[0])
        n_first_len = int(vb_byte_lengths(np.array([n["first_doc_id"]]))[0])
        assert bytes(o["payload"])[o_first_len:] == bytes(n["payload"])[n_first_len:]
    # posting accounting: exactly the deleted range's postings vanish
    # (salt-0 rows are LIGHT df<=1 terms, which may span the range and
    # re-encode — covered by the decode-identity test below)
    n_deleted_postings = postings.filter(F.col("doc_id") < span).count()
    old_total = chunks.agg(F.sum("df")).collect()[0][0]
    new_total = purged.agg(F.sum("df")).collect()[0][0]
    assert new_total == old_total - n_deleted_postings
    # and every surviving id is inside the remapped dense range
    assert (
        purged.agg(F.max(F.element_at("last_doc_ids", -1))).collect()[0][0]
        == 300 - span - 1
    )
    chunks.unpersist()
    purged.unpersist()


def test_purge_chunks_decode_identity(spark):
    """purge_chunks == encode over the filtered+remapped postings, for
    a deletion set that slices through chunk interiors."""
    docs = synthetic_docs_src(spark, 150, with_ids=True)
    postings = build_postings(docs.select("doc_id", "content")).cache()
    chunks = encode_chunks(postings, salt_threshold=64, chunk_blocks=1)
    deleted = np.array(sorted({0, 7, 64, 65, 100, 149}), dtype=np.int64)
    purged = merge_chunks(purge_chunks(chunks, deleted))

    dele = deleted
    surv = postings.filter(~F.col("doc_id").isin([int(x) for x in dele]))
    import pandas as pd

    @F.pandas_udf("long")
    def remap(ids: pd.Series) -> pd.Series:
        v = ids.values.astype(np.int64)
        return pd.Series(v - np.searchsorted(dele, v))

    ref = merge_chunks(
        encode_chunks(
            surv.withColumn("doc_id", remap(F.col("doc_id"))),
            salt_threshold=64,
            chunk_blocks=1,
        )
    )
    assert _decode_all(purged) == _decode_all(ref)
    postings.unpersist()


def test_purge_rewrites_search_tables(spark, tmp_out, tmp_path):
    """Purging a build WITH stored search tables rewrites them in the
    same atomic flip: every table equals a fresh build_search_tables
    over the surviving (dense-remapped) corpus — filter+remap for the
    per-doc tables, re-derived vocabulary, updated watermark."""
    from invertedindexbuilder_spark.plans.build import build_search_tables

    build(spark, synthetic_docs_src(spark, 60), tmp_out)
    texts = synthetic_docs_src(spark, 60, with_ids=True).select(
        "doc_id", F.col("content").alias("text")
    )
    build_search_tables(spark, texts, tmp_out, collect_counts=False,
                        partition=False)
    deleted = [5, 17, 42]
    delete_docs(spark, tmp_out, deleted)
    out = purge_deletes(spark, tmp_out, partition=False)
    assert out == {"n_purged": 3, "n_docs": 57}

    # reference: fresh search tables over the surviving corpus with
    # the same dense remap the purge applies
    import numpy as np
    import pandas as pd

    dele = np.array(sorted(deleted), dtype=np.int64)

    @F.pandas_udf("long")
    def remap(ids: pd.Series) -> pd.Series:
        v = ids.values.astype(np.int64)
        return pd.Series(v - np.searchsorted(dele, v))

    surv = texts.filter(
        ~F.col("doc_id").isin(deleted)
    ).withColumn("doc_id", remap(F.col("doc_id")))
    ref_root = str(tmp_path / "ref_search")
    build_search_tables(spark, surv, ref_root, collect_counts=False,
                        partition=False)

    from invertedindexbuilder_spark.plans.build import load_search_tables

    got = load_search_tables(spark, tmp_out)
    ref = load_search_tables(spark, ref_root)
    for name in ("positional_postings", "doc_terms", "char_trigrams",
                 "term_dfs", "fuzzy_variants"):
        g = sorted(map(tuple, got[name].collect()))
        r = sorted(map(tuple, ref[name].collect()))
        assert g == r, name
    assert got["n_docs"] == 57 and got["max_doc_id"] == 56


def test_purge_skip_search_tables_refuses(spark, tmp_out):
    from invertedindexbuilder_spark.plans.build import build_search_tables

    build(spark, synthetic_docs_src(spark, 60), tmp_out)
    texts = synthetic_docs_src(spark, 60, with_ids=True).select(
        "doc_id", F.col("content").alias("text")
    )
    build_search_tables(spark, texts, tmp_out, collect_counts=False,
                        partition=False)
    delete_docs(spark, tmp_out, [5])
    with pytest.raises(ValueError, match="stale"):
        purge_deletes(spark, tmp_out, purge_search_tables=False)


def test_purge_emits_id_remap_for_upstream_resync(spark, tmp_path):
    """VERDICT r6 #5: the purge's atomic flip publishes an ``id_remap``
    (old_doc_id -> new_doc_id) table so a CDC upstream holding
    pre-assigned ids resyncs with one join on its OWN ids — no
    (repo, path, commit) re-key over the full docs table.  End-to-end:
    pre-assigned-id build -> purge -> upstream resync via the table ->
    a subsequent compact() with upstream-assigned delta ids passes the
    dense-id validation."""
    root = str(tmp_path / "idx")
    build(spark, synthetic_docs_src(spark, N_DOCS, with_ids=True), root)
    cat = Catalog(spark, root)

    # upstream's view before the purge: its ids ARE the index ids
    upstream = {
        r["doc_id"]: r["url"]
        for r in cat.read("docs").select("doc_id", "url").collect()
    }

    delete_docs(spark, root, DELETED)
    res = purge_deletes(spark, root)
    n_new = res["n_docs"]
    assert n_new == N_DOCS - len(DELETED)

    # the remap table is in the published view, survivors only, and
    # matches the closed form new = old - |tombstones <= old|
    remap = {
        r["old_doc_id"]: r["new_doc_id"]
        for r in cat.read("id_remap").collect()
    }
    assert len(remap) == n_new
    assert set(remap.keys()) == set(range(N_DOCS)) - set(DELETED)
    for old, new in remap.items():
        assert new == old - sum(1 for d in DELETED if d < old)

    # upstream resync: remap its ids, then its (id, url) view must
    # equal the rewritten docs table exactly
    resynced = {remap[i]: url for i, url in upstream.items() if i in remap}
    docs_after = {
        r["doc_id"]: r["url"]
        for r in cat.read("docs").select("doc_id", "url").collect()
    }
    assert resynced == docs_after

    # subsequent compact with UPSTREAM-assigned delta ids (dense
    # 0..m-1 per the prepare_docs contract) passes dense-id validation
    delta = synthetic_docs_src(spark, 40, start=N_DOCS, with_ids=True)
    delta = delta.withColumn("doc_id", F.col("doc_id") - F.lit(N_DOCS))
    compact(spark, delta, root)
    stats = load_stats(spark, root)
    assert stats["n_docs"] == n_new + 40
    ids = sorted(r["doc_id"] for r in cat.read("docs").select("doc_id").collect())
    assert ids == list(range(n_new + 40))
