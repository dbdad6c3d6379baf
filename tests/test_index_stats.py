"""Smoke coverage for the index-introspection CLI (VERDICT r4 #8):
build a tiny index + search tables, run scripts/index_stats.build_report
against it, and assert the report carries the operational facts an
operator needs before serving or compacting (corpus stats, per-table
footprints through the generation pointers, posting distribution,
heaviest terms)."""

from __future__ import annotations

import importlib.util
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from invertedindexbuilder_spark.plans.build import (  # noqa: E402
    build,
    build_search_tables,
)
from invertedindexbuilder_spark.sources.docs_src import (  # noqa: E402
    synthetic_docs_src,
)


def _load_index_stats():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "index_stats", os.path.join(here, "scripts", "index_stats.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_build_report_smoke(spark, tmp_out):
    build(spark, synthetic_docs_src(spark, 40), tmp_out)
    build_search_tables(
        spark,
        spark.createDataFrame(
            [(i, f"common alpha t{i % 7}") for i in range(40)],
            "doc_id long, text string",
        ),
        tmp_out,
        partition=False,
    )

    report = _load_index_stats().build_report(spark, tmp_out, top=3)

    assert report["stats"]["n_docs"] == 40
    # footprints resolve through the catalog for every present table
    for t in ("docs", "index_chunks", "term_dfs", "search_stats"):
        assert report["tables"][t]["bytes"] > 0, t
    # posting distribution + heaviest terms come from the index artifact
    assert report["postings"]["terms"] > 0
    assert report["postings"]["df_max"] > 0
    assert len(report["heaviest_terms"]) == 3
    assert report["heaviest_terms"][0]["df"] == report["postings"]["df_max"]
    # build phases surfaced from the manifest (fingerprints stripped)
    assert "index" in report["phases"]
    assert "fingerprint" not in next(iter(report["phases"].values()))


def test_tombstone_debt_reported_and_purge_flagged(spark, tmp_out):
    """VERDICT r6 #6: tombstoned serving keeps as-indexed N/d_avr by
    design, so the operator report must surface the debt — count,
    fraction, and a purge recommendation past 5 % — and drop it again
    after the purge clears the tombstones."""
    from invertedindexbuilder_spark.plans.deletes import (
        delete_docs,
        purge_deletes,
    )

    build(spark, synthetic_docs_src(spark, 40), tmp_out)
    mod = _load_index_stats()

    # 2/40 = 5% exactly: debt reported, no recommendation yet
    delete_docs(spark, tmp_out, [3, 7])
    r = mod.build_report(spark, tmp_out)
    assert r["n_tombstones"] == 2
    debt = r["tombstone_debt"]
    assert debt["fraction_of_n_docs"] == 0.05
    assert debt["purge_recommended"] is False

    # 4/40 = 10%: past the 5% drift threshold -> recommend a purge
    delete_docs(spark, tmp_out, [11, 13])
    debt = mod.build_report(spark, tmp_out)["tombstone_debt"]
    assert debt["n_tombstones"] == 4
    assert debt["purge_recommended"] is True
    assert "purge" in debt["note"]

    # purge clears the debt (empty tombstone table stays published) and
    # the id_remap footprint shows up in the tables map
    purge_deletes(spark, tmp_out)
    r = mod.build_report(spark, tmp_out)
    assert r["n_tombstones"] == 0
    assert r["tombstone_debt"]["purge_recommended"] is False
    assert r["tables"]["id_remap"]["bytes"] > 0
    assert r["stats"]["n_docs"] == 36
