"""scripts/query_cli.py serves a default build() root (no build flags)
from its chunk table — driver-local and --spark single queries and
--batch — with the same answers as topk_bm25_chunked.  Runs
in-process: the CLI's get_spark(cores=8) reuses the test session."""

from __future__ import annotations

import os
import sys

import pytest

from invertedindexbuilder_spark.catalog import Catalog
from invertedindexbuilder_spark.operators.query_exec import topk_bm25_chunked
from invertedindexbuilder_spark.plans.build import build, load_stats
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
import query_cli  # noqa: E402


@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli") / "idx")
    build(spark, synthetic_docs_src(spark, 80), out)
    return out


def _want(spark, root, query, mode):
    cat = Catalog(spark, root)
    return [
        (r["doc_id"], round(r["score"], 6))
        for r in topk_bm25_chunked(
            spark, cat.read("index_chunks"),
            cat.read("docs").select("doc_id", "doc_len"),
            load_stats(spark, root), query, mode=mode, k=5,
        ).collect()
    ]


@pytest.mark.parametrize("mode", ["and", "or"])
def test_spark_cli_serves_default_build(spark, root, mode, monkeypatch, capsys):
    monkeypatch.setattr(
        sys, "argv",
        ["query_cli.py", "--index", root, "--spark", "--mode", mode,
         "--k", "5", "--cores", "8", "alpha", "common"],
    )
    assert query_cli.main() == 0
    got = [
        (int(line.split("\t")[1]), float(line.split("\t")[0]))
        for line in capsys.readouterr().out.splitlines()
    ]
    assert got and got == _want(spark, root, "alpha common", mode)


@pytest.mark.parametrize("mode", ["and", "or"])
def test_local_cli_serves_default_build(spark, root, mode, monkeypatch, capsys):
    """Without --spark the CLI answers from the driver-local session."""
    monkeypatch.setattr(
        sys, "argv",
        ["query_cli.py", "--index", root, "--mode", mode, "--k", "5",
         "alpha", "common"],
    )
    assert query_cli.main() == 0
    docs = Catalog(spark, root).read("docs").select("doc_id", "url").collect()
    urls = {r["doc_id"]: r["url"] for r in docs}
    want = [
        f"{score:.6f}\t{doc_id}\t{urls[doc_id]}"
        for doc_id, score in _want(spark, root, "alpha common", mode)
    ]
    assert want and capsys.readouterr().out.splitlines() == want


def test_spark_cli_batch_serves_default_build(
    spark, root, tmp_path, monkeypatch, capsys
):
    qfile = tmp_path / "queries.txt"
    qfile.write_text("alpha common\nbeta\n")
    monkeypatch.setattr(
        sys, "argv",
        ["query_cli.py", "--index", root, "--spark", "--batch", str(qfile),
         "--mode", "or", "--k", "5", "--cores", "8"],
    )
    assert query_cli.main() == 0
    got: dict[str, list] = {}
    for line in capsys.readouterr().out.splitlines():
        text, _rank, doc_id, score = line.split("\t")
        got.setdefault(text, []).append((int(doc_id), float(score)))
    for text in ("alpha common", "beta"):
        assert got[text] == _want(spark, root, text, "or")


@pytest.mark.parametrize("force", [False, True])
@pytest.mark.parametrize("mode", ["and", "or"])
def test_spark_cli_explain_reports_what_ran(
    spark, root, mode, force, monkeypatch, capsys
):
    """--spark --explain prints one JSON line per query whose
    prune_engaged says whether the candidate decoder ran.  On this
    small build a forced AND takes the candidate pass; OR has no heavy
    list, so even a forced OR decodes in full."""
    import json

    from invertedindexbuilder_spark.operators import query_exec as qe

    ran = []
    real = qe.decode_candidate_blocks

    def spy(*a, **kw):
        ran.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(qe, "decode_candidate_blocks", spy)
    monkeypatch.setattr(
        sys, "argv",
        ["query_cli.py", "--index", root, "--spark", "--mode", mode,
         "--k", "5", "--cores", "8", "--explain"]
        + (["--force-prune"] if force else [])
        + ["alpha", "common"],
    )
    assert query_cli.main() == 0
    out, err = capsys.readouterr()
    got = [
        (int(line.split("\t")[1]), float(line.split("\t")[0]))
        for line in out.splitlines()
    ]
    assert got and got == _want(spark, root, "alpha common", mode)
    [line] = [ln for ln in err.splitlines() if ln.startswith("{")]
    rec = json.loads(line)
    assert rec["query"] == "alpha common" and rec["mode"] == mode
    assert rec["prune_engaged"] == bool(ran)
    assert rec["prune_engaged"] == (force and mode == "and")
    assert rec["blocks_skipped"] == rec["blocks_total"] - rec["blocks_decoded"]
    # too few chunks for the scan filter: it does not run
    assert rec["chunks_total"] == rec["chunks_kept"] == 0


def test_local_cli_explain_reports_cache_hits(spark, root, monkeypatch, capsys):
    """--explain on the local runner: one JSON line per query; the same
    query asked again in one session is a result-cache hit that decodes
    no block, with the same answer."""
    import io
    import json

    monkeypatch.setattr(
        sys, "argv", ["query_cli.py", "--index", root, "--explain"]
    )
    monkeypatch.setattr(
        sys, "stdin", io.StringIO("5\n0\nalpha common\nalpha common\n")
    )
    assert query_cli.main() == 0
    out, err = capsys.readouterr()
    recs = [json.loads(ln) for ln in err.splitlines() if ln.startswith("{")]
    assert [(r["query"], r["mode"]) for r in recs] == [("alpha common", "and")] * 2
    assert recs[0]["cached"] is False and recs[0]["blocks_decoded"] > 0
    assert recs[1]["cached"] is True and recs[1]["blocks_decoded"] == 0
    assert all(r["ms"] >= 0 for r in recs)
    # the interactive prompts print before the first result line
    out = out.replace("top-k: ", "").replace("mode (0=AND,1=OR): ", "")
    got = [
        (int(line.split("\t")[1]), float(line.split("\t")[0]))
        for line in out.splitlines()
    ]
    want = _want(spark, root, "alpha common", "and")
    assert want and got == want + want
