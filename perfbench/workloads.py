"""The workloads, ``serve`` and ``ingest`` (see README.md).

Each workload returns its end-to-end metrics (the same names on every
workload), its workload-specific detail metrics, and the counts the
traced run turns into per-layer metrics.  The workload code is the same
with tracing on or off.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from invertedindexbuilder_spark.catalog import Catalog, resolve_table_path
from invertedindexbuilder_spark.operators.local_query import LocalIndex, topk_local
from invertedindexbuilder_spark.operators.query_batch import topk_bm25_batch
from invertedindexbuilder_spark.operators.query_exec import (
    tokenize_query,
    topk_bm25_chunked,
)
from invertedindexbuilder_spark.plans.build import build, compact, load_stats
from invertedindexbuilder_spark.plans.deletes import delete_docs, load_tombstones
from invertedindexbuilder_spark.sources.docs_src import synthetic_docs_src
from perfbench import inputs
from perfbench.core import Outcomes, median, same_ranking, tail
from perfbench.oracle import Oracle
from perfbench.trace import Tracer, file_sizes, tree_bytes

# Sizes are set by the time budget of a run on 4 cores: a fresh process
# pays ~9 s of Spark start, ~10 s of first Python-worker start and the JIT
# warm-up of each plan shape, and a run must end in about a minute.
BASE_DOCS = 10_000     # corpus of the index that serve and ingest start from
BASE_SEED = 42         # FIXTURES.md corpus seed of that index
BULK_DOCS = 5_000      # traced bulk build; its corpus seed is the workload seed
K = 10
# driver-local queries run in rounds of ROUND, each round the same mix
# (eight turns of the 30 templates); a round's tail is its p95.8 (10
# samples beyond), and latency metrics are medians over rounds
ROUND = 240
ROUNDS_PER_STEP = 2         # local rounds after each Spark operation
# the distributed loop replays the most popular query, alternating
# modes, at least SPARK_SERVE_MIN times and until this share of the window
SPARK_SERVE_MIN = 2
SPARK_SERVE_MAX = 20
SPARK_SERVE_SHARE = 0.5
DELTA_DOCS = BASE_DOCS // 100
WARMUP_DOCS = 10            # delta of the untimed ingest warm-up fold
TOMBSTONES = 3
# set-up runs SETUP_FIRST times before the Spark session starts (the
# first, on a cold file cache, is dropped) and SETUP_PER_STEP times after
# each Spark operation, so its median spans the run like the local rounds
SETUP_FIRST = 4
SETUP_PER_STEP = 2
PROBE = ("common", "or")    # always matches; its top hits get tombstoned


@dataclass
class Ctx:
    cores: int
    seed: int
    seconds: float
    tracer: Tracer
    work: str       # scratch directory of this run
    cache: str      # per-checkout cache of the base index
    repo: str
    spark: object = None
    outcomes: Outcomes = field(default_factory=Outcomes)
    timeline: dict = field(default_factory=dict)  # phase -> wall seconds
    _mark: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Charge the wall time since the previous mark to ``name``."""
        now = time.perf_counter()
        self.timeline[name] = self.timeline.get(name, 0.0) + now - self._mark
        self._mark = now


@dataclass
class Result:
    e2e: dict        # end-to-end metric name -> value (same names on every workload)
    detail: dict     # workload-specific metric name -> {"value", "unit"}
    extras: dict     # counts for the per-layer metrics


E2E_UNITS = {
    "setup_s": "s",
    "throughput": "1/s",
    "local_p50_ms": "ms",
    "local_tail_ms": "ms",
    "index_bytes_per_source_byte": "ratio",
}


# ---------------------------------------------------------------- helpers
class Session:
    """An index opened for distributed serving: the chunk and docs tables
    (cached the way ``query_cli --spark --chunked`` caches them, if
    ``cache_tables``), the stats and the tombstones."""

    def __init__(self, ctx: Ctx, root: str, cache_tables: bool):
        cat = Catalog(ctx.spark, root)
        self.chunks = cat.read("index_chunks")
        self.docs = cat.read("docs").select("doc_id", "url", "doc_len")
        if cache_tables:
            self.chunks, self.docs = self.chunks.cache(), self.docs.cache()
            self.chunks.count(), self.docs.count()
        self.stats = load_stats(ctx.spark, root)
        self.tombstones = load_tombstones(ctx.spark, root)

    def close(self) -> None:
        self.chunks.unpersist()
        self.docs.unpersist()


class SetupTimer:
    """Times a workload's set-up, ``set_up()`` returning a driver-local
    session, each time it runs."""

    def __init__(self, set_up):
        self.set_up = set_up
        self.times: list[float] = []

    def run(self, n: int) -> LocalIndex:
        for _ in range(n):
            t0 = time.perf_counter()
            li = self.set_up()
            self.times.append(time.perf_counter() - t0)
        return li

    def median(self) -> float:
        """Median without the first set-up (it reads a cold file cache)."""
        return median(self.times[1:])


def after_step(ctx: Ctx, local: "LocalLoop", setup: SetupTimer, li: LocalIndex, check) -> None:
    """What follows each Spark operation: rounds of local queries, then
    set-up repetitions."""
    local.run(li, check)
    ctx.phase("local")
    setup.run(SETUP_PER_STEP)
    ctx.phase("setup")


def open_index(ctx: Ctx, root: str) -> LocalIndex:
    with ctx.tracer.span("local_query", "load"):
        return LocalIndex(root)


def index_shape(root: str) -> dict:
    t = pq.read_table(resolve_table_path(root, "index_chunks"),
                      columns=["df", "payload", "last_doc_ids"])
    postings = pa.compute.sum(t.column("df")).as_py()
    payload = pa.compute.sum(pa.compute.binary_length(t.column("payload"))).as_py()
    blocks = pa.compute.sum(pa.compute.list_value_length(t.column("last_doc_ids"))).as_py()
    return {"postings": postings, "bytes_per_posting": payload / postings, "blocks": blocks}


def program_hash(repo: str) -> str:
    """Hash of the engine's sources and of this module (which builds the
    base index): the cached base index is valid only for that code."""
    h = hashlib.sha256()
    paths = [os.path.abspath(__file__)]
    for dirpath, dirs, files in os.walk(os.path.join(repo, "invertedindexbuilder_spark")):
        dirs.sort()
        paths += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, repo).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def make_base(spark, out: str) -> None:
    """Write the base corpus and build the base index into ``out``."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    corpus = os.path.join(tmp, "corpus")
    synthetic_docs_src(spark, BASE_DOCS, BASE_SEED).write.parquet(corpus)
    build(spark, spark.read.parquet(corpus), os.path.join(tmp, "index"), merged=False)
    content = pq.read_table(corpus, columns=["content"]).column("content")
    meta = {"docs": BASE_DOCS, "seed": BASE_SEED,
            "content_bytes": pa.compute.sum(pa.compute.binary_length(content)).as_py()}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, out)


def ensure_base(cache: str, repo: str) -> tuple[str, dict]:
    """The base index for this code, built once per checkout in a child
    process so the measuring process starts as cold as every other run."""
    d = os.path.join(cache, f"base-{BASE_DOCS}-{program_hash(repo)}")
    if not os.path.exists(os.path.join(d, "meta.json")):
        subprocess.run(
            [sys.executable, os.path.join(repo, "perfbench", "run.py"), "--make-base", d],
            check=True, stdout=subprocess.DEVNULL, timeout=600,
        )
    with open(os.path.join(d, "meta.json")) as f:
        return os.path.join(d, "index"), json.load(f)


def write_corpus(pdf, out: str, files: int = 8) -> None:
    """The build corpus as ``files`` parquet files (a multi-file source,
    so the first scan splits across cores)."""
    os.makedirs(out)
    cols = ["repo", "path", "commit", "lang", "content"]
    step = -(-len(pdf) // files)
    for i in range(files):
        part = pdf.iloc[i * step:(i + 1) * step][cols]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(out, f"part-{i:03d}.parquet"))


class LocalLoop:
    """Closed-loop driver-local queries with one client, in rounds of
    ROUND queries taken in order from ``queries``.  Workloads run
    ROUNDS_PER_STEP rounds after each Spark operation, spreading them over
    the run: the host's speed drifts by tens of percent over tens of
    seconds, and a median over rounds taken at different times follows it
    less than one contiguous burst does."""

    def __init__(self, ctx: Ctx, queries):
        self.ctx = ctx
        self.queries = iter(queries)
        self.rounds: list[list[float]] = []
        self.blocks_decoded = 0
        self.blocks_matched = 0

    def run(self, li: LocalIndex, check) -> None:
        """ROUNDS_PER_STEP rounds of the next ROUND queries, each checked."""
        ctx = self.ctx
        for _ in range(ROUNDS_PER_STEP):
            lat = []
            for _ in range(ROUND):
                q, mode = next(self.queries)
                before = li.blocks_decoded
                _, dt = ctx.outcomes.run(
                    f"local {mode} {q!r}", lambda: topk_local(li, q, mode, K),
                    lambda r: check(q, mode, r),
                )
                lat.append(dt)
                if ctx.tracer.enabled:
                    self.blocks_decoded += li.blocks_decoded - before
                    self.blocks_matched += matched_blocks(li, q)
            self.rounds.append(lat)

    def metrics(self, detail: dict, prefix: str) -> dict:
        """Median over rounds of each round's p50, tail and queries/s."""
        tails = [tail(r) for r in self.rounds]
        if None in tails:
            raise RuntimeError("a round of local queries is too short for a tail")
        detail[f"{prefix}_tail_percentile"] = {"value": tails[0][0], "unit": "%"}
        detail[f"{prefix}_rounds"] = {"value": len(self.rounds), "unit": "count"}
        detail[f"{prefix}_round_p50_ms"] = {
            "value": [round(1e3 * median(r), 4) for r in self.rounds], "unit": "ms"}
        return {"local_p50_ms": 1e3 * median([median(r) for r in self.rounds]),
                "local_tail_ms": 1e3 * median([t[1] for t in tails]),
                "local_qps": median([len(r) / sum(r) for r in self.rounds])}

    def extras(self) -> dict:
        return {"local_queries": sum(len(r) for r in self.rounds),
                "blocks_decoded": self.blocks_decoded, "blocks_matched": self.blocks_matched}


def matched_blocks(li: LocalIndex, query: str) -> int:
    """Blocks in the posting lists a query matches (the pruning base)."""
    from invertedindexbuilder_spark import LEXICON_KEY_LEN

    lookup = getattr(LocalIndex.lookup, "__wrapped__", LocalIndex.lookup)
    rows = {}
    for t in tokenize_query(query):
        row = lookup(li, t[:LEXICON_KEY_LEN])
        if row is not None:
            rows[row["term"]] = len(row["block_bytes"])
    return sum(rows.values())


def spark_topk(ctx: Ctx, sess: Session, q: str, mode: str):
    with ctx.tracer.span("query_exec", "query"):
        rows = topk_bm25_chunked(
            ctx.spark, sess.chunks, sess.docs, sess.stats, q, mode=mode, k=K,
            exclude_doc_ids=sess.tombstones,
        ).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def oracle_check(oracle: Oracle, exclude=()):
    """check(query, mode, result): the result equals the oracle's top k
    without the ``exclude`` ids (computed once per distinct query, so
    make a new check when the oracle changes)."""
    memo: dict = {}

    def check(q, mode, got):
        if (q, mode) not in memo:
            memo[(q, mode)] = oracle.topk(tokenize_query(q), mode, K, exclude=exclude)
        return same_ranking(got, memo[(q, mode)])

    return check


# ---------------------------------------------------------------- serve
def setup_serve(ctx: Ctx) -> dict:
    """Set-up: open the base index's driver-local session."""
    root, meta = ensure_base(ctx.cache, ctx.repo)
    setup = SetupTimer(lambda: open_index(ctx, root))
    li = setup.run(SETUP_FIRST)
    return {"root": root, "meta": meta, "li": li, "setup": setup}


def prepare_serve(ctx: Ctx) -> dict:
    return {"oracle": Oracle(BASE_DOCS, BASE_SEED)}


def run_serve(ctx: Ctx, quiet: dict, prep: dict) -> Result:
    """Zipf-popular queries from a seeded pool over the base index, on the
    three serving surfaces, each in a closed loop with one client.  The
    driver-local rounds run between the Spark operations, while the
    session is up but idle."""
    root, li = quiet["root"], quiet["li"]
    check = oracle_check(prep["oracle"])
    pool = inputs.query_pool(ctx.seed)
    steps = 2 + SPARK_SERVE_MAX  # warm-up, batch, each distributed query
    draws = inputs.zipf_rounds(ctx.seed, steps * ROUNDS_PER_STEP, ROUND)
    local = LocalLoop(ctx, ((pool[i], m) for i, m in draws))

    t0 = time.perf_counter()
    sess = Session(ctx, root, cache_tables=True)
    spark_open_s = time.perf_counter() - t0
    # a serving process answers many queries: the first distributed query
    # starts the Python workers and compiles the plan shapes, so it runs
    # (checked) before the window and is reported apart
    q, mode = pool[1], "and"
    _, warmup_s = ctx.outcomes.run(f"spark warm-up {mode} {q!r}",
                                   lambda: spark_topk(ctx, sess, q, mode),
                                   lambda r: check(q, mode, r))
    ctx.phase("spark_warmup")
    after_step(ctx, local, quiet["setup"], li, check)
    # one batch job per run, over the whole pool in one mode; the mode
    # alternates with the seed (a job per mode would not fit the run budget)
    batch_mode = ("and", "or")[ctx.seed % 2]
    qs = list(enumerate(pool))
    qdf = ctx.spark.createDataFrame(qs, "query_id long, text string")
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("query_batch", "batch"):
            rows = topk_bm25_batch(ctx.spark, sess.chunks, sess.docs, sess.stats,
                                   qdf, mode=batch_mode, k=K).collect()
    except Exception:  # every query of a failed batch is a failed operation
        traceback.print_exc()
        rows = None
    batch_s = time.perf_counter() - t0
    per: dict[int, list] = {}
    for r in rows or []:
        per.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    for i, q in qs:
        got = [(d, s) for _, d, s in sorted(per.get(i, []))]
        ctx.outcomes.record(rows is not None and check(q, batch_mode, got),
                            f"batch {batch_mode} {q!r}")
    ctx.phase("batch")
    after_step(ctx, local, quiet["setup"], li, check)

    t_window = time.perf_counter()
    spark_s = []
    for j in range(SPARK_SERVE_MAX):
        if len(spark_s) >= SPARK_SERVE_MIN and (
                time.perf_counter() - t_window >= SPARK_SERVE_SHARE * ctx.seconds):
            break
        q, mode = pool[0], ("and", "or")[j % 2]
        _, dt = ctx.outcomes.run(f"spark {mode} {q!r}", lambda: spark_topk(ctx, sess, q, mode),
                                 lambda r: check(q, mode, r))
        spark_s.append(dt)
        ctx.phase("spark")
        after_step(ctx, local, quiet["setup"], li, check)
    sess.close()

    detail = {}
    lat = local.metrics(detail, "serve_local")
    sp_tail = tail(spark_s)
    detail.update({
        "serve_local_p50_ms": {"value": lat["local_p50_ms"], "unit": "ms"},
        "serve_local_tail_ms": {"value": lat["local_tail_ms"], "unit": "ms"},
        "serve_local_qps": {"value": lat["local_qps"], "unit": "1/s"},
        "serve_spark_p50_s": {"value": median(spark_s), "unit": "s"},
        "serve_spark_tail_s": (
            {"value": sp_tail[1], "unit": "s", "percentile": sp_tail[0]} if sp_tail else
            {"value": None, "unit": "s", "unavailable":
             f"{len(spark_s)} distributed queries fit the window; a tail needs more than 10"}),
        "serve_batch_qps": {"value": len(qs) / batch_s, "unit": "1/s", "mode": batch_mode},
        "serve_spark_open_s": {"value": spark_open_s, "unit": "s"},
        "serve_spark_warmup_s": {"value": warmup_s, "unit": "s"},
        "setup_repeats": {"value": len(quiet["setup"].times) - 1, "unit": "count"},
    })
    ratio = tree_bytes(root) / quiet["meta"]["content_bytes"]
    e2e = {"setup_s": quiet["setup"].median(), "throughput": lat.pop("local_qps"),
           **lat, "index_bytes_per_source_byte": ratio}
    return Result(e2e, detail, {**local.extras(), **index_shape(root)})


# ---------------------------------------------------------------- ingest
def setup_ingest(ctx: Ctx) -> dict:
    """Set-up: copy the base index and open the copy.  The timed set-ups
    copy to a side directory; the run folds into one more copy."""
    base, meta = ensure_base(ctx.cache, ctx.repo)

    def fresh_copy(dest: str) -> LocalIndex:
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(base, dest)
        return open_index(ctx, dest)

    setup = SetupTimer(lambda: fresh_copy(os.path.join(ctx.work, "setup")))
    setup.run(SETUP_FIRST)
    root = os.path.join(ctx.work, "index")
    return {"meta": meta, "root": root, "li": fresh_copy(root), "setup": setup}


def prepare_ingest(ctx: Ctx) -> dict:
    """The oracle and the deltas: WARMUP_DOCS documents for the warm-up
    fold, DELTA_DOCS for the timed one."""
    starts = inputs.delta_starts(ctx.seed, BASE_DOCS, DELTA_DOCS, 2)
    deltas = []
    for c, start in enumerate(starts):
        pdf = inputs.delta_rows(start, WARMUP_DOCS if c == 0 else DELTA_DOCS, BASE_SEED)
        path = os.path.join(ctx.work, f"delta{c}")
        write_corpus(pdf, path, files=1)
        deltas.append((path, pdf))
    prep = {"oracle": Oracle(BASE_DOCS, BASE_SEED), "deltas": deltas}
    if ctx.tracer.enabled:
        bulk = Oracle(BULK_DOCS, ctx.seed)
        prep["bulk"], prep["corpus"] = bulk, os.path.join(ctx.work, "corpus")
        write_corpus(bulk.pdf, prep["corpus"])
    return prep


def run_ingest(ctx: Ctx, quiet: dict, prep: dict) -> Result:
    """Seeded deltas folded into a fresh copy of the base index: an
    untimed warm-up fold of a tiny delta, so the fold path has run once,
    then a timed cycle of fold, tombstone and distributed check, with
    fresh local queries after each step.  The traced run also
    bulk-builds a seeded corpus, so the build layers are traced at full
    scale without costing the untraced runs a cold build."""
    root, li = quiet["root"], quiet["li"]
    oracle = prep["oracle"]
    content_bytes = quiet["meta"]["content_bytes"]
    extras: dict = {}
    local = LocalLoop(ctx, inputs.fresh_queries(ctx.seed, 3 * ROUNDS_PER_STEP * ROUND, stream=5))

    def checked_fold(c: int):
        """Fold delta ``c``; timed until the reloaded session answers the
        probe.  Returns (session, probe hits, seconds)."""
        nonlocal content_bytes
        path, pdf = prep["deltas"][c]
        delta_bytes = int(pdf.content.str.len().sum())
        content_bytes += delta_bytes
        files_before = file_sizes(root) if ctx.tracer.enabled else {}
        n_before = li.n_docs

        def fold():
            with ctx.tracer.span("compact", "compact"):
                compact(ctx.spark, ctx.spark.read.parquet(path), root)
            fresh = open_index(ctx, root)
            return fresh, topk_local(fresh, *PROBE, K)

        out, dt = ctx.outcomes.run(
            f"fold {c}", fold,
            lambda o: o[0].n_docs == n_before + len(pdf)
            and load_stats(ctx.spark, root)["n_docs"] == n_before + len(pdf))
        ctx.tracer.release()
        if ctx.tracer.enabled:
            grown = sum(s for p, s in file_sizes(root).items() if files_before.get(p) != s)
            extras["write_amplification"] = grown / delta_bytes
        oracle.extend(pdf)
        ctx.phase("fold")
        if out is None:
            raise RuntimeError(f"fold {c} failed")
        return (*out, dt)

    li, _, _ = checked_fold(0)
    ctx.tracer.discard()  # the per-layer metrics describe the timed cycle
    li, probe_hits, fresh_s = checked_fold(1)
    after_step(ctx, local, quiet["setup"], li, oracle_check(oracle))

    victims = sorted({d for d, _ in probe_hits[:TOMBSTONES - 1]}
                     | set(inputs.random_doc_ids(ctx.seed, li.n_docs, 1)))

    def tombstone():
        with ctx.tracer.span("deletes", "delete"):
            delete_docs(ctx.spark, root, victims)
        fresh = open_index(ctx, root)
        return fresh, topk_local(fresh, *PROBE, K)

    deleted = set(victims)
    check = oracle_check(oracle, deleted)
    out, delete_s = ctx.outcomes.run("delete", tombstone, lambda o: check(*PROBE, o[1]))
    ctx.phase("delete")
    if out is None:
        raise RuntimeError("delete failed")
    li = out[0]
    after_step(ctx, local, quiet["setup"], li, check)

    sess = Session(ctx, root, cache_tables=False)
    [(q, mode)] = inputs.fresh_queries(ctx.seed, 1, stream=6)
    local_res = topk_local(li, q, mode, K)
    _, spark_s = ctx.outcomes.run(
        f"spark {mode} {q!r}", lambda: spark_topk(ctx, sess, q, mode),
        lambda r: same_ranking(r, local_res) and not deleted.intersection(d for d, _ in r))
    ctx.phase("spark")
    after_step(ctx, local, quiet["setup"], li, check)

    detail = {}
    if "corpus" in prep:
        detail.update(bulk_build(ctx, prep["bulk"], prep["corpus"]))
    lat = local.metrics(detail, "ingest_query")
    lat.pop("local_qps")
    ratio = tree_bytes(root) / content_bytes
    detail.update({
        "ingest_fresh_p50_s": {"value": fresh_s, "unit": "s"},
        "ingest_delete_p50_s": {"value": delete_s, "unit": "s"},
        "ingest_query_p50_ms": {"value": lat["local_p50_ms"], "unit": "ms"},
        "ingest_bytes_per_source_byte": {"value": ratio, "unit": "ratio"},
        "ingest_spark_p50_s": {"value": spark_s, "unit": "s"},
        "setup_repeats": {"value": len(quiet["setup"].times) - 1, "unit": "count"},
    })
    e2e = {"setup_s": quiet["setup"].median(), "throughput": DELTA_DOCS / fresh_s,
           **lat, "index_bytes_per_source_byte": ratio}
    return Result(e2e, detail, {**local.extras(), **index_shape(root), **extras})


def bulk_build(ctx: Ctx, oracle: Oracle, corpus: str) -> dict:
    """One chunk-only build of the pre-written corpus, checked against
    the oracle's term and posting counts."""
    out = os.path.join(ctx.work, "bulk")

    def op():
        with ctx.tracer.span("build", "build"):
            return build(ctx.spark, ctx.spark.read.parquet(corpus), out, merged=False)

    def manifest_ok(m):
        ph = m["phases"]
        return (ph["docs"]["rows"] == BULK_DOCS and ph["index"]["terms"] == oracle.n_terms
                and ph["index"]["postings"] == oracle.n_postings)

    _, dt = ctx.outcomes.run("bulk build", op, manifest_ok)
    ctx.tracer.release()
    ctx.phase("bulk_build")
    return {"build_docs_per_s": {"value": BULK_DOCS / dt, "unit": "docs/s"},
            "index_bytes_per_source_byte": {"value": tree_bytes(out) / oracle.content_bytes,
                                            "unit": "ratio"}}


# name -> (setup, prepare, run).  ``setup`` runs before the Spark session
# starts and returns the set-up times; ``prepare`` makes the oracle and
# inputs on a thread while the session starts; ``run`` measures.
WORKLOADS = {
    "serve": (setup_serve, prepare_serve, run_serve),
    "ingest": (setup_ingest, prepare_ingest, run_ingest),
}
