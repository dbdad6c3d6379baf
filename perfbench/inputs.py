"""Seeded workload inputs: query pools, popularity draws, deltas.

Everything here is a pure function of the workload seed, so the same
seed gives byte-identical inputs and the engine receives only the
generated values.

The query templates follow the FIXTURES.md §5 reference query set: 30
queries, a third single-term, a third two-term and a third of three to
eight terms, with the class compositions it lists (a 15-character term,
a digit term, a rare term, ``common`` + rare, two mid-frequency terms, an
unknown term beside a known one, a duplicated term, an all-unknown query
with an empty result).  Classes: the ~95%-df stopword ``common``, zipf
mid-frequency terms, ``rareNNNN``, digit terms, 15-character terms and
terms the lexicon does not hold.  ``zzzsentinel`` is never used
(reference defect D2).  Every query runs in both modes, as in the
reference set.
"""

from __future__ import annotations

import numpy as np

from invertedindexbuilder_spark.sources.docs_src import MID_TERMS, _gen_rows

DIGIT_TERMS = ("42", "0xdeadbeef", "v2")
LONG_TERMS = ("abcdefghijklmno", "abcdefghijklmnz")  # share a 14-char key (D5)
# A mid-frequency class ``midB`` is band B of MID_BAND adjacent zipf
# ranks (terms of similar document frequency); the seed picks the term
# inside the band, so every seed issues the same kind of query.
MID_BAND = 5
DUP = "dup"  # repeats the query's first term

SINGLE = (
    ("mid0",), ("rare",), ("common",), ("mid1",), ("digit",),
    ("mid3",), ("long",), ("mid5",), ("mid2",), ("mid7",),
)
TWO = (
    ("mid0", "mid1"), ("common", "rare"), ("unknown", "mid0"), ("mid2", DUP),
    ("common", "mid1"), ("mid3", "rare"), ("mid0", "digit"), ("mid4", "mid6"),
    ("mid1", "long"), ("mid5", "mid8"),
)
MULTI = (
    ("mid0", "mid1", "mid2", "mid3"),
    ("common", "mid0", "mid1", "mid2", "mid3"),
    ("unknown", "unknown", "unknown"),
    ("digit", "digit", "mid1"),
    ("mid0", "mid2", "common"),
    ("mid1", "rare", "mid4", "common", "mid2", "digit"),
    ("mid0", "mid1", "mid3", "mid5", "rare", "long", "mid2"),
    ("common", "mid0", "mid1", "mid2", "mid4", "mid6", "rare", "unknown"),
    ("rare", "mid1", DUP),
    ("mid3", "unknown", "mid0", "common"),
)
# popularity rank r holds the (r // 3)-th template of length class r % 3,
# so every length class has popular and unpopular queries
TEMPLATES = tuple(t for trio in zip(SINGLE, TWO, MULTI) for t in trio)
POOL_SIZE = len(TEMPLATES)


def _term(rng: np.random.Generator, cls: str) -> str:
    if cls == "common":
        return "common"
    if cls.startswith("mid"):
        return MID_TERMS[int(cls[3:]) * MID_BAND + int(rng.integers(0, MID_BAND))]
    if cls == "rare":
        return f"rare{int(rng.integers(0, 400)):04d}"
    if cls == "digit":
        return DIGIT_TERMS[int(rng.integers(0, len(DIGIT_TERMS)))]
    if cls == "long":
        return LONG_TERMS[int(rng.integers(0, len(LONG_TERMS)))]
    return f"nolex{int(rng.integers(0, 10_000)):04d}"  # never in the lexicon


def _query(rng: np.random.Generator, template: tuple[str, ...]) -> str:
    terms = [_term(rng, c) for c in template if c != DUP]
    rng.shuffle(terms)
    if DUP in template:
        terms.append(terms[0])
    return " ".join(terms)


def query_pool(seed: int) -> list[str]:
    """The serve pool: one query per template, in popularity order."""
    rng = np.random.default_rng((seed, 1))
    return [_query(rng, t) for t in TEMPLATES]


def alternate_modes(indices, first: int = 0) -> list[tuple[int, str]]:
    """Pair each pool index with a mode, alternating between ``and`` and
    ``or`` over the occurrences of each index (with ``first`` 0, even
    indices start with ``and`` and odd ones with ``or``; 1 swaps that), so
    every query runs half of its draws in each mode."""
    seen: dict[int, int] = {}
    out = []
    for i in indices:
        n = seen.get(i, 0)
        seen[i] = n + 1
        out.append((i, ("and", "or")[(i + n + first) % 2]))
    return out


def zipf_rounds(seed: int, rounds: int, n: int, pool_size: int = POOL_SIZE,
                s: float = 1.0) -> list[tuple[int, str]]:
    """``rounds`` rounds of ``n`` (pool index, mode) draws with zipf(s)
    popularity by pool index, so popular queries repeat.  In every round
    each index appears its expected number of times (largest-remainder
    rounding) with its modes alternating, and the seed shuffles the
    order: every round issues the same queries, and every two rounds the
    same number of each query in each mode."""
    w = 1.0 / np.arange(1, pool_size + 1) ** s
    share = n * w / w.sum()
    counts = np.floor(share).astype(int)
    counts[np.argsort(counts - share)[: n - counts.sum()]] += 1
    indices = np.repeat(np.arange(pool_size), counts).tolist()
    out = []
    for r in range(rounds):
        mix = alternate_modes(indices, first=r % 2)
        order = np.random.default_rng((seed, 2, r)).permutation(n)
        out += [mix[i] for i in order]
    return out


def fresh_queries(seed: int, n: int, stream: int) -> list[tuple[str, str]]:
    """``n`` (query, mode) pairs with new terms drawn for every query:
    turns of all the templates in a seeded order, each template in ``and``
    mode in one turn and in ``or`` in the next.  Any two turns hold the
    same mix.  ``stream`` separates independent sequences drawn from one
    seed."""
    rng = np.random.default_rng((seed, stream))
    out: list[tuple[str, str]] = []
    turn = 0
    while len(out) < n:
        for j in rng.permutation(POOL_SIZE):
            out.append((_query(rng, TEMPLATES[j]), ("and", "or")[(j + turn) % 2]))
        turn += 1
    return out[:n]


def delta_starts(seed: int, base_docs: int, delta_docs: int, count: int) -> list[int]:
    """Row offsets of the ingest deltas: disjoint from the base corpus
    rows [0, base_docs) and from each other, placed by the seed."""
    block = int(np.random.default_rng((seed, 3)).integers(0, 1000))
    first = base_docs + block * count * delta_docs
    return [first + c * delta_docs for c in range(count)]


def delta_rows(start: int, n: int, corpus_seed: int):
    """Rows [start, start + n) of the synthetic corpus as a pandas frame:
    the driver-side twin of ``synthetic_docs_src(start=start)``."""
    return _gen_rows(np.arange(start, start + n), corpus_seed)


def random_doc_ids(seed: int, n_docs: int, count: int) -> list[int]:
    """``count`` distinct seeded doc ids in [0, n_docs)."""
    rng = np.random.default_rng((seed, 4))
    return sorted(int(i) for i in rng.choice(n_docs, size=count, replace=False))
