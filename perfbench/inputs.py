"""Seeded inputs: corpus parameters, the query stream, the oracle sample
and the ingest batch.  Everything here is a pure function of the seed, so
the same seed gives the same inputs on any box and any commit; the engine
only ever receives what these functions produce.
"""

from __future__ import annotations

import random

# Documents per synthetic corpus.  Small enough that the pure-Python
# oracle scores one query over the whole corpus in about half a second,
# so every run can check its own index against it.
CORPUS_DOCS = 4000
FIELDS = {"title": "path", "body": "content"}
TOP_K = 10

# Zipf-head words of the synthetic corpus (long posting lists) — none is
# a stop word of the whoosh analyzer, and none is a query-grammar keyword.
HEAD = (
    "def class return import self value result data table query index key "
    "row column scan filter join group sort merge hash range list dict str "
    "int float bool none true false while else try except raise open read "
    "write close file path name type args"
).split()

# Short prefixes that expand to a handful of indexed terms each (well under
# the engine's 1024-term expansion cap).
PREFIXES = ("quer", "sear", "tok", "transf", "stre", "partit", "broad")

# Query kinds of the stream, one per kind named for the search workload.
# No query log of the reference application exists to weight them by, so
# the mix is unverified and uniform: each block of consecutive queries
# holds every kind the same number of times, shuffled, so every run sees
# the same mix however many queries it gets through.
KINDS = ("or", "and", "field", "not", "prefix")
PER_BLOCK = 4

# Share of bag terms drawn from the Zipf head rather than the rare tail:
# an even mix, for the same reason.
HEAD_SHARE = 0.5

# Documents appended per ingest batch and documents deleted per cycle.
APPEND_DOCS = 200
DELETE_DOCS = 5


def tail_term(rng: random.Random) -> str:
    """A rare identifier from the corpus tail (short posting lists); the
    ranges match sources/corpus.generate_corpus for CORPUS_DOCS."""
    n = CORPUS_DOCS
    kind = rng.choice(("fn", "var", "cls"))
    span = {"fn": max(1000, n), "var": max(2000, 2 * n), "cls": max(500, n // 2)}[kind]
    return f"{kind}_{rng.randrange(span)}"


def _term(rng: random.Random, head_share: float) -> str:
    return rng.choice(HEAD) if rng.random() < head_share else tail_term(rng)


def _terms(rng: random.Random, lo: int, hi: int, head_share: float) -> list[str]:
    out: list[str] = []
    for _ in range(rng.randint(lo, hi)):
        t = _term(rng, head_share)
        if t not in out:
            out.append(t)
    return out


def make_query(rng: random.Random, kind: str) -> str:
    """One query of ``kind`` in the engine's parse grammar (mode='parse')."""
    if kind == "or":
        return " OR ".join(_terms(rng, 1, 4, HEAD_SHARE))
    if kind == "and":
        return " ".join(_terms(rng, 1, 4, HEAD_SHARE))
    if kind == "field":
        return f"title:module_{rng.randrange(50)} {rng.choice(HEAD)}"
    if kind == "not":
        a, b, c = rng.sample(HEAD, 3)
        return f"{a} {b} NOT {c}"
    return f"{rng.choice(PREFIXES)}* {rng.choice(HEAD)}"


def kinded_stream(seed: int):
    """Endless deterministic stream of (kind, query) for ``seed``."""
    rng = random.Random(f"queries:{seed}")
    block = [kind for kind in KINDS for _ in range(PER_BLOCK)]
    while True:
        rng.shuffle(block)
        for kind in block:
            yield kind, make_query(rng, kind)


def query_stream(seed: int):
    """Endless deterministic query stream for ``seed``."""
    return (q for _, q in kinded_stream(seed))


def queries(seed: int, n: int) -> list[str]:
    stream = query_stream(seed)
    return [next(stream) for _ in range(n)]


def oracle_queries(seed: int, n: int = 4) -> list[tuple[str, str]]:
    """Bag-of-words (query, mode) pairs the pure-Python BM25 oracle can
    score: alternating AND/OR, head terms with an occasional tail term."""
    rng = random.Random(f"oracle:{seed}")
    out = []
    for i in range(n):
        mode = "and" if i % 2 == 0 else "or"
        terms = _terms(rng, 1, 2, 0.9) if mode == "and" else _terms(rng, 2, 3, 0.7)
        out.append((" ".join(terms), mode))
    return out


def ingest_seed(seed: int) -> int:
    """Corpus seed of the appended documents — disjoint from the base
    corpus seed, so the batch holds new doc_ids."""
    return seed * 7919 + 104729


def delete_rows(seed: int) -> list[int]:
    """Row positions (in the base corpus) of the documents to delete."""
    return sorted(random.Random(f"delete:{seed}").sample(range(CORPUS_DOCS), DELETE_DOCS))
