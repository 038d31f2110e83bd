"""Spark-free property tests of the core kernels (SURVEY.md §5.2.6):

encode kernel (operators/build._make_encode_kernel) -> posting rows ->
WAND kernels (operators/wand.make_wand_kernel), compared against brute
force scoring, over randomized corpora: random chunk/block boundaries,
salted hot terms, AND/OR modes.  Runs the exact production kernels as
plain generators/functions — no SparkSession.  The WAND kernels get each
chunk's posting rows as a pyarrow table, as both search paths hand them
over, and return pyarrow tables.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import given, settings
from hypothesis import strategies as st

from beetle_search_engine_spark.config import BM25Params, EngineConfig, IndexConfig
from beetle_search_engine_spark.operators.build import _make_encode_kernel
from beetle_search_engine_spark.operators.wand import OUT_SCHEMA, make_wand_kernel
from beetle_search_engine_spark.plans.parser import tree_terms

VOCAB = [f"t{i}" for i in range(12)]


def brute_force(postings, n_docs, avgdl, k1=1.2, b=0.75, boosts=None, terms=(), mode="or", k=10):
    """postings: {(field, term): {doc: (tf, dl)}}"""
    boosts = boosts or {"body": 1.0}
    docs: dict[int, float] = {}
    matched: dict[int, set] = {}
    for t in set(terms):
        for field in boosts:
            pl = postings.get((field, t), {})
            df = len(pl)
            if df == 0:
                continue
            idf = math.log(n_docs / (df + 1.0)) + 1.0
            for doc, (tf, dl) in pl.items():
                w = tf * boosts[field]
                s = idf * w * (k1 + 1.0) / (w + k1 * (1.0 - b + b * dl / avgdl[field]))
                docs[doc] = docs.get(doc, 0.0) + s
                matched.setdefault(doc, set()).add(t)
    if mode == "and":
        need = {t for t in terms if any((f, t) in postings and postings[(f, t)] for f in boosts)}
        if set(terms) - need:
            return []  # some term matches nothing anywhere
        docs = {d: s for d, s in docs.items() if matched[d] >= set(terms)}
    out = sorted(docs.items(), key=lambda x: (-x[1], x[0]))
    return out[:k]


def brute_force_group(postings, n_docs, avgdl, clauses, k=10, k1=1.2, b=0.75, boosts=None):
    """Whoosh And-of-Or semantics: every clause needs >=1 matching
    member; every matched term scores (UnionMatcher sum)."""
    boosts = boosts or {"body": 1.0}
    terms = {t for c in clauses for t in c}
    docs: dict[int, float] = {}
    matched: dict[int, set] = {}
    for t in terms:
        for field in boosts:
            pl = postings.get((field, t), {})
            df = len(pl)
            if df == 0:
                continue
            idf = math.log(n_docs / (df + 1.0)) + 1.0
            for doc, (tf, dl) in pl.items():
                w = tf * boosts[field]
                s = idf * w * (k1 + 1.0) / (w + k1 * (1.0 - b + b * dl / avgdl[field]))
                docs[doc] = docs.get(doc, 0.0) + s
                matched.setdefault(doc, set()).add(t)
    out = [
        (d, s) for d, s in docs.items()
        if all(matched[d] & set(c) for c in clauses)
    ]
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def brute_force_tree(postings, n_docs, avgdl, tree, k=10, k1=1.2, b=0.75, boosts=None):
    """Whoosh matcher semantics over a nested And/Or tree: And matches
    when every child matches and sums them all; Or matches when any
    child matches and sums only the matching children."""
    boosts = boosts or {"body": 1.0}

    def ev(node) -> dict[int, float]:
        out: dict[int, float] = {}
        if node[0] == "term":
            for field in boosts:
                pl = postings.get((field, node[1]), {})
                idf = math.log(n_docs / (len(pl) + 1.0)) + 1.0
                for doc, (tf, dl) in pl.items():
                    w = tf * boosts[field]
                    s = idf * w * (k1 + 1.0) / (w + k1 * (1.0 - b + b * dl / avgdl[field]))
                    out[doc] = out.get(doc, 0.0) + s
            return out
        kids = [ev(c) for c in node[1]]
        for kid in kids:
            for doc, s in kid.items():
                out[doc] = out.get(doc, 0.0) + s
        if node[0] == "and":
            out = {d: s for d, s in out.items() if all(d in kid for kid in kids)}
        return out

    return sorted(ev(tree).items(), key=lambda x: (-x[1], x[0]))[:k]


def random_tree(rng):
    """A two-level And/Or tree over VOCAB: the root's children are
    terms or nodes of the other operator, each over 2-3 terms."""
    top = rng.choice(["and", "or"])
    inner = "or" if top == "and" else "and"

    def leaf():
        return ("term", rng.choice(VOCAB))

    kids = [
        (inner, tuple(leaf() for _ in range(rng.randint(2, 3)))) if rng.random() < 0.7 else leaf()
        for _ in range(rng.randint(2, 3))
    ]
    return (top, tuple(kids))


def run_kernels(
    seed, n_docs, mode, hot_salts, taat_density=0.25, groups=False, tree=False, shuffle=None,
    as_pandas=False, outputs=None,
):
    """(kernel top-k, brute-force top-k) of one random corpus and query.
    Each chunk's posting rows reach the kernel as a pyarrow table, the
    production input.  With ``shuffle`` (a seed) they come in a random
    order; with ``as_pandas`` as a pandas frame (the perfbench kernel
    probe's input).  ``outputs``, a list, receives each chunk's kernel
    table."""
    rng = random.Random(seed)
    cfg = EngineConfig(
        bm25=BM25Params(field_boosts={"body": 1.0}),
        index=IndexConfig(
            n_buckets=4,
            block_size=rng.choice([2, 3, 5]),
            blocks_per_row=rng.choice([1, 2, 4]),
            chunk_docs=rng.choice([4, 7, 16]),
            hot_salts=hot_salts,
        ),
    )
    # random corpus: doc -> {term: tf}, dl = sum tf
    corpus = {}
    for d in range(n_docs):
        nt = rng.randint(1, 6)
        tfs = {}
        for _ in range(nt):
            tfs[rng.choice(VOCAB)] = rng.randint(1, 4)
        corpus[d] = tfs
    dls = {d: sum(tfs.values()) for d, tfs in corpus.items()}
    avgdl = {"body": sum(dls.values()) / n_docs}
    postings: dict = {}
    for d, tfs in corpus.items():
        for t, tf in tfs.items():
            postings.setdefault(("body", t), {})[d] = (tf, dls[d])

    # mark some terms hot (forces the salted-df code path)
    hot = {}
    for t in VOCAB[:3]:
        pl = postings.get(("body", t))
        if pl:
            hot[("body", t)] = len(pl)

    stats = {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "k1": 1.2,
        "b": 0.75,
        "field_boosts": {"body": 1.0},
        "epochs": {"0": {"n_docs": n_docs, "avgdl": avgdl}},
    }
    kernel = _make_encode_kernel(cfg, stats, hot, epoch=0, field_names=["body"])

    # simulate the salted shuffle: token rows split by salt partitions,
    # each partition sorted by (field, term, docnum)
    rows = []
    for (field, t), pl in postings.items():
        for d, (tf, dl) in pl.items():
            salt = (d // cfg.index.chunk_docs) % hot_salts if ("body", t) in hot else 0
            rows.append((salt, field, t, d, tf, dl))
    out_batches = []
    for salt in sorted({r[0] for r in rows}):
        part = sorted([r for r in rows if r[0] == salt], key=lambda r: (r[1], r[2], r[3]))
        pdf = pd.DataFrame(
            {
                # the encode shuffle carries tinyint field ids, not names
                "fid": np.zeros(len(part), dtype=np.int8),
                "term": [r[2] for r in part],
                "bucket": np.zeros(len(part), dtype=np.int32),
                "docnum": np.array([r[3] for r in part], dtype=np.int64),
                "tf": np.array([r[4] for r in part], dtype=np.int64),
                "dl": np.array([r[5] for r in part], dtype=np.int64),
            }
        )
        # feed in small batches to exercise the carry logic (the kernel
        # is mapInArrow since round 7: RecordBatches in, RecordBatches out)
        bsz = max(1, len(pdf) // rng.randint(1, 4))
        batches = [
            pa.RecordBatch.from_pandas(pdf.iloc[i : i + bsz], preserve_index=False)
            for i in range(0, len(pdf), bsz)
        ]
        out_batches.extend(kernel(iter(batches)))
    enc = pa.Table.from_batches(out_batches)

    # query: 1-3 random terms, (groups) 1-3 clauses of 1-3 members, or
    # (tree) a random two-level And/Or tree
    qtree = random_tree(rng) if tree else None
    if tree:
        clauses = None
        terms = tree_terms(qtree)
    elif groups:
        clauses = [
            [rng.choice(VOCAB) for _ in range(rng.randint(1, 3))]
            for _ in range(rng.randint(1, 3))
        ]
        terms = [t for c in clauses for t in c]
    else:
        clauses = None
        terms = [rng.choice(VOCAB) for _ in range(rng.randint(1, 3))]
    k = rng.choice([3, 10])
    wk = make_wand_kernel(
        terms, stats, k, mode, taat_density=taat_density, groups=clauses, tree=qtree
    )
    results = []
    rows = enc.filter(pc.is_in(enc["term"], value_set=pa.array(terms)))
    for chunk in sorted(set(rows["chunk"].to_pylist())):
        grp = rows.filter(pc.equal(rows["chunk"], chunk))
        if shuffle is not None:
            order = np.random.RandomState(shuffle + chunk).permutation(grp.num_rows)
            grp = grp.take(order)
        results.append(wk(grp.to_pandas() if as_pandas else grp))
    if outputs is not None:
        outputs.extend(results)
    got = pa.concat_tables([OUT_SCHEMA.empty_table(), *results])
    got = got.sort_by([("score", "descending"), ("docnum", "ascending")]).slice(0, k)
    got_pairs = list(zip(got["docnum"].to_pylist(), got["score"].to_pylist()))

    if tree:
        want = brute_force_tree(postings, n_docs, avgdl, qtree, k=k)
    elif groups:
        want = brute_force_group(postings, n_docs, avgdl, clauses, k=k)
    else:
        want = brute_force(postings, n_docs, avgdl, terms=terms, mode=mode, k=k)
    return got_pairs, want


@given(
    seed=st.integers(0, 10_000),
    n_docs=st.integers(5, 120),
    mode=st.sampled_from(["and", "or"]),
    hot_salts=st.sampled_from([1, 2, 3]),
    # 0.0 forces the vectorized TAAT path, 2.0 forces block-max WAND,
    # 0.25 is the production auto-switch — all three must match brute force
    taat_density=st.sampled_from([0.0, 0.25, 2.0]),
)
@settings(max_examples=150, deadline=None)
def test_kernels_match_brute_force(seed, n_docs, mode, hot_salts, taat_density):
    got, want = run_kernels(seed, n_docs, mode, hot_salts, taat_density)
    assert len(got) == len(want), (got, want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9, (got, want)
        if gd != wd:  # tie swap only
            assert abs(gs - ws) < 1e-9


@given(seed=st.integers(0, 5_000), n_docs=st.integers(20, 120))
@settings(max_examples=60, deadline=None)
def test_taat_equals_wand(seed, n_docs):
    """Dense-query fallback and block-max WAND agree doc-for-doc with
    scores equal to 1e-9 (summation ORDER differs between the dense
    accumulator and the per-window union, so last-ulp drift is expected
    — the same tolerance every oracle comparison uses)."""
    got_taat, _ = run_kernels(seed, n_docs, "or", 1, taat_density=0.0)
    got_wand, _ = run_kernels(seed, n_docs, "or", 1, taat_density=2.0)
    assert len(got_taat) == len(got_wand)
    for (td, ts), (wd, ws) in zip(got_taat, got_wand):
        assert abs(ts - ws) < 1e-9
        if td != wd:  # permissible only as an exact-score tie swap
            assert abs(ts - ws) < 1e-9


@given(
    seed=st.integers(0, 10_000),
    n_docs=st.integers(5, 120),
    hot_salts=st.sampled_from([1, 2, 3]),
    tree=st.booleans(),
)
@settings(max_examples=240, deadline=None)
def test_group_kernel_matches_brute_force(seed, n_docs, hot_salts, tree):
    """mode='group' (Whoosh And-of-Or): random clause structures vs the
    brute-force clause semantics — candidate iff every clause has a
    matching member, score = sum over ALL matched terms.  With ``tree``,
    a random nested And/Or tree vs the brute-force Whoosh matchers."""
    got, want = run_kernels(seed, n_docs, "group", hot_salts, groups=not tree, tree=tree)
    assert len(got) == len(want), (got, want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9, (got, want)
        if gd != wd:  # tie swap only
            assert abs(gs - ws) < 1e-9


@given(
    seed=st.integers(0, 10_000),
    n_docs=st.integers(5, 120),
    shape=st.sampled_from(["and", "or", "taat", "group", "tree"]),
    hot_salts=st.sampled_from([1, 2, 3]),
    shuffle=st.integers(0, 1_000),
)
@settings(max_examples=200, deadline=None)
def test_kernel_output_ignores_row_order(seed, n_docs, shape, hot_salts, shuffle):
    """Every kernel (and, WAND or, TAAT or, group, tree) returns the same
    docs and bit-identical scores whatever order a chunk's posting rows
    arrive in: the Spark scan and the pyarrow read differ in it."""
    mode = {"taat": "or", "tree": "group"}.get(shape, shape)
    kw = dict(
        taat_density=0.0 if shape == "taat" else 2.0 if shape == "or" else 0.25,
        groups=shape == "group", tree=shape == "tree",
    )
    got, _ = run_kernels(seed, n_docs, mode, hot_salts, **kw)
    shuffled, _ = run_kernels(seed, n_docs, mode, hot_salts, shuffle=shuffle, **kw)
    assert shuffled == got


@given(
    seed=st.integers(0, 10_000),
    n_docs=st.integers(5, 120),
    shape=st.sampled_from(["and", "or", "taat", "group", "tree"]),
    hot_salts=st.sampled_from([1, 2, 3]),
)
@settings(max_examples=100, deadline=None)
def test_pandas_chunks_give_the_same_table(seed, n_docs, shape, hot_salts):
    """A chunk handed over as a pandas frame (the perfbench kernel
    probe's input) gives the kernel table the Arrow chunk gives, bit for
    bit, in the kernels' one output schema."""
    mode = {"taat": "or", "tree": "group"}.get(shape, shape)
    kw = dict(
        taat_density=0.0 if shape == "taat" else 2.0 if shape == "or" else 0.25,
        groups=shape == "group", tree=shape == "tree",
    )
    arrow_out, pandas_out = [], []
    run_kernels(seed, n_docs, mode, hot_salts, outputs=arrow_out, **kw)
    run_kernels(seed, n_docs, mode, hot_salts, as_pandas=True, outputs=pandas_out, **kw)
    assert len(arrow_out) == len(pandas_out)
    for a, p in zip(arrow_out, pandas_out):
        assert a.schema == p.schema == OUT_SCHEMA
        assert a.equals(p)
