"""Query-time top-k kernels (SURVEY.md §4.2.3, J7/K1).

Runs per docnum *chunk* — under ``groupBy("chunk").applyInArrow`` on
the distributed path, one chunk after another on the driver-local path.
The posting rows for the query's terms, already bucket-pruned at the
scan, are grouped by chunk so every chunk scores independently and
returns at most k rows; ``plans/query._rank`` merges each query's
(chunks x k) rows into its global top-k on the driver.

Arrow in, Arrow out: a kernel takes a chunk's posting rows as a
``pa.Table`` and returns a ``pa.Table`` of ``OUT_SCHEMA`` (docnum int64,
score float64), so neither search path builds a pandas frame.  A pandas
frame is still accepted and converted once on entry.  The rows' postings
arrive either as varint blobs (the Spark scan's ``binary`` columns),
which ``_cursors`` decodes for the whole chunk at once, or already
decoded as ``list<>`` columns (the local path decodes a term's rows
once per handle, ``plans/query._pruned_rows``); every row then reads a
slice of the chunk's flat value arrays.

Two kernels, mirroring the reference's query semantics:

* conjunctive — ``and`` (default), ``group`` and nested-tree queries.
  ``and`` is Whoosh's MultifieldParser default AndGroup: every query
  term required, matching in >=1 field (reference:
  src/search/search_bm25.py:32-36).  ``group`` is Whoosh's AndGroup with
  infix Or (``x OR y z`` == And(Or(x,y), z)): clause intersection, each
  clause the union of its OR'd members' docs, scoring every matching
  member (Whoosh's UnionMatcher).  A nested tree (``(a b) OR (c d)``)
  seeds the candidates with its exact match set and scores.  All three
  then run the same vectorized sorted-set intersection rarest-clause-
  first, with row-range (block) skipping — rows whose [doc_lo, doc_hi]
  cannot intersect the candidate range are never read or scored — and
  the same NOT / tombstone / phrase gates.

* ``or`` — disjunctive block-max WAND: row-granularity pivoting on
  suffix-max upper bounds, block-max window check against the heap floor,
  and vectorized exact scoring of surviving windows.  Rows whose bound
  cannot beat the current top-k floor are skipped without scoring.
  Dense queries switch to a vectorized term-at-a-time accumulation.

Exact scores are recomputed in float64 from (tf, dl, df) — the stored
float32 ``max_score``/``block_max`` are upper bounds only — so results are
bit-comparable with the pure-Python oracle.
"""

from __future__ import annotations

import heapq
import math
from functools import reduce
from itertools import repeat

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .codecs import decode_positions, decode_posting_columns
from .scoring import term_scores

OUT_SCHEMA = pa.schema([("docnum", pa.int64()), ("score", pa.float64())])
EMPTY = OUT_SCHEMA.empty_table()


def _out(docs, scores) -> pa.Table:
    """A kernel's top rows as a table of ``OUT_SCHEMA``."""
    return pa.Table.from_arrays(
        [pa.array(docs, pa.int64()), pa.array(scores, pa.float64())], schema=OUT_SCHEMA
    )


class _Row:
    """One posting row of a chunk.  Its postings are ``n`` values from
    ``start`` in the chunk's flat (docs, tfs, dls) arrays, which
    ``_cursors`` decodes once per chunk; ``decode()`` returns views."""

    __slots__ = (
        "doc_lo", "doc_hi", "max_score", "df", "epoch", "epoch_n", "n", "_start", "_flat", "_pos",
    )

    def __init__(self, doc_lo, doc_hi, max_score, df, epoch, epoch_n, n, start, flat, pos=b""):
        self.doc_lo = doc_lo
        self.doc_hi = doc_hi
        self.max_score = max_score  # encode-time upper bound (rescaled by
        # the kernel when the index has grown since this row was written)
        self.df = df                # df within this row's epoch
        self.epoch = epoch
        self.epoch_n = epoch_n      # corpus size at this row's encode time
        self.n = n                  # postings in this row
        self._start = start
        self._flat = flat           # the chunk's (docs int64, tfs, dls float64)
        self._pos = pos

    def decode(self):
        """(docnums, tfs, dls) of this row: read-only views."""
        a, z = self._start, self._start + self.n
        docs, tfs, dls = self._flat
        return docs[a:z], tfs[a:z], dls[a:z]

    def positions(self):
        """(flat positions, per-posting starts) — requires an index built
        with store_positions=True.  Decodes this row's position blob."""
        d, tf, _ = self.decode()
        return decode_positions(self._pos, tf.astype(np.int64))


class _Cursor:
    """Per (field, term) row list, sorted by (doc_lo, epoch), with a
    suffix-max score bound."""

    __slots__ = ("field", "term", "rows", "ptr", "suffix_ub", "df", "n")

    def __init__(self, field, term, rows):
        rows.sort(key=lambda r: (r.doc_lo, r.epoch))
        self.field, self.term, self.rows = field, term, rows
        self.ptr = 0
        ub = 0.0
        sufs = [0.0] * len(rows)
        for i in range(len(rows) - 1, -1, -1):
            ub = max(ub, rows[i].max_score)
            sufs[i] = ub
        self.suffix_ub = sufs
        self.df = rows[0].df if rows else 0
        self.n = sum(r.doc_hi - r.doc_lo + 1 for r in rows)  # upper est

    @property
    def cur(self):
        return self.rows[self.ptr]

    @property
    def done(self):
        return self.ptr >= len(self.rows)

    def rescale(self, fn):
        """Apply a bound scale to every row (multi-epoch idf/avgdl drift)
        and rebuild the suffix-max upper bounds."""
        ub = 0.0
        for i in range(len(self.rows) - 1, -1, -1):
            r = self.rows[i]
            r.max_score *= fn(self, r)
            ub = max(ub, r.max_score)
            self.suffix_ub[i] = ub


# the numeric posting-row columns, in _Row's argument order
_NUMERIC = ("doc_lo", "doc_hi", "max_score", "df", "epoch", "epoch_n", "n")
# the posting columns a row's postings are read from, with their dtype
_VALUES = (("docs", np.int64), ("tfs", np.float64), ("dls", np.float64))


def _flat_values(rows: pa.Table) -> tuple[np.ndarray, ...]:
    """A chunk's postings as flat, read-only (docs, tfs, dls) arrays,
    rows back to back.  Binary blob columns (a Spark scan's, a probe's)
    are decoded here, once per chunk (``decode_posting_columns``);
    ``list<>`` columns the local path holds decoded are flattened."""
    cols = [rows[c] for c, _ in _VALUES]
    if not pa.types.is_list(cols[0].type):
        cols = decode_posting_columns(*cols, rows["n"])
    flat = tuple(
        np.asarray(pc.list_flatten(col).to_numpy(), dtype=dtype)
        for col, (_, dtype) in zip(cols, _VALUES)
    )
    for a in flat:
        a.flags.writeable = False  # rows share them: decode() hands out views
    return flat


def _cursors(rows) -> dict[tuple[str, str], _Cursor]:
    """One cursor per (field, term) of a chunk's posting rows (a
    ``pa.Table``; a pandas frame is converted once), in (field, term)
    order, each cursor's rows in (doc_lo, epoch) order.  Every kernel
    loop walks cursors and rows in this canonical order, so the float
    sums of a document's score, and with them the scores, do not depend
    on the order the rows arrive in (a Spark scan and a pyarrow read
    hand them over differently).  Each column is read once: numerics
    through numpy, strings as Python lists, postings as the flat arrays
    of ``_flat_values`` that every row slices."""
    if not isinstance(rows, pa.Table):
        rows = pa.Table.from_pandas(rows, preserve_index=False)
    flat = _flat_values(rows)
    n = rows["n"].to_numpy().astype(np.int64)
    numeric = [rows[c].to_numpy().tolist() for c in _NUMERIC]
    pos = rows["pos"].to_pylist() if "pos" in rows.column_names else repeat(b"")
    groups: dict[tuple[str, str], list[_Row]] = {}
    for field, term, *row, p in zip(
        rows["field"].to_pylist(), rows["term"].to_pylist(), *numeric,
        (np.cumsum(n) - n).tolist(), pos,
    ):
        groups.setdefault((field, term), []).append(_Row(*row, flat, p))
    return {k: _Cursor(k[0], k[1], groups[k]) for k in sorted(groups)}


def _gather_segments(flat: np.ndarray, starts: np.ndarray, counts: np.ndarray):
    """Vectorized variable-length gather: concatenation of
    flat[starts[i] : starts[i]+counts[i]] plus each value's segment id."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    seg_ids = np.repeat(np.arange(starts.size, dtype=np.int64), counts)
    within = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(counts) - counts, counts)
    vals = flat[np.repeat(starts, counts) + within]
    return vals.astype(np.int64), seg_ids


def _phrase_mask(
    phrase: list[tuple[str, int]], cand: np.ndarray, cursors: dict
) -> np.ndarray:
    """Boolean mask over sorted candidate docnums: True where the doc
    contains ``phrase``'s terms at the phrase's relative kept-token
    positions within at least one field (Whoosh phrase semantics are
    per-field; positions are RENUMBERED over kept tokens per Whoosh's
    StopFilter renumber=True, so removed stopwords leave no gap on
    either the doc or the query side).  Decodes position blobs only
    for rows overlapping the candidate range.

    Fully vectorized: slot j's occurrences become int64 keys
    (docnum << 32) + (pos - offset_j) — a phrase occurrence with base
    position p yields the SAME key (doc << 32) + p in every slot, so the
    matching docs are the high halves of the slots' key intersection.
    (pos - offset stays within +/-2^31, so keys are collision-free.)
    No per-candidate Python loop — a phrase of two stop-like terms over a
    dense chunk stays O(postings log postings) numpy work."""
    mask = np.zeros(cand.size, dtype=bool)
    fields = sorted({f for (f, _t) in cursors})
    for field in fields:
        if mask.all():
            break
        if any((field, t) not in cursors for t, _off in phrase):
            continue  # phrase can't match in a field missing a term
        keys = None  # intersection of per-slot key sets
        for t, off in phrase:
            parts = []
            for r in cursors[(field, t)].rows:
                if r.doc_hi < cand[0] or r.doc_lo > cand[-1]:
                    continue
                d, tf, _ = r.decode()
                flat, starts = r.positions()
                counts = tf.astype(np.int64)
                idx = np.searchsorted(cand, d)
                sel = (idx < cand.size) & (cand[np.minimum(idx, cand.size - 1)] == d)
                if not sel.any():
                    continue
                vals, seg = _gather_segments(flat, starts[sel], counts[sel])
                parts.append((d[sel].astype(np.int64)[seg] << 32) + (vals - off))
            if not parts:
                keys = None
                break
            k = np.unique(np.concatenate(parts) if len(parts) > 1 else parts[0])
            keys = k if keys is None else np.intersect1d(keys, k, assume_unique=True)
            if keys.size == 0:
                keys = None
                break
        if keys is not None and keys.size:
            mask |= np.isin(cand, np.unique(keys >> 32))
    return mask


def _slop_phrase_mask(
    phrase: list[tuple[str, int]], slop: int, cand: np.ndarray, cursors: dict
) -> np.ndarray:
    """Boolean mask over sorted candidate docnums: True where the doc
    contains ``phrase``'s analyzed terms IN ORDER with every consecutive
    positional gap in [1, slop] within at least one field — Whoosh's
    sloppy-phrase semantics (``Phrase.matcher`` builds
    ``SpanNear2(terms, slop=slop, ordered=True, mindist=1)``,
    whoosh/query/positional.py; each successive span must start 1..slop
    positions after the previous span ends).  Unlike the exact path
    (``_phrase_mask``), query-side stopword offsets are NOT reproduced:
    SpanNear2 sees only the surviving term list, so ``"a the b"~2``
    accepts any doc with b 1-2 positions after a.  The exact path keeps
    offset reproduction; the planner routes slop>=2 here.

    Vectorized chaining: term j's occurrences become int64 keys
    (docnum << 32) + pos; each key survives when the previous term's
    surviving-key set has an entry in [key - slop, key - 1], found with
    two searchsorted probes.  Positions are < 2^31, so probe windows
    never cross a document boundary and no per-candidate Python loop
    runs — O(postings log postings) per term like the exact mask."""
    mask = np.zeros(cand.size, dtype=bool)
    fields = sorted({f for (f, _t) in cursors})
    terms = [t for t, _off in phrase]
    for field in fields:
        if mask.all():
            break
        if any((field, t) not in cursors for t in terms):
            continue  # phrase can't match in a field missing a term
        active = None  # surviving (doc<<32)+pos keys after chaining so far
        for j, t in enumerate(terms):
            parts = []
            for r in cursors[(field, t)].rows:
                if r.doc_hi < cand[0] or r.doc_lo > cand[-1]:
                    continue
                d, tf, _ = r.decode()
                flat, starts = r.positions()
                counts = tf.astype(np.int64)
                idx = np.searchsorted(cand, d)
                sel = (idx < cand.size) & (cand[np.minimum(idx, cand.size - 1)] == d)
                if not sel.any():
                    continue
                vals, seg = _gather_segments(flat, starts[sel], counts[sel])
                parts.append((d[sel].astype(np.int64)[seg] << 32) + vals)
            if not parts:
                active = None
                break
            keys = np.unique(np.concatenate(parts) if len(parts) > 1 else parts[0])
            if j == 0:
                active = keys
            else:
                lo = np.searchsorted(active, keys - slop, side="left")
                hi = np.searchsorted(active, keys - 1, side="right")
                active = keys[hi > lo]
                if active.size == 0:
                    active = None
                    break
        if active is not None and active.size:
            mask |= np.isin(cand, np.unique(active >> 32))
    return mask


def make_wand_kernel(
    terms: list[str],
    stats: dict,
    k: int,
    mode: str = "and",
    df_override: dict | None = None,
    phrases: list[list[str]] | None = None,
    taat_density: float = 0.25,
    fielded: dict[str, str] | None = None,
    excluded: list[str] | None = None,
    groups: list[list[str]] | None = None,
    excluded_phrases: list[list[tuple[str, int]]] | None = None,
    deleted=None,
    term_boosts: dict[str, float] | None = None,
    maybe_terms: list[str] | None = None,
    filter_terms: list[str] | None = None,
    tree: tuple | None = None,
    slop_phrases: list[tuple[list[tuple[str, int]], int]] | None = None,
    excluded_slop_phrases: list[tuple[list[tuple[str, int]], int]] | None = None,
):
    """Build the kernel for one query: a chunk's posting rows
    (``pa.Table``) -> its top-k rows (``pa.Table`` of ``OUT_SCHEMA``).

    ``df_override`` maps (field, term) -> true document frequency summed
    across index epochs; required for exact scoring on incrementally
    refreshed indexes (each row only knows its own epoch's df).  Stored
    block-max bounds are rescaled by idf drift (linear in idf) and by
    max(1, avgdl_now/avgdl_epoch) — a valid upper-bound factor because the
    tf part of BM25 is increasing in avgdl.

    ``phrases``: quoted-phrase term sequences (already analyzed).  A
    candidate doc must contain each phrase's terms at consecutive
    positions within at least one field (requires an index built with
    store_positions=True).  Phrases act as filters; scoring stays plain
    BM25F over the query terms.  Honored by the conjunctive kernel only —
    the query planner forces mode='and' when phrases are present.

    ``fielded``: term -> field restriction (parser ``field:term``): the
    term only matches/scores in that one field — other fields' cursors
    for it are ignored (Whoosh FieldsPlugin semantics).

    ``excluded``: NOT terms (Whoosh AndNot).  A doc containing any of
    them in ANY field is dropped before scoring; excluded terms never
    contribute to scores.  The query planner includes them in the
    posting scan so their cursors arrive here.  A NOT on a stop-like
    term reads that term's full posting range for the chunk — the
    documented cost of negation, bounded per chunk.

    ``groups``: conjunctive clause list (parser mode "group", Whoosh's
    default AndGroup with infix Or: ``x OR y z`` == And(Or(x,y), z)).
    Each clause is a list of terms; a singleton is a required term, a
    len>=2 clause matches when >=1 member matches.  The candidate set is
    the intersection over clauses of each clause's member-docs union, and
    every matching member contributes its BM25F score (Whoosh's
    UnionMatcher sums matching children).  ``mode='and'`` is exactly the
    all-singleton special case, so both run the conjunctive kernel.

    ``excluded_phrases``: negated quoted phrases (``NOT "a b"``): docs
    containing the phrase — same per-field positional adjacency as
    ``phrases`` — are dropped after candidate selection.  Their terms
    must ride the posting scan (planner's job) but never score.

    ``slop_phrases`` / ``excluded_slop_phrases``: ``"a b"~N`` with
    N >= 2 — each entry is (members, slop) and gates via
    ``_slop_phrase_mask`` (ordered terms, consecutive gaps in
    [1, slop]; Whoosh SpanNear2 semantics) instead of exact offset
    reproduction.  Positive slop phrases' members score like phrase
    members; negated ones ride the scan without scoring.

    ``term_boosts``: query-time score multipliers (parser ``term^2.5``,
    Whoosh's boost attribute): every contribution of the term — and, for
    soundness, its block-max bounds — is scaled by the factor.  Applies
    in every kernel (AND, WAND, TAAT).

    ``maybe_terms``: ANDMAYBE operands (Whoosh AndMaybe): they never
    gate candidacy but add their BM25F score where present.  Honored by
    the conjunctive kernel (the planner routes ANDMAYBE queries there).

    ``filter_terms``: REQUIRE operands (Whoosh Require): docs must
    contain them, but they contribute NO score.  Each becomes its own
    conjunctive clause; the scoring loop skips them.

    ``deleted``: sorted int64 array of tombstoned docnums (Lucene/Whoosh
    deletion semantics: deleted docs are skipped at collection time,
    corpus stats — N, df, avgdl — stay STALE until a rebuild merges the
    tombstones away, exactly like Whoosh's ``delete_document`` before an
    ``optimize``).  Surviving docs therefore score identically with or
    without deletions.  Block-max bounds may still reflect deleted docs —
    bounds only loosen, pruning stays sound.

    ``tree``: nested boolean tree (parser ``(a b) OR (c d)``), nodes
    ("term", t) | ("and", (...)) | ("or", (...)).  Candidacy is the
    tree's match set (And = intersection, Or = union); scoring follows
    Whoosh's matchers exactly — And sums all children, Or sums only the
    MATCHING children, so a doc matching branch (a b) but not (c d)
    scores a+b even when c is present.  The tree is evaluated exactly per
    chunk (set ops, no block-max pruning across it) and seeds
    the conjunctive kernel: the flat ``groups`` clauses (in tree mode:
    phrase singletons + planner-appended expansions) gate beside it, as
    do excluded/phrase/REQUIRE constraints; ANDMAYBE terms add score on
    top.

    ``taat_density``: when the query's AVERAGE per-cursor posting density
    (total postings / (chunk span x number of cursors), so always in
    [0, 1]) exceeds this threshold, block-max pruning cannot win (the
    top-k floor never beats bounds that nearly every doc can reach) and
    the per-window pivot loop just adds Python overhead — the kernel
    switches to a fully-vectorized term-at-a-time accumulation over a
    dense per-chunk score array (exact same scores, ~10x faster on
    all-stopword-like queries).  Set >1 to force WAND, 0 to force TAAT.
    """
    k1, b = stats["k1"], stats["b"]
    n_docs = stats["n_docs"]
    avgdl = stats["avgdl"]
    field_boosts = stats["field_boosts"]
    epoch_stats = stats.get("epochs", {})
    qterms = list(dict.fromkeys(terms))
    phrases = [p for p in (phrases or []) if len(p) >= 2]
    fielded = fielded or {}
    excluded_set = set(excluded or [])
    # conjunctive clause list: parser groups, topped up with singletons
    # for any scoring term they don't cover (bag-of-words callers pass
    # groups=None -> all-singleton == classic AND).  Tree leaves are
    # covered by the tree itself — a singleton for them would wrongly
    # REQUIRE every Or-branch member.
    from ..plans.parser import tree_terms  # the one tree-leaf walker

    tree_set = set(tree_terms(tree))
    clauses = [list(dict.fromkeys(c)) for c in (groups or [])]
    _covered = {t for c in clauses for t in c} | tree_set
    clauses += [[t] for t in qterms if t not in _covered]
    ex_phrases = [p for p in (excluded_phrases or []) if len(p) >= 2]
    sl_phrases = [(p, s) for p, s in (slop_phrases or []) if len(p) >= 2]
    ex_sl_phrases = [(p, s) for p, s in (excluded_slop_phrases or []) if len(p) >= 2]
    maybe = [t for t in dict.fromkeys(maybe_terms or []) if t not in qterms]
    filter_set = set(filter_terms or [])
    # REQUIRE terms gate like any clause but never score (list order, not
    # set order — clause order must not depend on hash seeds)
    clauses += [
        [t] for t in dict.fromkeys(filter_terms or [])
        if t not in _covered and t not in qterms
    ]
    # the row scoring pass covers query terms + ANDMAYBE terms, minus
    # REQUIRE terms and the tree's leaves (the tree scores those itself)
    row_scored = [
        t for t in [*qterms, *maybe] if t not in filter_set and t not in tree_set
    ]
    # positional gates, applied in order: (mask function, phrase args,
    # keep the docs it marks?)
    phrase_gates = (
        [(_phrase_mask, (p,), True) for p in phrases]
        + [(_phrase_mask, (p,), False) for p in ex_phrases]
        + [(_slop_phrase_mask, (p, s), True) for p, s in sl_phrases]
        + [(_slop_phrase_mask, (p, s), False) for p, s in ex_sl_phrases]
    )

    def _allowed(c: _Cursor) -> bool:
        want = fielded.get(c.term)
        return want is None or c.field == want

    def _excluded_docs(cursors: dict):
        """Sorted unique docnums containing any excluded term (any field)."""
        parts = [
            r.decode()[0]
            for (_f, t), c in cursors.items() if t in excluded_set
            for r in c.rows
        ]
        return np.unique(np.concatenate(parts)) if parts else None

    def true_df(cursor: _Cursor, row: _Row) -> int:
        if df_override:
            return df_override.get((cursor.field, cursor.term), row.df)
        return row.df

    def bound_scale(cursor: _Cursor, row: _Row) -> float:
        bst = term_boosts.get(cursor.term, 1.0) if term_boosts else 1.0
        dft = true_df(cursor, row)
        if dft == row.df and row.epoch_n == n_docs:
            return bst  # single-epoch fast path (boost still scales bounds)
        idf_true = math.log(n_docs / (dft + 1.0)) + 1.0
        idf_enc = math.log(row.epoch_n / (row.df + 1.0)) + 1.0
        es = epoch_stats.get(str(row.epoch), {})
        avgdl_enc = es.get("avgdl", avgdl).get(cursor.field, avgdl[cursor.field])
        return bst * (idf_true / idf_enc) * max(1.0, avgdl[cursor.field] / avgdl_enc)

    def contribs(cursor: _Cursor, row: _Row):
        d, tf, dl = row.decode()
        sc = term_scores(
            tf, dl, true_df(cursor, row), field_boosts.get(cursor.field, 1.0), k1, b, n_docs, avgdl[cursor.field]
        )
        bst = term_boosts.get(cursor.term, 1.0) if term_boosts else 1.0
        return d, (sc * bst if bst != 1.0 else sc)

    def _dropped(cursors: dict):
        """Sorted docnums no result may hold: NOT-term docs + tombstones."""
        ex = _excluded_docs(cursors) if excluded_set else None
        if deleted is not None:
            ex = deleted if ex is None else np.union1d(ex, deleted)
        return ex

    def _tree_eval(by_term: dict):
        """(sorted docs, scores) of the tree's match set.  Each term's
        postings are scored ONCE (cached) into a sorted (docs, scores) pair;
        And intersects + sums all children, Or unions + sums matching
        children only — Whoosh's Intersection/UnionMatcher semantics
        vectorized as numpy set ops."""
        _tc: dict[str, tuple] = {}

        def term_eval(t: str):
            """(sorted unique docs, summed scores) for one term across
            its fields' cursors in this chunk."""
            if t not in _tc:
                parts = [contribs(c, r) for c in by_term.get(t, ()) for r in c.rows]
                d = np.concatenate([p[0] for p in parts] or [np.empty(0, dtype=np.int64)])
                ud, inv = np.unique(d, return_inverse=True)
                us = np.zeros(ud.size, dtype=np.float64)
                np.add.at(us, inv, np.concatenate([p[1] for p in parts] or [np.empty(0)]))
                _tc[t] = (ud, us)
            return _tc[t]

        def node_eval(n):
            if n[0] == "term":
                return term_eval(n[1])
            parts = [node_eval(c) for c in n[1]]
            if n[0] == "and":
                docs = reduce(
                    lambda x, y: np.intersect1d(x, y, assume_unique=True), (d for d, _ in parts)
                )
                return docs, sum(s2[np.searchsorted(d2, docs)] for d2, s2 in parts)
            docs = reduce(np.union1d, (d for d, _ in parts))
            out = np.zeros(docs.size, dtype=np.float64)
            for d2, s2 in parts:
                out[np.searchsorted(docs, d2)] += s2
            return docs, out

        return node_eval(tree)

    # ---------------- conjunctive (and / group / tree) ----------------
    # (both kernels are fully type-hinted: applyInArrow reads its eval
    # type from the hints and fails on a partly annotated function)
    def kernel_and(rows: pa.Table) -> pa.Table:
        cursors = _cursors(rows)
        by_term: dict[str, list[_Cursor]] = {}
        for (f, t), c in cursors.items():
            if t in excluded_set or not _allowed(c):
                continue  # NOT terms / off-field cursors never score
            by_term.setdefault(t, []).append(c)
        if any(all(t not in by_term for t in cl) for cl in clauses):
            return EMPTY  # a clause has no member present in this chunk
        # a tree seeds the candidates with its match set and its leaves'
        # scores; the flat clauses then gate beside it
        cand, scores = _tree_eval(by_term) if tree is not None else (None, None)
        if cand is not None and cand.size == 0:
            return EMPTY
        order = sorted(
            clauses, key=lambda cl: sum(c.n for t in cl for c in by_term.get(t, ()))
        )
        for cl in order:
            parts = []
            for t in cl:
                for c in by_term.get(t, ()):
                    for r in c.rows:
                        if cand is not None and (r.doc_hi < cand[0] or r.doc_lo > cand[-1]):
                            continue  # block skip: range can't intersect
                        parts.append(r.decode()[0])
            if not parts:
                return EMPTY
            # union of the clause members' docs (an OR group matches when
            # any member matches; a singleton degenerates to its postings)
            docs_t = parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
            if cand is None:
                cand, scores = docs_t, np.zeros(docs_t.size, dtype=np.float64)
            else:
                keep = np.isin(cand, docs_t, assume_unique=True)
                cand, scores = cand[keep], scores[keep]
            if cand.size == 0:
                return EMPTY
        ex = _dropped(cursors)
        if ex is not None:
            keep = ~np.isin(cand, ex)
            cand, scores = cand[keep], scores[keep]
        for mask_fn, args, want in phrase_gates:
            if cand.size == 0:
                return EMPTY
            keep = mask_fn(*args, cand, cursors)
            keep = keep if want else ~keep
            cand, scores = cand[keep], scores[keep]
        if cand.size == 0:
            return EMPTY
        for t in row_scored:
            for c in by_term.get(t, ()):
                for r in c.rows:
                    if r.doc_hi < cand[0] or r.doc_lo > cand[-1]:
                        continue
                    d, sc = contribs(c, r)
                    idx = np.searchsorted(cand, d)
                    m = (idx < cand.size) & (cand[np.minimum(idx, cand.size - 1)] == d)
                    scores[idx[m]] += sc[m]
        sel = np.lexsort((cand, -scores))[:k]
        return _out(cand[sel], scores[sel])

    # ---------------- disjunctive: vectorized TAAT (dense queries) -----
    def _taat(cursors, ex=None) -> pa.Table:
        lo = min(r.doc_lo for c in cursors for r in c.rows)
        hi = max(r.doc_hi for c in cursors for r in c.rows)
        scores = np.zeros(hi - lo + 1, dtype=np.float64)
        for c in cursors:
            for r in c.rows:
                d, sc = contribs(c, r)
                # docs unique within one row -> fancy-index += is exact
                scores[d - lo] += sc
        if ex is not None:
            exm = ex[(ex >= lo) & (ex <= hi)]
            scores[exm - lo] = 0.0  # NOT docs drop out of the nz scan
        nz = np.flatnonzero(scores)  # BM25 contributions are > 0
        if nz.size == 0:
            return EMPTY
        sel = np.lexsort((nz, -scores[nz]))[:k]
        return _out(nz[sel] + lo, scores[nz[sel]])

    # ---------------- disjunctive (block-max WAND) ----------------
    def kernel_or(rows: pa.Table) -> pa.Table:
        all_cursors = _cursors(rows)
        cursors = [
            c for c in all_cursors.values()
            if c.term in qterms and c.term not in excluded_set and _allowed(c)
        ]
        if not cursors:
            return EMPTY
        ex = _dropped(all_cursors)
        # density over the SCORING cursors only: a whole-chunk n-sum also
        # counts excluded/off-field terms' rows, whose posting mass
        # would inflate the estimate and flip a sparse query to TAAT
        # (exact but pruning-free) whenever a NOT term is dense
        total_postings = sum(r.n for c in cursors for r in c.rows)
        span = max(r.doc_hi for c in cursors for r in c.rows) - min(
            r.doc_lo for c in cursors for r in c.rows
        ) + 1
        # average per-cursor density, bounded by 1 — so >1 forces WAND
        if total_postings >= taat_density * span * len(cursors):
            return _taat(cursors, ex)
        for c in cursors:
            c.rescale(bound_scale)
        heap: list[tuple[float, int]] = []  # (score, -docnum) min-heap, size <= k
        watermark = -1  # docs <= watermark are fully scored; windows disjoint

        def theta():
            return heap[0][0] if len(heap) >= k else -np.inf

        def cur_lo(c):
            # effective current doc: a partially-consumed row starts after
            # the watermark
            return max(c.cur.doc_lo, watermark + 1)

        while True:
            actives = [c for c in cursors if not c.done]
            if not actives:
                break
            actives.sort(key=cur_lo)
            th = theta()
            acc = 0.0
            pivot = -1
            for i, c in enumerate(actives):
                acc += c.suffix_ub[c.ptr]
                if acc > th:
                    pivot = i
                    break
            if pivot < 0:
                break  # nothing remaining can beat the floor
            pivot_doc = cur_lo(actives[pivot])
            # skip rows entirely before the pivot (never scored)
            advanced = False
            for c in actives[:pivot]:
                while not c.done and c.cur.doc_hi < pivot_doc:
                    c.ptr += 1
                    advanced = True
            if advanced:
                continue
            # window = [pivot_doc, H]; H = min doc_hi over intersecting rows
            H = actives[pivot].cur.doc_hi
            involved = []
            for c in actives:
                if not c.done and cur_lo(c) <= H and c.cur.doc_hi >= pivot_doc:
                    involved.append(c)
                    H = min(H, c.cur.doc_hi)
            # block-max check: can this window possibly beat the floor?
            ub = sum(c.cur.max_score for c in involved)
            if ub <= th:
                watermark = H  # window provably dead: nothing in it can win
                for c in involved:
                    if c.cur.doc_hi <= H:
                        c.ptr += 1  # block-max skip, never scored
                continue
            # exact scoring of the window (vectorized union)
            all_d, all_s = [], []
            for c in involved:
                d, sc = contribs(c, c.cur)
                m = (d >= pivot_doc) & (d <= H)
                if ex is not None:
                    m &= ~np.isin(d, ex)  # NOT docs never enter the heap
                if m.any():
                    all_d.append(d[m])
                    all_s.append(sc[m])
            if all_d:
                d = np.concatenate(all_d)
                sc = np.concatenate(all_s)
                ud, inv = np.unique(d, return_inverse=True)
                us = np.zeros(ud.size, dtype=np.float64)
                np.add.at(us, inv, sc)
                for doc, s in zip(ud.tolist(), us.tolist()):
                    item = (s, -doc)
                    if len(heap) < k:
                        heapq.heappush(heap, item)
                    elif item > heap[0]:
                        heapq.heapreplace(heap, item)
            watermark = H  # window fully scored; never revisit its docs
            for c in involved:
                if c.cur.doc_hi <= H:
                    c.ptr += 1
        if not heap:
            return EMPTY
        items = sorted(heap, key=lambda x: (-x[0], -x[1]))
        return _out([-i[1] for i in items], [i[0] for i in items])

    # "group" (And over OR clauses) and a nested tree run the conjunctive
    # kernel; pure "or" keeps the block-max WAND path
    return kernel_and if tree is not None or mode in ("and", "group") else kernel_or
