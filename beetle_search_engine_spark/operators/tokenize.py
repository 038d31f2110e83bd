"""Corpus tokenization -> token rows (docnum, field, term, tf, dl[, pos]).

Two implementations of the same analyzer semantics (preset-configurable,
see functions/analyzer.py — "whoosh" is the reference chain, "sql" the
stem-free DuckDB-reproducible chain):

* :func:`tokenize_jvm` — T1-T3 (regex tokenize, per-token lowercase,
  stop/minsize) run as Catalyst expressions (codegen, no Python in the
  per-token path).  This keeps the memory-bandwidth-heavy string work in
  the JVM, which matters both for absolute speed and for parallel
  scaling (Python string churn saturates a node's memory bandwidth long
  before its cores).  Its rows are PRE-STEM: T4 (Porter) is not run here
  even for a stemming preset.  The index write path stems them once, over
  the vocabulary-sized term dimension (``build._stem_stage``), and its
  encode kernel merges same-doc rows whose tokens share a stem.  For
  stem-free presets the rows are final — zero Python.

* :func:`tokenize_python` — the whole chain per document inside
  mapInPandas (SURVEY.md M6).  Shares functions/analyzer.py with the
  pure-Python oracle, so it is the semantic reference; a parity test pins
  the JVM path to it (JVM rows stemmed and merged on the test side).

``impl="auto"`` picks by corpus size (``n_docs_hint``): the Python chain
wins at sandbox scales (this VM's memory bandwidth, not CPU, is the
binding constraint — see BENCH/BASELINE.md), the JVM chain is the plan
that survives 100x (per-doc Python string churn is the classic
scale-killer), so auto = python below AUTO_JVM_DOCS, jvm at or above.

``dl`` (post-stop-filter token count == Whoosh field length; stemming
doesn't change counts) rides along as a column so the index embeds doc
lengths and query time needs no doclen join.

``positions=True`` adds ``pos: array<int>`` — the 0-based token positions
of each (doc, field, term), ascending — feeding the phrase-capable index
layout (postings store delta+varint position lists).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analyzer import MIN_TOKEN_SIZE, STOP_WORDS, get_analyzer

TOKENS_SCHEMA = "docnum long, field string, term string, tf int, dl int"
TOKENS_SCHEMA_POS = TOKENS_SCHEMA + ", pos array<int>"

# impl="auto": python below this many docs on a single-node master, jvm
# at/above and on any real cluster (see module doc + resolve_impl)
AUTO_JVM_DOCS = 500_000


def resolve_impl(impl: str, n_docs_hint: int | None = None, master: str = "") -> str:
    """auto-selection: the python chain wins only where one shared memory
    bus serves all cores (a local[] master at modest corpus size —
    measured 1.8x faster at 8 cores on this VM); a multi-executor cluster
    gives each node its own bandwidth, where per-doc Python string churn
    is the classic scale-killer, so any non-local master gets jvm."""
    if impl != "auto":
        return impl
    if master and not master.startswith("local"):
        return "jvm"
    if n_docs_hint is None:
        return "jvm"  # unknown size: assume scale
    return "jvm" if n_docs_hint >= AUTO_JVM_DOCS else "python"


def _jvm_raw_tokens(col: str, analyzer) -> F.Column:
    """T1-T2 as Catalyst expressions: lowered token array, PRE stop/minsize
    filter (so array indices are Whoosh tokenizer positions)."""
    if analyzer.lower_first:
        return F.regexp_extract_all(F.lower(F.col(col)), F.lit(analyzer.jvm_pattern), 0)
    # Whoosh filter order: tokenize the ORIGINAL text, lowercase per
    # token (unicode lowercasing can add combining marks; done before
    # tokenizing it would move token boundaries vs the reference)
    return F.transform(
        F.regexp_extract_all(F.col(col), F.lit(analyzer.jvm_pattern), 0),
        lambda t: F.lower(t),
    )


def _keep(t) -> F.Column:
    """T3 stop/minsize predicate on a lowered token — the threshold is
    analyzer.MIN_TOKEN_SIZE, the single source of JVM/Python parity."""
    return (F.length(t) >= MIN_TOKEN_SIZE) & ~t.isin(*sorted(STOP_WORDS))


def _jvm_token_array(col: str, analyzer) -> F.Column:
    """T1-T3 as Catalyst expressions, honoring the preset's filter order."""
    return F.filter(_jvm_raw_tokens(col, analyzer), _keep)


def tokenize_jvm(
    corpus: DataFrame,
    fields: dict[str, str],
    analyzer_name: str = "whoosh",
    positions: bool = False,
) -> DataFrame:
    """T1-T3 of the preset as Catalyst expressions: one row per (doc,
    field, token).  For a stemming preset ``term`` holds the PRE-STEM
    token — T4 and the merge of tokens sharing a stem are the index
    write path's job (``build._stem_stage`` + the encode kernel), so
    Python runs once per vocabulary term, never per token, and the
    regex+explode subtree is evaluated once."""
    analyzer = get_analyzer(analyzer_name)
    parts = []
    for fname, col in sorted(fields.items()):
        # Materialize the token array as a named column in its own
        # projection BEFORE exploding.  Inlining the regex expression into
        # both size() and explode() lets Catalyst place the (expensive)
        # regex above the Generate, re-evaluating it once per exploded
        # OUTPUT row — observed as a ~100x tokenize blowup.  A column
        # reference is cheap to duplicate; the regex runs once per doc.
        if positions:
            # positions number the KEPT tokens consecutively — Whoosh's
            # StopFilter defaults to renumber=True, so its phrases match
            # across removed stopword/minsize gaps; filtering the array
            # FIRST and posexploding the kept tokens gives exactly those
            # renumbered positions (see analyze_pos: the constant
            # first-kept offset Whoosh retains cancels in every
            # difference the phrase operators test).  dl = kept count ==
            # Whoosh field length, which is now simply the array size.
            raw = _jvm_raw_tokens(col, analyzer)
            pre = corpus.select(
                "docnum",
                F.lit(fname).alias("field"),
                F.filter(raw, _keep).alias("kept"),
            )
            parts.append(
                pre.select(
                    "docnum",
                    "field",
                    F.size(F.col("kept")).alias("dl"),
                    F.posexplode("kept").alias("tokpos", "term"),
                )
            )
        else:
            toks = _jvm_token_array(col, analyzer)
            pre = corpus.select("docnum", F.lit(fname).alias("field"), toks.alias("toks"))
            parts.append(
                pre.select(
                    "docnum",
                    "field",
                    F.size("toks").alias("dl"),
                    F.explode("toks").alias("term"),
                )
            )
    exploded = parts[0]
    for p in parts[1:]:
        exploded = exploded.unionByName(p)

    aggs = [F.count(F.lit(1)).cast("int").alias("tf"), F.first("dl").alias("dl")]
    if positions:
        aggs.append(F.sort_array(F.collect_list(F.col("tokpos").cast("int"))).alias("pos"))
    return (
        exploded.groupBy("docnum", "field", "term")
        .agg(*aggs)
        .select("docnum", "field", "term", "tf", "dl", *(["pos"] if positions else []))
    )


def tokenize_python(
    corpus: DataFrame,
    fields: dict[str, str],
    analyzer_name: str = "whoosh",
    positions: bool = False,
) -> DataFrame:
    """fields: index-field name -> source column name.

    e.g. {"title": "path", "body": "content"} for the graft corpus
    (mirrors the reference's two-field schema, build_bm25.py:7-13), or
    {"body": "text"} for the testdata documents table.
    """
    analyzer = get_analyzer(analyzer_name)
    src_cols = sorted(set(fields.values()))
    field_items = sorted(fields.items())

    def kernel(batches):
        for pdf in batches:
            docnums = pdf["docnum"].to_numpy()
            out_doc, out_field, out_term, out_tf, out_dl = [], [], [], [], []
            out_pos: list[list[int]] = []
            for fname, col in field_items:
                texts = pdf[col]
                for dn, text in zip(docnums, texts):
                    txt = text if isinstance(text, str) else ""
                    if positions:
                        pairs = analyzer.analyze_pos(txt)
                        if not pairs:
                            continue
                        posmap: dict[str, list[int]] = {}
                        for t, i in pairs:
                            posmap.setdefault(t, []).append(i)
                        tf = {t: len(p) for t, p in posmap.items()}
                        out_pos.extend(posmap.values())
                        dl = len(pairs)
                    else:
                        terms = analyzer.analyze(txt)
                        if not terms:
                            continue
                        tf = Counter(terms)
                        dl = len(terms)
                    k = len(tf)
                    out_doc.append(np.full(k, dn, dtype=np.int64))
                    out_field.extend([fname] * k)
                    out_term.extend(tf.keys())
                    out_tf.append(np.fromiter(tf.values(), dtype=np.int32, count=k))
                    out_dl.append(np.full(k, dl, dtype=np.int32))
            if not out_doc:
                continue
            data = {
                "docnum": np.concatenate(out_doc),
                "field": out_field,
                "term": out_term,
                "tf": np.concatenate(out_tf),
                "dl": np.concatenate(out_dl),
            }
            if positions:
                data["pos"] = out_pos
            yield pd.DataFrame(data)

    schema = TOKENS_SCHEMA_POS if positions else TOKENS_SCHEMA
    return corpus.select("docnum", *src_cols).mapInPandas(kernel, schema=schema)


def tokenize(
    corpus: DataFrame,
    fields: dict[str, str],
    impl: str = "jvm",
    analyzer_name: str = "whoosh",
    positions: bool = False,
    n_docs_hint: int | None = None,
) -> DataFrame:
    """Token rows of ``corpus`` by the resolved ``impl``.  The python
    chain's rows are final; the jvm chain's rows of a stemming preset are
    pre-stem (see :func:`tokenize_jvm`), and stemming them is the write
    path's job."""
    master = str(corpus.sparkSession.conf.get("spark.master", ""))
    impl = resolve_impl(impl, n_docs_hint, master)
    if impl == "jvm":
        return tokenize_jvm(corpus, fields, analyzer_name, positions)
    return tokenize_python(corpus, fields, analyzer_name, positions)
