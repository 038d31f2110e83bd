"""SQL-expressible text operators (JVM-side, zero Python UDFs).

These cover the reference's ETL/analysis surface (SURVEY.md §2.2 P1-P8,
§2.5 A7-A9, §2.9 F2-F14) over a documents table, plus the
training-data-pipeline operators (quality scoring, language heuristic,
token counting, fingerprinting).  Everything here is a composition of
built-in pyspark.sql.functions so Catalyst pushes filters/pruning into the
scan and whole-stage codegen covers the hot path; the DuckDB oracle for
each is plain ANSI SQL over the same parquet.

The tokenizer here is the *reduced SQL chain* (lower -> ASCII word regex ->
stoplist/minsize) — deliberately stem-free so a SQL oracle can reproduce
it exactly.  The engine's real Whoosh chain lives in functions/analyzer.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.analyzer import SQL_TOKEN_PATTERN, STOP_WORDS

STOP_LIST = sorted(STOP_WORDS)


def token_array(text_col) -> F.Column:
    """array<string> of SQL-chain tokens for a text column.  NULL text is
    treated as empty (Spark's size(NULL) = -1 would otherwise diverge
    from the SQL oracle's NULL)."""
    toks = F.regexp_extract_all(F.lower(F.coalesce(text_col, F.lit(""))), F.lit(SQL_TOKEN_PATTERN), 0)
    return F.filter(toks, lambda t: (F.length(t) >= 2) & ~t.isin(*STOP_LIST))


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than the
    session's parallelism (single-file / tiny tables — common in tests
    and benches, absent at scale where inputs arrive as many splits).
    Token-heavy projections and partial aggregations otherwise inherit
    the input's task count and serialize on one core; the one-off
    doc-stream repartition is far cheaper than that."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def sql_tokens(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exploded (id, term) rows — the SQL-chain analog of SURVEY T1-T3."""
    return spread_small_input(df).select(
        F.col(id_col), F.explode(token_array(F.col(text_col))).alias("term")
    )


def term_frequencies(df: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """(doc_id, term, tf) — SURVEY A1 as a Catalyst partial+final hash agg."""
    return (
        sql_tokens(df, text_col, id_col)
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_lengths(df: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    return df.select(
        F.col(id_col), F.size(token_array(F.col(text_col))).cast("long").alias("dl")
    )


def document_frequencies(df: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """(term, df) — SURVEY A2."""
    return (
        term_frequencies(df, text_col, id_col)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def text_quality(df: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """Quality metrics per doc: token count, char stats, stopword/punct
    ratios and a gated quality score (shape of the reference's heuristic
    scorer, src/ETL/heuristic_label.py:61-109)."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    all_toks = F.regexp_extract_all(F.lower(txt), F.lit(r"[a-z0-9_]+"), 0)
    stop_hits = F.size(F.filter(all_toks, lambda t: t.isin(*STOP_LIST)))
    n_tokens = F.size(all_toks)
    n_chars = F.length(txt)
    punct_chars = F.length(F.regexp_replace(txt, r"[a-zA-Z0-9_ ]", ""))
    return df.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars"),
        F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(punct_chars / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 6).alias("avg_token_len"),
    )


def heuristic_label(df: DataFrame) -> DataFrame:
    """Weighted-score labeler — the reference's condition-gated constant
    sum with a reasons string and threshold classify
    (src/ETL/heuristic_label.py:61-122), re-expressed as pure column
    expressions over the documents table."""
    wc = F.size(F.regexp_extract_all(F.lower(F.coalesce(F.col("text"), F.lit(""))), F.lit(r"[a-z0-9_]+"), 0))
    long_enough = F.when(F.col("n_chars") >= 300, 3).otherwise(-20)
    wordy = F.when(wc >= 50, 3).otherwise(0)
    is_en = F.when(F.col("lang") == "en", 3).otherwise(0)
    trusted = F.when(F.col("source").isin("src0", "src1", "src2"), 3).otherwise(0)
    score = (long_enough + wordy + is_en + trusted).alias("score")
    reasoning = F.concat_ws(
        "; ",
        F.when(F.col("n_chars") >= 300, F.lit("length ok")).otherwise(F.lit("too short")),
        F.when(wc >= 50, F.lit("wordy")),
        F.when(F.col("lang") == "en", F.lit("english")),
        F.when(F.col("source").isin("src0", "src1", "src2"), F.lit("trusted source")),
    )
    return df.select(
        "doc_id",
        score,
        F.when(long_enough + wordy + is_en + trusted >= 6, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
        reasoning.alias("reasoning"),
    )


def lang_id(df: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """Stopword-hit language heuristic (n-gram-free variant): docs whose
    English-stopword ratio clears a threshold are 'en', else 'und'."""
    q = text_quality(df, text_col, id_col)
    return q.select(
        F.col(id_col),
        F.when(F.col("stopword_ratio") > 0.02, F.lit("en")).otherwise(F.lit("und")).alias("pred_lang"),
    )


def fingerprint(df: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """Normalized-content fingerprint (F1 analog: the reference identifies
    docs by sha256, src/ETL/parse.py:21-23): md5 of lower+whitespace-
    collapsed+trimmed text."""
    norm = F.trim(F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "))
    return df.select(F.col(id_col), F.md5(norm).alias("fp"))


def group_stats(df: DataFrame) -> DataFrame:
    """Corpus stats by (lang, source) — SURVEY A7/A8."""
    return df.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def top_per_group(df: DataFrame, n: int = 3) -> DataFrame:
    """W1 window-rank: top-n docs by n_chars within each lang."""
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        df.select("lang", "doc_id", "n_chars", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= n)
    )
