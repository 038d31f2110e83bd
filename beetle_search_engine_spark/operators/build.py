"""Inverted-index build (SURVEY.md §7 steps 3-4, §4.2.1-2).

Pipeline (all DataFrame, one Python kernel):

  corpus ── stage_corpus ──> staged parquet + offsets (docnum basis)
  staged ── numbered(doc_id [+meta]) ──> docids dimension      [pruned pass]
  staged ── numbered(text cols) ── tokenize (Arrow UDF)
         ──> tokens (docnum, field, term, tf, dl)              [staged]
  tokens ── [jvm + stemming preset: _stem_stage, stem dim ⋈ stage read]
  tokens ── groupBy(field,term) df+tfsum ──> avgdl, vocab, hot set (broadcast)
  tokens ── +bucket +salt,
         [filter bucket % groups ∈ pending groups],
         repartition(xxhash64(bucket,salt))
         ── sortWithinPartitions(fid,term,docnum)
         ── mapInArrow(encode) ──> posting rows +group
         ──> ONE parquet write partitionBy(group,bucket) into _stage/encode
         ──> each group=g dir moved into postings/, then its manifest

Shared write path: a full build, ``optimize_index`` (whose decoded
postings ARE a token stage) and ``streaming.incremental.append_epoch``
write postings through one copy of each step — ``_term_stats`` (avgdl,
dl_totals, vocab, hot set), ``_encode_write`` (the encode plan under a
64k Arrow batch), ``_manifest_ok`` (group resume check) and
``_stored_config`` (layout + scoring read back from stats.json).

Stemming: the jvm tokenizer stages PRE-STEM tokens (one regex pass);
every jvm build and append of a stemming preset, positions included,
stems the stage read in ONE place, ``_stem_stage`` (vocabulary-sized stem
dimension, exact df recount for hot candidates).  The encode kernel
merges same-doc stem collisions (tf summed, positions interleaved) and
is mapInArrow end to end (no per-row Python objects).  Docnums are a
pure JVM projection (_metadata.row_index).  See OPTIMIZATION_r07.md.

Physical layout: rows hold up to block_size*blocks_per_row postings each,
chunk-aligned (a row never spans a chunk_docs docnum boundary), binary
columns gap+varint encoded.  The ROW is the block-max unit: each carries a
float32 upper-bound BM25F score (rounded up) that the WAND kernel prunes
on — skip granularity = row size.  Doc lengths are embedded per posting,
so querying never touches a doclen table (no per-query doclen shuffle at
any scale).

Skew: Zipf-head terms (df > hot threshold) are salted across
``hot_salts`` encode partitions keyed by chunk id, so no reducer ever
owns a whole hot posting list; salted runs stay chunk-aligned and
merge by concatenation at query time.  Their exact df is injected from a
small broadcast map (collected from the df aggregation).

Resume: the bucket space is split into ``bucket_groups`` groups
(bucket % groups); each group is one ``postings/group=g`` dir + one
manifest JSON (input fingerprint, counts, timings, skew ratio).  Groups
are the resume unit, not one job each: all groups pending in a build are
encoded and written by a single pass, and a manifest is written only
after its group's data is in place.  A rerun with the same corpus
fingerprint skips completed groups and encodes the rest, again in one
pass (reference analog: skip-if-exists at src/index/build_splade.py:35-37
and DVC dep hashing in dvc.yaml).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, BM25Params, EngineConfig, IndexConfig
from ..functions.analyzer import _cached_stem, get_analyzer
from .codecs import decode_positions
from .docnums import numbered, stage_corpus, write_docids
from .tokenize import TOKENS_SCHEMA, TOKENS_SCHEMA_POS, resolve_impl, tokenize

INDEX_LAYOUT_VERSION = 4  # bump when POSTINGS_SCHEMA / stats layout changes

POSTINGS_SCHEMA = (
    "bucket int, field string, term string, df long, chunk long, "
    "doc_lo long, doc_hi long, n int, max_score float, "
    "docs binary, tfs binary, dls binary, pos binary, row_bytes long, "
    "epoch int, epoch_n long"
)


def _make_encode_kernel(
    cfg: EngineConfig, stats: dict, hot_df: dict, epoch: int = 0,
    field_names: list[str] | None = None,
):
    """Streaming per-partition encoder, vectorized across terms —
    ``mapInArrow`` form (round 7, guide §4.2).

    Input is sorted by (fid, term, docnum) where ``fid`` is the tinyint
    index into ``field_names`` (sorted) — field STRINGS never ride the
    encode shuffle; the kernel maps ids back to names on output.  Each
    Arrow batch is encoded in whole-array numpy passes: span detection,
    df assignment, BM25 scoring, row-bound reduction and varint encoding
    all happen once per batch, not once per term.  Only the partition's
    final (fid, term) run is carried to the next batch (it may continue
    there).

    Why Arrow instead of mapInPandas: the pandas form objectified every
    term string on input (8.8M Python strs per 150k-doc build) and every
    posting blob on output (one Python ``bytes`` per row via per-row
    buffer slicing, then pandas object columns).  Here term columns stay
    Arrow arrays end-to-end (comparisons via pyarrow.compute, output via
    ``take``), and the binary posting columns are built directly from
    the codec's contiguous (buffer, offsets) pair —
    ``pa.Array.from_buffers`` — zero per-row Python objects in either
    direction."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codecs import (
        encode_docgap_concat,
        encode_positions_concat,
        varint_encode_concat,
    )
    block = cfg.index.block_size
    row_cap = block * cfg.index.blocks_per_row
    chunk_docs = cfg.index.chunk_docs
    k1, b = cfg.bm25.k1, cfg.bm25.b
    boosts = dict(cfg.bm25.field_boosts)
    n_docs = stats["n_docs"]
    avgdl = stats["avgdl"]
    store_pos = cfg.index.store_positions
    field_names = field_names or sorted(stats["fields"])
    boost_by_fid = np.array([boosts.get(n, 1.0) for n in field_names], dtype=np.float64)
    avgdl_by_fid = np.array([avgdl.get(n, 1.0) for n in field_names], dtype=np.float64)
    hot_by_fid = {
        (field_names.index(f), t): v for (f, t), v in hot_df.items() if f in field_names
    }

    out_schema = pa.schema(
        [
            ("bucket", pa.int32()), ("field", pa.string()), ("term", pa.string()),
            ("df", pa.int64()), ("chunk", pa.int64()), ("doc_lo", pa.int64()),
            ("doc_hi", pa.int64()), ("n", pa.int32()), ("max_score", pa.float32()),
            ("docs", pa.binary()), ("tfs", pa.binary()), ("dls", pa.binary()),
            ("pos", pa.binary()), ("row_bytes", pa.int64()),
            ("epoch", pa.int32()), ("epoch_n", pa.int64()),
        ]
    )
    field_dict = pa.array(list(field_names), type=pa.string())

    def _term_neq(terms, n):
        """Elementwise terms[1:] != terms[:-1] without objectifying —
        pyarrow.compute over zero-copy slices."""
        if n <= 1:
            return np.empty(0, dtype=bool)
        return pc.not_equal(terms.slice(1), terms.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )

    def encode_region(fids, terms, buckets, docs, tfs, dls, posflat=None):
        """Encode complete runs -> one Arrow RecordBatch.  ``terms`` is a
        pyarrow StringArray; everything else numpy."""
        n = docs.size
        if n == 0:
            return None
        tneq = _term_neq(terms, n)
        # stem merge: two source tokens of one doc stemming to the same
        # term arrive as adjacent duplicate (fid, term, docnum) rows after
        # the encode sort — merge them (sum tf, union positions) BEFORE
        # span detection (df = run length) and gap encoding (strictly
        # increasing docnums per row).  A merged posting's positions are
        # already contiguous in posflat; one lexsort keyed by posting
        # orders them.  No-op for a pre-stemmed (python chain) stage.
        dup = np.zeros(n, dtype=bool)
        dup[1:] = (fids[1:] == fids[:-1]) & (docs[1:] == docs[:-1]) & ~tneq
        if dup.any():
            if posflat is not None:
                posting = np.repeat(np.cumsum(~dup), tfs)
                posflat = posflat[np.lexsort((posflat, posting))]
            keep = np.flatnonzero(~dup)
            tfs = np.add.reduceat(tfs, keep)
            fids, buckets = fids[keep], buckets[keep]
            docs, dls = docs[keep], dls[keep]
            terms = terms.take(pa.array(keep))
            n = docs.size
            tneq = _term_neq(terms, n)
        key_change = np.empty(n, dtype=bool)
        key_change[0] = True
        key_change[1:] = (fids[1:] != fids[:-1]) | tneq
        span_starts = np.flatnonzero(key_change)
        span_ends = np.append(span_starts[1:], n)
        span_len = span_ends - span_starts

        # df per span: run length, except salted hot terms (exact df from
        # the broadcast map).  Only span-START terms are materialized to
        # Python, and only when a hot set exists (vocab-bounded).
        span_df = span_len.astype(np.int64)
        if hot_by_fid:
            span_terms = terms.take(pa.array(span_starts)).to_pylist()
            for i, (s, t) in enumerate(zip(span_starts, span_terms)):
                d = hot_by_fid.get((int(fids[s]), t))
                if d is not None:
                    span_df[i] = d

        # vectorized BM25 contributions for every posting at once
        df_pp = np.repeat(span_df, span_len).astype(np.float64)
        boost_pp = np.repeat(boost_by_fid[fids[span_starts]], span_len)
        avgdl_pp = np.repeat(avgdl_by_fid[fids[span_starts]], span_len)
        idf = np.log(n_docs / (df_pp + 1.0)) + 1.0
        w = tfs.astype(np.float64) * boost_pp
        scores = idf * (w * (k1 + 1.0)) / (w + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl_pp))

        # row starts: key change | chunk change, then row_cap splits
        chunks = docs // chunk_docs
        brk = key_change.copy()
        brk[1:] |= chunks[1:] != chunks[:-1]
        base = np.flatnonzero(brk)
        base_ends = np.append(base[1:], n)
        long_spans = np.flatnonzero(base_ends - base > row_cap)
        if long_spans.size:
            extra = np.concatenate(
                [np.arange(base[i] + row_cap, base_ends[i], row_cap) for i in long_spans]
            )
            row_starts = np.sort(np.concatenate([base, extra]))
        else:
            row_starts = base
        row_ends = np.append(row_starts[1:], n)
        row_n = row_ends - row_starts
        row_span = np.searchsorted(span_starts, row_starts, side="right") - 1

        # the row IS the block-max unit: per-row score upper bound,
        # float32 rounded UP so it stays a valid bound
        row_max = np.nextafter(
            np.maximum.reduceat(scores, row_starts).astype(np.float32), np.float32(np.inf)
        )

        nrows = row_starts.size
        docs_buf, docs_off = encode_docgap_concat(docs, row_starts)
        tfs_buf, tfs_off = varint_encode_concat(tfs.astype(np.uint64), row_starts)
        dls_buf, dls_off = varint_encode_concat(dls.astype(np.uint64), row_starts)
        if store_pos and posflat is not None:
            counts = tfs.astype(np.int64)  # tf == positions per posting
            posting_starts = np.zeros(n, dtype=np.int64)
            if n > 1:
                np.cumsum(counts[:-1], out=posting_starts[1:])
            pos_buf, pos_off = encode_positions_concat(posflat, posting_starts, row_starts)
        else:
            pos_buf = np.empty(0, dtype=np.uint8)
            pos_off = np.zeros(nrows + 1, dtype=np.int64)

        def _bin(buf, off):
            # the codec's (contiguous buffer, offsets) IS the Arrow
            # binary layout — no per-row bytes objects ever exist
            off32 = np.ascontiguousarray(off, dtype=np.int32)
            return pa.Array.from_buffers(
                pa.binary(), nrows,
                [None, pa.py_buffer(off32), pa.py_buffer(np.ascontiguousarray(buf))],
            )

        row_bytes = (
            (docs_off[1:] - docs_off[:-1])
            + (tfs_off[1:] - tfs_off[:-1])
            + (dls_off[1:] - dls_off[:-1])
            + (pos_off[1:] - pos_off[:-1])
        )
        rs_idx = pa.array(row_starts)
        arrays = [
            pa.array(buckets[row_starts].astype(np.int32), type=pa.int32()),
            field_dict.take(pa.array(fids[row_starts].astype(np.int64))),
            terms.take(rs_idx),
            pa.array(span_df[row_span], type=pa.int64()),
            pa.array(chunks[row_starts], type=pa.int64()),
            pa.array(docs[row_starts], type=pa.int64()),
            pa.array(docs[row_ends - 1], type=pa.int64()),
            pa.array(row_n.astype(np.int32), type=pa.int32()),
            pa.array(row_max, type=pa.float32()),
            _bin(docs_buf, docs_off),
            _bin(tfs_buf, tfs_off),
            _bin(dls_buf, dls_off),
            _bin(pos_buf, pos_off),
            pa.array(row_bytes.astype(np.int64), type=pa.int64()),
            # epoch lineage: which incremental refresh wrote this row, and
            # the corpus size its encode-time idf/bounds assumed — queries
            # over multi-epoch indexes rescale bounds with these
            pa.array(np.full(nrows, epoch, dtype=np.int32), type=pa.int32()),
            pa.array(np.full(nrows, n_docs, dtype=np.int64), type=pa.int64()),
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    def kernel(batches):
        # carry = (fids, terms(pa), buckets, docs, tfs, dls, posflat)
        carry = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            fids = rb.column("fid").to_numpy(zero_copy_only=False)
            terms = rb.column("term")
            buckets = rb.column("bucket").to_numpy(zero_copy_only=False)
            docs = rb.column("docnum").to_numpy(zero_copy_only=False)
            tfs = rb.column("tf").to_numpy(zero_copy_only=False)
            dls = rb.column("dl").to_numpy(zero_copy_only=False)
            if store_pos:
                plist = rb.column("pos")
                posflat = plist.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            else:
                posflat = None
            if carry is not None:
                fids = np.concatenate([carry[0], fids])
                terms = pa.concat_arrays(
                    [carry[1], terms.combine_chunks() if hasattr(terms, "combine_chunks") else terms]
                )
                buckets = np.concatenate([carry[2], buckets])
                docs = np.concatenate([carry[3], docs])
                tfs = np.concatenate([carry[4], tfs])
                dls = np.concatenate([carry[5], dls])
                if store_pos:
                    posflat = np.concatenate([carry[6], posflat])
            n = docs.size
            # hold back the trailing (fid, term) run — it may continue
            kc = np.flatnonzero((fids[1:] != fids[:-1]) | _term_neq(terms, n))
            last_start = int(kc[-1]) + 1 if kc.size else 0
            if store_pos:
                poscut = int(tfs[:last_start].sum())
                carry_pos, region_pos = posflat[poscut:], posflat[:poscut]
            else:
                carry_pos, region_pos = None, None
            carry = (
                fids[last_start:],
                pa.concat_arrays([terms.slice(last_start)]),  # compact copy
                buckets[last_start:], docs[last_start:],
                tfs[last_start:], dls[last_start:], carry_pos,
            )
            out = encode_region(
                fids[:last_start], terms.slice(0, last_start),
                buckets[:last_start], docs[:last_start],
                tfs[:last_start], dls[:last_start], region_pos,
            )
            if out is not None:
                yield out
        if carry is not None and carry[0].size:
            out = encode_region(*carry[:6], carry[6])
            if out is not None:
                yield out

    return kernel


def _encode_input(spark: SparkSession, tokens: DataFrame, cfg: EngineConfig, hot_df: dict, field_names: list[str]):
    """Shuffle-side preparation shared by full builds and epoch appends.

    The exchange feeding the encode kernel is the heaviest data movement
    of the build, so rows are slimmed before the repartition: field
    strings become tinyint ids (the kernel maps them back on output),
    tf/dl drop to int32, and the salted partition key is an INLINE
    expression rather than a named column (a named key column rides
    every shuffled row; an inline one is consumed by the partitioner).
    Returns (prepared DataFrame, partition-key Column, encode columns)."""
    fid = None
    for i, name in enumerate(field_names):
        cond = F.col("field") == name
        fid = F.when(cond, i) if fid is None else fid.when(cond, i)
    cols = [
        fid.cast("tinyint").alias("fid"),
        F.col("term"),
        F.col("docnum"),
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"),
    ]
    if cfg.index.store_positions:
        cols.append(F.col("pos"))
    base = tokens.select(*cols).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(cfg.index.n_buckets)).cast("int")
    )
    if hot_df:
        hot_rows = [(field_names.index(f), t) for f, t in hot_df if f in field_names]
        hot_dim = F.broadcast(
            spark.createDataFrame(hot_rows, "fid tinyint, term string").withColumn("_hot", F.lit(1))
        )
        base = base.join(hot_dim, ["fid", "term"], "left")
        salt = F.when(
            F.col("_hot") == 1,
            F.pmod(
                (F.col("docnum") / F.lit(cfg.index.chunk_docs)).cast("long"),
                F.lit(cfg.index.hot_salts),
            ),
        ).otherwise(F.lit(0))
    else:
        salt = F.lit(0)
    part_key = F.xxhash64("bucket", salt.cast("long"))
    enc_cols = ["bucket", "fid", "term", "docnum", "tf", "dl"]
    if cfg.index.store_positions:
        enc_cols.append("pos")
    return base, part_key, enc_cols


def _term_frame(tokens: DataFrame) -> DataFrame:
    """Per-(field, term) df and tf sum: the one aggregation every index
    statistic derives from."""
    return tokens.groupBy("field", "term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tfsum")
    )


def _term_stats(
    dfs: DataFrame, fields, n_docs: int, thr: int, exact_df: dict | None = None
) -> tuple[dict, dict, int, dict]:
    """(avgdl, dl_totals, vocab_size, hot_df) from a (field, term, df,
    tfsum) frame over ``n_docs`` documents, in one collect.  ``hot_df``
    holds the terms with df > ``thr``, after ``exact_df`` (late
    stemming's exact recount) overrides the frame's df for its keys."""
    # one pass gives avgdl, vocab size (per-field term counts) AND the
    # hot candidates, so the frame is aggregated once, never cached
    rows = dfs.groupBy("field").agg(
        F.sum("tfsum").alias("s"),
        F.count(F.lit(1)).alias("v"),
        F.collect_list(F.when(F.col("df") > thr, F.struct("term", "df"))).alias("hot"),
    ).collect()
    avgdl = {r["field"]: float(r["s"]) / n_docs for r in rows}
    # exact per-field token totals ride along so epoch appends can
    # merge avgdl without mistaking the 1.0 empty-field placeholder
    # below for real mass
    dl_totals = {r["field"]: float(r["s"]) for r in rows}
    for fname in fields:
        avgdl.setdefault(fname, 1.0)
        dl_totals.setdefault(fname, 0.0)
    vocab_size = sum(int(r["v"]) for r in rows)
    exact_df = exact_df or {}
    hot_df = {}
    for r in rows:
        for h in r["hot"]:
            key = (r["field"], h["term"])
            d = exact_df.get(key, int(h["df"]))
            if d > thr:
                hot_df[key] = d
    return avgdl, dl_totals, vocab_size, hot_df


def _stem_stage(
    raw: DataFrame, stem: bool, thr: int, broadcast: bool
) -> tuple[DataFrame, DataFrame, dict, list[DataFrame]]:
    """The one stemming point of a jvm-tokenized stage: (tokens, dfs,
    exact_df, held) from the staged token rows ``raw``.

    ``dfs`` is the (field, term, df, tfsum) frame ``_term_stats`` reads.
    Without ``stem`` the stage is final: tokens = ``raw``.  With it,
    ``raw`` holds PRE-STEM rows (``tokenize_jvm`` never stems), so Python
    stems the vocabulary-sized term dimension of the aggregated frame,
    not the token stream, and the mapping is attached to the stage read
    (broadcast, or a shuffle join when ``broadcast`` is False — a
    web-scale identifier vocabulary will not broadcast); ``pos`` rides
    along.  A doc holding two source tokens with one stem then has
    duplicate (field, term, docnum) rows, which the encode kernel merges
    after its sort.  Staging once and stemming the stage read runs the
    regex+explode subtree once; a stem join inside the tokenizer would
    run it twice (no exchange boundary for ReuseExchange, see
    OPTIMIZATION_r07.md).

    Summed row counts overcount df exactly when one doc holds >= 2
    source tokens sharing a stem.  Only the hot set needs df exactly (it
    is injected into the encode kernel for salted terms; every other df
    is the kernel's post-merge run length), and overcounts are one-sided,
    so candidates = row-count df > ``thr`` with several source tokens are
    a superset of the true hot set: ``exact_df`` recounts just those from
    a distinct over their rows.  ``held`` lists the persisted frames the
    caller unpersists once the encode has run."""
    dfs = _term_frame(raw)
    if not stem:
        return raw, dfs, {}, []

    def _stem_batch(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"term": pdf["term"], "_stem": [_cached_stem(t) for t in pdf["term"]]}
            )

    dfs_u = dfs.persist(StorageLevel.MEMORY_ONLY)
    stems_dim = (
        dfs_u.select("term").distinct()
        .mapInPandas(_stem_batch, "term string, _stem string")
        .persist(StorageLevel.MEMORY_ONLY)
    )
    tokens = raw.join(F.broadcast(stems_dim) if broadcast else stems_dim, "term").select(
        "docnum", "field", F.col("_stem").alias("term"), "tf", "dl",
        *(["pos"] if "pos" in raw.columns else []),
    )
    dfs = (
        dfs_u.join(F.broadcast(stems_dim), "term")
        .groupBy("field", F.col("_stem").alias("term"))
        .agg(
            F.sum("df").alias("df"),
            F.sum("tfsum").alias("tfsum"),
            F.count(F.lit(1)).alias("_nsrc"),
        )
    ).persist(StorageLevel.MEMORY_ONLY)
    cand = sorted({
        r["term"]
        for r in dfs.filter((F.col("df") > thr) & (F.col("_nsrc") > 1)).select("term").collect()
    })
    exact_df = {}
    if cand:
        src = F.broadcast(stems_dim.filter(F.col("_stem").isin(cand)))
        exact_df = {
            (r["field"], r["term"]): int(r["df"])
            for r in raw.join(src, "term")
            .select("field", F.col("_stem").alias("term"), "docnum")
            .distinct()
            .groupBy("field", "term").agg(F.count(F.lit(1)).alias("df"))
            .collect()
        }
    return tokens, dfs, exact_df, [dfs, stems_dim, dfs_u]


def _encode_write(
    spark: SparkSession, tokens: DataFrame, cfg: EngineConfig, stats: dict, hot_df: dict,
    path: str, epoch: int = 0, pending: list[int] | None = None,
):
    """The encode plan: token rows -> salted bucket shuffle -> sort ->
    mapInArrow kernel -> parquet at ``path``, partitioned by bucket (an
    epoch group) or, given the ``pending`` bucket groups, by (group,
    bucket) over those groups' buckets only."""
    field_names = sorted(stats["fields"])
    kernel = _make_encode_kernel(cfg, stats, hot_df, epoch=epoch, field_names=field_names)
    base, part_key, enc_cols = _encode_input(spark, tokens, cfg, hot_df, field_names)
    group_of = F.pmod(F.col("bucket"), F.lit(cfg.index.bucket_groups))
    if pending is not None and len(pending) < cfg.index.bucket_groups:
        base = base.filter(group_of.isin(pending))
    p_enc = cfg.index.encode_partitions or spark.sparkContext.defaultParallelism
    enc = (
        base.repartition(p_enc, part_key)
        .sortWithinPartitions("fid", "term", "docnum")
        .select(*enc_cols)
        .mapInArrow(kernel, schema=POSTINGS_SCHEMA)
    )
    partition_by = ["bucket"]
    if pending is not None:
        enc, partition_by = enc.withColumn("group", group_of), ["group", "bucket"]
    # token rows are narrow (~40 B); 64k-row Arrow batches cut the
    # per-batch Python/carry overhead of the encode kernel ~6x vs the
    # session default 10k (which is sized for wide document rows).
    # Scoped to this action only — doc-level UDF batches stay small.
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old_batch = spark.conf.get(batch_key)
    spark.conf.set(batch_key, "65536")
    try:
        enc.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set(batch_key, old_batch)


def _manifest_ok(root: str, g: int, fp, cfg_hash: str) -> dict | None:
    """Group ``g``'s manifest under ``root`` if it matches this corpus
    fingerprint, layout version and config hash, else None."""
    path = f"{root}/_manifest/group_{g}.json"
    if not os.path.exists(path):
        return None
    with open(path) as f:
        man = json.load(f)
    if (
        man.get("fingerprint") == fp
        and man.get("layout_version") == INDEX_LAYOUT_VERSION
        and man.get("layout_hash") == cfg_hash
    ):
        return man
    return None


# IndexConfig fields that fix an index's physical layout (stats.json
# stores each; appends and merges must encode with the stored values)
LAYOUT_FIELDS = ("n_buckets", "chunk_docs", "block_size", "blocks_per_row", "store_positions")


def _stored_layout(stats: dict, index: IndexConfig) -> dict:
    """The stored LAYOUT_FIELDS values (``index``'s for any missing)."""
    return {k: stats.get(k, getattr(index, k)) for k in LAYOUT_FIELDS}


def _stored_config(stats: dict, cfg: EngineConfig = DEFAULT, **index_kw) -> EngineConfig:
    """``cfg`` with the scoring, analysis and layout stats.json froze
    (plus IndexConfig overrides ``index_kw``)."""
    return replace(
        cfg,
        bm25=BM25Params(k1=stats["k1"], b=stats["b"], field_boosts=dict(stats["field_boosts"])),
        index=replace(cfg.index, **_stored_layout(stats, cfg.index), **index_kw),
        tokenizer=stats.get("tokenizer", "auto"),
        analyzer=stats.get("analyzer", "whoosh"),
    )


def _group_metrics_agg(spark: SparkSession, out_path: str) -> dict:
    """Per-group build metrics (postings/rows/bytes + per-bucket storage
    skew) over 3 tiny int columns of the just-written group, read on the
    driver with pyarrow: a freshly-written group is hundreds of
    one-per-bucket files, and a Spark scan pays per-file footer/task
    overhead that can exceed the encode it measures at low core counts.
    A group whose bucket range got no postings (tiny corpora / many
    groups) holds no parquet file, and zero metrics are the truth."""
    import pyarrow.dataset as ds

    if not any(fn.endswith(".parquet") for _r, _d, fns in os.walk(out_path) for fn in fns):
        return {"postings": 0, "rows": 0, "bytes": 0, "max_bucket": 0, "avg_bucket": 1.0}
    t = ds.dataset(out_path, format="parquet", partitioning="hive").to_table(
        columns=["bucket", "n", "row_bytes"]
    )
    pdf = t.to_pandas()
    per_bucket = pdf.groupby("bucket")["n"].sum()
    return {
        "postings": int(pdf["n"].sum()),
        "rows": int(len(pdf)),
        "bytes": int(pdf["row_bytes"].sum()),
        "max_bucket": int(per_bucket.max()) if len(per_bucket) else 0,
        "avg_bucket": float(per_bucket.mean()) if len(per_bucket) else 1.0,
    }


def _build_metrics(t0: float, n_docs: int, groups: list[dict], vocab_size: int, n_hot_terms: int) -> dict:
    wall = time.time() - t0
    built = [m for m in groups if not m.get("skipped")]
    return {
        "wall_s": round(wall, 3),
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / max(wall, 1e-9), 1),
        "postings": sum(m["postings"] for m in groups),
        "compressed_bytes": sum(m["compressed_bytes"] for m in groups),
        "vocab_size": vocab_size,
        "n_hot_terms": n_hot_terms,
        "groups_built": len(built),
        "groups_skipped": len(groups) - len(built),
        "groups": groups,
    }


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    fields: dict[str, str] | None = None,
    cfg: EngineConfig = DEFAULT,
    meta_cols: tuple[str, ...] = (),
    resume: bool = True,
    stage_partitions: int | None = None,
    prestaged: str | None = None,
) -> dict:
    """Build (or resume) the index at ``index_dir``.  Returns build metrics.

    ``stage_partitions`` pins the corpus-staging partition count (default:
    2x the session's parallelism) — pass a fixed value to keep the job
    layout identical across cluster sizes (scaling benches).

    ``prestaged``: path of the parquet directory ``corpus`` was read from.
    When given, staging is zero-copy (stage_corpus_prestaged: the input
    files ARE the stage; no rewrite pass) with automatic fallback to the
    rewrite path if the layout is unsuitable (splittable files,
    hive partitions, unreadable footers)."""
    fields = fields or {"body": "content"}
    os.makedirs(f"{index_dir}/_manifest", exist_ok=True)
    t0 = time.time()

    # stage only what the build consumes (doc_id + field sources + meta):
    # the corpus may carry wide provenance columns (content_sha, commit,
    # ...) that would otherwise ride the staging write AND the staged
    # read twice — at corpus scale that's whole extra passes of I/O
    needed = list(dict.fromkeys(["doc_id", *sorted(set(fields.values())), *meta_cols]))
    staged = None
    if prestaged is not None:
        from .docnums import stage_corpus_prestaged

        try:
            staged, offsets, fp = stage_corpus_prestaged(spark, prestaged, columns=needed)
        except ValueError:
            staged = None  # unsuitable layout -> rewrite path below
    if staged is None:
        staged, offsets, fp = stage_corpus(
            corpus.select(*needed), f"{index_dir}/_stage/corpus", partitions=stage_partitions
        )
    n_docs = fp["n_docs"]
    # hash of layout + scoring + fields + analyzer: a config change is a
    # rebuild even when the corpus fingerprint matches (a group bucketed
    # under an old n_buckets would otherwise serve queries pruning with
    # the new one)
    cfg_hash = cfg.layout_hash(fields)
    groups = cfg.index.bucket_groups

    stats_path = f"{index_dir}/stats.json"
    prior = None
    if resume and os.path.exists(stats_path):
        with open(stats_path) as f:
            prior = json.load(f)
        if (
            prior.get("fingerprint") != fp
            or prior.get("layout_version") != INDEX_LAYOUT_VERSION
            or prior.get("layout_hash") != cfg_hash
            # an epoch-appended index can fingerprint-equal a fresh
            # full-corpus build (the xor is order-independent), but its
            # docids and postings are numbered per-epoch — resuming over
            # it would re-encode groups under full-corpus docnums while
            # keeping the per-epoch docids dimension: silent mismatches.
            # Epoch-carrying stats always force the full rebuild path.
            or set(prior.get("epochs", {"0": None})) != {"0"}
        ):
            prior = None  # corpus, layout, config or epochs changed -> full rebuild

    # Remove stale posting groups: anything without a manifest matching
    # this corpus fingerprint (leftover epoch groups from an older corpus,
    # groups from a different bucket_groups config, aborted writes).
    # Without this, a rebuild leaves ghost postings that queries scan.
    post_root = f"{index_dir}/postings"
    if os.path.isdir(post_root):
        for d in os.listdir(post_root):
            m = re.fullmatch(r"group=(\d+)", d)
            if not m:
                continue
            g = int(m.group(1))
            ours = g < 1000 and g < groups
            if ours and _manifest_ok(index_dir, g, fp, cfg_hash):
                continue
            shutil.rmtree(f"{post_root}/{d}", ignore_errors=True)
            man_path = f"{index_dir}/_manifest/group_{g}.json"
            if not ours and os.path.exists(man_path):
                os.remove(man_path)  # stale epoch/foreign manifest too

    docids_fut = None
    if prior is None:
        # full rebuild: clear the WHOLE docids dir first — write_docids
        # overwrites only its epoch=0 partition, so stale epoch=N
        # partitions from a previous corpus (or pre-v4 flat files) would
        # otherwise survive and collide with the new docnum range
        shutil.rmtree(f"{index_dir}/docids", ignore_errors=True)
        # ... and any tombstones: a rebuild reassigns docnums, and it IS
        # the merge that makes deletions physical (Lucene optimize)
        shutil.rmtree(f"{index_dir}/tombstones", ignore_errors=True)
        # pruned pass: only (doc_id [+meta]) ride into the docids write
        # (docnum is a pure JVM projection since round 7).  Submitted on
        # a helper thread so its tasks BACKFILL the tokenize stage's
        # scheduling gaps (guide §2.6 — the two jobs read disjoint
        # columns of the staged corpus and write disjoint outputs;
        # Spark's FIFO scheduler lets the later job use idle slots).
        # Joined right after the tokenize write below — every later step
        # is free to assume docids exist.
        from concurrent.futures import ThreadPoolExecutor

        _docids_pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="write_docids")
        docids_fut = _docids_pool.submit(
            write_docids,
            numbered(staged, offsets, ["doc_id", *meta_cols]),
            f"{index_dir}/docids",
            meta_cols,
        )

    # No-op resume fast path: a fully-complete index (valid prior stats
    # + every group manifest matching this fingerprint/layout) needs no
    # tokenize pass and no df aggregation — the heaviest stages of the
    # build — so a clean re-run costs only the staging fingerprint scan.
    if prior is not None:
        complete = [_manifest_ok(index_dir, g, fp, cfg_hash) for g in range(groups)]
        if all(complete):
            shutil.rmtree(f"{index_dir}/_stage", ignore_errors=True)
            return _build_metrics(
                t0, n_docs, [{**m, "skipped": True} for m in complete],
                prior.get("vocab_size", 0), prior.get("n_hot_terms", 0),
            )

    # Stage tokens to parquet once (columnar, splittable) rather than
    # JVM-cache them: the in-memory columnar store serializes/compresses
    # under the block manager lock and measurably anti-scales at high
    # local concurrency, while a parquet round-trip scales linearly and
    # doubles as the resume point for multi-group builds.
    stage_path = f"{index_dir}/_stage/tokens"
    try:
        # pruned numbering pass: only the text source columns ride through
        # Arrow into the tokenizer (no doc_id strings, no meta)
        tok_input = numbered(staged, offsets, sorted(set(fields.values())))
        impl = resolve_impl(cfg.tokenizer, n_docs, str(spark.conf.get("spark.master", "")))
        tokenize(
            tok_input,
            fields,
            impl,
            analyzer_name=cfg.analyzer,
            positions=cfg.index.store_positions,
        ).write.mode("overwrite").parquet(stage_path)
        if docids_fut is not None:
            docids_fut.result()  # surfaces any docids-write failure here
    finally:
        if docids_fut is not None:
            # on a tokenize failure the docids write is cancelled if it
            # never started, else awaited: no helper thread or Spark job
            # outlives a failed build (the tokenize error is the one raised)
            _docids_pool.shutdown(wait=True, cancel_futures=True)
    # ---- one aggregation pass over the STAGED rows feeds every
    # statistic (avgdl, vocab, hot set); a jvm stage of a stemming preset
    # is stemmed here, vocabulary-side (see _stem_stage).  A partial
    # resume recomputes the same values the completed groups were
    # encoded with (same fingerprint, same config).
    thr = cfg.index.hot_df_threshold or max(5000, n_docs // 50)
    tokens, dfs, exact_df, held = _stem_stage(
        spark.read.parquet(stage_path),
        impl == "jvm" and get_analyzer(cfg.analyzer).do_stem,
        thr,
        n_docs <= cfg.index.stem_broadcast_max_docs,
    )
    avgdl, dl_totals, vocab_size, hot_df = _term_stats(dfs, fields, n_docs, thr, exact_df)

    stats = {
        "n_docs": n_docs,
        # the next free docnum for epoch appends: n_docs at build time,
        # PRESERVED by optimize (docnums stay sparse after a merge — an
        # append offsetting from the post-merge n_docs would collide)
        "next_docnum": n_docs,
        "dl_totals": dl_totals,
        "avgdl": avgdl,
        "fields": sorted(fields),
        "field_boosts": dict(cfg.bm25.field_boosts),
        "k1": cfg.bm25.k1,
        "b": cfg.bm25.b,
        "n_buckets": cfg.index.n_buckets,
        "chunk_docs": cfg.index.chunk_docs,
        "block_size": cfg.index.block_size,
        "blocks_per_row": cfg.index.blocks_per_row,
        "vocab_size": vocab_size,
        "n_hot_terms": len(hot_df),
        "hot_df_threshold": thr,
        "fingerprint": fp,
        "layout_version": INDEX_LAYOUT_VERSION,
        "layout_hash": cfg_hash,
        "analyzer": cfg.analyzer,
        "store_positions": cfg.index.store_positions,
        "tokenizer": cfg.tokenizer,
        # per-epoch encode-time stats (incremental refreshes append here;
        # queries rescale stored score bounds across epochs)
        "epochs": {"0": {"n_docs": n_docs, "avgdl": avgdl}},
    }

    # ---- salted, bucketed encode in resumable groups
    try:
        group_metrics = _encode_groups(
            spark, tokens, index_dir, cfg, stats, hot_df, fp, cfg_hash, resume
        )
    finally:
        for frame in held:
            frame.unpersist()

    shutil.rmtree(f"{index_dir}/_stage", ignore_errors=True)
    with open(stats_path, "w") as f:
        json.dump(stats, f, indent=1)

    metrics = _build_metrics(t0, n_docs, group_metrics, vocab_size, len(hot_df))
    with open(f"{index_dir}/_manifest/build.json", "w") as f:
        json.dump(metrics, f, indent=1)
    return metrics


def _encode_groups(
    spark: SparkSession,
    tokens: DataFrame,
    index_dir: str,
    cfg: EngineConfig,
    stats: dict,
    hot_df: dict,
    fp: str,
    cfg_hash: str,
    resume: bool,
    out_root: str | None = None,
) -> list[dict]:
    """The salted, bucketed, group-resumable encode shared by full builds
    and optimize_index: token rows -> posting parquet + group manifests.

    Groups (bucket % ``bucket_groups``) are the resume and manifest unit,
    not one job each.  A group whose manifest matches this fingerprint
    and layout is skipped; every PENDING group is encoded in ONE pass —
    one shuffle, sort, mapInArrow kernel and write, partitioned by
    (group, bucket) into ``{root}/_stage/encode``.  Each pending group's
    directory is then moved into ``postings/group=g`` (a group with no
    postings gets an empty dir) and only after that its manifest is
    written.  Bucket-major shuffle key: a reduce task owns whole buckets
    (salted hot terms excepted), so the write produces ~1 file per bucket
    instead of tasks x buckets small files.

    The pass runs ``encode_partitions`` (default: parallelism) tasks
    however many groups are pending: every Python encode task carries a
    fixed cost (~80 ms on 4 vCPU), so scaling the task count by the group
    count hands the saving of the single pass back.

    Trade-off: a crash INSIDE the encode job leaves no manifest for any
    pending group, so the rerun re-encodes all of them; a crash while
    groups are being moved leaves manifests only for the groups already
    in place, and the rerun's stale-group cleanup removes the rest.
    Groups stay the unit resume skips.  Each manifest's ``wall_s`` and
    ``postings_per_sec`` describe the shared pass (encode + write of all
    groups pending in it), not the group alone.

    ``out_root`` redirects postings + manifests to a staging root (the
    optimize_index path: encode beside the live index, swap after
    success); default writes into ``index_dir`` itself (full builds)."""
    root = out_root or index_dir
    groups = cfg.index.bucket_groups
    metrics: dict[int, dict] = {}
    for g in range(groups):
        man = _manifest_ok(root, g, fp, cfg_hash) if resume else None
        if man is not None:
            metrics[g] = {**man, "skipped": True}
    pending = [g for g in range(groups) if g not in metrics]
    if not pending:
        return [metrics[g] for g in range(groups)]

    tg = time.time()
    tmp = f"{root}/_stage/encode"
    _encode_write(spark, tokens, cfg, stats, hot_df, tmp, pending=pending)
    wall = time.time() - tg

    os.makedirs(f"{root}/postings", exist_ok=True)
    for g in pending:
        out_path = f"{root}/postings/group={g}"
        shutil.rmtree(out_path, ignore_errors=True)
        if os.path.isdir(f"{tmp}/group={g}"):
            os.replace(f"{tmp}/group={g}", out_path)
        else:
            os.makedirs(out_path)  # no postings hash into this group
        agg = _group_metrics_agg(spark, out_path)
        man = {
            "group": g,
            "fingerprint": fp,
            "layout_version": INDEX_LAYOUT_VERSION,
            "layout_hash": cfg_hash,
            "wall_s": round(wall, 3),
            "postings": int(agg["postings"] or 0),
            "rows": int(agg["rows"] or 0),
            "compressed_bytes": int(agg["bytes"] or 0),
            "postings_per_sec": round((agg["postings"] or 0) / max(wall, 1e-9), 1),
            "skew_ratio": round(float(agg["max_bucket"] or 0) / max(float(agg["avg_bucket"] or 1), 1e-9), 3),
            "skipped": False,
        }
        with open(f"{root}/_manifest/group_{g}.json", "w") as f:
            json.dump(man, f, indent=1)
        metrics[g] = man
    shutil.rmtree(tmp, ignore_errors=True)
    return [metrics[g] for g in range(groups)]


def _make_decode_kernel(deleted: np.ndarray, positions: bool):
    """mapInArrow kernel: posting rows (field, term, n, docs, tfs, dls
    [, pos]) -> the token-stage rows they were encoded from (docnum,
    field, term, tf, dl[, pos]), minus tombstoned docnums.  A batch's
    docs/tfs/dls decode in one ``decode_posting_columns`` call; each
    row's position blob decodes on its own."""
    import pyarrow as pa

    from .codecs import decode_posting_columns

    out_schema = pa.schema(
        [("docnum", pa.int64()), ("field", pa.string()), ("term", pa.string()),
         ("tf", pa.int32()), ("dl", pa.int32())]
        + ([("pos", pa.list_(pa.int32()))] if positions else [])
    )

    def kernel(batches):
        for batch in batches:
            n = np.asarray(batch["n"], dtype=np.int64)
            docs, tfs, dls = (
                c.values.to_numpy()
                for c in decode_posting_columns(batch["docs"], batch["tfs"], batch["dls"], n)
            )
            row = np.repeat(np.arange(batch.num_rows), n)
            keep = ~np.isin(docs, deleted) if deleted.size else np.ones(docs.size, dtype=bool)
            if not keep.any():
                continue
            cols = [
                docs[keep], batch["field"].take(row[keep]), batch["term"].take(row[keep]),
                tfs[keep], dls[keep],
            ]
            if positions:
                # every posting's positions, rows back to back
                flat = np.concatenate([np.empty(0, dtype=np.int64)] + [
                    decode_positions(blob, tf)[0]
                    for blob, tf in zip(batch["pos"].to_pylist(), np.split(tfs, np.cumsum(n)[:-1]))
                ])
                offsets = np.zeros(int(keep.sum()) + 1, dtype=np.int32)
                np.cumsum(tfs[keep], out=offsets[1:])
                cols.append(pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(flat[np.repeat(keep, tfs)].astype(np.int32))
                ))
            yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    return kernel


def config_from_stats(index_dir: str, stats: dict) -> EngineConfig:
    """Reconstruct the build config an index was written with from its
    stats.json (+ the on-disk group count).  Lets maintenance operators
    (optimize_index) run without the caller re-supplying the config."""
    man_dir = f"{index_dir}/_manifest"
    groups = 0
    if os.path.isdir(man_dir):
        for fn in os.listdir(man_dir):
            m = re.fullmatch(r"group_(\d+)\.json", fn)
            if m and int(m.group(1)) < 1000:  # >=1000 are epoch groups
                groups += 1
    return _stored_config(
        stats,
        hot_df_threshold=stats.get("hot_df_threshold"),
        bucket_groups=max(groups, 1),
    )


def optimize_index(spark: SparkSession, index_dir: str, cfg: EngineConfig | None = None) -> dict:
    """Physically merge the index: apply tombstones and collapse epochs —
    Lucene's forceMerge(1) + expungeDeletes (Whoosh: ``optimize()``).

    The decoded postings ARE the token stage: every posting row decodes
    back to the (docnum, field, term, tf, dl[, pos]) rows it was encoded
    from, so the merge re-runs the build's own stats + salted-encode path
    over them — no corpus re-read, no re-tokenize.  After the merge:

    * deleted docs are physically gone (postings AND docids); the
      tombstone directory is removed, so queries stop shipping the mask
    * N / df / avgdl / block-max bounds are recomputed FRESH over the
      surviving docs (this is the point where stale-stats deletion
      semantics catch up — scores now equal a from-scratch rebuild of
      the filtered corpus, which is exactly how the pytest oracle and
      the engine_optimize driver entry verify it)
    * all epochs collapse to epoch 0 (docnums are KEPT, the docnum space
      just becomes sparse — kernels never assumed density)

    One distributed decode pass + the standard encode shuffle; at scale
    this is the same cost profile as a Lucene segment merge: read +
    rewrite the posting storage once.

    Crash safety: the merged postings are encoded into ``_stage/opt``
    (with their own group manifests) and only swapped over the live
    ``postings/`` + ``docids/`` via directory renames AFTER the whole
    encode succeeds — a failure anywhere up to the swap leaves the
    original index byte-identical and serving.  A retried optimize
    resumes at group granularity: the rotated fingerprint is a pure
    function of (old fingerprint, survivor count, optimize count,
    tombstone count), so staged manifests from the crashed attempt
    short-circuit their groups while stale pre-merge manifests never
    can.  The only non-atomic window is the pair of renames (metadata
    ops, microseconds); a crash exactly there leaves NO postings dir —
    a loud open-time failure, never a silently half-merged index — with
    the full staged result still on disk for recovery.
    """
    t0 = time.time()
    stats_path = f"{index_dir}/stats.json"
    with open(stats_path) as f:
        stats = json.load(f)
    if cfg is None:
        cfg = config_from_stats(index_dir, stats)
    else:
        # a caller-supplied cfg must agree with the stored layout: the
        # merge would otherwise re-bucket postings under the new params
        # while stats.json keeps the old ones — queries then prune with
        # the stale n_buckets and silently miss postings.  Loud beats
        # silent: validate every layout-affecting field.
        mismatched = {
            k: (getattr(cfg.index, k), want)
            for k, want in _stored_layout(stats, cfg.index).items()
            if getattr(cfg.index, k) != want
        }
        if mismatched:
            raise ValueError(
                "optimize_index cfg disagrees with the index's stored layout "
                f"({mismatched}); pass cfg=None to derive it from stats.json"
            )
    store_pos = bool(stats.get("store_positions", False))

    tomb_dir = f"{index_dir}/tombstones"
    deleted = np.array([], dtype=np.int64)
    if os.path.isdir(tomb_dir):
        rows = spark.read.parquet(tomb_dir).select("docnum").distinct().collect()
        deleted = np.array(sorted(int(r["docnum"]) for r in rows), dtype=np.int64)

    # ---- 1. docids minus deleted, collapsed to one epoch (anti-join,
    # not an IN list: the tombstone set can be arbitrarily large).
    # Survivor count first: refusing an empty merge must happen BEFORE
    # any decode work, and an all-deleted index would otherwise stage an
    # empty (schema-less) parquet dir.
    docids = spark.read.parquet(f"{index_dir}/docids")
    kept = docids.select(*[c for c in docids.columns if c != "epoch"])
    if deleted.size:
        tomb = spark.read.parquet(tomb_dir).select("docnum").distinct()
        kept = kept.join(tomb, "docnum", "left_anti")
    docids_tmp = f"{index_dir}/_stage/docids_opt"
    kept.write.mode("overwrite").parquet(f"{docids_tmp}/epoch=0")
    n_docs = spark.read.parquet(docids_tmp).count()
    if n_docs == 0:
        raise ValueError("optimize_index would produce an empty index")

    # ---- 2. decode postings -> staged token rows (minus tombstones).
    # The stage write MATERIALIZES the decode before any old file is
    # removed — a crash mid-optimize leaves the original index intact.
    postings = spark.read.parquet(f"{index_dir}/postings")
    cols = ["field", "term", "n", "docs", "tfs", "dls"] + (["pos"] if store_pos else [])
    stage = f"{index_dir}/_stage/merge_tokens"
    (
        postings.select(*cols)
        .mapInArrow(
            _make_decode_kernel(deleted, store_pos),
            schema=TOKENS_SCHEMA_POS if store_pos else TOKENS_SCHEMA,
        )
        .write.mode("overwrite")
        .parquet(stage)
    )
    tokens = spark.read.parquet(stage)

    # ---- 3. fresh stats over the survivors (same helper as build)
    thr = cfg.index.hot_df_threshold or max(5000, n_docs // 50)
    avgdl, dl_totals, vocab_size, hot_df = _term_stats(
        _term_frame(tokens), stats["fields"], n_docs, thr
    )

    opt_n = int(stats.get("optimize_count", 0)) + 1
    # rotate the fingerprint structurally (it is the corpus-identity dict
    # stage_corpus produces): a merged index is a different artifact, so
    # old group manifests must never short-circuit a later build/resume
    old_fp = stats["fingerprint"]
    fp = dict(old_fp) if isinstance(old_fp, dict) else {"base": old_fp}
    fp.update(n_docs=n_docs, optimized=opt_n, purged=int(deleted.size))
    cfg_hash = stats["layout_hash"]  # layout unchanged by a merge
    new_stats = dict(stats)
    new_stats.update(
        n_docs=n_docs,
        # docnums are KEPT by the merge (the space just goes sparse), so
        # the next free docnum for appends is preserved, not reset to the
        # post-merge n_docs — resetting would hand out colliding docnums
        next_docnum=int(stats.get("next_docnum", stats["n_docs"])),
        dl_totals=dl_totals,
        avgdl=avgdl,
        vocab_size=vocab_size,
        n_hot_terms=len(hot_df),
        hot_df_threshold=thr,
        fingerprint=fp,
        optimize_count=opt_n,
        epochs={"0": {"n_docs": n_docs, "avgdl": avgdl}},
    )

    # ---- 4. staged encode, then swap.  The live index is not touched
    # until every group is encoded: a crash mid-encode leaves the
    # original postings/docids/stats intact (and the staged groups
    # resume on retry — fp is deterministic given the same tombstones).
    stage_root = f"{index_dir}/_stage/opt"
    os.makedirs(f"{stage_root}/_manifest", exist_ok=True)
    group_metrics = _encode_groups(
        spark, tokens, index_dir, cfg, new_stats, hot_df, fp, cfg_hash,
        resume=True, out_root=stage_root,
    )
    # swap: pure directory renames.  Ordering keeps every intermediate
    # crash state either loud (no postings dir, microsecond window) or
    # semantically correct (merged postings + still-stale stats ==
    # engine deletion semantics until the stats write lands).
    old_postings = f"{index_dir}/_stage/postings_old"
    shutil.rmtree(old_postings, ignore_errors=True)
    os.replace(f"{index_dir}/postings", old_postings)
    os.replace(f"{stage_root}/postings", f"{index_dir}/postings")
    old_docids = f"{index_dir}/_stage/docids_old"
    shutil.rmtree(old_docids, ignore_errors=True)
    os.replace(f"{index_dir}/docids", old_docids)
    os.replace(docids_tmp, f"{index_dir}/docids")
    man_dir = f"{index_dir}/_manifest"
    os.makedirs(man_dir, exist_ok=True)
    for fn in os.listdir(man_dir):
        if fn.startswith("group_"):
            os.remove(f"{man_dir}/{fn}")
    for fn in os.listdir(f"{stage_root}/_manifest"):
        os.replace(f"{stage_root}/_manifest/{fn}", f"{man_dir}/{fn}")
    with open(stats_path, "w") as f:
        json.dump(new_stats, f, indent=1)
    shutil.rmtree(tomb_dir, ignore_errors=True)
    shutil.rmtree(f"{index_dir}/_stage", ignore_errors=True)

    wall = time.time() - t0
    metrics = {
        "wall_s": round(wall, 3),
        "n_docs": n_docs,
        "deleted_purged": int(deleted.size),
        "postings": sum(m["postings"] for m in group_metrics),
        "compressed_bytes": sum(m["compressed_bytes"] for m in group_metrics),
        "optimize_count": opt_n,
        "groups": group_metrics,
    }
    with open(f"{man_dir}/optimize.json", "w") as f:
        json.dump(metrics, f, indent=1)
    return metrics
