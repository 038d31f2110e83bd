"""Incremental index maintenance — batch append + Structured Streaming.

The reference's only incremental machinery is skip-if-exists
(src/index/build_splade.py:35-37) and the crawler's stateful frontier
(src/ETL/website_crawler.py:22-56); a refresh means a full rebuild.  Here
new documents are appended as an *epoch*: their postings are encoded with
the then-current global stats into a fresh ``group=1000+e`` partition of
the same posting layout, docnums continue from the previous total, and
stats.json records each epoch's encode-time (n_docs, avgdl).

Exactness across epochs: a term's true df is the sum of its per-epoch dfs;
the query plan collects that (one tiny metadata aggregation over the
already-pruned scan) and the WAND kernel (a) scores with the true df and
current stats, and (b) rescales every stored block-max bound by
idf_true/idf_encode x max(1, avgdl_now/avgdl_encode) — both valid
upper-bound factors, so pruning stays safe and results equal a from-scratch
rebuild's scores exactly (same formula, same inputs).

``stream_refresh`` wires this into Structured Streaming via foreachBatch:
each micro-batch of documents becomes one epoch.
"""

from __future__ import annotations

import json
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

from ..config import DEFAULT, EngineConfig
from ..functions.analyzer import get_analyzer
from ..operators.build import (
    _encode_write,
    _stem_stage,
    _stored_config,
    _term_stats,
    build_index,
)
from ..operators.docnums import numbered, stage_corpus, write_docids
from ..operators.tokenize import resolve_impl, tokenize


def append_epoch(
    spark: SparkSession,
    index_dir: str,
    new_corpus: DataFrame,
    fields: dict[str, str] | None = None,
    cfg: EngineConfig = DEFAULT,
    meta_cols: tuple[str, ...] = (),
    batch_tag: str | None = None,
) -> dict:
    """Append new documents to an existing index as one epoch.

    ``batch_tag`` makes the append idempotent: if a tag was already
    applied (recorded in stats.json), the call is a no-op — required for
    Structured Streaming's at-least-once foreachBatch redelivery."""
    fields = fields or {"body": "content"}
    t0 = time.time()
    stats_path = f"{index_dir}/stats.json"
    with open(stats_path) as f:
        stats = json.load(f)
    if sorted(fields) != stats.get("fields", sorted(fields)):
        # a mismatched field set would silently index the epoch under a
        # different schema (e.g. the default {'body': 'content'} against
        # a title+body index leaves the new docs' titles unsearchable) —
        # exactly the divergence the layout_hash guards at build time
        raise ValueError(
            f"append_epoch fields {sorted(fields)} != index fields "
            f"{stats.get('fields')}; pass the fields the index was built with"
        )
    if batch_tag is not None and batch_tag in stats.get("applied_batches", []):
        return {"epoch": None, "skipped": True, "batch_tag": batch_tag}
    # the next free docnum, NOT n_docs: after an optimize the surviving
    # docnums stay sparse (max docnum can exceed the live count), so an
    # n_docs-based offset would hand new docs docnums that collide with
    # live ones — two doc_ids per docnum, merged postings, wrong results
    offset = int(stats.get("next_docnum", stats["n_docs"]))
    epoch = max(int(e) for e in stats["epochs"]) + 1

    staged, offsets, fp_new = stage_corpus(new_corpus, f"{index_dir}/_stage/epoch_corpus")
    n_new = fp_new["n_docs"]
    # epoch docnums continue from the previous corpus total
    offsets = {pid: off + offset for pid, off in offsets.items()}

    # per-epoch docids partition, overwritten on retry: a crash between
    # this write and the stats.json commit below + at-least-once foreachBatch
    # redelivery must not leave duplicate (docnum, doc_id) rows.  The
    # stats.json write at the end is the epoch's commit point.  Numbering
    # passes are pruned per consumer (see operators/docnums.numbered).
    write_docids(
        numbered(staged, offsets, ["doc_id", *meta_cols]), f"{index_dir}/docids", meta_cols, epoch=epoch
    )

    # physical layout + scoring params are frozen by the index, not the
    # caller's cfg: epoch rows must stay chunk-aligned and bound-compatible
    frozen = _stored_config(stats, cfg)
    stage_path = f"{index_dir}/_stage/epoch_tokens"
    impl = resolve_impl(cfg.tokenizer, n_new, str(spark.conf.get("spark.master", "")))
    tokenize(
        numbered(staged, offsets, sorted(set(fields.values()))),
        fields,
        impl,
        analyzer_name=frozen.analyzer,
        positions=frozen.index.store_positions,
    ).write.mode("overwrite").parquet(stage_path)

    # updated global stats (weighted avgdl over old + new), from one
    # aggregation pass over the epoch's tokens (a jvm stage of a stemming
    # preset is stemmed by the build's _stem_stage).  The exact per-field
    # token totals come from stats["dl_totals"] when present: deriving
    # old mass as avgdl*n would count the build's 1.0 empty-field
    # placeholder as real tokens and diverge from a clean rebuild (the
    # fallback for pre-dl_totals indexes keeps that old approximation).
    # n_total counts DOCUMENTS (live n_docs + new), not the docnum
    # offset, which can be sparse after an optimize.
    n_total = int(stats["n_docs"]) + n_new
    thr = cfg.index.hot_df_threshold or max(5000, n_total // 50)
    tokens, dfs, exact_df, held = _stem_stage(
        spark.read.parquet(stage_path),
        impl == "jvm" and get_analyzer(frozen.analyzer).do_stem,
        thr,
        n_new <= cfg.index.stem_broadcast_max_docs,
    )
    _, sums, _, hot_df = _term_stats(dfs, fields, n_new, thr, exact_df)
    dl_totals = dict(stats.get("dl_totals", {}))
    avgdl_new = {}
    for fname in set(stats["avgdl"]) | set(fields):
        if fname in dl_totals:
            old_total = dl_totals[fname]
        else:
            old_total = stats["avgdl"].get(fname, 0.0) * stats["n_docs"]
        total = old_total + sums.get(fname, 0.0)
        dl_totals[fname] = total
        avgdl_new[fname] = total / n_total if total > 0 else 1.0

    enc_stats = {"n_docs": n_total, "avgdl": avgdl_new, "fields": sorted(fields)}
    try:
        _encode_write(
            spark, tokens, frozen, enc_stats, hot_df,
            f"{index_dir}/postings/group={1000 + epoch}", epoch=epoch,
        )
    finally:
        for frame in held:
            frame.unpersist()

    # NOTE: vocab_size stays the base build's value (counting the union
    # of distinct terms would need a full dictionary scan per epoch);
    # optimize_index recomputes it fresh.  Documented staleness — the
    # value is informational (GET /config), never used for scoring.
    stats["n_docs"] = n_total
    stats["next_docnum"] = offset + n_new
    stats["dl_totals"] = dl_totals
    stats["avgdl"] = avgdl_new
    stats["epochs"][str(epoch)] = {"n_docs": n_total, "avgdl": avgdl_new}
    stats["fingerprint"] = {
        **stats["fingerprint"],
        "n_docs": n_total,
        "id_hash_xor": stats["fingerprint"]["id_hash_xor"] ^ fp_new["id_hash_xor"],
    }
    if batch_tag is not None:
        stats.setdefault("applied_batches", []).append(batch_tag)
    with open(stats_path, "w") as f:
        json.dump(stats, f, indent=1)
    shutil.rmtree(f"{index_dir}/_stage", ignore_errors=True)
    return {
        "epoch": epoch,
        "n_new": n_new,
        "n_total": n_total,
        "wall_s": round(time.time() - t0, 3),
    }


def stream_refresh(
    stream_df: DataFrame,
    index_dir: str,
    fields: dict[str, str] | None = None,
    cfg: EngineConfig = DEFAULT,
    checkpoint_dir: str | None = None,
    meta_cols: tuple[str, ...] = (),
    available_now: bool = False,
):
    """Structured Streaming sink: every micro-batch of documents becomes
    one index epoch.  Returns the StreamingQuery handle.

    Exactly-once requires a ``checkpoint_dir``: the idempotency tag is
    scoped to the checkpoint identity plus Spark's batch_id, which the
    checkpoint keeps stable across restarts (a restart re-delivers only
    the in-flight batch, and its tag matches so the replay no-ops).
    Without a checkpoint, batch ids restart at 0 on every run — a tag
    scoped only to batch_id would then silently DROP new data whose id
    collides with an old batch — so each run gets a fresh random run
    token instead: at-least-once per run, and a restart reprocesses the
    whole source as new epochs (documented; pass a checkpoint_dir for
    real deployments).

    COLD START: if ``index_dir`` has no stats.json yet, the first
    non-empty micro-batch bootstraps it via ``build_index`` (a stream can
    create the index it feeds, not just refresh a pre-built one).  The
    bootstrap is made idempotent against at-least-once redelivery by an
    explicit SENTINEL: ``_stream_bootstrap.json`` (carrying the batch
    tag) is written before the build and removed after the tag is
    committed into stats.json, so a redelivery that finds the sentinel
    with its own tag next to a completed stats.json knows the build
    already happened and just commits the tag — while an index that was
    PRE-BUILT outside the stream never has a sentinel, so a first
    appended batch is never mistaken for a bootstrap (a content-blind
    fingerprint guard would silently swallow a re-crawl batch whose
    doc_id set equals the base index's).  Without a ``checkpoint_dir``
    the tag scope is per-run, so a crash in the bootstrap tag window
    re-appends on restart — the same documented at-least-once behavior
    as every other uncheckpointed batch."""
    import hashlib as _hl
    import os as _os

    if checkpoint_dir:
        scope = _hl.md5(checkpoint_dir.encode()).hexdigest()[:8]
    else:
        scope = _os.urandom(4).hex()

    sentinel_path = f"{index_dir}/_stream_bootstrap.json"

    def _commit_tag(stats_path: str, tag: str):
        with open(stats_path) as f:
            stats = json.load(f)
        if tag in stats.get("applied_batches", []):
            return  # crash between tag commit and sentinel removal: done
        stats.setdefault("applied_batches", []).append(tag)
        tmp = f"{stats_path}.tmp"
        with open(tmp, "w") as f:
            json.dump(stats, f, indent=1)
        _os.replace(tmp, stats_path)

    def handle(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        tag = f"stream:{scope}:{batch_id}"
        stats_path = f"{index_dir}/stats.json"
        if not _os.path.exists(stats_path):
            _os.makedirs(index_dir, exist_ok=True)
            with open(sentinel_path, "w") as f:
                json.dump({"tag": tag}, f)
            build_index(spark, batch_df, index_dir, fields, cfg, meta_cols)
            _commit_tag(stats_path, tag)
            _os.remove(sentinel_path)
            return
        if _os.path.exists(sentinel_path):
            with open(sentinel_path) as f:
                pending = json.load(f).get("tag")
            if pending == tag:
                # redelivered bootstrap batch: the build committed its
                # stats but the crash hit before the tag write — finish
                # the commit instead of appending a duplicate epoch
                _commit_tag(stats_path, tag)
                _os.remove(sentinel_path)
                return
            # stale sentinel from an uncheckpointed earlier run: this
            # batch is NOT that bootstrap; clear it and append normally
            _os.remove(sentinel_path)
        append_epoch(spark, index_dir, batch_df, fields, cfg, meta_cols, batch_tag=tag)

    w = stream_df.writeStream.foreachBatch(handle).outputMode("append")
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_dedup_exact(
    stream_df: DataFrame,
    key_cols: tuple[str, ...] = ("content_sha",),
    ts_col: str | None = None,
    watermark: str = "24 hours",
) -> DataFrame:
    """First-seen exact dedup on a STREAM — the streaming twin of the
    batch ``dedup.exact_dups`` family, feeding ``stream_refresh`` so an
    at-least-once source (crawler re-fetches, replayed queues) never
    appends the same document as two epochs.

    Spark-first: no custom state code — ``dropDuplicatesWithinWatermark``
    keys the state store by ``key_cols`` and EXPIRES entries once the
    event-time watermark passes them, which is the piece a naive
    ``dropDuplicates`` on a stream is missing (its state grows without
    bound for the lifetime of the query; at 100 TB/day of crawl that is
    the difference between a working dedup and an OOM).  ``ts_col``
    names the event-time column carrying the watermark; without one the
    caller accepts unbounded state (documented — fine for bounded
    replays, wrong for continuous crawls) and plain dropDuplicates runs.
    """
    keys = list(key_cols)
    if ts_col is not None:
        return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return stream_df.dropDuplicates(keys)
