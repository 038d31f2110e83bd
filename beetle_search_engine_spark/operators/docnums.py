"""Dense, deterministic docnum assignment — scale-safe (no global sort,
no single-partition window).

Postings compress best over dense sorted ints (codecs.py gap encoding), so
docs get int64 docnums 0..N-1.  Strategy: hash-repartition by doc_id, sort
within partitions, count per partition, cumulative offsets on the driver
(one tiny collect of `partitions` longs), then offset + intra-partition
row index via mapInPandas.  Deterministic because the hash partitioner and
the intra-partition sort key (unique doc_id) are both deterministic.

(Whoosh's analog is the segment-internal docnum, assigned in insertion
order by the writer the reference drives at src/index/build_bm25.py:36-41.)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _conf_bytes(spark, key: str, default: int) -> int:
    """Parse a Spark byte-size conf value.  Spark reports these either
    as plain digits + 'b' ('134217728b') or accepts human suffixes from
    the user ('512m', '1g') — stripping non-digits would read '512m' as
    512 BYTES and make the staging split-size enforcement fail on a
    legitimate session config, so the suffix multiplies."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    import re as _re

    m = _re.fullmatch(r"(\d+)\s*([kmgtp]?)b?", raw)
    if not m:
        return default
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    return int(m.group(1)) * mult[m.group(2)]


def _file_stats(spark, path: str) -> tuple[int, int, int]:
    """(largest, total, count) of files under ``path`` via the Hadoop FS
    API (works for any filesystem the cluster can read, not just local
    disk)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(p, True)
    mx = tot = cnt = 0
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().startswith("_"):
            continue  # _SUCCESS etc.
        n = f.getLen()
        mx = max(mx, n)
        tot += n
        cnt += 1
    return mx, tot, cnt


def _effective_max_split_bytes(spark, total_bytes: int, n_files: int) -> int:
    """Spark's real per-task split size: min(maxPartitionBytes,
    max(openCostInBytes, bytesPerCore)) — FilePartition.maxSplitBytes.
    Comparing staged files only against maxPartitionBytes is not enough:
    with a small total, bytesPerCore can drop to openCostInBytes and a
    file between the two would still be split across read tasks."""
    max_pb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 134217728)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
    min_parts = int(
        str(
            spark.conf.get(
                "spark.sql.files.minPartitionNum",
                str(spark.sparkContext.defaultParallelism),
            )
        )
    )
    bytes_per_core = (total_bytes + n_files * open_cost) // max(min_parts, 1)
    return min(max_pb, max(open_cost, bytes_per_core))


def stage_corpus(
    df: DataFrame,
    stage_dir: str,
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> tuple[DataFrame, dict[int, int], dict]:
    """Stage the corpus for dense docnum assignment.  Returns
    (staged DataFrame incl. ``_pid``, per-partition docnum offsets,
    fingerprint).

    One shuffle pass writes the id-sorted corpus to ``stage_dir`` as
    parquet (one file per hash partition, tagged with its partition id);
    a column-pruned aggregation over the stage yields per-partition counts
    (which double as the corpus fingerprint — row count +
    order-independent xor of id hashes + the partition modulus).  The
    fingerprint is deliberately CONTENT-BLIND: resume semantics treat
    the corpus as an immutable snapshot keyed by doc_id — editing a
    document's text in place without changing its id or the row count is
    invisible to resume and will keep serving the old postings (hash
    content into the ids, or rebuild with resume=False, if your corpus
    mutates in place).  No JVM caching: the in-memory
    columnar store anti-scales under high local concurrency and evicts
    under memory pressure, while parquet staging is linear and spill-free
    at any parallelism.

    Numbering correctness relies on each staged file being read in order
    and not split across tasks: files are written well under the
    EFFECTIVE max split size (enforced below; packing several whole files
    into one task is fine — the numbering kernel keeps one counter per
    partition id).
    """
    spark = df.sparkSession
    if partitions is None:
        # 2x parallelism keeps staged files small (~half of
        # totalBytes/parallelism, Spark's bytes-per-core split floor, so
        # they are never split) and every core busy on the read side
        partitions = spark.sparkContext.defaultParallelism * 2

    def stage(parts: int) -> tuple[int, int]:
        (
            df.repartition(parts, id_col)
            .sortWithinPartitions(id_col)
            .withColumn("_pid", F.spark_partition_id())
            .write.mode("overwrite")
            # one file per partition id whatever the session's
            # spark.sql.files.maxRecordsPerFile says: numbered()'s
            # row_index fast path needs exactly one file per _pid
            .option("maxRecordsPerFile", 0)
            .parquet(stage_dir)
        )
        mx, tot, cnt = _file_stats(spark, stage_dir)
        return mx, _effective_max_split_bytes(spark, tot, cnt)

    # ENFORCE the no-split precondition: a staged file larger than the
    # *effective* split size (min(maxPartitionBytes, max(openCost,
    # bytesPerCore)) — not just maxPartitionBytes) would be split across
    # read tasks and silently corrupt the numbering.  Auto-rescale
    # partitions until every file fits one split.
    biggest, max_split = stage(partitions)
    tries = 0
    while biggest >= max_split and tries < 3:
        partitions = max(partitions * 2, int(partitions * (2.0 * biggest / max_split)))
        biggest, max_split = stage(partitions)
        tries += 1
    if biggest >= max_split:
        raise RuntimeError(
            f"staged corpus files ({biggest}B) still exceed the effective "
            f"max split size ({max_split}B) at {partitions} partitions"
        )
    # NOTE: the fingerprint deliberately runs as its own column-pruned
    # aggregation rather than an observe() on the write — a registered
    # Observation leaves the session's ObservationManager reachable from
    # later ML closures and Spark 4.1 then fails task serialization
    # (NotSerializableException: ObservationManager) in e.g.
    # MulticlassClassificationEvaluator.evaluate.
    h = spark.read.parquet(stage_dir)
    rows = (
        h.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("c"), F.expr(f"bit_xor(xxhash64({id_col}))").alias("x"))
        .collect()
    )
    counts = {r["_pid"]: r["c"] for r in rows}
    xor = 0
    for r in rows:
        xor ^= int(r["x"] or 0)
    # `parts` pins the hash-partition modulus: docnum assignment is a
    # function of (doc ids, modulus), so a resume under a different
    # parallelism must read as a DIFFERENT corpus (group manifests would
    # otherwise short-circuit groups encoded under the old docnums while
    # docids get rewritten under the new ones — silent wrong results)
    fingerprint = {
        "n_docs": int(sum(counts.values())),
        "id_hash_xor": xor,
        "parts": int(partitions),
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return h, offsets, fingerprint


def stage_corpus_prestaged(
    spark,
    path: str,
    id_col: str = "doc_id",
    columns: list[str] | None = None,
) -> tuple[DataFrame, dict[int, int], dict]:
    """Zero-copy staging over an EXISTING parquet directory: the (name-
    sorted) files themselves are the stage — ``_pid`` = file index from
    ``input_file_name()``, per-pid counts from parquet footers, docnums =
    footer offsets + in-file row order.  No rewrite of the corpus at all;
    the only job touching data is the column-pruned fingerprint agg over
    ``id_col``.  This is how a columnar engine should ingest an already-
    stable table (Lucene/FAISS don't rewrite their input either); the
    rewrite path (stage_corpus) remains for arbitrary DataFrames.

    Correctness needs each file read whole by one task (numbering is
    order-dependent): enforced against the EFFECTIVE split size exactly
    like the staged path — raises ValueError when a file would split (or
    the dir is hive-partitioned / too many files), and the caller falls
    back to stage_corpus.  Determinism: same files -> same (pid, order)
    -> same docnums, regardless of how Spark packs whole files into
    tasks (the numbering kernel keeps one counter per pid)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    names, mx, tot = [], 0, 0
    for st in fs.listStatus(p):
        nm = st.getPath().getName()
        if st.isDirectory():
            raise ValueError("hive-partitioned input — use stage_corpus")
        if nm.startswith("_") or nm.startswith("."):
            continue
        names.append(nm)
        mx = max(mx, st.getLen())
        tot += st.getLen()
    if not names or len(names) > 1000:
        raise ValueError(f"{len(names)} data files — use stage_corpus")
    names.sort()
    if mx >= _effective_max_split_bytes(spark, tot, len(names)):
        raise ValueError("a file would split across read tasks — use stage_corpus")

    import pyarrow.parquet as pq

    counts: dict[int, int] = {}
    try:
        for i, nm in enumerate(names):
            counts[i] = pq.ParquetFile(f"{path}/{nm}").metadata.num_rows
    except Exception as e:  # non-local FS: footers unreadable from driver
        raise ValueError(f"cannot read footers driver-side: {e}") from e

    h = spark.read.parquet(path)
    # input_file_name() yields a percent-encoded URI; listStatus yields
    # raw names — url_decode aligns them (a space/'%'/'#' in a data file
    # name would otherwise map to a null _pid and crash the numbering)
    fname = F.url_decode(F.element_at(F.split(F.input_file_name(), "/"), -1))
    pid_map = F.create_map(*[x for i, nm in enumerate(names) for x in (F.lit(nm), F.lit(i))])
    if columns is not None:
        h = h.select(*columns)
    h = h.withColumn("_pid", pid_map[fname].cast("int"))
    row = h.agg(
        F.count(F.lit(1)).alias("c"),
        F.expr(f"bit_xor(xxhash64({id_col}))").alias("x"),
        F.sum(F.col("_pid").isNull().cast("int")).alias("nullpid"),
    ).collect()[0]
    if int(row["nullpid"] or 0) > 0:
        raise ValueError("file name failed to map to a pid — use stage_corpus")
    if int(row["c"]) != sum(counts.values()):
        raise ValueError("footer row counts disagree with scan — use stage_corpus")
    fingerprint = {
        "n_docs": int(row["c"]),
        "id_hash_xor": int(row["x"] or 0),
        # prestaged layouts derive pids from the files themselves, so
        # the file count is the partitioning identity
        "parts": len(counts),
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return h, offsets, fingerprint


def numbered(h: DataFrame, offsets: dict[int, int], columns: list[str] | None = None) -> DataFrame:
    """Attach the dense ``docnum`` to a PROJECTION of the staged corpus.

    Fast path (pure JVM, round 7): parquet scans expose the hidden
    ``_metadata.row_index`` column (physical row position within its
    file, Spark 3.5+), and the stage layout is exactly one file per
    ``_pid`` with rows in written order — so
    ``docnum = offsets[_pid] + row_index`` reproduces the Python
    numbering kernel bit-for-bit as a Catalyst projection.  This removes
    an entire JVM→Python→JVM Arrow round-trip of the corpus text from
    BOTH numbering consumers (docids write and tokenizer input) — at
    corpus scale the content column IS the corpus (guide §4: eliminate
    the Python boundary).  Verified identical in
    tests/test_source_formats.py::test_numbered_row_index_parity.

    The one-file-per-``_pid`` layout is checked, not assumed: the fast
    path is taken only when the scan's file count equals
    ``len(offsets)`` (a pid split over several files would restart
    row_index at 0 in each and hand out duplicate docnums).

    Fallback (the original mapInPandas kernel) covers inputs where that
    check fails or the metadata column cannot be resolved (non-file-scan
    plans); it numbers a pid's rows in read order, so it too is exact
    only while each pid is read by one task — stage_corpus therefore
    writes one file per pid whatever the session settings.

    Column pruning note unchanged: prune per consumer — the docids
    writer asks for (doc_id) only and the tokenizer for the text columns
    only."""
    spark = h.sparkSession
    try:
        if len(h.inputFiles()) != len(offsets):
            raise ValueError("staged files are not one per _pid")
        ridx = F.col("_metadata.row_index")
        dense = [0] * (max(offsets) + 1) if offsets else [0]
        for pid, off in offsets.items():
            dense[pid] = off
        # literal offset array: one entry per staged file.  At extreme
        # file counts (10^5+) swap for a broadcast join on _pid; at any
        # plausible stage layout (2x cluster parallelism) the literal is
        # a few KB in the plan.
        sel = [] if columns is None else ["_pid", *columns]
        out = (h.select(*sel, ridx.alias("_ridx")) if sel
               else h.withColumn("_ridx", ridx))
        out = out.withColumn(
            "docnum",
            (F.element_at(F.lit(dense), F.col("_pid").cast("int") + 1) + F.col("_ridx")).cast("long"),
        ).drop("_pid", "_ridx")
        out.schema  # force analysis now so resolution failures fall back
        return out
    except Exception:
        pass
    if columns is not None:
        h = h.select("_pid", *columns)
    bc = spark.sparkContext.broadcast(offsets)
    out_fields = [f for f in h.schema.fields if f.name != "_pid"]
    out_schema = T.StructType(out_fields + [T.StructField("docnum", T.LongType())])

    def number(it):
        seen: dict[int, int] = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            pids = pdf["_pid"].to_numpy()
            pdf = pdf.drop(columns=["_pid"])
            docnum = np.empty(len(pdf), dtype=np.int64)
            # a task may hold several whole staged files (packing); rows
            # within each keep their written order
            bounds = np.flatnonzero(np.r_[True, pids[1:] != pids[:-1]])
            for s, e in zip(bounds, np.append(bounds[1:], len(pids))):
                pid = int(pids[s])
                start = bc.value[pid] + seen.get(pid, 0)
                docnum[s:e] = np.arange(start, start + (e - s), dtype=np.int64)
                seen[pid] = seen.get(pid, 0) + (e - s)
            pdf["docnum"] = docnum
            yield pdf

    return h.mapInPandas(number, schema=out_schema)


def assign_docnums(
    df: DataFrame,
    stage_dir: str,
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """Compatibility wrapper: (all-columns numbered DataFrame,
    fingerprint).  Callers that consume different projections should use
    stage_corpus + numbered directly to keep the Arrow passes pruned."""
    h, offsets, fingerprint = stage_corpus(df, stage_dir, id_col, partitions)
    return numbered(h, offsets), fingerprint


def write_docids(dim: DataFrame, path: str, meta_cols: tuple[str, ...] = (), epoch: int = 0) -> None:
    """Persist the (docnum -> doc_id [+meta]) dimension under an
    ``epoch=N`` hive partition.  assign_docnums partitions are already
    docnum-range-contiguous and sorted, so a plain write keeps row-group
    pruning on docnum with no extra shuffle.

    The per-epoch partition is what makes incremental appends idempotent:
    a crashed/redelivered epoch rewrites its own partition with mode
    overwrite instead of blindly appending rows to a shared directory
    (Structured Streaming's foreachBatch is at-least-once)."""
    cols = ["docnum", "doc_id", *meta_cols]
    dim.select(*cols).write.mode("overwrite").parquet(f"{path}/epoch={epoch}")
