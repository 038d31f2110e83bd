"""Engine configuration.

Replaces the reference's params.yaml (reference: params.yaml:1-24) with an
explicit dataclass. BM25 constants mirror the reference's Whoosh defaults
(reference: src/index/build_bm25.py:7-13 — nothing overridden, so Whoosh
scoring.BM25F defaults K1=1.2, B=0.75; title field_boost=2.0 at :11).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field


@dataclass(frozen=True)
class BM25Params:
    k1: float = 1.2
    b: float = 0.75
    # field -> boost; reference boosts title 2.0 (build_bm25.py:11)
    field_boosts: dict = field(default_factory=lambda: {"title": 2.0, "body": 1.0})


@dataclass(frozen=True)
class IndexConfig:
    """Physical layout of the posting-list index.

    The index is parquet, hive-partitioned by ``bucket`` =
    pmod(xxhash64(term), n_buckets) so a query's scan prunes to the
    buckets of its terms.  Rows are *block groups*: up to
    ``blocks_per_row`` blocks of ``block_size`` postings each, never
    straddling a ``chunk_docs``-aligned docnum boundary, so the query
    side can shuffle rows by chunk and score chunks independently.
    """

    n_buckets: int = 64            # parquet partition dirs (scale: 1024+)
    block_size: int = 128          # postings granule
    blocks_per_row: int = 8        # <=1024 postings per parquet row; the
    # row is the block-max skip unit — smaller rows = finer WAND pruning,
    # more row metadata
    chunk_docs: int = 1 << 16      # docnum range scored per WAND task
    # terms with df above this are salted across `hot_salts` encode
    # partitions (Zipf head defusal); None -> max(5000, N // 50)
    hot_df_threshold: int | None = None
    hot_salts: int = 16
    encode_partitions: int | None = None  # None -> spark default parallelism
    # resume granularity: one postings dir + manifest per group
    # (bucket % groups); all pending groups share one encode pass
    bucket_groups: int = 8
    # store per-posting position lists (delta+varint) — enables quoted
    # phrase queries; costs ~1 extra varint per token occurrence
    store_positions: bool = False
    # jvm builds and appends of a stemming preset: above this many docs
    # (of the build, or of the appended epoch) the write path's stem
    # dimension (build._stem_stage) is attached to the pre-stem token
    # stage with a shuffle join instead of a broadcast (a web-scale code
    # corpus's identifier vocabulary will not broadcast)
    stem_broadcast_max_docs: int = 2_000_000


@dataclass(frozen=True)
class EngineConfig:
    bm25: BM25Params = field(default_factory=BM25Params)
    index: IndexConfig = field(default_factory=IndexConfig)
    # "auto" (default): python chain below tokenize.AUTO_JVM_DOCS docs,
    # jvm at/above.  "jvm": T1-T3 as Catalyst expressions, emitting
    # pre-stem rows; the write path then runs Porter over the
    # *vocabulary* only (build._stem_stage) — the plan that survives 100x
    # (per-doc Python string churn saturates memory bandwidth first).
    # "python": full analyzer chain per doc in one Arrow mapInPandas —
    # zero shuffles, fastest measured at sandbox scales.  All three are
    # parity-tested to produce identical posting rows.
    tokenizer: str = "auto"
    # analysis-chain preset (functions/analyzer.py): "whoosh" = the
    # reference chain incl. Porter; "sql" = the stem-free ANSI-SQL-
    # reproducible chain (used for DuckDB-provable engine entries).
    # Recorded in stats.json; query time analyzes with the index's preset.
    analyzer: str = "whoosh"
    source_format: str = "parquet"  # Iceberg jars unavailable in sandbox;
    # at deploy time set "iceberg" and the readers pick it up unchanged.

    # default retrieval depths (reference: params.yaml:20-24)
    top_k: int = 10
    rerank_k: int = 10
    rrf_k: int = 60                 # reference: src/search/hybrid_search.py:22

    def layout_hash(self, fields: dict[str, str]) -> str:
        """Hash of everything that determines the *bytes and semantics* of
        a built index: physical layout, scoring params, field mapping and
        analyzer preset.  Stored in stats.json + per-group manifests;
        resume compares it so a rerun with (say) a different n_buckets
        can't silently keep postings bucketed under the old hash while
        queries prune with the new one."""
        key = {
            "n_buckets": self.index.n_buckets,
            "block_size": self.index.block_size,
            "blocks_per_row": self.index.blocks_per_row,
            "chunk_docs": self.index.chunk_docs,
            "bucket_groups": self.index.bucket_groups,
            "store_positions": self.index.store_positions,
            "k1": self.bm25.k1,
            "b": self.bm25.b,
            "field_boosts": dict(sorted(self.bm25.field_boosts.items())),
            "fields": dict(sorted(fields.items())),
            "analyzer": self.analyzer,
        }
        return hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]


DEFAULT = EngineConfig()
