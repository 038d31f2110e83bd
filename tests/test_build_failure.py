"""A build that fails mid-way leaves nothing running behind it."""

from __future__ import annotations

import threading
import time

import pytest

from beetle_search_engine_spark.config import EngineConfig, IndexConfig
from beetle_search_engine_spark.operators import build as build_mod
from beetle_search_engine_spark.operators.build import build_index
from beetle_search_engine_spark.plans.query import BM25Index

CFG = EngineConfig(
    analyzer="sql",
    index=IndexConfig(n_buckets=4, bucket_groups=1, chunk_docs=64, encode_partitions=4),
)


def test_failed_tokenize_leaves_no_docids_thread_or_job(spark, tmp_path, monkeypatch):
    """The docids write runs on a helper thread beside tokenize; when
    tokenize raises, build_index must not return while that thread or its
    Spark job is still running, and the tokenize error is the one raised."""
    real_write = build_mod.write_docids
    writer: dict = {}

    def slow_write_docids(*args, **kwargs):
        # still running when tokenize fails, so a leak cannot hide
        writer["thread"] = threading.current_thread()
        time.sleep(1.0)
        real_write(*args, **kwargs)
        writer["done"] = True

    def failing_tokenize(*_a, **_k):
        raise RuntimeError("tokenize failed")

    corpus = spark.createDataFrame(
        [(f"d{i}", f"alpha beta word{i % 7}") for i in range(400)],
        "doc_id string, content string",
    )
    d = str(tmp_path / "idx")
    monkeypatch.setattr(build_mod, "write_docids", slow_write_docids)
    monkeypatch.setattr(build_mod, "tokenize", failing_tokenize)
    with pytest.raises(RuntimeError, match="tokenize failed"):
        build_index(spark, corpus, d, cfg=CFG)
    assert writer.get("done") and not writer["thread"].is_alive()
    assert [t.name for t in threading.enumerate() if t.name.startswith("write_docids")] == []
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # status tracker lags the bus
    assert list(sc.statusTracker().getActiveJobsIds()) == []

    monkeypatch.undo()
    build_index(spark, corpus, d, cfg=CFG)  # the retry builds cleanly
    assert len(BM25Index(spark, d).search("alpha", 5, "or").collect()) == 5
