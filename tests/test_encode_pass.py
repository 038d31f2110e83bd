"""The build encodes every pending bucket group in ONE pass (one shuffle,
one mapInArrow kernel, one write) while groups stay the resume and
manifest unit: a multi-group build costs the same Spark jobs as a
single-group one, a partial resume re-encodes only the missing groups,
and a crash anywhere in the pass leaves nothing a rerun would trust."""

from __future__ import annotations

import itertools
import json
import os
import re

import pyarrow as pa
import pyarrow.dataset as ds
import pytest

import beetle_search_engine_spark.operators.build as B
from beetle_search_engine_spark.config import EngineConfig, IndexConfig
from beetle_search_engine_spark.operators.build import build_index
from beetle_search_engine_spark.plans.query import BM25Index
from beetle_search_engine_spark.sources.corpus import generate_corpus

FIELDS = {"title": "path", "body": "content"}
GROUPS = 4


def _cfg(groups: int = GROUPS) -> EngineConfig:
    return EngineConfig(
        index=IndexConfig(
            n_buckets=8, bucket_groups=groups, chunk_docs=64, block_size=16,
            blocks_per_row=4, hot_df_threshold=40, hot_salts=4, encode_partitions=4,
        )
    )


_job_groups = itertools.count()


def _with_jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"encode-pass-test-{next(_job_groups)}"
    sc.setJobGroup(group, "build under test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(idx_dir: str) -> list[tuple]:
    """Every posting row (all columns incl. group/bucket), sorted."""
    t = ds.dataset(f"{idx_dir}/postings", format="parquet", partitioning="hive").to_table()
    cols = sorted(t.column_names)
    return sorted(tuple(r[c] for c in cols) for r in t.select(cols).to_pylist())


def _group_manifests(idx_dir: str) -> list[str]:
    return sorted(f for f in os.listdir(f"{idx_dir}/_manifest") if f.startswith("group_"))


def _mtimes(idx_dir: str, groups) -> dict[str, int]:
    out = {}
    for g in groups:
        for r, _d, fs in os.walk(f"{idx_dir}/postings/group={g}"):
            for f in fs:
                out[os.path.join(r, f)] = os.stat(os.path.join(r, f)).st_mtime_ns
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_corpus(spark, 160, seed=23)


@pytest.fixture(scope="module")
def clean(spark, corpus, tmp_path_factory):
    """A fresh 4-group build: (index dir, metrics, jobs submitted)."""
    d = str(tmp_path_factory.mktemp("clean"))
    m, jobs = _with_jobs(spark, lambda: build_index(spark, corpus, d, fields=FIELDS, cfg=_cfg()))
    return d, m, jobs


def test_group_count_adds_no_jobs(spark, corpus, clean, tmp_path):
    d, m, jobs4 = clean
    assert m["groups_built"] == GROUPS
    d1 = str(tmp_path / "one")
    m1, jobs1 = _with_jobs(spark, lambda: build_index(spark, corpus, d1, fields=FIELDS, cfg=_cfg(1)))
    assert jobs4 == jobs1 > 0
    assert m["postings"] == m1["postings"]
    # every group populated, each its own dir + manifest
    assert all(g["postings"] > 0 for g in m["groups"])
    assert sorted(os.listdir(f"{d}/postings")) == [f"group={g}" for g in range(GROUPS)]
    assert _group_manifests(d) == [f"group_{g}.json" for g in range(GROUPS)]
    # the shared pass leaves no temp dir behind
    assert not os.path.exists(f"{d}/_stage")


def test_partial_resume_encodes_only_the_missing_group(spark, corpus, clean, tmp_path):
    ref, _, _ = clean
    d = str(tmp_path / "partial")
    build_index(spark, corpus, d, fields=FIELDS, cfg=_cfg())
    os.remove(f"{d}/_manifest/group_2.json")
    kept = _mtimes(d, (0, 1, 3))
    assert kept
    m = build_index(spark, corpus, d, fields=FIELDS, cfg=_cfg())
    assert m["groups_built"] == 1 and m["groups_skipped"] == 3
    assert [g["group"] for g in m["groups"] if not g.get("skipped")] == [2]
    assert _mtimes(d, (0, 1, 3)) == kept
    assert _rows(d) == _rows(ref)


def test_crash_mid_encode_leaves_no_manifest_then_retry_is_clean(spark, corpus, clean, tmp_path, monkeypatch):
    ref, _, _ = clean

    def raising_kernel(*_a, **_k):
        def kernel(batches):
            for _b in batches:
                raise RuntimeError("simulated encode crash")
            yield from ()

        return kernel

    d = str(tmp_path / "crash")
    monkeypatch.setattr(B, "_make_encode_kernel", raising_kernel)
    with pytest.raises(Exception, match="simulated encode crash"):
        build_index(spark, corpus, d, fields=FIELDS, cfg=_cfg())
    assert _group_manifests(d) == []
    post = f"{d}/postings"
    if os.path.isdir(post):
        assert all(re.fullmatch(r"group=\d+", x) for x in os.listdir(post))
    monkeypatch.undo()
    m = build_index(spark, corpus, d, fields=FIELDS, cfg=_cfg())
    assert m["groups_built"] == GROUPS
    assert _rows(d) == _rows(ref)


def test_crash_while_moving_groups_keeps_manifest_after_data(spark, corpus, clean, tmp_path, monkeypatch):
    """A manifest is written only after its group's data is in place: a
    crash between groups leaves manifests for the finished groups only,
    and the rerun skips those and re-encodes the rest."""
    ref, _, _ = clean
    real = B._group_metrics_agg

    def crash_on_group_2(spark_, out_path):
        if out_path.endswith("group=2"):
            raise RuntimeError("simulated crash after moving group 2")
        return real(spark_, out_path)

    d = str(tmp_path / "move")
    monkeypatch.setattr(B, "_group_metrics_agg", crash_on_group_2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(spark, corpus, d, fields=FIELDS, cfg=_cfg())
    assert _group_manifests(d) == ["group_0.json", "group_1.json"]
    monkeypatch.undo()
    m = build_index(spark, corpus, d, fields=FIELDS, cfg=_cfg())
    assert sorted(g["group"] for g in m["groups"] if not g.get("skipped")) == [2, 3]
    assert _rows(d) == _rows(ref)


def test_groups_without_postings_get_dir_and_zero_manifest(spark, tmp_path):
    corpus = spark.createDataFrame(
        [("d0", "alpha"), ("d1", "alpha alpha")], "doc_id string, content string"
    )
    d = str(tmp_path / "sparse")
    m = build_index(spark, corpus, d, fields={"body": "content"}, cfg=_cfg())
    assert m["postings"] == 2 and m["groups_built"] == GROUPS
    assert sorted(os.listdir(f"{d}/postings")) == [f"group={g}" for g in range(GROUPS)]
    mans = {}
    for g in range(GROUPS):
        with open(f"{d}/_manifest/group_{g}.json") as f:
            mans[g] = json.load(f)
    assert sorted(mm["postings"] for mm in mans.values()) == [0, 0, 0, 2]
    for g, mm in mans.items():
        if mm["postings"] == 0:
            assert os.listdir(f"{d}/postings/group={g}") == []
    idx = BM25Index(spark, d)
    assert sorted(r.doc_id for r in idx.search("alpha", 5, "or").collect()) == ["d0", "d1"]
    assert idx.search("beta", 5, "or").collect() == []


def test_group_metrics_of_a_success_only_group_are_zero(spark, tmp_path):
    """A group directory holding only a ``_SUCCESS`` marker has zero
    metrics, read without Spark; a group with files is read with
    pyarrow alone, so a failing read raises instead of running a Spark
    aggregation."""
    empty = tmp_path / "group=0"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    zero, jobs = _with_jobs(spark, lambda: B._group_metrics_agg(spark, str(empty)))
    assert jobs == 0
    assert zero == {"postings": 0, "rows": 0, "bytes": 0, "max_bucket": 0, "avg_bucket": 1.0}
    broken = tmp_path / "group=1" / "bucket=3"
    broken.mkdir(parents=True)
    (broken / "part-0.parquet").write_bytes(b"not parquet")

    def read_broken():
        with pytest.raises(pa.ArrowInvalid):
            B._group_metrics_agg(spark, str(tmp_path / "group=1"))

    assert _with_jobs(spark, read_broken)[1] == 0
