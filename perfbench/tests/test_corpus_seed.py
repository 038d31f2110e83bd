"""Seed determinism of the Spark-generated inputs: the same seed gives the
same corpus and the same ingest batch, and the batch's documents are new."""

import pytest

import inputs

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from beetle_search_engine_spark.sources import get_spark

    s = get_spark("perfbench-tests", cores=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def rows(spark, n, seed):
    from beetle_search_engine_spark.sources import generate_corpus

    return sorted(tuple(r) for r in generate_corpus(spark, n, seed=seed).collect())


def test_same_seed_same_corpus(spark):
    assert rows(spark, 300, 7) == rows(spark, 300, 7)
    assert rows(spark, 300, 7) != rows(spark, 300, 8)


def test_ingest_batch_is_deterministic_and_new(spark):
    batch = rows(spark, 50, inputs.ingest_seed(7))
    assert batch == rows(spark, 50, inputs.ingest_seed(7))
    doc_id = 5  # column order: repo, path, commit, lang, content, doc_id, content_sha
    assert not {r[doc_id] for r in batch} & {r[doc_id] for r in rows(spark, 300, 7)}
