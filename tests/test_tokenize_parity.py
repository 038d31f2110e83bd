"""JVM tokenizer chain == Python reference chain, row for row, on the
synthetic graft corpus and the testdata documents table.

The JVM chain emits PRE-STEM rows for a stemming preset (stemming is the
index write path's job), so its rows pass through ``_stem_merge`` — a
test-side stem-and-merge reference — before the comparison."""

import pytest

from beetle_search_engine_spark.functions.porter import stem
from beetle_search_engine_spark.operators.docnums import assign_docnums
from beetle_search_engine_spark.operators.tokenize import tokenize_jvm, tokenize_python
from beetle_search_engine_spark.sources.corpus import documents_as_corpus, generate_corpus


def _rows(df):
    return sorted((r["docnum"], r["field"], r["term"], r["tf"], r["dl"]) for r in df.collect())


def _stem_merge(rows):
    """Porter-stem each row's term, then merge the rows of one (docnum,
    field, stem): tf summed, positions (an optional 6th element) united
    in ascending order."""
    merged = {}
    for docnum, field, term, tf, dl, *pos in rows:
        key = (docnum, field, stem(term))
        old = merged.get(key)
        if old is None:
            merged[key] = [tf, dl, *pos]
        else:
            old[0] += tf
            if pos:
                old[2] = tuple(sorted(old[2] + pos[0]))
    return sorted((*k, *v) for k, v in merged.items())


def test_parity_on_graft_corpus(spark, tmp_path):
    corpus, _ = assign_docnums(generate_corpus(spark, 250, seed=13), str(tmp_path / "h"))
    fields = {"title": "path", "body": "content"}
    assert _stem_merge(_rows(tokenize_jvm(corpus, fields))) == _rows(tokenize_python(corpus, fields))


def test_parity_on_testdata_documents(spark, tmp_path):
    corpus, _ = assign_docnums(
        documents_as_corpus(spark, "/root/testdata/sf0.001"), str(tmp_path / "h")
    )
    fields = {"body": "content"}
    assert _stem_merge(_rows(tokenize_jvm(corpus, fields))) == _rows(tokenize_python(corpus, fields))


def test_parity_sql_analyzer(spark, tmp_path):
    corpus, _ = assign_docnums(generate_corpus(spark, 150, seed=5), str(tmp_path / "h3"))
    fields = {"body": "content"}
    a = tokenize_jvm(corpus, fields, analyzer_name="sql")
    b = tokenize_python(corpus, fields, analyzer_name="sql")
    assert _rows(a) == _rows(b)


def test_parity_positions(spark, tmp_path):
    corpus, _ = assign_docnums(generate_corpus(spark, 120, seed=7), str(tmp_path / "h4"))
    fields = {"title": "path", "body": "content"}

    def rows(df):
        return sorted(
            (r["docnum"], r["field"], r["term"], r["tf"], r["dl"], tuple(r["pos"]))
            for r in df.collect()
        )

    a = tokenize_jvm(corpus, fields, positions=True)
    b = tokenize_python(corpus, fields, positions=True)
    assert _stem_merge(rows(a)) == rows(b)


@pytest.mark.parametrize("positions", [False, True], ids=["nopos", "pos"])
@pytest.mark.parametrize("broadcast_max", [2_000_000, 0], ids=["broadcast", "shuffle"])
def test_late_stem_build_identical_to_python_chain(spark, tmp_path, positions, broadcast_max):
    """The jvm build's one stemming path (pre-stem stage + stem attach by
    broadcast or, with ``stem_broadcast_max_docs=0``, shuffle join +
    merge-in-encode, positions included + exact-df correction) must
    produce an index indistinguishable from the python chain: same
    stats, same df for stem-colliding terms, same top-k (doc_id, score)."""
    from pyspark.sql import functions as F

    from beetle_search_engine_spark.config import EngineConfig, IndexConfig
    from beetle_search_engine_spark.operators.build import build_index
    from beetle_search_engine_spark.plans.query import BM25Index

    corpus = generate_corpus(spark, 500, seed=11)
    # force same-doc stem collisions: 'running runs run' all stem to
    # 'run'; df('run') must count each doc once and tf must merge
    collide = spark.createDataFrame(
        [
            ("cdoc1", "x/c1.py", "running runs run table scan"),
            ("cdoc2", "x/c2.py", "runs value"),
        ],
        "doc_id string, path string, content string",
    )
    corpus = corpus.select("doc_id", "path", "content").unionByName(collide)

    idx_cfg = IndexConfig(
        n_buckets=16, bucket_groups=1, chunk_docs=128, encode_partitions=4,
        store_positions=positions, stem_broadcast_max_docs=broadcast_max,
    )
    a_dir, b_dir = str(tmp_path / "jvm"), str(tmp_path / "py")
    build_index(
        spark, corpus, a_dir, fields={"title": "path", "body": "content"},
        cfg=EngineConfig(tokenizer="jvm", index=idx_cfg),
    )
    build_index(
        spark, corpus, b_dir, fields={"title": "path", "body": "content"},
        cfg=EngineConfig(tokenizer="python", index=idx_cfg),
    )
    a, b = BM25Index(spark, a_dir), BM25Index(spark, b_dir)
    for key in ("n_docs", "avgdl", "vocab_size", "n_hot_terms"):
        assert a.stats[key] == b.stats[key], key
    # posting-level identity: every (field, term) has equal df and equal
    # decoded (docnum, tf) multisets; spot-check via the collision term
    pa = spark.read.parquet(f"{a_dir}/postings").filter(F.col("term") == "run")
    pb = spark.read.parquet(f"{b_dir}/postings").filter(F.col("term") == "run")
    cols = ("field", "df", "docs", "tfs", "dls", "pos")
    ra = {tuple(r[c] if c in ("field", "df") else bytes(r[c]) for c in cols) for r in pa.collect()}
    rb = {tuple(r[c] if c in ("field", "df") else bytes(r[c]) for c in cols) for r in pb.collect()}
    assert ra == rb and ra
    # full-index posting equality (order-free)
    fa = spark.read.parquet(f"{a_dir}/postings").select("field", "term", *cols[1:])
    fb = spark.read.parquet(f"{b_dir}/postings").select("field", "term", *cols[1:])
    assert fa.exceptAll(fb).count() == 0 and fb.exceptAll(fa).count() == 0
    # query identity on both modes
    for mode in ("or", "and"):
        qa = [(r["doc_id"], round(r["score"], 9)) for r in a.search("running table scan", 10, mode).collect()]
        qb = [(r["doc_id"], round(r["score"], 9)) for r in b.search("running table scan", 10, mode).collect()]
        assert qa == qb and qa
