import inputs
from beetle_search_engine_spark.functions.analyzer import get_analyzer
from beetle_search_engine_spark.plans.parser import parse_query


def test_same_seed_same_queries():
    assert inputs.queries(5, 50) == inputs.queries(5, 50)
    assert inputs.oracle_queries(5) == inputs.oracle_queries(5)


def test_other_seed_other_queries():
    assert inputs.queries(5, 50) != inputs.queries(6, 50)


def test_stream_is_a_prefix_of_longer_draws():
    assert inputs.queries(9, 10) == inputs.queries(9, 40)[:10]


def test_query_mix_covers_every_kind():
    qs = inputs.queries(1, 400)
    assert any(" OR " in q for q in qs)
    assert any(q.startswith("title:") for q in qs)
    assert any(" NOT " in q for q in qs)
    assert any("*" in q for q in qs)
    assert any(t.startswith(("fn_", "var_", "cls_")) for q in qs for t in q.split())


def test_queries_parse_to_something():
    an = get_analyzer("whoosh")
    fields = set(inputs.FIELDS)
    for q in inputs.queries(3, 200):
        pq = parse_query(q, an, fields=fields)
        assert not pq.empty or pq.prefixes, q


def test_oracle_sample_is_and_or_bags():
    sample = inputs.oracle_queries(2, 6)
    assert [m for _, m in sample] == ["and", "or"] * 3
    assert all(q and "*" not in q and ":" not in q for q, _ in sample)


def test_ingest_batch_is_seeded_and_disjoint():
    assert inputs.ingest_seed(4) == inputs.ingest_seed(4)
    assert inputs.ingest_seed(4) != 4
    rows = inputs.delete_rows(4)
    assert rows == inputs.delete_rows(4) != inputs.delete_rows(5)
    assert len(set(rows)) == inputs.DELETE_DOCS
    assert all(0 <= r < inputs.CORPUS_DOCS for r in rows)


def test_every_block_holds_each_kind_equally():
    from collections import Counter
    from itertools import islice

    block = len(inputs.KINDS) * inputs.PER_BLOCK
    stream = inputs.kinded_stream(11)
    for _ in range(3):
        kinds = Counter(k for k, _ in islice(stream, block))
        assert kinds == {k: inputs.PER_BLOCK for k in inputs.KINDS}
