"""Property tests: decode(encode(x)) == x (SURVEY.md §5.2.6), and the
column decoder equals the per-row decoders."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from beetle_search_engine_spark.operators.codecs import (
    decode_docgaps,
    decode_posting_columns,
    encode_docgaps,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(xs):
    a = np.array(xs, dtype=np.uint64)
    out = varint_decode(varint_encode(a))
    assert np.array_equal(out, a)


@given(st.sets(st.integers(min_value=0, max_value=2**40), max_size=500))
@settings(max_examples=200, deadline=None)
def test_docgap_roundtrip(xs):
    a = np.array(sorted(xs), dtype=np.int64)
    out = decode_docgaps(encode_docgaps(a))
    assert np.array_equal(out, a)


def test_dense_postings_are_compact():
    # dense consecutive docnums -> ~1 byte per posting
    a = np.arange(100_000, 200_000, dtype=np.int64)
    assert len(encode_docgaps(a)) <= a.size + 5


def test_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0
    assert decode_docgaps(b"").size == 0


# values across the varint widths: 1, 2, 3 and up to 6 bytes
_WIDE = st.one_of(
    st.integers(0, 127), st.integers(128, 2**14 - 1), st.integers(2**14, 2**21),
    st.integers(0, 2**35),
)


@st.composite
def posting_rows(draw):
    """Posting rows as (sorted unique docnums, tfs, dls)."""
    rows = []
    for _ in range(draw(st.integers(0, 12))):
        docs = sorted(draw(st.sets(_WIDE, min_size=1, max_size=40)))
        tf_values = st.integers(1, 2**31 - 1) | st.integers(1, 127)
        tfs = draw(st.lists(tf_values, min_size=len(docs), max_size=len(docs)))
        dls = draw(st.lists(tf_values, min_size=len(docs), max_size=len(docs)))
        rows.append((docs, tfs, dls))
    return rows


def _blob_columns(rows):
    """The rows as the (docs, tfs, dls) binary columns and n the index stores."""
    return (
        pa.array([encode_docgaps(np.array(d, dtype=np.int64)) for d, _, _ in rows], pa.binary()),
        pa.array([varint_encode(np.array(t, dtype=np.uint64)) for _, t, _ in rows], pa.binary()),
        pa.array([varint_encode(np.array(dl, dtype=np.uint64)) for _, _, dl in rows], pa.binary()),
        pa.array([len(d) for d, _, _ in rows], pa.int32()),
    )


def _per_row(docs, tfs, dls):
    """The per-row decoders' answer: one (docnums, tfs, dls) list triple per row."""
    return [
        (decode_docgaps(d).tolist(), varint_decode(t).tolist(), varint_decode(dl).tolist())
        for d, t, dl in zip(docs.to_pylist(), tfs.to_pylist(), dls.to_pylist())
    ]


def _columns(decoded):
    return list(zip(*(col.to_pylist() for col in decoded)))


@given(posting_rows(), st.data())
@settings(max_examples=150, deadline=None)
def test_column_decoder_equals_per_row_decoders(rows, data):
    docs, tfs, dls, n = _blob_columns(rows)
    decoded = decode_posting_columns(docs, tfs, dls, n)
    assert [c.type for c in decoded] == [pa.list_(pa.int64()), pa.list_(pa.int32()), pa.list_(pa.int32())]
    want = _per_row(docs, tfs, dls)
    assert _columns(decoded) == [tuple(map(list, r)) for r in want]
    # a slice (offset != 0) and a multi-chunk ChunkedArray of the same rows
    a = data.draw(st.integers(0, len(rows)))
    z = data.draw(st.integers(a, len(rows)))
    sliced = decode_posting_columns(*(c.slice(a, z - a) for c in (docs, tfs, dls, n)))
    assert _columns(sliced) == _columns(decoded)[a:z]
    chunked = decode_posting_columns(
        *(pa.chunked_array([c.slice(0, a), c.slice(a, z - a), c.slice(z)], c.type) for c in (docs, tfs, dls, n))
    )
    assert _columns(chunked) == _columns(decoded)


def test_column_decoder_zero_rows():
    empty = pa.array([], pa.binary())
    decoded = decode_posting_columns(empty, empty, empty, pa.array([], pa.int32()))
    assert [len(c) for c in decoded] == [0, 0, 0]
    assert decoded[0].type == pa.list_(pa.int64())


@pytest.mark.parametrize("column", ["docs", "tfs", "dls"])
def test_column_decoder_rejects_a_value_past_n(column):
    """A blob holding one value more than its row's n is corruption: loud."""
    rows = [([3, 200, 70000], [1, 2, 300], [9, 9, 9]), ([5], [1], [4])]
    docs, tfs, dls, n = _blob_columns(rows)
    longer = ([3, 200, 70000, 70001], [1, 2, 300, 1], [9, 9, 9, 9])
    extra = dict(zip(("docs", "tfs", "dls"), _blob_columns([longer, rows[1]])[:3]))
    cols = {"docs": docs, "tfs": tfs, "dls": dls, column: extra[column]}
    with pytest.raises(ValueError, match=column):
        decode_posting_columns(cols["docs"], cols["tfs"], cols["dls"], n)
