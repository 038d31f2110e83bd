"""Posting-list codecs: unsigned LEB128 varint + gap (delta-1) encoding.

The reference stores postings inside Whoosh segment files (reference:
src/index/build_bm25.py:42-43 writer.commit creates the segment) and as a
JSON ``{term: [[doc, w], ...]}`` dict for SPLADE (reference:
src/index/build_splade.py:57-63).  Here postings are parquet rows holding
binary blobs: sorted docnums as gap-encoded varints, tfs and doc-lengths
as plain varints.  Everything is numpy-vectorized — no per-value Python
in the hot path (BASELINE.json input_hint mandate).  A table of posting
rows decodes column by column (``decode_posting_columns``): one
``varint_decode`` per column, not one per row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_U7 = np.uint64(7)
_U127 = np.uint64(127)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array (vectorized)."""
    return varint_encode_concat(values, np.empty(0, dtype=np.int64))[0].tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized)."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    last = raw < 128
    if last.all():  # every value fits one byte (every tf blob, most dls)
        return raw.astype(np.uint64)
    ends = np.flatnonzero(last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    for k in range(int(lens.max())):
        m = lens > k
        vals[m] |= (raw[starts[m] + k] & _U127).astype(np.uint64) << np.uint64(7 * k)
    return vals


def varint_encode_concat(
    values: np.ndarray, row_starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode one array; return (uint8 buffer, per-row byte
    offsets of len(row_starts)+1).  The buffer + offsets pair IS the
    Arrow binary-column layout (one contiguous data buffer + an offsets
    array), so the round-7 mapInArrow encode kernel emits posting blobs
    with ZERO per-row Python objects (guide §4.2)."""
    a = np.ascontiguousarray(values, dtype=np.uint64)
    n = a.size
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(len(row_starts) + 1, dtype=np.int64)
    if a.max() < 128:  # fast path: tf/dl are usually single-byte
        out, pos = a.astype(np.uint8), np.arange(n, dtype=np.int64)
    else:
        # bytes needed per value = number of 7-bit groups
        nb = np.ones(n, dtype=np.int64)
        v = a >> _U7
        while v.any():
            nb += (v > 0)
            v >>= _U7
        pos = np.zeros(n, dtype=np.int64)
        np.cumsum(nb[:-1], out=pos[1:])
        out = np.zeros(int(nb.sum()), dtype=np.uint8)
        for k in range(int(nb.max())):
            m = nb > k
            bts = ((a[m] >> np.uint64(7 * k)) & _U127).astype(np.uint8)
            bts[nb[m] > k + 1] |= 128
            out[pos[m] + k] = bts
    offsets = np.empty(len(row_starts) + 1, dtype=np.int64)
    offsets[:-1] = pos[row_starts]
    offsets[-1] = out.size
    return out, offsets


def _docgaps_for_rows(docnums: np.ndarray, row_starts: np.ndarray) -> np.ndarray:
    d = np.ascontiguousarray(docnums, dtype=np.int64)
    gaps = np.empty(d.size, dtype=np.int64)
    if d.size:
        gaps[0] = d[0]
        gaps[1:] = d[1:] - d[:-1] - 1
        gaps[row_starts] = d[row_starts]  # row-initial values absolute
        if (gaps < 0).any():
            # same silent-wrap hazard as encode_docgaps: a negative
            # within-row gap means a duplicate/unsorted docnum run
            raise ValueError(
                "encode_docgap_concat needs strictly-increasing non-negative docnums per row"
            )
    return gaps.astype(np.uint64)


def encode_docgap_concat(
    docnums: np.ndarray, row_starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Gap-encode a batch of concatenated per-row sorted docnum runs: the
    first value of each row is stored absolute (delta from -1), the rest as
    (delta - 1) within the row.  Returns (buffer, offsets) as
    :func:`varint_encode_concat`."""
    return varint_encode_concat(_docgaps_for_rows(docnums, row_starts), row_starts)


def encode_positions_concat(
    allpos: np.ndarray, posting_starts: np.ndarray, row_starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Encode per-posting ascending position lists; return (buffer,
    per-row offsets) as :func:`varint_encode_concat`.

    ``allpos``: every posting's positions concatenated (ascending within a
    posting); ``posting_starts``: value index where posting i's positions
    begin (len = n_postings); ``row_starts``: posting indices where rows
    begin.  Within each posting the first position is absolute and the
    rest are (delta - 1) — same shape as the docnum gap codec.
    """
    a = np.ascontiguousarray(allpos, dtype=np.int64)
    if a.size == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(len(row_starts) + 1, dtype=np.int64)
    gaps = np.empty(a.size, dtype=np.int64)
    gaps[0] = a[0]
    gaps[1:] = a[1:] - a[:-1] - 1
    gaps[posting_starts] = a[posting_starts]  # posting-initial absolute
    return varint_encode_concat(gaps.astype(np.uint64), posting_starts[row_starts])


def encode_positions_rows(
    allpos: np.ndarray, posting_starts: np.ndarray, row_starts: np.ndarray
) -> list[bytes]:
    """:func:`encode_positions_concat` sliced into one bytes per row."""
    buf, offsets = encode_positions_concat(allpos, posting_starts, row_starts)
    b = buf.tobytes()
    return [b[s:e] for s, e in zip(offsets[:-1].tolist(), offsets[1:].tolist())]


def _undo_gaps(gaps: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Runs of ``counts`` gap-coded values, back to back -> the values:
    a run's first value is absolute, each later one ``gap + 1`` past
    its predecessor (one cumsum for every run)."""
    if gaps.size == 0:
        return gaps
    counts = counts[counts > 0]
    starts = np.cumsum(counts) - counts
    adj = gaps + 1
    adj[starts] = gaps[starts]  # run-initial values stay absolute
    cs = np.cumsum(adj)
    return cs - np.repeat(cs[starts] - adj[starts], counts)  # minus the cumsum before each run


def _blob_bytes(col) -> np.ndarray:
    """The bytes of a binary column's values, every row's blob back to
    back (a zero-copy view of one chunk's data buffer; the chunks of a
    ``ChunkedArray`` concatenated).  An array slice starts and ends where
    its first and last rows do."""
    chunks = col.chunks if isinstance(col, pa.ChunkedArray) else [col]
    parts = []
    for a in chunks:
        _validity, offsets, data = a.buffers()
        if len(a) == 0 or data is None:
            continue
        width = np.int64 if pa.types.is_large_binary(a.type) else np.int32
        offs = np.frombuffer(
            offsets, dtype=width, count=len(a) + 1, offset=a.offset * width().itemsize
        )
        parts.append(np.frombuffer(data, dtype=np.uint8)[offs[0]:offs[-1]])
    if len(parts) == 1:
        return parts[0]
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.uint8)


def _row_values(col, n: np.ndarray, name: str) -> np.ndarray:
    """Every value of a binary varint column as one int64 array (one
    ``varint_decode`` call: each blob ends on a byte < 128, so the blobs
    back to back are one valid varint stream).  Raises ``ValueError``
    when the count is not ``n.sum()``."""
    vals = varint_decode(_blob_bytes(col)).view(np.int64)
    if vals.size != n.sum():
        raise ValueError(
            f"posting column {name!r} holds {vals.size} values, its rows' n sum to {n.sum()}"
        )
    return vals


def decode_posting_columns(docs, tfs, dls, n) -> tuple[pa.ListArray, pa.ListArray, pa.ListArray]:
    """Posting rows' ``docs``/``tfs``/``dls`` blob columns (binary Arrow
    arrays or chunked arrays) and their posting counts ``n`` -> the same
    rows as ``list<int64>`` docnums and ``list<int32>`` tfs and dls,
    one list per row, the three sharing one offsets array built from
    ``n``.  Each column is decoded in one pass; the docnum gaps are
    undone for all rows at once (a row's first value is absolute, every
    later one is ``gap + 1`` past its predecessor).  Equal, row by row,
    to ``decode_docgaps``/``varint_decode`` of each blob."""
    n = np.asarray(n, dtype=np.int64)
    offsets = np.zeros(n.size + 1, dtype=np.int64)
    np.cumsum(n, out=offsets[1:])
    docnums = _undo_gaps(_row_values(docs, n, "docs"), n)
    list_offsets = pa.array(offsets, pa.int32())
    # a checked cast: a tf or dl past int32 raises (ArrowInvalid, a ValueError)
    return (
        pa.ListArray.from_arrays(list_offsets, pa.array(docnums, pa.int64())),
        *(
            pa.ListArray.from_arrays(list_offsets, pa.array(_row_values(col, n, name), pa.int32()))
            for col, name in ((tfs, "tfs"), (dls, "dls"))
        ),
    )


def decode_positions(buf: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode one row's position blob back to (flat positions,
    posting_starts).  ``tfs`` gives each posting's position count."""
    counts = np.ascontiguousarray(tfs, dtype=np.int64)
    starts = np.zeros(counts.size, dtype=np.int64)
    if counts.size > 1:
        np.cumsum(counts[:-1], out=starts[1:])
    return _undo_gaps(varint_decode(buf).astype(np.int64), counts), starts


def encode_docgaps(docnums: np.ndarray) -> bytes:
    """Gap-encode a strictly-increasing docnum array.

    First value is stored as a delta from -1 (i.e. doc0 itself +0), each
    subsequent as (doc_i - doc_{i-1} - 1); sorted-unique input makes every
    gap >= 0 and typically tiny -> 1-byte varints for dense postings.
    """
    d = np.ascontiguousarray(docnums, dtype=np.int64)
    gaps = np.empty(d.size, dtype=np.uint64)
    if d.size:
        raw = d[1:] - d[:-1] - 1
        if d[0] < 0 or (raw < 0).any():
            # a negative gap (duplicate or unsorted docnum) would wrap
            # through uint64 into a huge varint that decodes into garbage
            # docnums — silent index corruption; loud beats silent
            raise ValueError("encode_docgaps needs strictly-increasing non-negative docnums")
        gaps[0] = np.uint64(d[0])
        gaps[1:] = raw.astype(np.uint64)
    return varint_encode(gaps)


def decode_docgaps(buf: bytes) -> np.ndarray:
    gaps = varint_decode(buf).astype(np.int64)
    if gaps.size == 0:
        return gaps
    gaps[1:] += 1
    return np.cumsum(gaps)
