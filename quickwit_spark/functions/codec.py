"""Delta + varint (LEB128) posting-list codec, numpy-vectorized.

The reference's posting lists are delta + bitpacked inside tantivy
(public knowledge; invoked from quickwit-indexing/src/actors/indexer.rs:277-280).
We keep the same information content — (docid delta, term-freq,
positions delta) — but use LEB128 varints, which vectorize cleanly in
numpy for both encode (build path) and decode (query kernel hot path).

All functions operate on uint64 numpy arrays; no per-element Python.
The build path's grouped encoder hands its per-row blobs over as an
Arrow binary array built on the encoded buffer.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_MASKS = [np.uint64(0x7F) << np.uint64(7 * j) for j in range(10)]


def _encode_varint_parts(values) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized LEB128 core: returns (byte buffer, per-value byte
    counts, per-value offsets of size n+1)."""
    v = np.asarray(values, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    for j in range(1, 10):
        step = v >= (np.uint64(1) << np.uint64(7 * j))
        if not step.any():
            break
        nbytes += step
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        payload = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > j + 1).astype(np.uint8) << 7
        out[offsets[:-1][mask] + j] = payload | cont
    return out, nbytes, offsets


def encode_varint(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints to one bytes blob."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    return _encode_varint_parts(v)[0].tobytes()


def decode_varint(buf: bytes) -> np.ndarray:
    """Decode a LEB128 blob back to a uint64 array. A value's 7-bit
    groups occupy disjoint bits, so summing them per value
    (``np.add.reduceat``) equals OR-ing them; a blob of single-byte
    values needs no reassembly at all."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64)
    if arr.max() < 0x80:
        return arr.astype(np.uint64)
    ends = np.flatnonzero(arr < 0x80)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    within = np.arange(arr.size, dtype=np.int64) - np.repeat(
        starts, ends - starts + 1
    )
    payload = (arr & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * within.astype(np.uint64)
    )
    return np.add.reduceat(payload, starts)


# An Arrow binary array addresses its data with int32 offsets, so one
# array holds less than 2 GiB of blob bytes: the format's limit.
_BINARY_CHUNK_BYTES = 2**31 - 1


def grouped_delta_encode(
    values: np.ndarray,
    reset_starts: np.ndarray,
    slice_starts: np.ndarray | None = None,
    delta: bool = True,
):
    """Encode ``values`` as ONE vectorized varint pass, with the delta
    chain reset at each ``reset_starts`` index (absolute value stored at
    each reset head), then cut the blob into per-group binary values at
    ``slice_starts`` (defaults to the reset points).

    This is the build-path hot loop: instead of encoding each term's
    posting list separately (a Python loop of ~vocab-size small numpy
    calls), we encode the whole exploded token table at once and slice.
    ``slice_starts`` must be a subset of ``reset_starts`` (a slice head
    is always a fresh delta chain), e.g. positions reset per doc but are
    sliced per posting-row.

    Returns a ``pa.ChunkedArray`` of ``binary``, one value per group:
    each chunk is built zero-copy over the encoded blob and its int32
    slice offsets, and a new chunk starts at the group boundary where
    the bytes would pass ``_BINARY_CHUNK_BYTES``.
    """
    v = np.asarray(values, dtype=np.uint64)
    resets = np.asarray(reset_starts, dtype=np.int64)
    starts = resets if slice_starts is None else np.asarray(slice_starts, dtype=np.int64)
    if delta and v.size:
        deltas = np.empty_like(v)
        deltas[0] = v[0]
        np.subtract(v[1:], v[:-1], out=deltas[1:])
        deltas[resets] = v[resets]
    else:
        deltas = v
    blob, _, offsets = _encode_varint_parts(deltas)
    bounds = np.append(offsets[starts], offsets[-1])
    chunks = []
    row = 0
    while row < starts.size:
        end = int(np.searchsorted(
            bounds, bounds[row] + _BINARY_CHUNK_BYTES, side="right"
        )) - 1
        if end == row:
            raise ValueError("one posting row's blob exceeds the Arrow binary limit")
        base = int(bounds[row])
        chunks.append(pa.Array.from_buffers(
            pa.binary(), end - row,
            [None, pa.py_buffer((bounds[row:end + 1] - base).astype(np.int32)),
             pa.py_buffer(blob[base:int(bounds[end])])],
        ))
        row = end
    return pa.chunked_array(chunks, pa.binary())


def read_first_varint(blob: bytes) -> tuple[int, int]:
    """Decode the first LEB128 value; returns (value, encoded_length)."""
    value = 0
    shift = 0
    for i, byte in enumerate(blob):
        value |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return value, i + 1
        shift += 7
    raise ValueError("truncated varint")


def replace_first_varint(blob: bytes, new_value: int) -> bytes:
    """Rewrite the leading varint of ``blob`` — the O(1) merge splice:
    a delta-encoded posting row only stores ONE absolute value (its
    head), so renumbering a whole row under a docid offset, or turning
    an absolute head into a delta from the previous row's tail when
    coalescing rows, is a single-varint patch."""
    _, n = read_first_varint(blob)
    out = bytearray()
    v = int(new_value)
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            break
    return bytes(out) + blob[n:]


def splice_first_varints(
    blobs, new_values
) -> tuple[np.ndarray, np.ndarray]:
    """Bulk :func:`replace_first_varint` over n blobs at numpy speed —
    the merge executor's head splice vectorized (a 2M-row merge op
    spent ~12 s in the per-blob loop; this does the same work in a few
    hundred ms of buffer passes).

    Returns ``(buf, offsets)`` where
    ``buf[offsets[r]:offsets[r+1]].tobytes() ==
    replace_first_varint(blobs[r], new_values[r])``.
    """
    n = len(blobs)
    if n == 0:
        return np.empty(0, np.uint8), np.zeros(1, np.int64)
    lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=n)
    offs = np.concatenate(([0], np.cumsum(lens)))
    joined = b"".join(blobs)
    buf = np.frombuffer(joined, dtype=np.uint8)
    starts = offs[:-1]

    # old head length per blob: first byte with the high bit clear
    hl = np.zeros(n, dtype=np.int64)
    pending = np.arange(n)
    for k in range(10):
        if pending.size == 0:
            break
        last = buf[starts[pending] + k] < 0x80
        hl[pending[last]] = k + 1
        pending = pending[~last]
    if pending.size:
        raise ValueError("truncated varint")

    head_buf, head_len, head_offs = _encode_varint_parts(new_values)

    body_len = lens - hl
    piece = head_len + body_len
    out_offs = np.concatenate(([0], np.cumsum(piece)))
    out = np.empty(int(out_offs[-1]), dtype=np.uint8)

    # scatter the new head bytes (≤10 vector passes)
    for j in range(10):
        mask = head_len > j
        if not mask.any():
            break
        out[out_offs[:-1][mask] + j] = head_buf[head_offs[:-1][mask] + j]

    # bodies: one memoryview memcpy per row — moves only the real
    # bytes, unlike an index-array gather which pays 16 B of int64
    # indexes per body byte (measured: mv copies 0.62 µs/row vs 0.95
    # for the gather and 1.9 for per-row replace_first_varint)
    src_mv = memoryview(joined)
    out_mv = memoryview(out)
    s0 = (starts + hl).tolist()
    d0 = (out_offs[:-1] + head_len).tolist()
    bl = body_len.tolist()
    for r in range(n):
        ln = bl[r]
        d = d0[r]
        s = s0[r]
        out_mv[d:d + ln] = src_mv[s:s + ln]
    return out, out_offs


def delta_encode(sorted_values: np.ndarray) -> bytes:
    """Varint-encode first value + successive deltas of a sorted array."""
    v = np.asarray(sorted_values, dtype=np.uint64)
    if v.size == 0:
        return b""
    deltas = np.empty_like(v)
    deltas[0] = v[0]
    np.subtract(v[1:], v[:-1], out=deltas[1:])
    return encode_varint(deltas)


def delta_decode(buf: bytes) -> np.ndarray:
    deltas = decode_varint(buf)
    if deltas.size == 0:
        return deltas
    return np.cumsum(deltas, dtype=np.uint64)


def encode_positions(positions_concat: np.ndarray, counts: np.ndarray) -> bytes:
    """Encode per-doc position lists (concatenated) with per-doc delta reset.

    ``counts[i]`` = number of positions for doc i (== its term-freq);
    positions within a doc are strictly increasing.
    """
    p = np.asarray(positions_concat, dtype=np.uint64)
    if p.size == 0:
        return b""
    deltas = np.empty_like(p)
    deltas[0] = p[0]
    np.subtract(p[1:], p[:-1], out=deltas[1:])
    # reset delta at each doc boundary (store absolute first position)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1])).astype(np.int64)
    deltas[starts] = p[starts]
    return encode_varint(deltas)


def decode_positions(buf: bytes, counts: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions`; returns the concatenated array."""
    deltas = decode_varint(buf)
    if deltas.size == 0:
        return deltas
    counts = np.asarray(counts, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    # segmented cumsum: cumsum all, then subtract the carried prefix per
    # doc (cs is nondecreasing, so forward-fill via maximum.accumulate)
    cs = np.cumsum(deltas, dtype=np.uint64)
    prefix = np.zeros_like(cs)
    prefix[starts[1:]] = cs[starts[1:] - 1]
    np.maximum.accumulate(prefix, out=prefix)
    return cs - prefix
