"""Round-trip + property tests for the delta+varint posting codec."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from quickwit_spark.functions.codec import (
    decode_positions,
    decode_varint,
    delta_decode,
    delta_encode,
    encode_positions,
    encode_varint,
)


def test_varint_simple():
    vals = np.array([0, 1, 127, 128, 300, 2**21, 2**63], dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(vals)), vals)


def test_varint_empty():
    assert encode_varint(np.array([], dtype=np.uint64)) == b""
    assert decode_varint(b"").size == 0


def test_varint_known_bytes():
    # LEB128: 300 = 0b10101100 0b00000010
    assert encode_varint(np.array([300], dtype=np.uint64)) == bytes([0xAC, 0x02])
    assert encode_varint(np.array([1], dtype=np.uint64)) == bytes([0x01])


def test_varint_ten_byte_values():
    # 2**64-1 takes ten LEB128 bytes; its tenth byte carries bit 63 only
    vals = np.array([2**64 - 1, 0, 2**63, 2**64 - 2, 1], dtype=np.uint64)
    buf = encode_varint(vals)
    assert len(buf) == 10 + 1 + 10 + 10 + 1
    got = decode_varint(buf)
    assert got.dtype == np.uint64
    assert np.array_equal(got, vals)


def test_varint_all_single_byte_blob():
    vals = np.arange(128, dtype=np.uint64)
    buf = encode_varint(vals)
    assert len(buf) == vals.size
    got = decode_varint(buf)
    assert got.dtype == np.uint64
    assert np.array_equal(got, vals)


def test_varint_decode_dtype():
    for vals in ([], [5], [300], [1, 2**40, 3]):
        got = decode_varint(encode_varint(np.array(vals, dtype=np.uint64)))
        assert got.dtype == np.uint64
        assert got.tolist() == vals


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500)
)
@settings(max_examples=100, deadline=None)
def test_varint_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(vals)), vals)


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300)
)
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip_property(xs):
    vals = np.array(sorted(xs), dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(vals)), vals)


def test_positions_roundtrip():
    # three docs with per-doc increasing positions
    pos = np.array([3, 9, 14, 0, 2, 7], dtype=np.uint64)
    counts = np.array([3, 1, 2])
    buf = encode_positions(pos, counts)
    assert np.array_equal(decode_positions(buf, counts), pos)


@given(
    st.lists(
        st.lists(st.integers(0, 10_000), min_size=1, max_size=20).map(
            lambda l: sorted(set(l))
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=100, deadline=None)
def test_positions_roundtrip_property(doclists):
    pos = np.array([p for dl in doclists for p in dl], dtype=np.uint64)
    counts = np.array([len(dl) for dl in doclists])
    assert np.array_equal(decode_positions(encode_positions(pos, counts), counts), pos)


class TestReadPruned:
    """functions/parquet_io.read_pruned: stats-pruned point reads must
    be value-identical to a full-scan filter, touch only matching row
    groups, and handle no-stats / no-match / key-not-in-columns."""

    @staticmethod
    def _write(tmp_path, n=10_000, rg=512):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pa.table({
            "k": np.arange(n, dtype=np.int64),
            "term": [f"t{i // 7:05d}" for i in range(n)],
            "v": np.arange(n, dtype=np.int64) * 3,
        })
        p = str(tmp_path / "t.parquet")
        pq.write_table(t, p, row_group_size=rg)
        return p

    def test_int_key_equivalence(self, tmp_path):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from quickwit_spark.functions.parquet_io import read_pruned

        p = self._write(tmp_path)
        ids = [0, 511, 512, 4999, 9999, 12345]  # incl. out-of-range
        got = read_pruned(p, ["v"], "k", ids)
        full = pq.read_table(p)
        import pyarrow as pa

        want = full.filter(pc.is_in(full.column("k"), value_set=pa.array(ids)))
        assert got.column("v").to_pylist() == want.column("v").to_pylist()
        assert got.column_names == ["v"]  # key col dropped when not asked

    def test_string_key_and_group_pruning(self, tmp_path):
        import pyarrow.parquet as pq

        from quickwit_spark.functions.parquet_io import read_pruned

        p = self._write(tmp_path)
        got = read_pruned(p, None, "term", ["t00001", "t01000"])
        assert sorted(set(got.column("term").to_pylist())) == ["t00001", "t01000"]
        assert len(got) == 14
        # no match -> empty table with the right schema
        empty = read_pruned(p, ["k", "v"], "term", ["zzz"])
        assert len(empty) == 0 and empty.column_names == ["k", "v"]
        # sanity: pruning actually skips groups (read fewer rows than file)
        pf = pq.ParquetFile(p)
        assert pf.metadata.num_row_groups > 10


def test_splice_first_varints_equals_scalar_loop():
    """Bulk splice == per-row replace_first_varint on random blobs
    (random head magnitudes exercise every varint length 1..10,
    including growing and shrinking heads)."""
    import numpy as np

    from quickwit_spark.functions.codec import (
        encode_varint,
        replace_first_varint,
        splice_first_varints,
    )

    rng = np.random.default_rng(7)
    blobs, new_vals = [], []
    for _ in range(3000):
        bits_old = int(rng.integers(0, 63))
        bits_new = int(rng.integers(0, 63))
        head = int(rng.integers(0, 2 ** bits_old + 1))
        body = rng.integers(0, 256, int(rng.integers(0, 40))).astype("u1").tobytes()
        blobs.append(encode_varint(np.array([head], dtype=np.uint64)) + body)
        new_vals.append(int(rng.integers(0, 2 ** bits_new + 1)))
    buf, offs = splice_first_varints(blobs, np.array(new_vals, dtype=np.int64))
    mv = memoryview(buf)
    for r, (b, v) in enumerate(zip(blobs, new_vals)):
        assert bytes(mv[offs[r]:offs[r + 1]]) == replace_first_varint(b, v), r
    # empty input
    ebuf, eoffs = splice_first_varints([], np.empty(0, dtype=np.int64))
    assert ebuf.size == 0 and list(eoffs) == [0]


def test_grouped_encode_chunks_at_the_binary_limit(monkeypatch):
    """A blob past the Arrow binary limit (int32 offsets) is cut into
    chunks at group boundaries; with the limit patched small, the
    chunked output decodes to the same per-group blobs as one chunk."""
    import pyarrow as pa

    from quickwit_spark.functions import codec

    rng = np.random.default_rng(11)
    vals = np.cumsum(rng.integers(0, 300, size=2000)).astype(np.uint64)
    resets = np.sort(rng.choice(np.arange(1, 2000), 300, replace=False))
    resets = np.concatenate(([0], resets))
    slices = resets[::3]
    whole = codec.grouped_delta_encode(vals, resets, slices, delta=True)
    assert whole.num_chunks == 1
    limit = 256
    monkeypatch.setattr(codec, "_BINARY_CHUNK_BYTES", limit)
    chunked = codec.grouped_delta_encode(vals, resets, slices, delta=True)
    assert chunked.type == pa.binary() and chunked.num_chunks > 1
    for c in chunked.chunks:
        assert sum(len(b) for b in c.to_pylist()) <= limit
    assert chunked.to_pylist() == whole.to_pylist()
    # the blobs still decode: per-slice delta chains over the values
    blobs = chunked.to_pylist()
    bounds = np.append(slices, vals.size)
    for i, b in enumerate(blobs):
        seg = vals[bounds[i]:bounds[i + 1]]
        heads = resets[(resets >= bounds[i]) & (resets < bounds[i + 1])] - bounds[i]
        want = np.diff(seg, prepend=np.uint64(0))
        want[heads] = seg[heads]
        assert np.array_equal(decode_varint(b), want)
    # a single group over the limit cannot be represented
    monkeypatch.setattr(codec, "_BINARY_CHUNK_BYTES", 2)
    with pytest.raises(ValueError):
        codec.grouped_delta_encode(np.array([300, 1], np.uint64), np.array([0]))
