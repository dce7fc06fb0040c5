"""The Searcher's block cache (``Searcher._blocks``) and the LRU behind
it: the driver-mode leaves keep decoded postings in it (term stats and
per-shard arrays, read-only), read through its decoded row groups on a
miss, and the root doc fetch reads doc-store row groups through it;
warm queries scan and decode nothing new and answer exactly as cold
ones, refresh() keeps still-published splits' entries and drops
merged-away ones, and the byte budget holds under eviction.
Also: footer key bounds cached per file handle prune like a fresh
footer walk."""

from __future__ import annotations

import random

import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions.lru import LRU
from quickwit_spark.operators import search as search_mod
from quickwit_spark.operators.search import Searcher

# ranked shapes (term, conj, disj, negation), the positions scan
# (phrase), and the count-pass-only shapes (sort_by, aggs): every leaf
# path ends in the cached root doc fetch
QUERIES = [
    ("w00001", {}),
    ("w00003 w00007", {}),
    ("w00010 OR w00020", {}),
    ("w00004 -w00001", {}),
    ('"w00001 w00002"~2', {}),
    ("w00005", {"sort_by": "ts_us"}),
    ("w00002", {"aggs": {"roles": {"terms": {"field": "role"}}}}),
]


def _answer(resp):
    return (
        resp.num_hits,
        [(h.split_id, h.docid, h.score, h.doc) for h in resp.hits],
        resp.aggs,
        resp.errors,
    )


def _run_all(s):
    return [_answer(s.search(q, k=10, **kw)) for q, kw in QUERIES]


def test_repeated_queries_decode_no_new_row_group(spark, index_dir):
    s = Searcher(spark, index_dir)
    cold = _run_all(s)
    assert s._blocks.misses > 0 and len(s._blocks) > 0
    misses, hits = s._blocks.misses, s._blocks.hits
    assert _run_all(s) == cold
    assert s._blocks.misses == misses
    assert s._blocks.hits > hits
    # a fresh handle starts empty and reads the disk, with equal answers
    fresh = Searcher(spark, index_dir)
    assert len(fresh._blocks) == 0
    assert _run_all(fresh) == cold


def _postings_keys(s):
    return {k for k in s._blocks._data if k[0].endswith("/postings.parquet")}


def _decoded_kinds(s):
    """The decoded-postings entry kinds held: "term" (a term's shard
    stats) and the blob columns "doc_ids", "tfs", "positions"."""
    return {k[1] for k in _postings_keys(s) if isinstance(k[1], str)}


def test_leaf_postings_reads_go_through_the_block_cache(spark, index_dir):
    s = Searcher(spark, index_dir)
    cold = _run_all(s)
    misses = s._blocks.misses
    assert _run_all(s) == cold
    assert s._blocks.misses == misses
    assert _decoded_kinds(s) == {"term", "doc_ids", "tfs", "positions"}
    assert {k[0].rsplit("/", 1)[1] for k in s._blocks._data} == {
        "postings.parquet", "docs.parquet"
    }


def test_warm_pass_reads_and_decodes_no_postings(
    spark, index_dir, monkeypatch
):
    """Once a pass of QUERIES has run, a second one is answered from the
    decoded entries: no postings scan, no varint decode."""
    from quickwit_spark.functions import parquet_io

    s = Searcher(spark, index_dir)
    cold = _run_all(s)
    calls = []

    def counting(name, real):
        def wrapped(*args, **kwargs):
            calls.append(name)
            return real(*args, **kwargs)
        return wrapped

    real_read = parquet_io.read_pruned

    def read(path, *args, **kwargs):
        if path.endswith("/postings.parquet"):
            calls.append("read_pruned")
        return real_read(path, *args, **kwargs)

    monkeypatch.setattr(parquet_io, "read_pruned", read)
    for name in ("delta_decode", "decode_varint", "decode_positions"):
        monkeypatch.setattr(
            search_mod, name, counting(name, getattr(search_mod, name))
        )
    assert _run_all(s) == cold
    assert calls == []
    # the counting wrappers are live: a fresh handle scans and decodes
    assert _run_all(Searcher(spark, index_dir)) == cold
    assert {"read_pruned", "delta_decode", "decode_varint",
            "decode_positions"} <= set(calls)


def test_doc_fetch_addresses_rows_without_a_scan(
    spark, index_dir, monkeypatch
):
    """The root doc fetch reads hit rows by docid address: no pass over
    QUERIES runs read_pruned on a doc store, and a warm pass runs no
    is_in at all (its postings come from the decoded entries)."""
    import pyarrow.compute as pc

    from quickwit_spark.functions import parquet_io

    calls = []
    real_read, real_is_in = parquet_io.read_pruned, pc.is_in

    def read(path, *args, **kwargs):
        calls.append(("read_pruned", path.rsplit("/", 1)[1]))
        return real_read(path, *args, **kwargs)

    def is_in(*args, **kwargs):
        calls.append(("is_in", None))
        return real_is_in(*args, **kwargs)

    monkeypatch.setattr(parquet_io, "read_pruned", read)
    monkeypatch.setattr(pc, "is_in", is_in)
    s = Searcher(spark, index_dir)
    cold = _run_all(s)
    # the wrappers are live: the cold pass scans postings
    assert ("read_pruned", "postings.parquet") in calls
    assert ("is_in", None) in calls
    assert ("read_pruned", "docs.parquet") not in calls
    calls.clear()
    assert _run_all(s) == cold
    assert calls == []
    assert any(
        k[0].endswith("/docs.parquet") for k in s._blocks._data
    )


def test_positions_entries_only_after_a_phrase(spark, index_dir):
    s = Searcher(spark, index_dir)
    for q, kw in QUERIES:
        if '"' not in q:
            s.search(q, k=10, **kw)
    assert "positions" not in _decoded_kinds(s)
    assert {"term", "doc_ids", "tfs"} <= _decoded_kinds(s)
    s.search('"w00001 w00002"~2', k=10)
    assert "positions" in _decoded_kinds(s)


def test_cached_postings_are_read_only(spark, index_dir):
    """The evaluator hands out views of cached arrays, so an in-place
    write to one must raise instead of corrupting later answers."""
    import numpy as np

    s = Searcher(spark, index_dir)
    want = _run_all(s)
    arrays = [
        v for k, (v, _) in s._blocks._data.items()
        if isinstance(k[1], str) and k[1] != "term"
    ] + [
        a for k, (st, _) in s._blocks._data.items() if k[1:2] == ("term",)
        for a in st.values()
    ]
    assert arrays
    for a in arrays:
        assert isinstance(a, np.ndarray) and not a.flags.writeable
        if a.size:
            with pytest.raises(ValueError):
                a[:1] += 1
            with pytest.raises(ValueError):
                a[: a.size // 2 + 1][0] = 0  # a view of it
    assert _run_all(s) == want


def test_exhaustive_term_queries_read_no_positions(
    spark, index_dir, corpus, monkeypatch
):
    """Only phrases use positions: a term-only query under a time
    window, sort_by or aggs reads no position row group and decodes no
    position blob."""
    import numpy as np
    import pandas as pd

    decoded = []
    real = search_mod.decode_positions

    def counting(buf, counts):
        decoded.append(len(counts))
        return real(buf, counts)

    monkeypatch.setattr(search_mod, "decode_positions", counting)
    ts_us = (pd.to_datetime(corpus["ts"]).astype("int64") // 1000).to_numpy()
    lo, hi = (int(np.quantile(ts_us, f)) for f in (0.25, 0.75))
    s = Searcher(spark, index_dir)
    for q, kw in [
        ("w00001 w00002", {"start_us": lo, "end_us": hi}),
        ("hotterm", {"sort_by": "ts_us"}),
        ("w00002 OR w00003", {"aggs": {"roles": {"terms": {"field": "role"}}}}),
    ]:
        assert s.search(q, k=10, **kw).num_hits > 0, q
    assert decoded == []
    assert "positions" not in _decoded_kinds(s)
    # a phrase on the same path does read and decode them
    assert s.search('"w00001 w00002"~2', k=10, sort_by="ts_us").num_hits > 0
    assert decoded
    assert "positions" in _decoded_kinds(s)


def test_byte_budget_holds_under_eviction(spark, index_dir, monkeypatch):
    big = Searcher(spark, index_dir)
    want = _run_all(big)
    # room for the largest row group, far below the working set
    cap = max(n for _, n in big._blocks._data.values()) + 1
    assert big._blocks.bytes > 2 * cap
    monkeypatch.setattr(search_mod, "_BLOCK_CACHE_MAX_BYTES", cap)
    s = Searcher(spark, index_dir)
    for _ in range(2):
        for (q, kw), ans in zip(QUERIES, want):
            assert _answer(s.search(q, k=10, **kw)) == ans
            assert 0 < s._blocks.bytes <= cap
    # evicted groups were decoded again on the second pass
    assert s._blocks.misses > big._blocks.misses


def test_lru_bytes_never_exceed_cap():
    cap = 1000
    lru = LRU(lambda: cap)
    rng = random.Random(5)
    sizes = {}
    for i in range(500):
        key = rng.randrange(60)
        if rng.random() < 0.5 and lru.get(key) is not None:
            continue
        sizes[key] = rng.randrange(1, 400)
        lru.put(key, f"v{key}", sizes[key])
        assert lru.bytes <= cap
        assert lru.bytes == sum(n for _, n in lru._data.values())
    assert lru.hits + lru.misses > 0
    # eviction order is least-recently USED: a get protects an entry
    lru = LRU(lambda: 3)
    for k in "abc":
        lru.put(k, k, 1)
    assert lru.get("a") == "a"
    lru.put("d", "d", 1)
    assert lru.get("b") is None and lru.get("a") == "a"
    # an entry larger than the whole budget is returned but not kept,
    # and evicts nothing
    assert lru.put("big", "big", 4) == "big" and lru.get("big") is None
    assert lru.bytes == 3
    assert [lru.get(k) for k in "cad"] == ["c", "a", "d"]


def test_lru_counters_survive_thread_contention():
    """Racing get/put/retain from more threads than cores must lose no
    counter update and never break the weight invariant."""
    import sys
    import threading

    cap, n_threads, n_ops = 5000, 12, 3000
    lru = LRU(lambda: cap)

    def worker(seed: int):
        rng = random.Random(seed)
        for i in range(n_ops):
            key = rng.randrange(200)
            if lru.get(key) is None:
                lru.put(key, key, 1 + key % 97)
            if i % 500 == 0:
                lru.retain(lambda k: k % 7)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert lru.hits + lru.misses == n_threads * n_ops
    assert lru.bytes == sum(n for _, n in lru._data.values()) <= cap


def test_refresh_after_merge_drops_merged_away_splits(
    spark, corpus, tmp_path
):
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.merge import run_merge_pipeline

    cfg = IndexConfig(
        hot_term_doc_freq=200, salt_docid_range=64,
        merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
    )
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus), d, cfg, n_splits=4)
    s = Searcher(spark, d)
    before = _run_all(s)
    old_dirs = {s.catalog.split_dir(x.split_id)
                for x in s.catalog.published_splits()}
    was_cached = {k[0].rsplit("/", 1)[0] for k in s._blocks._data}
    assert was_cached and was_cached <= old_dirs

    assert run_merge_pipeline(spark, d) >= 1
    s.refresh()
    live = {s.catalog.split_dir(x.split_id)
            for x in s.catalog.published_splits()}
    gone = old_dirs - live
    assert was_cached & gone, "the merge replaced no cached split"
    cached = {k[0].rsplit("/", 1)[0] for k in s._blocks._data}
    assert cached <= live and not cached & gone
    assert s._blocks.bytes == sum(n for _, n in s._blocks._data.values())

    # the merged index answers like a fresh handle; entries of the
    # (immutable) live splits survive a refresh that changes nothing
    after = _run_all(s)
    assert after == _run_all(Searcher(spark, d))
    assert [a[0] for a in after] == [b[0] for b in before]
    n, misses = len(s._blocks), s._blocks.misses
    s.refresh()
    assert len(s._blocks) == n
    assert _run_all(s) == after and s._blocks.misses == misses


def test_refresh_after_append_keeps_older_postings(spark, corpus, tmp_path):
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.merge import run_merge_pipeline

    cfg = IndexConfig(
        hot_term_doc_freq=200, salt_docid_range=64,
        merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
    )
    d = str(tmp_path / "idx")
    half = len(corpus) // 2
    build_index(spark, spark.createDataFrame(corpus[:half]), d, cfg,
                n_splits=2, ingest_id="b0000")
    s = Searcher(spark, d)
    _run_all(s)
    older = _postings_keys(s)
    assert older

    appended = corpus[half:].copy()
    appended["conv_id"] = "a-" + appended["conv_id"]
    build_index(spark, spark.createDataFrame(appended), d, cfg,
                n_splits=2, ingest_id="b0001")
    s.refresh()
    assert len(s.catalog.published_splits()) == 4
    assert _postings_keys(s) == older
    assert _run_all(s) == _run_all(Searcher(spark, d))
    cached = {k[0].rsplit("/", 1)[0] for k in _postings_keys(s)}
    assert len(cached) == 4

    assert run_merge_pipeline(spark, d) >= 1
    s.refresh()
    live = {s.catalog.split_dir(x.split_id)
            for x in s.catalog.published_splits()}
    kept = {k[0].rsplit("/", 1)[0] for k in _postings_keys(s)}
    gone = cached - live
    assert gone, "the merge replaced no cached split"
    assert kept == cached & live


@pytest.mark.parametrize("kind", ["postings", "docs", "term_stats"])
def test_read_pruned_cached_key_bounds_equal_full_scan(
    index_dir, tmp_path, kind
):
    """Row-group selection from the bounds cached on the file handle
    answers like a full scan + filter, on the index's own files and on
    an eight-group copy of each, for the first read (bounds built) and
    the repeat (bounds cached)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from quickwit_spark.functions import fs as fsio
    from quickwit_spark.functions.parquet_io import read_pruned
    from quickwit_spark.plans.catalog import Catalog

    from quickwit_spark.operators import stats

    cat = Catalog.load(index_dir)
    split_dir = cat.split_dir(cat.published_splits()[0].split_id)
    stats_dir = stats._shard_dir(cat.term_stats_path())
    src, key = {
        "postings": (fsio.join(split_dir, "postings.parquet"), "term"),
        "docs": (fsio.join(split_dir, "docs.parquet"), "docid"),
        # the artifact's first part (the driver refresh writes one)
        "term_stats": (fsio.join(
            stats_dir, stats._load_manifest(stats_dir)["parts"][0]["part"]
        ), "term"),
    }[kind]
    full = pq.read_table(src)
    multi = str(tmp_path / "multi.parquet")
    pq.write_table(full, multi, row_group_size=-(-len(full) // 8))
    assert pq.ParquetFile(multi).metadata.num_row_groups == 8
    keys = full.column(key).to_pylist()
    top = max(keys)
    value_sets = [
        [keys[0], keys[len(keys) // 2]],
        [top + ("~" if isinstance(top, str) else 1)],  # matches no group
        keys[:: len(keys) // 16] + [top],  # spans every group
    ]
    for path in (src, multi):
        for vals in value_sets:
            want = full.filter(pc.is_in(full.column(key), value_set=pa.array(vals)))
            for _ in range(2):
                assert read_pruned(path, None, key, vals).equals(want)
        assert key in fsio.parquet_file_cached(path)._bounds


@pytest.mark.parametrize("cols", [None, ["field", "term", "df"]])
def test_read_pruned_cached_equals_uncached(index_dir, cols):
    from quickwit_spark.functions import fs as fsio
    from quickwit_spark.functions.parquet_io import read_pruned
    from quickwit_spark.plans.catalog import Catalog

    cat = Catalog.load(index_dir)
    path = fsio.join(cat.split_dir(cat.published_splits()[0].split_id),
                     "postings.parquet")
    terms = ["w00001", "w00400", "zzz_not_a_term"]
    lru = LRU(lambda: 1 << 30)
    want = read_pruned(path, cols, "term", terms)
    for _ in range(2):
        assert read_pruned(path, cols, "term", terms, lru).equals(want)
    assert lru.misses == len(lru) and lru.hits == len(lru)


def test_read_pruned_partly_cached_keeps_group_order(tmp_path):
    """Cached and freshly read row groups mix back in file order, and
    the missing groups' slices are cached one group per entry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickwit_spark.functions.parquet_io import read_pruned

    path = str(tmp_path / "t.parquet")
    # sorted keys, 10 rows a group: 0, 7, 13 and 19 live in groups
    # 0, 2, 3+4 and 5
    keys = [i // 3 for i in range(60)]
    pq.write_table(
        pa.table({"k": keys, "v": [f"v{i}" for i in range(60)]}), path,
        row_group_size=10,
    )
    lru = LRU(lambda: 1 << 30)
    read_pruned(path, ["v"], "k", [7], lru)  # warms group 2 only
    assert len(lru) == 1
    want = read_pruned(path, ["v"], "k", [0, 7, 13, 19])
    assert want.column("v").to_pylist()[:3] == ["v0", "v1", "v2"]
    got = read_pruned(path, ["v"], "k", [0, 7, 13, 19], lru)
    assert got.equals(want)
    assert lru.hits == 1 and len(lru) == 5
    assert lru.bytes == sum(n for _, n in lru._data.values())
    assert read_pruned(path, ["v"], "k", [0, 7, 13, 19], lru).equals(want)
    assert lru.hits == 6
