"""The Searcher's decoded row-group cache (``Searcher._blocks``) and the
LRU behind it: warm queries decode nothing new and answer exactly as
cold ones, refresh() drops merged-away splits, and the byte budget
holds under eviction."""

from __future__ import annotations

import random

import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions.lru import LRU
from quickwit_spark.operators import search as search_mod
from quickwit_spark.operators.search import Searcher

# WAND (term, conj, disj, negation), the positions scan (phrase), and
# the exhaustive evaluator (sort_by, aggs): every evaluator path ends
# in the cached root doc fetch
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
