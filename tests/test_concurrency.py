"""Concurrent serving: many client threads sharing one Searcher (and
the live HTTP server) must return bit-identical results with no
errors. This exercises the thread-safety of the caches — fs._PF_CACHE's
per-handle read locks (ADVICE r3 #1), the fast-field LRU and the shared
Searcher's decoded row-group LRU, which every caller's leaves and doc
fetch read through from the caller's own thread — under real parallel
load with cold caches, the situation a ThreadingHTTPServer creates in
production. A driver-mode search itself starts no thread."""

from __future__ import annotations

import concurrent.futures as cf
import json
import random
import threading
import urllib.request

import pytest

from quickwit_spark.api import Index
from quickwit_spark.config import IndexConfig


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("conc") / "idx")
    idx = Index.create(
        spark, d, IndexConfig(hot_term_doc_freq=200, salt_docid_range=64)
    )
    idx.ingest(spark.createDataFrame(corpus), n_splits=4)
    return idx


QUERIES = [
    "w00001",
    "w00003 w00007",
    "w00010 OR w00020",
    '"w00001 w00002"~2',
    "hotterm",
    "w00004 -w00001",
]

N_THREADS = 16
ROUNDS_PER_THREAD = 6


def _clear_process_caches(searcher):
    """Force cold parquet-handle / fast-field opens and row-group
    decodes so threads race on cache population, not just on cached
    reads."""
    from quickwit_spark.functions import fs
    from quickwit_spark.operators import search

    fs._PF_CACHE.clear()
    search._FAST_CACHE.clear()
    searcher._blocks.clear()


def _key(resp):
    return tuple((h.split_id, h.docid, round(h.score, 9)) for h in resp.hits)


def test_concurrent_searches_bit_identical(searcher):
    ref = {q: _key(searcher.search(q, k=10)) for q in QUERIES}
    assert all(len(v) for v in ref.values())
    _clear_process_caches(searcher)

    def worker(seed: int):
        rng = random.Random(seed)
        out = []
        for _ in range(ROUNDS_PER_THREAD):
            q = rng.choice(QUERIES)
            resp = searcher.search(q, k=10)
            assert resp.errors == [], resp.errors
            out.append((q, _key(resp)))
        return out

    with cf.ThreadPoolExecutor(max_workers=N_THREADS) as pool:
        results = [f.result() for f in
                   [pool.submit(worker, i) for i in range(N_THREADS)]]
    for per_thread in results:
        for q, key in per_thread:
            assert key == ref[q], q
    # the racing callers filled ONE cache with postings and doc groups
    names = {k[0].rsplit("/", 1)[1] for k in searcher._blocks._data}
    assert names == {"postings.parquet", "docs.parquet"}


def test_driver_search_starts_no_thread(spark, index_dir):
    """Driver-mode leaves and the root doc fetch run in the calling
    thread: a fresh Searcher's searches leave the set of live threads
    as it was (a first search on another, still referenced handle warms
    process-wide state)."""
    from quickwit_spark.operators.search import Searcher

    warm = Searcher(spark, index_dir)
    warm.search(QUERIES[0], k=10)
    before = set(threading.enumerate())
    s = Searcher(spark, index_dir)
    for q in QUERIES:
        resp = s.search(q, k=10, mode="driver")
        assert resp.errors == [] and resp.hits, q
    assert set(threading.enumerate()) == before


def test_concurrent_http_requests(index):
    """Parallel clients against the ThreadingHTTPServer: every response
    is 200 with the same num_hits + hit ids as the single-client
    answer."""
    from quickwit_spark.serve import serve

    srv, _t = serve({"transcripts": index})
    port = srv.server_address[1]
    base = f"http://127.0.0.1:{port}/api/v1/transcripts"

    def get(q):
        url = f"{base}/search?query={q}&max_hits=10"
        with urllib.request.urlopen(url, timeout=120) as r:
            assert r.status == 200
            return json.loads(r.read().decode())

    try:
        ref = {q: get(q.replace(" ", "%20").replace('"', "%22"))
               for q in ("w00001", "w00003%20w00007", "hotterm")}
        _clear_process_caches(index.searcher())

        def worker(seed: int):
            rng = random.Random(seed)
            for _ in range(4):
                q = rng.choice(list(ref))
                got = get(q)
                assert got["num_hits"] == ref[q]["num_hits"]
                assert [h["doc_id"] for h in got["hits"]] == [
                    h["doc_id"] for h in ref[q]["hits"]
                ]

        with cf.ThreadPoolExecutor(max_workers=12) as pool:
            for f in [pool.submit(worker, i) for i in range(12)]:
                f.result()
    finally:
        srv.shutdown()
