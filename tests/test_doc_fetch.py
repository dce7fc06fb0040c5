"""The root doc fetch addresses the doc store by docid: a docid is its
row number, so each hit's payload is read from (row group, row) of the
split's docs.parquet. Checked on a split of several row groups, with
hits that span groups and arrive out of docid order, against a plain
read of the file; and a doc store whose rows are out of docid order
drops its split's hits with an error instead of answering with another
doc's payload. Also: the leaf's fast fields are decoded once per docs
path, while aggregations read the stored int column. Spark-free:
single-file driver builds, driver-mode searches."""

from __future__ import annotations

import json
import logging

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from quickwit_spark.functions import fs as fsio
from quickwit_spark.operators import build as qb
from quickwit_spark.operators import search as search_mod
from quickwit_spark.operators.search import Searcher
from quickwit_spark.plans.catalog import Catalog
from quickwit_spark.sources.transcripts import generate_transcripts

# ranked (hits in score order, so out of docid order), sorted, and a
# phrase; "w00001" and the hot term match docs in every row group
QUERIES = [
    ("w00001", {}),
    ("w00002 OR w00003", {}),
    ("hotterm -w00001", {}),
    ('"w00001 w00002"~2', {}),
    ("w00004", {"sort_by": "ts_us", "sort_desc": False}),
]


def _build(path, n_turns, n_splits, seed=7):
    src = pa.Table.from_pandas(
        generate_transcripts(n_turns, seed=seed, hot_term_frac=0.2),
        preserve_index=False,
    )
    pq.write_table(src, f"{path}/src.parquet", coerce_timestamps="us")
    qb.build_index(None, f"{path}/src.parquet", f"{path}/index",
                   n_splits=n_splits)
    return f"{path}/index"


def _docs_path(index_dir, split_id):
    return fsio.join(Catalog.load(index_dir).split_dir(split_id), qb.DOCS_FILE)


def _stored_docs(path):
    """{docid: the row as the fetch returns it}, from a plain read."""
    rows = pq.read_table(path).to_pylist()
    return {
        r.pop("docid"): json.loads(json.dumps(
            {c: v for c, v in r.items() if c not in ("ts_us", "doc_len")},
            default=str,
        ))
        for r in rows
    }


@pytest.fixture(scope="module")
def big_split(tmp_path_factory):
    """One unmerged 20k-turn split: its doc store has 3 row groups."""
    return _build(str(tmp_path_factory.mktemp("fetch")), 20_000, 1)


def test_the_doc_store_has_several_row_groups(big_split):
    (split,) = Catalog.load(big_split).published_splits()
    path = _docs_path(big_split, split.split_id)
    assert pq.ParquetFile(path).metadata.num_row_groups >= 3
    starts = fsio.parquet_file_cached(path).row_starts()
    assert starts[0] == 0 and starts[-1] == split.num_docs
    assert not starts.flags.writeable


@pytest.mark.parametrize("k", [1, 10, 1000])
def test_every_doc_is_the_row_with_its_docid(big_split, k):
    (split,) = Catalog.load(big_split).published_splits()
    path = _docs_path(big_split, split.split_id)
    want = _stored_docs(path)
    starts = fsio.parquet_file_cached(path).row_starts()
    s = Searcher(None, big_split)
    spans, unordered = set(), False
    for q, kw in QUERIES:
        for _ in range(2):  # cold, then from the cached row groups
            resp = s.search(q, k=k, **kw)
            assert resp.errors == [] and resp.hits, q
            ids = [h.docid for h in resp.hits]
            assert all(h.doc == want[h.docid] for h in resp.hits), q
        spans.update(int((starts <= d).sum()) - 1 for d in ids)
        unordered |= ids != sorted(ids)
    if k > 1:
        assert len(spans) >= 3 and unordered


def test_doc_store_out_of_docid_order_drops_the_split(tmp_path, caplog):
    index_dir = _build(str(tmp_path), 4_000, 2)
    # every match is a hit, so both swapped rows are fetched whatever
    # their scores become
    healthy = Searcher(None, index_dir).search("w00001", k=10_000)
    assert healthy.errors == [] and len(healthy.hits) == healthy.num_hits > 2
    victim = healthy.hits[0].split_id
    a, b = sorted(h.docid for h in healthy.hits if h.split_id == victim)[:2]

    # swap two rows of the victim's doc store, docid column included
    path = _docs_path(index_dir, victim)
    docs = pq.read_table(path)
    order = list(range(docs.num_rows))
    order[a], order[b] = b, a
    pq.write_table(docs.take(order), path, row_group_size=8192)
    fsio._PF_CACHE.clear()
    search_mod._FAST_CACHE.clear()

    s = Searcher(None, index_dir)
    with caplog.at_level(logging.WARNING, logger=search_mod.__name__):
        for _ in range(2):
            resp = s.search("w00001", k=10_000)
            assert len(resp.errors) == 1
            assert victim in resp.errors[0] and "doc fetch" in resp.errors[0]
            assert "docid order" in resp.errors[0]
            assert resp.hits and all(h.split_id != victim for h in resp.hits)
            assert all(h.doc is not None for h in resp.hits)
    warned = [r for r in caplog.records if r.name == search_mod.__name__]
    assert len(warned) == 1 and victim in warned[0].getMessage()


def test_fast_fields_decoded_once_aggs_read_the_stored_column(big_split):
    (split,) = Catalog.load(big_split).published_splits()
    path = _docs_path(big_split, split.split_id)
    s = Searcher(None, big_split)
    resp = s.search(
        "w00001", k=0, aggs={"lens": {"terms": {"field": "doc_len"}}}
    )
    keys = [b["key"] for b in resp.aggs["lens"]["buckets"]]
    assert keys and all(k.isdigit() for k in keys)  # "12", not "12.0"
    doc_len = search_mod._fast_array_cached(path, "doc_len", "f8")
    ts_us = search_mod._fast_array_cached(path, "ts_us", "i8")
    assert (doc_len.dtype, ts_us.dtype) == ("float64", "int64")
    assert not doc_len.flags.writeable and not ts_us.flags.writeable
    stored = pq.read_table(path, columns=["doc_len", "ts_us"])
    assert (doc_len == stored.column("doc_len").to_numpy()).all()
    assert (ts_us == stored.column("ts_us").to_numpy()).all()
    # the same arrays answer every later query
    s.search("w00002", k=10)
    assert search_mod._fast_array_cached(path, "doc_len", "f8") is doc_len
