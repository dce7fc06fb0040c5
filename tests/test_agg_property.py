"""Property test: the partial→final aggregation merge is
SPLIT-INVARIANT — any partitioning of the corpus into splits produces
the same final buckets, doc counts, and sub-agg stats as a single
split (the reference's IntermediateAggregationResults/merge_fruits
contract, collector.rs:214-221). Pure numpy: exercises
operators/search._partial_agg + _final_agg directly, no Spark."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from quickwit_spark.operators.search import _final_agg, _partial_agg, _terms_column

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-40, max_value=40),  # bucketed value
        st.integers(min_value=-100, max_value=100),  # sub-agg value
        st.integers(min_value=0, max_value=3),  # split assignment
    ),
    min_size=1,
    max_size=150,
)


def _run(kind, params, rows):
    """(single-split answer, answer over the rows' split assignment).
    Each split decodes its own column, as each split's leaf does."""

    def partial(idx):
        vals = np.array([rows[i][0] for i in idx], dtype=np.int64)
        sv = np.array([rows[i][1] for i in idx], dtype=np.float64)
        col = (
            _terms_column(pa.chunked_array([pa.array(vals)]))
            if kind == "terms" else vals.astype(np.float64)
        )
        return _partial_agg(kind, params, col, np.arange(len(idx)), sv)

    single = _final_agg(kind, params, partial(range(len(rows))))
    parts = []
    for k in range(4):
        idx = [i for i, (_, _, sp) in enumerate(rows) if sp == k]
        if idx:
            parts += partial(idx)
    return single, _final_agg(kind, params, parts)


@settings(max_examples=60, deadline=None)
@given(rows=ROWS, interval=st.sampled_from([1.0, 2.5, 7.0]),
       off=st.sampled_from([0.0, 0.5]), sub_kind=st.sampled_from(["stats", "avg"]))
def test_histogram_subagg_merge_split_invariant(rows, interval, off, sub_kind):
    params = {
        "interval": interval, "offset": off, "field": "v",
        "stats_field": "sf", "sub_name": "st", "sub_kind": sub_kind,
    }
    single, merged = _run("histogram", params, rows)
    assert single == merged
    # sanity: totals add up
    assert sum(b["doc_count"] for b in merged["buckets"]) == len(rows)


@settings(max_examples=60, deadline=None)
@given(rows=ROWS, split_at=st.integers(min_value=-20, max_value=20),
       sub_kind=st.sampled_from(["stats", "avg"]))
def test_range_subagg_merge_split_invariant(rows, split_at, sub_kind):
    params = {
        "field": "v", "ranges": [
            {"to": float(split_at)}, {"from": float(split_at)},
        ],
        "stats_field": "sf", "sub_name": "st", "sub_kind": sub_kind,
    }
    single, merged = _run("range", params, rows)
    assert single == merged
    assert sum(b["doc_count"] for b in merged["buckets"]) == len(rows)


@settings(max_examples=60, deadline=None)
@given(rows=ROWS, order=st.sampled_from(
           [{"_count": "desc"}, {"_key": "asc"}, {"st.sum": "desc"},
            {"st.min": "asc"}]),
       sub_kind=st.sampled_from(["stats", None]))
def test_terms_merge_split_invariant(rows, order, sub_kind):
    """Without a split_size cut (split_size past the cardinality), the
    terms buckets, their order and sub-agg stats do not depend on the
    split assignment."""
    params = {"field": "v", "size": 100, "split_size": 1000, "order": order}
    if sub_kind is None:
        params["order"] = {"_count": "desc"}
    else:
        params.update(stats_field="sf", sub_name="st", sub_kind=sub_kind)
    single, merged = _run("terms", params, rows)
    assert single == merged
    assert sum(b["doc_count"] for b in merged["buckets"]) == len(rows)
    assert merged["sum_other_doc_count"] == 0


def test_overlapping_ranges_and_keyed_rejected():
    """aggregation.md Limitations: overlapping ranges and the ES
    `keyed` parameter are not supported — rejected at request
    validation, no Spark needed."""
    import pytest

    from quickwit_spark.operators.search import _normalize_aggs

    ok = {"r": {"range": {"field": "v", "ranges": [
        {"to": 10.0}, {"from": 10.0, "to": 20.0}, {"from": 20.0}]}}}
    assert _normalize_aggs(ok)["r"]["range"]["ranges"][0] == {"to": 10.0}
    bad = {"r": {"range": {"field": "v", "ranges": [
        {"to": 15.0}, {"from": 10.0}]}}}
    with pytest.raises(ValueError, match="overlapping ranges"):
        _normalize_aggs(bad)
    for kind, params in [
        ("range", {"field": "v", "ranges": [{"to": 1.0}], "keyed": True}),
        ("terms", {"field": "v", "keyed": True}),
        ("histogram", {"field": "v", "interval": 1.0, "keyed": True}),
    ]:
        with pytest.raises(ValueError, match="keyed"):
            _normalize_aggs({"a": {kind: params}})


def test_terms_keys_do_not_depend_on_the_split(tmp_path):
    """A nullable int64 column holding nulls in only some splits keys
    every value as the int it is ("2"), so the root merges one bucket
    per value; keying by the split's numpy values gave "2.0" in a split
    with a null and "2" elsewhere, two buckets for one value."""
    import pyarrow.parquet as pq

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import Searcher
    from quickwit_spark.oracle import route_split
    from quickwit_spark.sources.transcripts import generate_transcripts

    df = generate_transcripts(400, seed=5)
    n = [
        None if route_split(c, 4) == 0 and i % 3 == 0 else i % 4
        for i, c in enumerate(df["conv_id"])
    ]
    tbl = pa.Table.from_pandas(df, preserve_index=False).append_column(
        "n", pa.array(n, pa.int64())
    )
    src = str(tmp_path / "src.parquet")
    pq.write_table(tbl, src, coerce_timestamps="us")
    build_index(None, src, str(tmp_path / "index"), n_splits=4)
    resp = Searcher(None, str(tmp_path / "index")).search(
        "*", k=0, aggs={"n": {"terms": {"field": "n", "order": {"_key": "asc"}}}}
    )
    buckets = {b["key"]: b["doc_count"] for b in resp.aggs["n"]["buckets"]}
    want = {str(v): n.count(v) for v in range(4)}
    assert buckets == want
