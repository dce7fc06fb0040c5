"""Property test: the partial→final aggregation merge is
SPLIT-INVARIANT — any partitioning of the corpus into splits produces
the same final buckets, doc counts, and sub-agg stats as a single
split (the reference's IntermediateAggregationResults/merge_fruits
contract, collector.rs:214-221). Pure pandas/numpy: exercises
operators/search._partial_agg + _final_agg directly, no Spark."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from quickwit_spark.operators.search import _final_agg, _partial_agg

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-40, max_value=40),  # bucketed value
        st.integers(min_value=-100, max_value=100),  # sub-agg value
        st.integers(min_value=0, max_value=3),  # split assignment
    ),
    min_size=1,
    max_size=150,
)


def _finalize(kind, params, split_rows):
    return _final_agg(kind, params, [r for rs in split_rows for r in rs])


def _run(kind, params, rows):
    vals = np.array([v for v, _, _ in rows], dtype=np.float64)
    sv = np.array([s for _, s, _ in rows], dtype=np.float64)
    single = _finalize(
        kind, params, [_partial_agg(kind, params, vals, {"sf": sv})]
    )
    parts = []
    for k in range(4):
        idx = [i for i, (_, _, sp) in enumerate(rows) if sp == k]
        if idx:
            parts.append(
                _partial_agg(kind, params, vals[idx], {"sf": sv[idx]})
            )
    merged = _finalize(kind, params, parts)
    return single, merged


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
