"""Parity of the numpy aggregations with the pandas reference.

Every example writes each split's agg columns as a docs.parquet file,
reads them back through the leaf's column caches
(``search._leaf_column``), runs ``search._partial_agg`` per split and
``search._final_agg`` over all splits' records, and compares the answer
with ``tests/reference_agg.py`` (the pandas aggregation the leaves and
root ran before) fed each split's ``to_numpy(zero_copy_only=False)``
values, as the leaves fed it then.

Two differences are intended, and the reference is fed so that it
models them:

* a terms key comes from the column's own type and not from the
  split: an int column keys ``"2"`` in every split, where the
  reference keyed ``"2.0"`` in a split holding a null (its values
  became float64), so the reference gets the Python ints of such a
  column; and -0.0 keys ``"0.0"``, where the reference keyed the
  bucket of 0.0 and -0.0 by whichever the split held first, so the
  reference gets float terms columns plus 0.0;
* a null timestamp is no value: the reference read it as the
  datetime64 ``NaT`` cast to float, -9.2e18, in range buckets and
  sub-agg moments, so it gets a timestamp's microseconds with NaN for
  null wherever it needs numbers.

Values are small multiples of 1/4, so every sum is exact in any order:
the terms and histogram sub-agg sums of the leaves (weighted
``bincount``) and the bucket sums of the root now add in order where
pandas' groupby summed with compensation, which can differ in the
last bits for arbitrary floats.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings, strategies as st

import reference_agg as ref
from quickwit_spark.operators.search import _final_agg, _leaf_column, _partial_agg

COLUMN_KINDS = ("str", "int", "float", "bool", "ts")
NUMERIC_KINDS = ("int", "float", "bool", "ts")


def _value(kind: str, i: int):
    return {
        "str": lambda: "abcdé"[i % 5] * (1 + i % 2),
        "int": lambda: i - 6,
        "float": lambda: {11: -0.0, 12: float("nan")}.get(i, (i - 6) / 4),
        "bool": lambda: i % 2 == 0,
        "ts": lambda: i,  # microseconds since the epoch
    }[kind]()


def _arrow(kind: str, codes: list) -> pa.Array:
    """A column of ``kind`` from value codes (None is a null)."""
    vals = [None if c is None else _value(kind, c) for c in codes]
    if kind == "ts":
        return pa.array(vals, pa.int64()).cast(pa.timestamp("us"))
    return pa.array(vals, {"str": pa.string(), "int": pa.int64(),
                           "float": pa.float64(), "bool": pa.bool_()}[kind])


def _reference_values(arr: pa.Array, terms: bool) -> np.ndarray:
    """What the reference is fed for one column of one split: the
    parent's values, with the two intended fixes (module docstring)."""
    if pa.types.is_timestamp(arr.type) and not terms:
        arr = arr.cast(pa.int64())
    if terms and pa.types.is_integer(arr.type) and arr.null_count:
        return np.array(arr.to_pylist(), dtype=object)
    if terms and pa.types.is_floating(arr.type):
        arr = pc.add(arr, 0.0)  # -0.0 keys "0.0" in every split
    return pa.chunked_array([arr]).to_numpy(zero_copy_only=False)


CODES = st.lists(st.one_of(st.none(), st.integers(0, 12)), min_size=1, max_size=60)


@st.composite
def requests(draw):
    kind = draw(st.sampled_from(["terms", "histogram", "range", "stats", "avg"]))
    params = {"field": "v"}
    sub_kind = None
    if kind in ("terms", "histogram", "range") and draw(st.booleans()):
        sub_kind = draw(st.sampled_from(["stats", "avg"]))
        params.update(stats_field="s", sub_name="st", sub_kind=sub_kind)
    if kind == "terms":
        params["size"] = draw(st.integers(1, 6))
        if draw(st.booleans()):
            params["split_size"] = draw(st.integers(1, 5))
        params["min_doc_count"] = draw(st.sampled_from([0, 1, 2]))
        targets = ["_count", "_key"]
        if sub_kind == "avg":
            targets.append("st")
        elif sub_kind == "stats":
            targets += [f"st.{m}" for m in ("count", "sum", "min", "max", "avg")]
        params["order"] = {
            draw(st.sampled_from(targets)): draw(st.sampled_from(["asc", "desc"]))
        }
        if draw(st.booleans()):
            params["show_term_doc_count_error"] = draw(st.booleans())
    elif kind == "histogram":
        params["interval"] = draw(st.sampled_from([1.0, 2.5, 7.0]))
        params["offset"] = draw(st.sampled_from([0.0, 0.5]))
        params["min_doc_count"] = draw(st.sampled_from([0, 1, 2]))
        if params["min_doc_count"] == 0 and draw(st.booleans()):
            lo = draw(st.integers(-20, 10))
            params["extended_bounds"] = {"min": lo, "max": lo + draw(st.integers(0, 20))}
        if draw(st.booleans()):
            lo = draw(st.integers(-10, 5))
            params["hard_bounds"] = {"min": lo, "max": lo + draw(st.integers(0, 15))}
    elif kind == "range":
        a = draw(st.integers(-6, 6))
        b = a + draw(st.integers(1, 6))
        params["ranges"] = [{"to": float(a)}, {"from": float(a), "to": float(b)},
                            {"from": float(b)}]
    return kind, params


def _compare(kind: str, params: dict, splits: list) -> None:
    """Assert that the numpy aggregation over ``splits`` (each a
    ``(v, s, matches)``: the agg column, the sub-agg column, the
    matched rows) answers as the reference, or raises as it does."""
    terms = kind == "terms"
    d = tempfile.mkdtemp()
    try:
        new_rows, ref_rows = [], []
        for v, s, matches in splits:
            dpath = f"{d}/{uuid.uuid4().hex}.parquet"
            ts_us = np.arange(len(v), dtype=np.int64)
            pq.write_table(pa.table({"v": v, "s": s, "ts_us": ts_us}), dpath)
            sub = _leaf_column(dpath, "s", ts_us)
            new_rows += _partial_agg(
                kind, params, _leaf_column(dpath, "v", ts_us, terms), matches,
                sub if "stats_field" in params else None,
            )
            ref_v = _reference_values(v, terms)
            extra = {"s": _reference_values(s, False)[matches]}
            if terms and params.get("min_doc_count") == 0:
                extra["__all__"] = ref_v
            ref_rows += ref._partial_agg(kind, params, ref_v[matches], extra)
        try:
            want = ref._final_agg(kind, params, ref_rows)
        except ValueError:
            with pytest.raises(ValueError):
                _final_agg(kind, params, new_rows)
            return
        assert _final_agg(kind, params, new_rows) == want
    finally:
        shutil.rmtree(d)


@settings(max_examples=120, deadline=None)
@given(
    request=requests(),
    v_kind=st.sampled_from(COLUMN_KINDS),
    s_kind=st.sampled_from(NUMERIC_KINDS),
    v_codes=CODES,
    s_codes=CODES,
    data=st.data(),
)
def test_numpy_aggs_match_pandas_reference(request, v_kind, s_kind, v_codes,
                                           s_codes, data):
    kind, params = request
    if kind != "terms" and v_kind == "str":
        v_kind = "float"  # numeric aggs read numeric columns
    n = len(v_codes)
    s_codes = (s_codes * n)[:n]
    n_splits = data.draw(st.integers(1, 4))
    split_of = data.draw(st.lists(st.integers(0, n_splits - 1), min_size=n, max_size=n))
    hit = data.draw(st.lists(st.booleans(), min_size=n, max_size=n))
    splits = []
    for sp in range(n_splits):
        rows = [i for i in range(n) if split_of[i] == sp]
        if rows:
            splits.append((
                _arrow(v_kind, [v_codes[i] for i in rows]),
                _arrow(s_kind, [s_codes[i] for i in rows]),
                np.flatnonzero([hit[i] for i in rows]).astype(np.int64),
            ))
    _compare(kind, params, splits)


@pytest.mark.parametrize("target", ["st.min", "st.max"])
@pytest.mark.parametrize("direction", ["asc", "desc"])
@pytest.mark.parametrize("split_size", [1, 2, 3, 10])
@pytest.mark.parametrize("size", [2, 5])
def test_terms_nan_metric_order_matches_reference(target, direction,
                                                  split_size, size):
    """Order by a sub-agg min/max that is NaN for some buckets (no
    non-null sub-agg value, or a zero-count min_doc_count=0 bucket):
    the leaf cut sorts the records in the order the reference emitted
    them (key value order, then zero-count keys first-seen), and the
    root puts NaN last in both directions."""
    v = _arrow("str", [3, 1, 2, 4, 1, 0, 3, 2])
    s = _arrow("float", [None, 5, 12, 1, None, 7, 2, 3])
    params = {
        "field": "v", "stats_field": "s", "sub_name": "st",
        "sub_kind": "stats", "min_doc_count": 0, "size": size,
        "split_size": split_size, "order": {target: direction},
    }
    _compare("terms", params, [(v, s, np.array([0, 1, 2, 4])),
                               (v, s, np.array([3, 5, 6]))])


@pytest.mark.parametrize("kind", ["str", "int", "float", "bool", "ts"])
def test_terms_keys_of_every_column_kind_match_reference(kind):
    """Each column kind with a null, and for floats NaN, 0.0 and -0.0,
    spread over two splits so one holds no null."""
    v = _arrow(kind, [11, 6, 12, None, 3, 11, 6, 0])
    s = _arrow("float", [1, 2, 3, 4, 5, 6, 7, 8])
    params = {"field": "v", "size": 10, "min_doc_count": 0,
              "order": {"_key": "asc"}}
    _compare("terms", params, [(v.slice(0, 5), s.slice(0, 5), np.arange(5)),
                               (v.slice(5), s.slice(5), np.array([0, 2]))])
