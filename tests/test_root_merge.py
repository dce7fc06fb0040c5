"""Root merge of leaf partial rows (collector.rs:325-419), no Spark:
``merge_partials`` must order hits exactly as a ``sorted()`` reference
on (sort_value desc, split_id asc, docid asc), NaN sort values last,
and sum ``num_hits`` over the count rows as an int."""

from __future__ import annotations

import json
import math
import random

import pandas as pd
import pytest

from quickwit_spark.operators.search import _HIT_COLS, merge_partials

# insertion order differs from string order ("split-a10-..." sorts
# before "split-a9-..."), so a merge keyed on arrival order fails
SPLITS = [
    "split-a9-00010", "split-a10-00002", "split-b1-00000", "split-a10-00001",
]
WINDOWS = [(0, 10), (0, 1), (3, 5), (17, 4), (0, 1000), (55, 10), (200, 5)]


def _partials(seed: int, sort_desc: bool, with_nan: bool) -> list[dict]:
    """Per-split rows as the leaves emit them: hits (a few distinct
    values, so scores tie across every split) then one count row."""
    rng = random.Random(seed)
    base = dict.fromkeys(_HIT_COLS)
    rows = []
    for split_id in SPLITS:
        n = rng.randint(6, 25)
        docids = rng.sample(range(500), n)
        for docid in docids:
            key = float(rng.choice([1.0, 2.5, 2.5, 4.0, 7.25]))
            if with_nan and rng.random() < 0.15:
                key = math.nan
            rows.append({
                **base, "kind": "hit", "split_id": split_id,
                "docid": docid, "score": key,
                # ascending sorts ship negated keys (collector.rs:41-92)
                "sort_value": key if sort_desc else -key,
                "ts_us": 1_700_000_000_000_000 + docid,
                "doc": json.dumps({"d": docid}) if docid % 3 else None,
            })
        rows.append({
            **base, "kind": "count", "split_id": split_id,
            "agg_count": n + rng.randint(0, 50),
        })
    rng.shuffle(rows)  # leaves finish in any order
    return rows


def _reference(rows: list[dict], k: int, offset: int) -> list[tuple]:
    hits = [r for r in rows if r["kind"] == "hit"]
    hits = sorted(hits, key=lambda r: (
        math.isnan(r["sort_value"]),
        0.0 if math.isnan(r["sort_value"]) else -r["sort_value"],
        r["split_id"],
        r["docid"],
    ))
    return [
        (r["split_id"], r["docid"], r["score"], r["ts_us"],
         None if r["doc"] is None else json.loads(r["doc"]))
        for r in hits[offset : offset + k]
    ]


def _same(a: tuple, b: tuple) -> bool:
    return all(
        x == y or (isinstance(x, float) and math.isnan(x) and math.isnan(y))
        for x, y in zip(a, b)
    )


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("sort_desc", [True, False])
@pytest.mark.parametrize("with_nan", [False, True])
def test_merge_order_matches_sorted_reference(seed, sort_desc, with_nan):
    rows = _partials(seed, sort_desc, with_nan)
    pdf = pd.DataFrame(rows, columns=_HIT_COLS)
    n_hits = sum(r["kind"] == "hit" for r in rows)
    assert n_hits > 20
    for offset, k in WINDOWS:
        resp = merge_partials(pdf, k, offset, None, None)
        got = [(h.split_id, h.docid, h.score, h.ts_us, h.doc) for h in resp.hits]
        want = _reference(rows, k, offset)
        assert len(got) == len(want) == max(0, min(k, n_hits - offset))
        assert all(_same(g, w) for g, w in zip(got, want)), (offset, k)
        assert all(type(h.docid) is int and type(h.ts_us) is int
                   for h in resp.hits)
        num_hits = sum(r["agg_count"] for r in rows if r["kind"] == "count")
        assert resp.num_hits == num_hits and type(resp.num_hits) is int


def test_ties_span_three_splits():
    """The fixture really exercises cross-split ties: one sort value is
    shared by hits of at least three splits."""
    rows = _partials(0, True, False)
    by_value: dict[float, set] = {}
    for r in rows:
        if r["kind"] == "hit":
            by_value.setdefault(r["sort_value"], set()).add(r["split_id"])
    assert max(len(s) for s in by_value.values()) >= 3


def test_nan_sort_values_rank_last():
    rows = _partials(3, False, True)
    pdf = pd.DataFrame(rows, columns=_HIT_COLS)
    resp = merge_partials(pdf, 1000, 0, None, None)
    nan_at = [i for i, h in enumerate(resp.hits) if math.isnan(h.score)]
    assert nan_at and nan_at == list(range(len(resp.hits) - len(nan_at),
                                           len(resp.hits)))


def test_empty_and_count_only_partials():
    assert merge_partials(
        pd.DataFrame([], columns=_HIT_COLS), 10, 0, None, None
    ).num_hits == 0
    base = dict.fromkeys(_HIT_COLS)
    rows = [{**base, "kind": "count", "split_id": s, "agg_count": 0}
            for s in SPLITS]
    resp = merge_partials(pd.DataFrame(rows, columns=_HIT_COLS), 10, 0,
                          None, None)
    assert resp.num_hits == 0 and resp.hits == [] and resp.aggs == {}
