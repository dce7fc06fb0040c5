"""Root merge of leaf responses (collector.rs:325-419), no Spark:
``merge_partials`` must order hits exactly as a ``sorted()`` reference
on (sort_value desc, split_id asc, docid asc), NaN sort values last,
and sum the leaves' ``num_hits`` as an int."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from quickwit_spark.operators.search import LeafResponse, merge_partials

# insertion order differs from string order ("split-a10-..." sorts
# before "split-a9-..."), so a merge keyed on arrival order fails
SPLITS = [
    "split-a9-00010", "split-a10-00002", "split-b1-00000", "split-a10-00001",
]
WINDOWS = [(0, 10), (0, 1), (3, 5), (17, 4), (0, 1000), (55, 10), (200, 5)]


def _leaf(split_id: str, num_hits: int, hits: list[tuple]) -> LeafResponse:
    """A leaf response from (docid, sort_value, score, ts_us) hits."""
    docid, sort_value, score, ts_us = list(zip(*hits)) or [()] * 4
    return LeafResponse(
        split_id, num_hits, np.asarray(docid, np.int64),
        np.asarray(sort_value, np.float64), np.asarray(score, np.float64),
        np.asarray(ts_us, np.int64),
    )


def _partials(seed: int, sort_desc: bool, with_nan: bool) -> list[LeafResponse]:
    """Leaf responses as the leaves return them: a few distinct hit
    values, so scores tie across every split."""
    rng = random.Random(seed)
    leaves = []
    for split_id in SPLITS:
        n = rng.randint(6, 25)
        hits = []
        for docid in rng.sample(range(500), n):
            key = float(rng.choice([1.0, 2.5, 2.5, 4.0, 7.25]))
            if with_nan and rng.random() < 0.15:
                key = math.nan
            # ascending sorts ship negated keys (collector.rs:41-92)
            hits.append((docid, key if sort_desc else -key, key,
                         1_700_000_000_000_000 + docid))
        leaves.append(_leaf(split_id, n + rng.randint(0, 50), hits))
    rng.shuffle(leaves)  # leaves finish in any order
    return leaves


def _hit_tuples(leaves: list[LeafResponse]) -> list[dict]:
    return [
        {"split_id": leaf.split_id, "docid": int(d), "sort_value": float(v),
         "score": float(s), "ts_us": int(t)}
        for leaf in leaves
        for d, v, s, t in zip(leaf.docid, leaf.sort_value, leaf.score,
                              leaf.ts_us)
    ]


def _reference(leaves: list[LeafResponse], k: int, offset: int) -> list[tuple]:
    hits = sorted(_hit_tuples(leaves), key=lambda r: (
        math.isnan(r["sort_value"]),
        0.0 if math.isnan(r["sort_value"]) else -r["sort_value"],
        r["split_id"],
        r["docid"],
    ))
    return [
        (r["split_id"], r["docid"], r["score"], r["ts_us"], None)
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
    leaves = _partials(seed, sort_desc, with_nan)
    n_hits = sum(leaf.docid.size for leaf in leaves)
    assert n_hits > 20
    for offset, k in WINDOWS:
        resp = merge_partials(leaves, k, offset, None, None)
        got = [(h.split_id, h.docid, h.score, h.ts_us, h.doc) for h in resp.hits]
        want = _reference(leaves, k, offset)
        assert len(got) == len(want) == max(0, min(k, n_hits - offset))
        assert all(_same(g, w) for g, w in zip(got, want)), (offset, k)
        assert all(type(h.docid) is int and type(h.ts_us) is int
                   for h in resp.hits)
        num_hits = sum(leaf.num_hits for leaf in leaves)
        assert resp.num_hits == num_hits and type(resp.num_hits) is int


def test_ties_span_three_splits():
    """The fixture really exercises cross-split ties: one sort value is
    shared by hits of at least three splits."""
    by_value: dict[float, set] = {}
    for r in _hit_tuples(_partials(0, True, False)):
        by_value.setdefault(r["sort_value"], set()).add(r["split_id"])
    assert max(len(s) for s in by_value.values()) >= 3


def test_nan_sort_values_rank_last():
    resp = merge_partials(_partials(3, False, True), 1000, 0, None, None)
    nan_at = [i for i, h in enumerate(resp.hits) if math.isnan(h.score)]
    assert nan_at and nan_at == list(range(len(resp.hits) - len(nan_at),
                                           len(resp.hits)))


def test_empty_and_count_only_partials():
    # no leaf answered (every split pruned)
    resp = merge_partials([], 10, 0, None, None)
    assert resp.num_hits == 0 and resp.hits == [] and resp.aggs == {}
    # every leaf empty
    leaves = [_leaf(s, 0, []) for s in SPLITS]
    resp = merge_partials(leaves, 10, 0, None, None)
    assert resp.num_hits == 0 and resp.hits == [] and resp.aggs == {}
    # count-only leaves (k=0): num_hits sums, no hits
    leaves = [_leaf(s, i + 3, []) for i, s in enumerate(SPLITS)]
    resp = merge_partials(leaves, 0, 0, None, None)
    assert resp.num_hits == 3 + 4 + 5 + 6 and type(resp.num_hits) is int
    assert resp.hits == []


def test_agg_shape_does_not_depend_on_pruning(tmp_path):
    """A query every split prunes away answers each requested agg like
    one whose splits survive and match nothing: the empty result, not
    a missing key. Spark-free: a single small file builds in the
    driver and a 2-split index searches in driver mode."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import Searcher
    from quickwit_spark.sources.transcripts import generate_transcripts

    src = str(tmp_path / "src.parquet")
    pq.write_table(
        pa.Table.from_pandas(generate_transcripts(300, seed=5), preserve_index=False),
        src, coerce_timestamps="us",
    )
    idx = str(tmp_path / "idx")
    build_index(None, src, idx, n_splits=2)
    s = Searcher(None, idx)
    aggs = {
        "r": {"terms": {"field": "role"}},
        "h": {"histogram": {"field": "turn_idx", "interval": 5}},
    }
    pruned = s.search("zzznotfound", k=5, aggs=aggs)
    matches_nothing = s.search("w00001 -w00001", k=5, aggs=aggs)
    assert pruned.num_hits == matches_nothing.num_hits == 0
    assert pruned.aggs == matches_nothing.aggs
    assert pruned.aggs["r"]["buckets"] == [] and pruned.aggs["h"]["buckets"] == []
