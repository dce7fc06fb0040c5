"""Tests for the benchmark's own helpers. Run from the repository root:

    python3 -m pytest perfbench/tests -q

No Spark session is started.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import layers
from perfbench.harness import (
    Span,
    Tally,
    Tracer,
    percentile,
    same_ranking,
    self_times,
    summarize,
    uncovered_fraction,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentiles ---------------------------------------------------------------

def test_percentile_interpolates_like_numpy_linear():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 95) == pytest.approx(3.85)
    assert percentile([7.0], 95) == 7.0


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_summarize_reports_sample_count_and_samples_beyond_p95():
    s = summarize(float(i) for i in range(1, 201))  # 1..200
    assert (s["n"], s["p50"], s["beyond_p95"]) == (200, 100.5, 10)
    assert s["p95"] == pytest.approx(190.05)
    assert summarize([1.0, 2.0, 3.0])["beyond_p95"] == 1
    assert summarize([]) == {"n": 0}


# -- self time and coverage ------------------------------------------------------

def _span(sid, start, end, parent=None, name="x"):
    return Span(sid, name, start, end, parent, None, "window")


def test_self_time_subtracts_direct_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps child 1 (another thread)
        _span(3, 1.5, 2.0, parent=1),  # grandchild: not subtracted from 0
        _span(4, 9.0, 12.0, parent=0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_uncovered_fraction_counts_gaps_only():
    spans = [_span(0, 0.0, 2.0), _span(1, 1.0, 3.0), _span(2, 6.0, 8.0)]
    # windows: [0, 4) has 1 s uncovered, [5, 10) has 3 s uncovered
    assert uncovered_fraction([(0.0, 4.0), (5.0, 10.0)], spans) == pytest.approx(4 / 9)
    assert uncovered_fraction([], spans) == 0.0


def test_tracer_nests_spans_and_skips_when_disabled():
    clock = iter(float(t) for t in range(100)).__next__
    tr = Tracer(clock=clock)
    inner = tr.wrap("inner", lambda x: x + 1, counter=lambda a, r, st: {"out": r})
    assert inner(1) == 2 and tr.spans == []  # disabled: no span
    tr.enabled = True
    tr.request = 7
    with tr.span("outer"):
        inner(2)
    outer, = [s for s in tr.spans if s.name == "outer"]
    child, = [s for s in tr.spans if s.name == "inner"]
    assert child.parent == outer.span_id
    assert child.request == outer.request == 7
    assert child.counts == {"out": 3}
    assert self_times(tr.spans)[outer.span_id] == outer.duration - child.duration


def test_layer_metrics_fall_back_to_first_phase_that_has_the_layer():
    def sp(sid, name, start, end, phase, parent=None, **counts):
        return Span(sid, name, start, end, parent, None, phase, counts)

    spans = [
        # the window ran searches: leaf self time comes from there
        sp(0, layers.PARTIALS, 0.0, 1.0, "window", partial_rows=4),
        sp(1, layers.PARSE, 0.0, 0.25, "window", parent=0),
        sp(2, layers.PARTIALS, 2.0, 2.5, "probe"),
        # no build in window or probe: job time comes from setup
        sp(3, layers.BUILD, 0.0, 8.0, "setup"),
        sp(4, layers.COMMIT, 1.0, 2.0, "setup", parent=3, bytes=100),
    ]
    m = layers.layer_metrics(spans)
    assert m["operators.search.leaf_s"] == pytest.approx(0.75)
    assert m["operators.search.leaf_driver_mode_s"] == pytest.approx(0.5)
    assert m["operators.build.job_s"] == pytest.approx(7.0)
    assert m["plans.catalog.bytes_per_commit"] == 100
    assert m["operators.merge.round_s"] == 0.0  # never reached
    assert set(m) <= set(layers.LAYER_UNITS)


# -- failure counting ------------------------------------------------------------

def test_tally_counts_raises_and_wrong_results():
    t = Tally()
    t.record(True)
    t.record(False, "raised")
    assert t.check("num_hits", 3, 3)
    assert not t.check("num_hits", 2, 3)
    assert (t.attempted, t.failed) == (4, 2)
    assert t.error_rate == 0.5
    assert t.reasons == ["raised", "num_hits: got 2, expected 3"]


def test_same_ranking_detects_order_score_and_length():
    a = [(("c1", 0), 2.0), (("c2", 1), 1.0)]
    assert same_ranking(a, list(a)) is None
    assert same_ranking([(k, s + 5e-7) for k, s in a], a) is None
    assert "rank 0" in same_ranking(a[::-1], a)
    assert "score" in same_ranking([(a[0][0], 2.1), a[1]], a)
    assert "hits" in same_ranking(a[:1], a)
    # sort_by shapes compare keys only
    assert same_ranking([(k, None) for k, _ in a], [(k, None) for k, _ in a]) is None


def test_check_search_flags_a_wrong_result_as_failure():
    from quickwit_spark.operators.search import SearchHit, SearchResponse
    from quickwit_spark.oracle import OracleEngine

    from perfbench.workloads import Shape, check_search, generate

    rows = generate(400, seed=3)
    oracle = OracleEngine(rows, n_splits=2)
    shape = Shape("term", "w00001")
    n, hits = oracle.search(shape.query, k=10)

    def response(hits, num_hits=n, errors=()):
        return SearchResponse(num_hits, [
            SearchHit(h.split_id, h.docid, h.score,
                      {"conv_id": h.conv_id, "turn_idx": int(h.turn_idx)})
            for h in hits
        ], errors=list(errors))

    t = Tally()
    for resp in (
        response(hits),                        # right
        response(hits[::-1]),                  # wrong order
        response(hits, num_hits=n + 1),        # wrong count
        response(hits, errors=["split x"]),    # engine-reported error
    ):
        diff = check_search(resp, shape, oracle, rows)
        t.record(diff is None, diff or "")
    assert (t.attempted, t.failed) == (4, 3)


# -- the benchmark definition ----------------------------------------------------

def test_benchmark_json_matches_the_emitted_metrics():
    from perfbench.run import END_TO_END
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.LAYER_UNITS
