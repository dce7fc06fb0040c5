"""Hypothesis property: the leaf evaluator (`_wand_bool`) is result- and
score-identical to the whole-term reference evaluator
(`tests/reference_eval.py`) on random corpora and random query trees:
AND/OR nesting, boosts, phrases, MatchAll, and negations at any depth
(pure-negation nodes and roots included), under an optional
``[start, end)`` window, ranked by relevance or sorted by ts, with k=0.

Spark-free: splits build via the pure Arrow kernel
(`build_split_tables_arrow`), so hundreds of examples run in seconds. This is
the strongest guard on the recursive node evaluator — every tree shape
must yield bit-identical (ids, scores, num_hits), and the whole leaf
(`_eval_split_partial`) a bit-identical `LeafResponse`. The evaluator also
answers the same through one decoded-postings cache shared across
examples, cold and warm, as without one.
"""

from __future__ import annotations

import dataclasses
import tempfile
from unittest import mock

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions.lru import LRU
from quickwit_spark.functions.tokenize import tokenize_default
from quickwit_spark.operators import search
from quickwit_spark.operators.build import build_split_tables_arrow, write_split
from quickwit_spark.plans.query import Bool, Boost, MatchAll, Phrase, Term
from quickwit_spark.sources.transcripts import fixture_corpus
from tests.reference_eval import reference_leaf

VOCAB = ["hot", "warm", "mid", "rare", "cool", "odd", "few", "one"]

_words = st.sampled_from(VOCAB)
_factors = st.sampled_from([0.0, 0.5, 1.0, 2.0, 3.5])
_leaf = st.one_of(
    _words.map(lambda w: Term("text", w)),
    st.tuples(_words, _words, st.integers(0, 2)).map(
        lambda t: Phrase("text", (t[0], t[1]), t[2])
    ),
    st.just(MatchAll()),
)
_tree = st.recursive(
    _leaf,
    lambda ch: st.one_of(
        st.tuples(st.lists(ch, min_size=2, max_size=3), st.lists(ch, max_size=2)).map(
            lambda t: Bool(must=tuple(t[0]), must_not=tuple(t[1]))
        ),
        st.tuples(st.lists(ch, min_size=2, max_size=3), st.lists(ch, max_size=2)).map(
            lambda t: Bool(should=tuple(t[0]), must_not=tuple(t[1]))
        ),
        # pure negation: every doc but the negated ones, score 0
        st.lists(ch, min_size=1, max_size=2).map(
            lambda cs: Bool(must_not=tuple(cs))
        ),
        st.tuples(ch, _factors).map(lambda t: Boost(t[0], t[1])),
    ),
    max_leaves=6,
)
# skew the draw so "hot" blankets most docs (forces multi-shard salting)
_doc = st.lists(
    st.sampled_from(VOCAB + ["hot"] * 4), min_size=1, max_size=12
)
_corpus = st.lists(_doc, min_size=20, max_size=50)
# window ends as row offsets (fixture rows are one second apart); None
# leaves that side open
_bound = st.one_of(st.none(), st.integers(0, 50))
# one decoded-postings cache shared by every example, as a Searcher's is
# by every query (each example's split has its own path)
_SHARED = LRU(lambda: 1 << 30)


@settings(max_examples=80, deadline=None)
@given(corpus=_corpus, ast=_tree, k=st.integers(0, 8),
       window=st.one_of(st.none(), st.tuples(_bound, _bound)),
       sort_by=st.sampled_from([None, "ts"]), sort_desc=st.booleans())
def test_wand_equals_exhaustive_property(corpus, ast, k, window, sort_by,
                                         sort_desc):
    docs = [(" ".join(toks),) for toks in corpus]
    pdf = fixture_corpus(docs)
    cfg = IndexConfig(hot_term_doc_freq=5, salt_docid_range=8)
    postings_tbl, dstore, meta = build_split_tables_arrow(
        pa.Table.from_pandas(pdf, preserve_index=False), cfg
    )
    doc_len = dstore["doc_len"].to_numpy().astype(np.float64)
    ts_us = dstore["ts_us"].to_numpy()
    start_us = end_us = None
    if window is not None:
        t0 = int(ts_us.min())
        start_us, end_us = (
            None if off is None else t0 + off * 1_000_000 for off in window
        )
    df = {
        ("text", w): sum(w in tokenize_default(t) for t in pdf["text"])
        for w in VOCAB
    }
    stats = {
        "N": meta["num_docs"],
        "avgdl": meta["sum_doc_len"] / meta["num_docs"],
        "df": df,
    }

    def leaf(sd):
        # the whole leaf: relevance or ts order, k=0 included
        return search._eval_split_partial(
            "s0", sd, ast, stats, cfg, k, start_us, end_us, sort_by,
            sort_desc, None,
        )

    with tempfile.TemporaryDirectory(prefix="wandprop") as sd:
        write_split(postings_tbl, dstore, sd)
        args = (sd, ast, doc_len, stats, cfg, k, None, ts_us, start_us, end_us)
        uncached = search._wand_bool(*args, collect=True)
        w_ids, w_scores, w_hits, _, w_matches = uncached
        e_ids, e_scores, e_hits, _, e_matches = reference_leaf(
            *args, collect=True
        )
        # through the shared cache, cold then warm: the same bits and
        # the same per-query skip counts as without a cache
        for _ in range(2):
            got = search._wand_bool(
                *args[:6], _SHARED, *args[7:], collect=True
            )
            for a, b in zip(got, uncached):
                if isinstance(a, np.ndarray):
                    np.testing.assert_array_equal(a, b)
                    assert a.dtype == b.dtype
                else:
                    assert a == b
        got_leaf = leaf(sd)
        with mock.patch.object(search, "_wand_bool", reference_leaf):
            ref_leaf = leaf(sd)
    assert w_hits == e_hits
    np.testing.assert_array_equal(w_matches, e_matches)
    np.testing.assert_array_equal(w_ids, e_ids)
    # bit-identical, not approximately equal: same float association
    np.testing.assert_array_equal(w_scores, e_scores)
    for f in dataclasses.fields(search.LeafResponse):
        a, b = getattr(got_leaf, f.name), getattr(ref_leaf, f.name)
        if isinstance(a, np.ndarray):
            np.testing.assert_array_equal(a, b)
            assert a.dtype == b.dtype, f.name
        else:
            assert a == b, f.name
