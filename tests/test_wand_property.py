"""Hypothesis property: block-max WAND (`_wand_bool`) is result- and
score-identical to the exhaustive evaluator (`_SplitEval`) on random
corpora and random positive boolean query trees with random negations.

Spark-free: splits build via the pure Arrow kernel
(`build_split_tables_arrow`), so hundreds of examples run in seconds. This is
the strongest guard on the recursive node evaluator — every tree shape
the planner accepts must yield bit-identical (ids, scores, num_hits).
"""

from __future__ import annotations

import tempfile

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions.tokenize import tokenize_default
from quickwit_spark.operators.build import build_split_tables_arrow, write_split
from quickwit_spark.operators.search import (
    _ShardPostings,
    _SplitEval,
    _top_m,
    _wand_bool,
    _wand_plan,
    query_terms,
)
from quickwit_spark.plans.query import Bool, Boost, Phrase, Term
from quickwit_spark.sources.transcripts import fixture_corpus

VOCAB = ["hot", "warm", "mid", "rare", "cool", "odd", "few", "one"]

_words = st.sampled_from(VOCAB)
_factors = st.sampled_from([0.0, 0.5, 1.0, 2.0, 3.5])
_leaf = st.one_of(
    _words.map(lambda w: Term("text", w)),
    st.tuples(_words, _words, st.integers(0, 2)).map(
        lambda t: Phrase("text", (t[0], t[1]), t[2])
    ),
)
_tree = st.recursive(
    _leaf,
    lambda ch: st.one_of(
        st.lists(ch, min_size=2, max_size=3).map(
            lambda cs: Bool(must=tuple(cs))
        ),
        st.lists(ch, min_size=2, max_size=3).map(
            lambda cs: Bool(should=tuple(cs))
        ),
        st.tuples(ch, _factors).map(lambda t: Boost(t[0], t[1])),
    ),
    max_leaves=6,
)
# negations: leaves or one-level bools (what _wand_plan accepts)
_neg = st.one_of(
    _leaf,
    st.lists(_leaf, min_size=2, max_size=2).map(
        lambda cs: Bool(must=tuple(cs))
    ),
    st.lists(_leaf, min_size=2, max_size=2).map(
        lambda cs: Bool(should=tuple(cs))
    ),
)
# skew the draw so "hot" blankets most docs (forces multi-shard salting)
_doc = st.lists(
    st.sampled_from(VOCAB + ["hot"] * 4), min_size=1, max_size=12
)
_corpus = st.lists(_doc, min_size=20, max_size=50)


@settings(max_examples=80, deadline=None)
@given(corpus=_corpus, tree=_tree, negs=st.lists(_neg, max_size=2),
       k=st.integers(1, 8))
def test_wand_equals_exhaustive_property(corpus, tree, negs, k):
    docs = [(" ".join(toks),) for toks in corpus]
    pdf = fixture_corpus(docs)
    cfg = IndexConfig(hot_term_doc_freq=5, salt_docid_range=8)
    postings_tbl, dstore, meta = build_split_tables_arrow(
        pa.Table.from_pandas(pdf, preserve_index=False), cfg
    )
    sd = tempfile.mkdtemp(prefix="wandprop")
    write_split(postings_tbl, dstore, sd)

    ast = Bool(must=(tree,), must_not=tuple(negs)) if negs else tree
    plan = _wand_plan(ast)
    assert plan is not None  # every generated shape must be prunable

    doc_len = dstore["doc_len"].to_numpy().astype(np.float64)
    df = {
        ("text", w): sum(w in tokenize_default(t) for t in pdf["text"])
        for w in VOCAB
    }
    stats = {
        "N": meta["num_docs"],
        "avgdl": meta["sum_doc_len"] / meta["num_docs"],
        "df": df,
    }

    pos, wneg = plan
    w_ids, w_scores, w_hits, _ = _wand_bool(
        sd, pos, wneg, doc_len, stats, cfg, k
    )

    postings = _ShardPostings(sd, query_terms(ast))
    e_ids_all, e_scores_all = _SplitEval(postings, doc_len, stats, cfg).eval(ast)
    assert w_hits == e_ids_all.size
    e_ids, e_scores = _top_m(e_ids_all, e_scores_all, k)
    np.testing.assert_array_equal(w_ids, e_ids)
    # bit-identical, not approximately equal: same float association
    np.testing.assert_array_equal(w_scores, e_scores)
