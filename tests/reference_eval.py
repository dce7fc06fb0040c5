"""The whole-term reference evaluator the leaf evaluator is tested against.

``_SplitEval`` evaluates a query AST over the WHOLE postings of each
query term: every shard concatenated in first_docid order, every match
scored, no segments, no bounds, no pruning. It shares only the BM25 and
phrase-matching arithmetic with ``search._wand_bool``, so comparing the
two bit for bit pins the per-segment evaluation (segment cuts, coverage,
negations, the window mask, the scoring pass's pruning) against the
plain set algebra.

``reference_leaf`` has ``_wand_bool``'s signature and return value;
the ``exhaustive`` fixture (conftest.py) patches it in so every
driver-mode leaf of a search runs on the reference.
"""

from __future__ import annotations

import numpy as np

from quickwit_spark.operators.search import (
    _ShardPostings,
    _bm25_scores,
    _idf,
    _phrase_hits,
    _top_m,
)
from quickwit_spark.plans.query import Bool, Boost, MatchAll, Phrase, Term, query_terms


class _WholeTermPostings(_ShardPostings):
    """A :class:`_ShardPostings` that also hands out whole terms."""

    def term(self, field: str, term: str):
        """(docids, tfs) of one term over all its shards, concatenated in
        first_docid order so the docids stay sorted; None when the split
        lacks the term."""
        st = self.stats.get((field, term))
        if st is None:
            return None
        shards = st["shard"].tolist()
        return (
            np.concatenate([self.docids(field, term, sh) for sh in shards]),
            np.concatenate([self.tfs(field, term, sh) for sh in shards]),
        )

    def term_positions(self, field: str, term: str):
        """Positions of every shard of :meth:`term`, concatenated in the
        same order; None when the field has no positions."""
        parts = [
            self.positions(field, term, sh)
            for sh in self.stats[(field, term)]["shard"].tolist()
        ]
        return None if parts[0] is None else np.concatenate(parts)


class _SplitEval:
    """Evaluates a query AST against one split, vectorized, over the
    whole postings of each query term (``postings``: a
    :class:`_ShardPostings`, None when the query has no terms)."""

    def __init__(self, postings, doc_len, stats, config):
        self.postings = postings
        self.doc_len = doc_len.astype(np.float64)
        self.n_split = doc_len.size
        self.stats = stats
        self.avgdl = stats["avgdl"]
        self.k1 = config.k1
        self.b = config.b

    def eval(self, node):
        """Returns (docids sorted int64, scores float64)."""
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        if isinstance(node, MatchAll):
            return np.arange(self.n_split, dtype=np.int64), np.zeros(self.n_split)
        if isinstance(node, Boost):
            ids, scores = self.eval(node.node)
            return ids, scores * node.factor
        if isinstance(node, Term):
            p = self.postings.term(node.field, node.value)
            if p is None:
                return empty
            docids, tfs = p
            idf = _idf(self.stats, (node.field, node.value))
            return docids, _bm25_scores(
                tfs, self.doc_len[docids], idf, self.avgdl, self.k1, self.b
            )
        if isinstance(node, Phrase):
            plists = [self.postings.term(node.field, t) for t in node.tokens]
            if any(p is None for p in plists):
                return empty
            cand = plists[0][0]
            for p in plists[1:]:
                cand = np.intersect1d(cand, p[0], assume_unique=True)
            if cand.size == 0:
                return empty
            token_lists = []
            for t, (docids, tfs) in zip(node.tokens, plists):
                pos = self.postings.term_positions(node.field, t)
                if pos is None:
                    return empty  # field without positions
                token_lists.append((docids, tfs, pos))
            cand, freqs = _phrase_hits(cand, token_lists, node.slop)
            idf = sum(_idf(self.stats, (node.field, t)) for t in node.tokens)
            return cand, _bm25_scores(
                freqs, self.doc_len[cand], idf, self.avgdl, self.k1, self.b
            )
        if isinstance(node, Bool):
            if node.must:
                parts = [self.eval(c) for c in node.must]
                ids = parts[0][0]
                for p in parts[1:]:
                    ids = np.intersect1d(ids, p[0], assume_unique=True)
                scores = np.zeros(ids.size)
                for pids, pscores in parts:
                    scores += pscores[np.searchsorted(pids, ids)]
            elif node.should:
                parts = [self.eval(c) for c in node.should]
                ids = parts[0][0]
                for p in parts[1:]:
                    ids = np.union1d(ids, p[0])
                scores = np.zeros(ids.size)
                for pids, pscores in parts:
                    pos = np.searchsorted(ids, pids)
                    scores[pos] += pscores
            else:
                ids = np.arange(self.n_split, dtype=np.int64)
                scores = np.zeros(self.n_split)
            for c in node.must_not:
                eids, _ = self.eval(c)
                keep = ~np.isin(ids, eids, assume_unique=True)
                ids, scores = ids[keep], scores[keep]
            return ids, scores
        raise TypeError(f"unknown AST node {node!r}")


def reference_leaf(
    split_dir: str, ast, doc_len, stats, config, m: int, cache=None,
    ts_us=None, start_us=None, end_us=None, collect: bool = False,
):
    """``search._wand_bool`` answered by :class:`_SplitEval`: every
    match in ``[start_us, end_us)``, the exact top-m of them, and no
    skip counts. Returns ``(ids, scores, num_hits, skips, matches)``."""
    terms = query_terms(ast)
    postings = _WholeTermPostings(split_dir, terms, cache) if terms else None
    ids, scores = _SplitEval(postings, doc_len, stats, config).eval(ast)
    if start_us is not None or end_us is not None:
        tvals = ts_us[ids]
        keep = np.ones(ids.size, dtype=bool)
        if start_us is not None:
            keep &= tvals >= start_us
        if end_us is not None:
            keep &= tvals < end_us
        ids, scores = ids[keep], scores[keep]
    top_ids, top_scores = (
        _top_m(ids, scores, m) if m > 0
        else (np.empty(0, np.int64), np.empty(0, np.float64))
    )
    return top_ids, top_scores, ids.size, {}, ids if collect else None
