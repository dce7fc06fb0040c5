"""Distributed BM25 top-k search over published splits.

The Spark re-expression of the reference's root/leaf search
(quickwit-search/src/root.rs:141 → leaf.rs:366-429 → collector.rs):

* root planning (metastore list_splits + time/tag pruning —
  quickwit-search/src/lib.rs:107-156, tag_pruning.rs) = driver-side
  ``prune_splits`` over the catalog;
* leaf search per split (leaf.rs:295-315 warmup + per-segment collect)
  = ``mapInPandas`` over a DataFrame of split paths, one task per
  split: the kernel reads ONLY the query terms' posting rows (Parquet
  predicate pushdown = the reference's warmup downloading only needed
  postings) through one reader, ``_ShardPostings``, decodes
  delta+varint lists (positions only for phrases), evaluates the
  boolean/phrase AST vectorized in numpy, scores BM25, and returns one
  ``LeafResponse`` per split (collector.rs:183-231
  ``LeafSearchResponse``): the partial top-k as doc addresses, the
  split's match count and its partial agg buckets;
* root merge (collector.rs:325-419, root.rs:263-288) = a driver-side
  numpy merge of the leaf responses: final order
  ``(score desc, split_id asc, docid asc)`` — the reference's
  ``(Reverse(sort_value), GlobalDocAddress)`` tie order
  (quickwit-search/src/lib.rs:100-105, search_api.proto:184-204);
* fetch_docs (quickwit-search/src/fetch_docs.rs:98-173) = reads of the
  split doc store addressed by docid (a docid is its row number), done
  by the root for the final hits only, whichever mode ran the leaves.

BM25 uses GLOBAL corpus stats: N and avgdl come from the catalog
(num_docs/sum_doc_len per split — free), per-term global doc-freq from a
tiny first Spark job that reads only the (field, term, df) columns of
term-pruned splits. ``Searcher`` caches those stats across queries.

One leaf evaluator (``_wand_bool``) answers every query shape, the
reference's one scorer tree + one collector per segment
(collector.rs:422-450): posting rows carry (max_tf, min_dl,
first/last docid) per shard; the kernel cuts docid space into
segments at the query keys' shard boundaries (negated keys too),
evaluates the query's own tree per segment (terms, phrases, any
AND/OR/NOT nesting, boosts, MatchAll), masks each segment's matches
by the ``[start_us, end_us)`` window on the ``ts_us`` fast field
(filters.rs:61-155), and — for relevance ranking only — scores
segments in descending score-upper-bound order, skipping decode +
scoring work that cannot reach the running top-k threshold
(tantivy's block-max WAND at shard granularity, extended across
terms — the reference disables scoring at this rev,
collector.rs:318-323, so this is our addition per the north rule).
``sort_by``, aggregations and search streams read the counted
matches and decode no tfs. tests/reference_eval.py keeps the
whole-term evaluator as the reference these answers are compared
with.
"""

from __future__ import annotations

import logging
import math
import os
import sys
from dataclasses import dataclass, field as dc_field
from typing import NamedTuple

import numpy as np
import pandas as pd

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions import fs as fsio
from quickwit_spark.functions.codec import decode_positions, decode_varint, delta_decode
from quickwit_spark.functions.lru import LRU
from quickwit_spark.functions.phrase import phrase_freq_bulk
from quickwit_spark.operators.build import (
    DOCS_FILE,
    POSTINGS_FILE,
    limit_worker_threads,
)
from quickwit_spark.plans.catalog import Catalog
from quickwit_spark.plans.pruning import prune_splits
from quickwit_spark.plans.query import (
    Bool,
    Boost,
    MatchAll,
    Phrase,
    Term,
    parse_query,
    query_terms,
)

# one partial agg bucket; a terms agg's split_size summary has a null
# agg_key, and buckets without a sub-agg leave the four moments out
_AGG_COLS = ["agg_key", "agg_count", "agg_sum", "agg_min", "agg_max", "agg_sq"]
# the Spark-mode wire: one row per split, its LeafResponse's fields
LEAF_SCHEMA = (
    "split_id string, num_hits long, docid array<long>, "
    "sort_value array<double>, score array<double>, ts_us array<long>, "
    "aggs array<struct<agg_name:string, agg_key:string, agg_count:long, "
    "agg_sum:double, agg_min:double, agg_max:double, agg_sq:double>>"
)

_log = logging.getLogger(__name__)


@dataclass
class LeafResponse:
    """One split's answer to the root (collector.rs:183-231
    ``LeafSearchResponse``): ``num_hits`` matches, the top-m hits as
    columns (``sort_value`` is the descending merge key, ``score`` the
    reported value) and the partial agg buckets, each a record of
    ``agg_name`` plus the ``_AGG_COLS`` it sets."""

    split_id: str
    num_hits: int
    docid: np.ndarray  # int64
    sort_value: np.ndarray  # float64
    score: np.ndarray  # float64
    ts_us: np.ndarray  # int64
    aggs: list = dc_field(default_factory=list)


@dataclass
class SearchHit:
    """One hit: the stored document comes back as a dict (the reference
    returns the reconstructed user JSON — convert_leaf_hit,
    quickwit-search/src/lib.rs:173-185). ``doc`` is None from the root
    merge until the fetch phase fills it."""

    split_id: str
    docid: int
    score: float
    doc: dict | None
    ts_us: int | None = None

    # transcript-schema conveniences
    @property
    def conv_id(self):
        return self.doc.get("conv_id")

    @property
    def turn_idx(self):
        return self.doc.get("turn_idx")

    @property
    def role(self):
        return self.doc.get("role")

    @property
    def tool(self):
        return self.doc.get("tool")

    @property
    def text(self):
        return self.doc.get("text")


@dataclass
class SearchResponse:
    num_hits: int
    hits: list
    aggs: dict = dc_field(default_factory=dict)
    elapsed_sec: float = 0.0
    # per-split failures formatted as strings (search_api.proto:105-106
    # `repeated string errors`): the root returns PARTIAL results from
    # the splits that answered rather than failing the whole query
    errors: list = dc_field(default_factory=list)


# ---------------------------------------------------------------------------
# split-local evaluation (runs inside the mapInPandas kernel)
# ---------------------------------------------------------------------------

# the two postings column sets a leaf reads on a cache miss (each its
# own row-group entry in the block cache): stats + docid/tf blobs, and
# the position blobs
_WAND_COLS = (
    "field", "term", "shard", "df", "max_tf", "min_dl",
    "first_docid", "last_docid", "doc_ids", "tfs",
)
_POSITION_COLS = ("field", "term", "shard", "positions")
# a term's per-shard stats, as ``_ShardPostings.stats`` names them
_STAT_COLS = {
    "shard": "shard", "df": "df", "max_tf": "max_tf", "min_dl": "min_dl",
    "first": "first_docid", "last": "last_docid",
}
# the Python objects behind one decoded-postings entry (key, dict and
# array headers, LRU slot), charged on top of its arrays' nbytes so that
# the entries of absent terms and tiny shards still count
_ENTRY_OVERHEAD = 512
# the cached positions of a field indexed without them
_NO_POSITIONS = np.empty(0, np.int64)
_NO_POSITIONS.flags.writeable = False


def _idf(stats: dict, key: tuple[str, str]) -> float:
    """BM25 idf of one (field, term) from the GLOBAL stats (N, df)."""
    df = stats["df"].get(key, 0)
    return math.log(1.0 + (stats["N"] - df + 0.5) / (df + 0.5))


def _bm25_scores(tfs, dls, idf, avgdl, k1, b):
    """BM25 of term (or phrase) frequencies ``tfs`` in docs of length
    ``dls``; also the block-max upper bound given (max_tf, min_dl)."""
    tfs = tfs.astype(np.float64)
    norm = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
    return idf * norm


def _phrase_hits(cand, token_lists, slop: int):
    """(docids, phrase freqs) of the candidates ``cand`` that hold the
    phrase. ``token_lists`` has one ``(docids, tfs, positions)`` per
    token, each covering every candidate: each token's candidate-doc
    position runs are gathered with one vectorized variable-length
    take, then matched in bulk."""
    token_positions = []
    for docids, tfs, pos in token_lists:
        starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        idx = np.searchsorted(docids, cand)
        seg_starts = starts[idx]
        seg_lens = tfs[idx]
        total = int(seg_lens.sum())
        inner = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(seg_lens)[:-1])), seg_lens
        )
        gathered = pos[np.repeat(seg_starts, seg_lens) + inner]
        token_positions.append((seg_lens, gathered))
    freqs = phrase_freq_bulk(token_positions, slop).astype(np.float64)
    mask = freqs > 0
    return cand[mask], freqs[mask]


class _ShardPostings:
    """The one postings reader of a leaf: the query terms' posting
    shards in one split, decoded on demand and cached DECODED in
    ``cache`` (an :class:`LRU`; driver mode passes ``Searcher._blocks``).

    Entries, every key led by the postings file path:

    * ``(path, "term", field, term)``: the term's per-shard stats
      (:attr:`stats`: shard, df, max_tf, min_dl, first, last), sorted by
      first_docid; an empty dict when the split lacks the term, so a
      repeated absent term reads nothing;
    * ``(path, blob column, field, term, shard)``: one shard's decoded
      docids (``doc_ids``), tfs or positions, decoded on the first
      request only, so shards an evaluator never visits stay undecoded.

    Every cached array is read-only: the evaluator hands out views of
    them. A miss reads through :func:`read_pruned` and its row-group
    entries in the same cache: one pushdown scan of the stats and
    docid/tf blobs of every query term, and a second scan of the
    position blobs on the first position miss, which only phrases make
    (each at most once per query). Without ``cache`` (Spark-mode
    kernels, search streams, tests) a per-query LRU takes its place, so
    nothing outlives the query. A query without terms reads nothing."""

    def __init__(self, split_dir: str, keys, cache=None):
        self._path = fsio.join(split_dir, POSTINGS_FILE)
        self._cache = (
            LRU(lambda: _BLOCK_CACHE_MAX_BYTES) if cache is None else cache
        )
        self._term_values = sorted({t for _, t in keys})
        # per query: each scan's table and row of every (field, term,
        # shard) in it, and every array this query asked for, by blob
        # column (the skip counters count these)
        self._scans: dict[tuple, tuple] = {}
        self._asked: dict[str, dict] = {"doc_ids": {}, "tfs": {}, "positions": {}}
        keys = sorted(set(keys))
        got = {k: self._cache.get((self._path, "term") + k) for k in keys}
        missing = [k for k in keys if got[k] is None]
        if missing:
            built = self._read_stats(missing)
            for k in missing:
                st = built.get(k, {})
                got[k] = self._cache.put(
                    (self._path, "term") + k, st,
                    _ENTRY_OVERHEAD + sum(a.nbytes for a in st.values()),
                )
        self.stats: dict[tuple[str, str], dict] = {
            k: st for k, st in got.items() if st
        }

    def _scan(self, cols: tuple):
        """The pushdown scan of ``cols`` over every query term, read once
        per query through the row-group cache, and the row of each
        (field, term, shard) in it."""
        got = self._scans.get(cols)
        if got is None:
            from quickwit_spark.functions.parquet_io import read_pruned

            tbl = read_pruned(
                self._path, cols, "term", self._term_values, self._cache
            )
            rows = {
                (f, t, int(sh)): i
                for i, (f, t, sh) in enumerate(zip(
                    tbl.column("field").to_pylist(),
                    tbl.column("term").to_pylist(),
                    tbl.column("shard").to_pylist(),
                ))
            }
            got = self._scans[cols] = (tbl, rows)
        return got

    def _read_stats(self, keys) -> dict:
        """{(field, term): stats} of the ``keys`` the split holds."""
        tbl, rows = self._scan(_WAND_COLS)
        want = set(keys)
        by_key: dict[tuple[str, str], list[int]] = {}
        for (f, t, _), i in rows.items():
            if (f, t) in want:
                by_key.setdefault((f, t), []).append(i)
        if not by_key:
            return {}
        cols = {c: tbl.column(c).to_numpy() for c in _STAT_COLS.values()}
        out = {}
        for key, idxs in by_key.items():
            idxs = np.asarray(idxs)
            idxs = idxs[np.argsort(cols["first_docid"][idxs], kind="stable")]
            st = {name: cols[c][idxs] for name, c in _STAT_COLS.items()}
            for a in st.values():
                a.flags.writeable = False
            out[key] = st
        return out

    def _array(self, col: str, key: tuple[str, str, int]) -> np.ndarray:
        """One shard's decoded ``col`` blob, from this query's memo, the
        cache, or (a miss) the scan, decoded and cached read-only."""
        asked = self._asked[col]
        got = asked.get(key)
        if got is None:
            ckey = (self._path, col) + key
            got = self._cache.get(ckey)
            if got is None:
                tbl, rows = self._scan(
                    _POSITION_COLS if col == "positions" else _WAND_COLS
                )
                blob = tbl.column(col)[rows[key]].as_py()
                if col == "doc_ids":
                    got = delta_decode(blob).astype(np.int64)
                elif col == "tfs":
                    got = decode_varint(blob).astype(np.int64)
                elif blob is None:
                    got = _NO_POSITIONS
                else:
                    got = decode_positions(blob, self.tfs(*key)).astype(np.int64)
                got.flags.writeable = False
                got = self._cache.put(ckey, got, _ENTRY_OVERHEAD + got.nbytes)
            asked[key] = got
        return got

    def docids(self, field: str, term: str, shard: int) -> np.ndarray:
        return self._array("doc_ids", (field, term, shard))

    def tfs(self, field: str, term: str, shard: int) -> np.ndarray:
        return self._array("tfs", (field, term, shard))

    def positions(self, field: str, term: str, shard: int):
        """Decoded positions for one shard, or None when the field has
        no positions."""
        got = self._array("positions", (field, term, shard))
        return None if got is _NO_POSITIONS else got

    @property
    def n_docid_decoded(self) -> int:
        return len(self._asked["doc_ids"])

    @property
    def n_tf_decoded(self) -> int:
        return len(self._asked["tfs"])

    @property
    def n_pos_decoded(self) -> int:
        return len(self._asked["positions"])


def _wand_bool(
    split_dir: str, ast, doc_len, stats, config, m: int, cache=None,
    ts_us=None, start_us=None, end_us=None, collect: bool = False,
):
    """The leaf evaluator: every match of ``ast`` in one split whose
    timestamp lies in ``[start_us, end_us)`` (filters.rs:61-155; a
    None bound is open), counted exactly, and the top-m of them by
    (BM25 desc, docid asc), block-max pruned at shard granularity —
    the posting-row analog of tantivy's block-max WAND extended
    document-at-a-time across terms (SURVEY.md §2.6; the reference
    disables scoring at this rev, collector.rs:318-323, so pruning is
    our north-rule addition; semantics mirror tantivy's
    ``Weight::for_each_pruning``, which prunes on the query's own
    scorer tree).

    Docid space ``[0, n_split)`` is cut into SEGMENTS at the shard
    boundaries of every query key, negated ones included, so term
    coverage is constant within a segment. The query's own tree is
    annotated bottom-up with per-segment coverage and score upper
    bounds (``_annotate``) and evaluated per segment by ``_match`` and
    ``_score``, which reproduce the float association of the whole-term
    evaluation at every level.

    * count pass: per covered segment, the root's matches (docid
      decodes only; a phrase also decodes its tokens' tfs and
      positions, once per segment), masked by the window on ``ts_us``.
      Segments the root does not cover cannot contain a match and are
      skipped entirely (no decode, no count work) — the hot∧rare win:
      the hot term's shards outside the rare term's docid ranges are
      never touched. A single term with no window and no ``collect``
      needs no pass at all: num_hits = Σ shard dfs (shards are
      disjoint).
    * scoring pass (``m > 0`` only): segments in descending bound
      order; term tf decode + scoring stop at the first segment whose
      bound falls strictly below the running m-th best score (sound:
      bounds are visited in descending order).

    Scores are EXACT: pruning only ever skips work that cannot change
    the top-m. Returns ``(ids, scores, num_hits, skips, matches)``;
    ``matches`` (``collect=True``, else None) holds every counted docid
    in ascending order, for sort_by, aggregations and search streams,
    which need no scores and so decode no tfs (pass ``m=0``)."""
    sp = _ShardPostings(split_dir, query_terms(ast), cache)
    k1, b = config.k1, config.b
    avgdl = stats["avgdl"]
    empty = (np.empty(0, np.int64), np.empty(0, np.float64))

    # segment edges: the split's own ends (MatchAll and pure negation
    # cover every docid) and every query key's shard edges — a
    # per-segment matcher needs ONE covering shard per token per segment
    edges = [np.array([0, doc_len.size], np.int64)]
    for st in sp.stats.values():
        edges += [st["first"], st["last"] + 1]
    bounds = np.unique(np.concatenate(edges))
    seg_lo, seg_hi = bounds[:-1], bounds[1:]
    n_seg = seg_lo.size

    def _annotate(node):
        """One AST node annotated with per-segment coverage and a
        per-segment score upper bound (``ub`` is pre-masked: 0 where
        the node is uncovered, so parents may sum child UBs directly).

        term: cov = shard presence; UB = BM25(max_tf, min_dl) of the
        covering shard. phrase: cov = AND over tokens; phrase freq
        counts anchors (first-token positions), so freq ≤ the first
        token's max_tf, and an exact phrase (slop 0) gives each anchor
        its own position of every token, so freq ≤ min token max_tf;
        a sloppy one may share later tokens between anchors. A match
        holds every token, so candidate dl ≥ max token-shard min_dl —
        UB = Σtoken-idf × norm(freq bound, max min_dl) ≥ any real
        phrase score (norm ↑ in freq, ↓ in dl); a term is its
        one-token case. A term or token the split lacks covers
        nothing. conj (``Bool.must``): cov = AND over children; group
        (``Bool.should``): cov = OR; UB = Σ child UBs for both (the
        whole-term evaluation sums every matching child's score).
        all (MatchAll, and a Bool with only ``must_not``): covers every
        segment with score 0. A Bool's ``must_not`` children become
        its ``negs``: excluded by ``_match``, score-dead, so the
        node keeps its positive part's cov and UB."""
        if isinstance(node, Boost):
            child = _annotate(node.node)
            # child ub is already cov-masked; factor >= 0 keeps the mask
            return {"kind": "boost", "factor": node.factor,
                    "children": [child], "cov": child["cov"],
                    "ub": child["ub"] * node.factor}
        if isinstance(node, MatchAll):
            return {"kind": "all", "cov": np.ones(n_seg, dtype=bool),
                    "ub": np.zeros(n_seg)}
        if isinstance(node, Bool):
            if not (node.must or node.should):
                nd = _annotate(MatchAll())  # pure negation
            else:
                kind = "conj" if node.must else "group"
                children = [_annotate(c) for c in node.must or node.should]
                cov = children[0]["cov"]
                for c in children[1:]:
                    cov = (cov & c["cov"]) if kind == "conj" else (cov | c["cov"])
                ub = np.zeros(n_seg, dtype=np.float64)
                for c in children:
                    ub += c["ub"]
                nd = {"kind": kind, "children": children, "cov": cov,
                      "ub": np.where(cov, ub, 0.0), "memo": {}}
            nd["negs"] = [_annotate(c) for c in node.must_not]
            return nd
        if isinstance(node, Term):
            nd = {"kind": "term", "keys": [(node.field, node.value)]}
        else:
            nd = {"kind": "phrase", "slop": node.slop, "memo": {},
                  "keys": [(node.field, tok) for tok in node.tokens]}
        nd["val"] = sum(_idf(stats, k) for k in nd["keys"])
        if not all(k in sp.stats for k in nd["keys"]):
            nd.update(cov=np.zeros(n_seg, dtype=bool), ub=np.zeros(n_seg))
            return nd
        cov = np.ones(n_seg, dtype=bool)
        f_ub = np.full(n_seg, np.inf)
        dl_lb = np.zeros(n_seg)
        shards = []
        for i, key in enumerate(nd["keys"]):
            st = sp.stats[key]
            kk = np.searchsorted(st["first"], seg_lo, side="right") - 1
            cov &= (kk >= 0) & (st["last"][np.maximum(kk, 0)] >= seg_lo)
            kk = np.maximum(kk, 0)
            shards.append(st["shard"][kk])
            if i == 0 or not nd.get("slop"):
                f_ub = np.minimum(f_ub, st["max_tf"][kk].astype(np.float64))
            dl_lb = np.maximum(dl_lb, st["min_dl"][kk].astype(np.float64))
        nd["shard"] = shards
        nd["cov"] = cov
        nd["ub"] = np.where(
            cov, _bm25_scores(f_ub, dl_lb, nd["val"], avgdl, k1, b), 0.0
        )
        return nd

    def _slice(key, shard, s: int):
        """(decoded docids of one shard, [a, b) of segment s in them)."""
        dec = sp.docids(key[0], key[1], shard)
        return dec, np.searchsorted(dec, seg_lo[s]), np.searchsorted(dec, seg_hi[s])

    def _phrase_match(nd, s: int):
        """(matching docids, phrase freqs) of one phrase node within
        segment s; positions decoded ONLY here, i.e. only for shards
        whose token docid-intersection is non-empty."""
        toks = []
        cand = None
        for key, shards in zip(nd["keys"], nd["shard"]):
            shard = int(shards[s])
            dec, a_, b_ = _slice(key, shard, s)
            cand = dec[a_:b_] if cand is None else np.intersect1d(
                cand, dec[a_:b_], assume_unique=True
            )
            if cand.size == 0:
                return empty
            toks.append((key, shard, dec))
        token_lists = []
        for key, shard, dec in toks:
            p = sp.positions(key[0], key[1], shard)
            if p is None:
                return empty  # field without positions: phrase matches nothing
            token_lists.append((dec, sp.tfs(key[0], key[1], shard), p))
        return _phrase_hits(cand, token_lists, nd["slop"])

    def _phrase_memo(nd, s: int):
        got = nd["memo"].get(s)
        if got is None:
            got = nd["memo"][s] = _phrase_match(nd, s)
        return got

    def _group_parts(nd, s: int):
        """(covering children, their matches) of a group within segment
        s, memoized for the scoring pass; a child that does not cover s
        matches nothing there."""
        got = nd["memo"].get(s)
        if got is None:
            kids = [c for c in nd["children"] if c["cov"][s]]
            got = nd["memo"][s] = (kids, [_match(c, s) for c in kids])
        return got

    def _match(nd, s: int) -> np.ndarray:
        """Sorted matching docids of one annotated node within segment
        s; the caller must ensure ``nd["cov"][s]``. A term decodes
        docids only, so the count pass decodes no term tfs. A negation
        that does not cover s excludes nothing there."""
        kind = nd["kind"]
        if kind == "all":
            ids = np.arange(seg_lo[s], seg_hi[s], dtype=np.int64)
        elif kind == "term":
            dec, a_, b_ = _slice(nd["keys"][0], int(nd["shard"][0][s]), s)
            ids = dec[a_:b_]
        elif kind == "phrase":
            ids = _phrase_memo(nd, s)[0]
        elif kind == "boost":
            ids = _match(nd["children"][0], s)
        elif kind == "conj":
            ids = _match(nd["children"][0], s)
            for c in nd["children"][1:]:
                if ids.size == 0:
                    break
                ids = np.intersect1d(ids, _match(c, s), assume_unique=True)
        else:
            parts = _group_parts(nd, s)[1]
            ids = parts[0]
            for c_ids in parts[1:]:
                ids = np.union1d(ids, c_ids)
        for neg in nd.get("negs", ()):
            if ids.size == 0:
                break
            if neg["cov"][s]:
                ids = ids[~np.isin(ids, _match(neg, s), assume_unique=True)]
        return ids

    def _score(nd, s: int, at: np.ndarray) -> np.ndarray:
        """Scores of ``at`` (sorted docids of segment s that all match
        the node). Float association is IDENTICAL to the whole-term
        evaluation at every level: conj = zeros + child scores in child
        order (``Bool.must``); group = zeros + the score of each
        matching child in child order (``Bool.should``); BM25 is
        elementwise, so scoring only ``at`` changes no bit."""
        kind = nd["kind"]
        if kind == "all":
            return np.zeros(at.size)
        if kind == "term":
            key = nd["keys"][0]
            shard = int(nd["shard"][0][s])
            dec = sp.docids(key[0], key[1], shard)
            tfs = sp.tfs(key[0], key[1], shard)[np.searchsorted(dec, at)]
            return _bm25_scores(tfs, doc_len[at], nd["val"], avgdl, k1, b)
        if kind == "phrase":
            ids, freqs = _phrase_memo(nd, s)
            freqs = freqs[np.searchsorted(ids, at)]
            return _bm25_scores(freqs, doc_len[at], nd["val"], avgdl, k1, b)
        if kind == "boost":
            return _score(nd["children"][0], s, at) * nd["factor"]
        scores = np.zeros(at.size, dtype=np.float64)
        if kind == "conj":
            for c in nd["children"]:
                scores += _score(c, s, at)
            return scores
        for c, c_ids in zip(*_group_parts(nd, s)):
            if c_ids.size:
                j = np.searchsorted(c_ids, at)
                hit = c_ids[np.minimum(j, c_ids.size - 1)] == at
                if hit.any():
                    scores[hit] += _score(c, s, at[hit])
        return scores

    root = _annotate(ast)
    active_idx = np.flatnonzero(root["cov"])
    windowed = start_us is not None or end_us is not None

    # ---- exact num_hits ------------------------------------------------
    cand: dict[int, np.ndarray] = {}
    matches = None
    if root["kind"] == "term" and not windowed and not collect:
        st = sp.stats.get(root["keys"][0])
        num_hits = 0 if st is None else int(st["df"].sum())
    else:
        for s in active_idx.tolist():
            ids = _match(root, s)
            if windowed and ids.size:
                t = ts_us[ids]
                keep = np.ones(ids.size, dtype=bool)
                if start_us is not None:
                    keep &= t >= start_us
                if end_us is not None:
                    keep &= t < end_us
                ids = ids[keep]
            cand[s] = ids
        num_hits = sum(ids.size for ids in cand.values())
        if collect:
            matches = np.concatenate([empty[0], *cand.values()])

    # ---- UB-ordered pruned scoring ------------------------------------
    ub_seg = root["ub"]
    order = active_idx[np.argsort(-ub_seg[active_idx], kind="stable")]
    best_ids, best_scores = empty
    theta = -math.inf
    for s in order.tolist() if m > 0 else ():
        if best_ids.size >= m and ub_seg[s] < theta:
            break  # sound: bounds visited in descending order
        ids = cand[s] if s in cand else _match(root, s)
        if ids.size == 0:
            continue
        best_ids = np.concatenate([best_ids, ids])
        best_scores = np.concatenate([best_scores, _score(root, s, ids)])
        best_ids, best_scores = _top_m(best_ids, best_scores, m)
        if best_ids.size >= m:
            theta = best_scores[-1]
    skips = {
        "shards": sum(st["first"].size for st in sp.stats.values()),
        "docid_decoded": sp.n_docid_decoded,
        "tf_decoded": sp.n_tf_decoded,
        "pos_decoded": sp.n_pos_decoded,
    }
    return best_ids, best_scores, num_hits, skips, matches


def _top_m(ids, scores, m):
    """Exact top-m by (score desc, docid asc), safe under ties."""
    if ids.size <= m:
        order = np.lexsort((ids, -scores))
        return ids[order], scores[order]
    part = np.argpartition(-scores, m - 1)
    thresh = scores[part[m - 1]]
    keep = np.flatnonzero(scores >= thresh)
    order = keep[np.lexsort((ids[keep], -scores[keep]))][:m]
    return ids[order], scores[order]


# Per-process fast-field cache. Split files are IMMUTABLE once written
# (merge/demux create new dirs), so a split's fast-field columns
# (doc_len, ts_us, a sort, aggregation or search-stream column) never
# change under its path — yet re-reading them cost
# ~2 ms per split per query, the biggest slice of the warm driver-mode
# latency floor after the postings read (profiled at 16 splits/200k
# docs). Bounded by BYTES, not entries: a 10M-doc split's fast columns
# are ~160 MB, so a count bound would be unsafe on big-split executors.
# 256 MB default per process: the driver holds one; EVERY reused Spark
# python worker holds one too, so size for workers-many copies (tune
# with QS_FASTFIELD_CACHE_BYTES; a 10M-doc split's fast columns are
# ~160 MB, so even one cached big split pays for itself on locality)
_FAST_CACHE_MAX_BYTES = int(
    os.environ.get("QS_FASTFIELD_CACHE_BYTES", 256 << 20)
)
# the budget is read at every insert, so the node config's
# fast_field_cache_capacity (cli.py) resizes a live cache
_FAST_CACHE = LRU(lambda: _FAST_CACHE_MAX_BYTES)

# Per-Searcher budget of the block cache (see Searcher._blocks): the
# leaves' decoded postings (each term's shard stats, each visited
# shard's docid / tf / position arrays), the decoded postings row
# groups their misses read through, and the decoded doc-store row
# groups the root doc fetch addresses by docid. A warm leaf hit skips
# the pushdown scan and every varint decode, a warm fetch every
# decompress; it pays off while the query terms' postings and the
# winners' doc groups fit. After the search_warm mix, a 40k-turn,
# 8-split index keeps about 12.7 MB resident (2.8 MB decoded postings
# in 288 entries, 3.9 MB postings and 6.0 MB doc-store row groups), so
# 128 MB holds roughly a 400k-turn index with that query variety.
_BLOCK_CACHE_MAX_BYTES = 128 << 20


def _fast_array_cached(dpath: str, col: str, dtype) -> np.ndarray:
    """One docs.parquet column as a contiguous read-only ``dtype`` array,
    decoded once per (docs path, column, dtype) and charged its nbytes:
    the leaf's ``doc_len`` (float64) and ``ts_us`` (int64), and the
    float64 values a histogram, range, stats or sub-agg, a ``sort_by``
    or a search stream reads. Values convert as numpy ``astype`` does
    (a timestamp becomes its count of its unit); a null becomes NaN."""
    key = (dpath, col, np.dtype(dtype).str)
    got = _FAST_CACHE.get(key)
    if got is None:
        arr = fsio.read_table(dpath, columns=[col]).column(col)
        got = arr.to_numpy(zero_copy_only=False).astype(dtype)
        if arr.null_count:
            got[arr.is_null().to_numpy()] = np.nan
        got.flags.writeable = False
        got = _FAST_CACHE.put(key, got, got.nbytes)
    return got


class _TermsColumn(NamedTuple):
    """A terms agg field decoded for the leaves (see _terms_cached)."""

    codes: np.ndarray  # int32 per row; len(keys) = no bucket (null, NaN)
    keys: tuple  # bucket-key strings, in first-seen order
    order: np.ndarray  # positions of ``keys`` in ascending value order


def _terms_column(arr) -> _TermsColumn:
    """Dictionary-encode one column (a ChunkedArray) for terms aggs.
    A key is ``str`` of the column's own Python value: an int column
    keys ``"2"`` whether or not the split holds a null, a timestamp
    its pandas ``Timestamp`` form in UTC (``"1970-01-01 00:00:01"``),
    and -0.0 shares 0.0's bucket as it did in pandas, keyed ``"0.0"``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = arr.combine_chunks()
    if pa.types.is_timestamp(arr.type) or pa.types.is_date(arr.type):
        arr = arr.cast(pa.timestamp(getattr(arr.type, "unit", "s")))
    if pa.types.is_floating(arr.type):  # NaN: no bucket; -0.0 + 0.0 is 0.0
        zero = pa.scalar(0.0, arr.type)
        arr = pc.if_else(pc.is_nan(arr), None, pc.add(arr, zero))
    enc = arr.dictionary_encode()
    keys = tuple(map(str, enc.dictionary.to_pylist()))
    out = _TermsColumn(
        enc.indices.fill_null(len(keys)).to_numpy().astype(np.int32),
        keys, pc.array_sort_indices(enc.dictionary).to_numpy().astype(np.int32),
    )
    out.codes.flags.writeable = out.order.flags.writeable = False
    return out


def _terms_cached(dpath: str, col: str) -> _TermsColumn:
    """:func:`_terms_column` of a docs.parquet column, decoded once per
    docs path and charged its arrays' nbytes plus its keys' sizes."""
    key = (dpath, col, "terms")
    got = _FAST_CACHE.get(key)
    if got is None:
        got = _terms_column(fsio.read_table(dpath, columns=[col]).column(col))
        nbytes = got.codes.nbytes + got.order.nbytes
        got = _FAST_CACHE.put(key, got, nbytes + sum(map(sys.getsizeof, got.keys)))
    return got


def _leaf_column(dpath: str, field: str, ts_us: np.ndarray, terms=False):
    """A field as a leaf reads it for an aggregation, a sort or a
    search stream: terms its cached codes (``ts`` those of ``ts_us``),
    else ``ts``/``ts_us`` the leaf's int64 ``ts_us`` and any other
    field its cached float64 values."""
    if terms:
        return _terms_cached(dpath, "ts_us" if field == "ts" else field)
    if field in ("ts", "ts_us"):
        return ts_us
    return _fast_array_cached(dpath, field, np.float64)


def _eval_split_partial(
    split_id: str,
    split_dir: str,
    ast,
    stats: dict,
    config: IndexConfig,
    m: int,
    start_us,
    end_us,
    sort_by,
    sort_desc,
    aggs: dict | None,
    cache=None,
) -> LeafResponse:
    """One leaf search: the split's ``LeafResponse``. Hits are doc
    addresses; the root fetches the payloads of the final hits only
    (fetch_docs.rs:98-173), since the merge keeps k+offset of the
    splits × m candidates. ``cache``: the LRU that keeps the decoded
    postings (driver mode passes ``Searcher._blocks``; Spark-mode
    kernels pass None and keep them for one query), see
    :class:`_ShardPostings`."""
    dpath = fsio.join(split_dir, DOCS_FILE)
    if sort_by and sort_by not in ("ts", "ts_us"):
        # validate against the split schema BEFORE the column read so
        # the errors carry the reference's exact strings
        # (sort_by.rs:95-115 validate_sort_by_field_name); every doc
        # column doubles as a fast field in this layout, so the
        # "must be a fast field" branch cannot occur
        schema = fsio.parquet_file_cached(dpath).schema_arrow
        if sort_by not in schema.names:
            raise ValueError(f"Unknown sort by field: `{sort_by}`")
        import pyarrow as pa

        sort_type = schema.field(sort_by).type
        if not (pa.types.is_integer(sort_type) or pa.types.is_floating(sort_type)):
            raise ValueError(
                f"Sort by field on type text is currently not supported "
                f"`{sort_by}`."
            )
    ts_us = _fast_array_cached(dpath, "ts_us", np.int64)

    # sort_by, aggregations and k=0 read the count pass's matches and
    # score nothing; only relevance ranking runs the scoring pass
    ids, scores, num_hits, _skips, matches = _wand_bool(
        split_dir, ast, _fast_array_cached(dpath, "doc_len", np.float64),
        stats, config, 0 if sort_by else m, cache, ts_us, start_us, end_us,
        collect=bool(sort_by or aggs),
    )
    sel = real_vals = scores
    if sort_by and m > 0 and matches.size:
        col = _leaf_column(dpath, sort_by, ts_us)
        keys = col[matches].astype(np.float64)
        # Asc sort via negated key — the reference's u64::MAX - v
        # trick (collector.rs:41-92); ``sort_value`` is always a
        # descending-merge key, ``score`` the real field value.
        order_key = keys if sort_desc else -keys
        ids, sel = _top_m(matches, order_key, m)
        real_vals = col[ids].astype(np.float64)
    out = LeafResponse(
        split_id, int(num_hits), np.asarray(ids, np.int64),
        np.asarray(sel, np.float64), np.asarray(real_vals, np.float64),
        np.asarray(ts_us[ids], np.int64),
    )

    # partial aggregations (collector.rs:214-221 intermediate results).
    # A zero-match split still participates when a terms agg asks for
    # min_doc_count=0 — its term dictionary feeds the zero-count buckets
    _mdc0 = aggs is not None and any(
        "terms" in spec and int(spec["terms"].get("min_doc_count", 1)) == 0
        for spec in aggs.values()
    )
    if aggs and (matches.size or _mdc0):
        for name, spec in aggs.items():
            kind, params = next(iter(spec.items()))
            sf = params.get("stats_field")
            col = _leaf_column(dpath, params["field"], ts_us, kind == "terms")
            sub = _leaf_column(dpath, sf, ts_us) if sf else None
            rows = _partial_agg(kind, params, col, matches, sub)
            for r in rows:
                r["agg_name"] = name
            out.aggs.extend(rows)

    return out


def fetch_doc_payloads(dpath: str, docids, cache) -> list[dict]:
    """fetch_docs for one split (fetch_docs.rs:98-173, docs "accessed
    by (segment_ord, doc_id)"): the record of each of ``docids``, in
    order — every doc-store column but ``docid`` and the fast fields,
    as plain Python values.

    A docid IS its doc-store row number (the build writes
    ``arange(n)``, merges concatenate with offsets), so one
    ``searchsorted`` over the footer's row counts addresses each hit's
    (row group, row); the groups are read whole through ``cache`` (the
    decoded row-group LRU, see ``parquet_io.cached_row_groups``) and
    each value is taken by index — no predicate scan, no filter. The
    stored docid of every row read is checked against its address: a
    doc store whose rows are not in docid order raises instead of
    answering with another doc's payload."""
    from quickwit_spark.functions.parquet_io import cached_row_groups

    pf = fsio.parquet_file_cached(dpath)
    cols = [c for c in pf.schema_arrow.names if c not in ("ts_us", "doc_len")]
    starts = pf.row_starts()
    ids = np.asarray(docids, dtype=np.int64)
    at = np.searchsorted(starts, ids, side="right") - 1
    groups = sorted(set(at.tolist()))
    tables = cached_row_groups(dpath, groups, cols, cache)
    arrays = {g: t.columns for g, t in zip(groups, tables)}
    at_docid = cols.index("docid")
    out = []
    for did, g, row in zip(ids.tolist(), at.tolist(), (ids - starts[at]).tolist()):
        vals = [arr[row].as_py() for arr in arrays[g]]
        if vals[at_docid] != did:
            raise ValueError(
                f"{dpath}: row {did} holds docid {vals[at_docid]}; the doc "
                "store is not in docid order"
            )
        out.append({c: v for c, v in zip(cols, vals) if c != "docid"})
    return out


_AGG_KINDS = ("terms", "histogram", "range", "stats", "avg")


def _normalize_aggs(aggs: dict | None) -> dict | None:
    """Validate an aggs request and translate the ES nested sub-agg
    shape (aggregation.md terms order-by-sub-agg example:
    ``{"terms": {...}, "aggs": {"average_price": {"avg": {...}}}}``)
    into the flat internal form the leaf kernels ship:
    ``stats_field`` + ``sub_name``/``sub_kind`` on the bucket params.
    Idempotent — already-flat specs pass through."""
    if not aggs:
        return aggs
    out = {}
    for name, spec in aggs.items():
        spec = dict(spec)
        nested = spec.pop("aggs", None)
        kinds = [k for k in spec if k in _AGG_KINDS]
        if len(kinds) != 1 or len(spec) != 1:
            raise ValueError(
                f"aggregation {name!r} must have exactly one kind of "
                f"{_AGG_KINDS}, got {sorted(spec)}"
            )
        kind = kinds[0]
        params = dict(spec[kind])
        if nested is not None:
            if kind not in ("terms", "histogram", "range"):
                raise ValueError(
                    f"sub-aggregations are only supported under bucket "
                    f"aggregations (aggregation {name!r} is {kind!r})"
                )
            if len(nested) != 1:
                raise ValueError(
                    f"aggregation {name!r}: exactly one sub-aggregation "
                    f"is supported, got {sorted(nested)}"
                )
            ((sub_name, sub_spec),) = nested.items()
            if len(sub_spec) != 1:
                raise ValueError(
                    f"sub-aggregation {sub_name!r} must have exactly one kind"
                )
            ((sub_kind, sub_params),) = sub_spec.items()
            if sub_kind not in ("avg", "stats"):
                raise ValueError(
                    f"sub-aggregation {sub_name!r}: only metric "
                    f"sub-aggregations (avg, stats) are supported, "
                    f"got {sub_kind!r}"
                )
            params["stats_field"] = sub_params["field"]
            params["sub_name"] = sub_name
            params["sub_kind"] = sub_kind
        if kind == "range":
            if params.get("keyed"):
                # aggregation.md range Limitations/Compatibility
                raise ValueError(
                    "Elasticsearch `keyed` parameter is not yet supported."
                )
            _reject_overlapping_ranges(name, params.get("ranges") or [])
        if kind in ("terms", "histogram") and params.get("keyed"):
            raise ValueError(
                "Elasticsearch `keyed` parameter is not yet supported."
            )
        out[name] = {kind: params}
    return out


def _reject_overlapping_ranges(name: str, ranges: list[dict]) -> None:
    """aggregation.md range: 'Overlapping ranges are not yet
    supported.' — reject them loudly instead of silently returning a
    superset the reference would refuse."""
    import math

    spans = sorted(
        (
            float(r["from"]) if r.get("from") is not None else -math.inf,
            float(r["to"]) if r.get("to") is not None else math.inf,
        )
        for r in ranges
    )
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        if lo2 < hi1:
            raise ValueError(
                f"aggregation {name!r}: overlapping ranges are not yet "
                f"supported ([{lo1}, {hi1}) overlaps [{lo2}, ...))"
            )


def _subagg_metric_col(target: str, params: dict) -> str:
    """Resolve a terms ``order`` sub-agg target to an internal metric
    in {count, sum, min, max, avg}. Accepted spellings
    (aggregation.md terms order): the sub-agg name alone for
    single-value metrics (avg), ``<name>.<stat>`` for multi-value
    metrics (stats), plus the legacy ``stats.<stat>``."""
    sub_name = params.get("sub_name", "stats")
    sub_kind = params.get("sub_kind", "stats")
    if target == sub_name:
        if sub_kind == "avg":
            return "avg"
        raise ValueError(
            f"multi-value sub-aggregation {sub_name!r} must be addressed "
            f"by field, e.g. '{sub_name}.avg'"
        )
    head, _, stat = target.partition(".")
    if head in (sub_name, "stats") and stat in (
        "count", "sum", "min", "max", "avg"
    ):
        return stat
    raise ValueError(f"unknown terms order target {target!r}")


def _bucket_metric_value(row: dict, metric: str) -> float:
    if metric == "count":
        return float(row["agg_count"])
    if metric == "avg":
        return float(row["agg_sum"]) / max(int(row["agg_count"]), 1)
    return float(row[f"agg_{metric}"])


def _terms_split_size(params: dict) -> int:
    """Leaf cut-off for terms aggs (aggregation.md terms split_size:
    'defaults to size * 1.5 + 10')."""
    size = int(params.get("size", 10))
    return int(params.get("split_size", size * 1.5 + 10))


def _terms_order(params: dict) -> tuple[str, bool]:
    """(target, ascending) of the terms `order` param. Targets:
    ``_count`` / ``_key`` / a metric sub-agg address
    (aggregation.md terms order; legacy spellings kept)."""
    order = params.get("order") or {"_count": "desc"}
    target, direction = next(iter(order.items()))
    if target == "doc_count":  # legacy spelling
        target = "_count"
    return target, direction == "asc"


def _group_moments(groups: np.ndarray, vals, n: int):
    """Per group ``0..n-1`` of ``groups`` (one per value): the count,
    sum, min, max and sum of squares of its non-NaN ``vals``, each an
    array of n (min and max NaN for a group without a value)."""
    vals = np.asarray(vals, np.float64)
    ok = ~np.isnan(vals)
    g, v = groups[ok], vals[ok]
    count = np.bincount(g, minlength=n)
    lo = np.full(n, np.inf)
    hi = np.full(n, -np.inf)
    np.minimum.at(lo, g, v)
    np.maximum.at(hi, g, v)
    lo[count == 0] = hi[count == 0] = np.nan
    return count, np.bincount(g, v, n), lo, hi, np.bincount(g, v * v, n)


def _moment_records(keys, counts, moments) -> list[dict]:
    """Bucket records: key, count and the sub-agg moments when given."""
    if moments is None:
        return [dict(agg_key=k, agg_count=int(c)) for k, c in zip(keys, counts)]
    return [
        dict(agg_key=k, agg_count=int(c), agg_sum=s, agg_min=lo, agg_max=hi,
             agg_sq=sq)
        for k, c, s, lo, hi, sq in zip(keys, counts, *(m.tolist() for m in moments))
    ]


def _partial_agg(
    kind: str, params: dict, col, matches: np.ndarray, sub=None
) -> list[dict]:
    """One split's partial buckets for one agg (collector.rs:214-221;
    the aggregation.md subset: terms with an optional avg/stats sub-agg
    and order by it, histogram, range, avg, stats) as records of the
    ``_AGG_COLS`` each sets. ``col`` is the field as
    :func:`_leaf_column` caches it (a :class:`_TermsColumn` for terms,
    else numbers, NaN for null), ``sub`` the sub-agg field or None,
    ``matches`` the matched docids. Numpy over the matched rows: terms
    count with one ``bincount`` of the codes, sub-agg moments come from
    :func:`_group_moments`. Terms records come in key value order, then
    ``min_doc_count=0``'s zero-count keys in first-seen order."""
    rows = []
    stats_field = params.get("stats_field")
    if kind == "terms":
        n = len(col.keys)
        at = col.codes[matches]
        counts = np.bincount(at, minlength=n + 1)
        # shard_size analog: fail fast IN THE LEAF on high-cardinality
        # terms aggs — without this cap every split ships its full
        # per-split cardinality through the root merge before the root
        # cap (collector.rs:273) gets a chance to reject the query
        n_buckets = int(np.count_nonzero(counts[:n]))
        if n_buckets > AGGREGATION_BUCKET_LIMIT:
            raise ValueError(
                f"aggregation bucket limit exceeded in split: {n_buckets} "
                f"> {AGGREGATION_BUCKET_LIMIT} distinct terms keys"
            )
        present = col.order[counts[col.order] > 0]
        keys = [col.keys[i] for i in present.tolist()]
        if stats_field is None:
            rows = _moment_records(keys, counts[present].tolist(), None)
        else:
            # a bucket's agg_count counts its non-null sub-agg values
            cnt, *moments = _group_moments(at, sub[matches], n + 1)
            rows = _moment_records(
                keys, cnt[present].tolist(), [m[present] for m in moments]
            )
        # min_doc_count=0: 'return all terms in the field'
        # (aggregation.md) — zero-count buckets for field values the
        # query didn't match (the split-local term dictionary)
        if int(params.get("min_doc_count", 1)) == 0:
            if n > AGGREGATION_BUCKET_LIMIT:
                raise ValueError(
                    "aggregation bucket limit exceeded in split: "
                    f"{n} > {AGGREGATION_BUCKET_LIMIT} "
                    "distinct terms keys (min_doc_count=0)"
                )
            zero = dict(agg_count=0)
            if stats_field is not None:
                zero.update(agg_sum=0.0, agg_min=np.nan, agg_max=np.nan,
                            agg_sq=0.0)
            rows += [
                dict(agg_key=col.keys[i], **zero)
                for i in np.flatnonzero(counts[:n] == 0).tolist()
            ]
        # split_size cut (aggregation.md 'results from one split are
        # cut off at split_size', default size*1.5+10) + one summary
        # row (agg_key=None) so the root can compute
        # sum_other_doc_count and doc_count_error_upper_bound: the
        # error bound contribution is the largest CUT bucket's count
        split_size = _terms_split_size(params)
        if len(rows) > split_size:
            target, asc = _terms_order(params)
            if target == "_key":
                rows.sort(key=lambda r: r["agg_key"], reverse=not asc)
            elif target == "_count" or params.get("stats_field") is None:
                # count order (tie: key asc) — also the fallback cut
                # order when a sub-agg target is requested without a
                # recorded sub-agg (validated earlier)
                rows.sort(key=lambda r: (-r["agg_count"], r["agg_key"]))
            else:
                metric = _subagg_metric_col(target, params)
                sign = 1 if asc else -1

                def mkey(r, m=metric, s=sign):
                    v = _bucket_metric_value(r, m)
                    return (s * v, r["agg_key"])

                rows.sort(key=mkey)
            kept, cut = rows[:split_size], rows[split_size:]
            # the largest CUT bucket bounds the per-split error ONLY
            # under count-desc cut order (aggregation.md defines
            # doc_count_error_upper_bound for count ordering; under
            # _key / sub-agg-metric order the largest cut bucket says
            # nothing about missed counts) — other orders contribute 0
            # so the root never reports a bogus bound
            err_part = (
                float(max(r["agg_count"] for r in cut))
                if (target == "_count" and not asc)
                else 0.0
            )
            summary = dict(
                agg_key=None,
                agg_count=int(sum(r["agg_count"] for r in cut)),
                agg_sum=err_part,
            )
            rows = kept + [summary]
        return rows
    if kind not in ("histogram", "range", "stats", "avg"):
        raise ValueError(f"unsupported aggregation {kind!r}")
    v = np.asarray(col[matches], np.float64)
    sv = None if stats_field is None else np.asarray(sub[matches], np.float64)
    if kind == "histogram":
        interval = float(params["interval"])
        # aggregation.md histogram: bucket key =
        # ((val - offset) / interval).floor() * interval + offset
        off = float(params.get("offset", 0.0))
        notna = ~np.isnan(v)
        buckets = np.floor((v[notna] - off) / interval) * interval + off
        if sv is not None:
            sv = sv[notna]
        hard = params.get("hard_bounds")
        if hard is not None:
            # limits the BUCKETS to the [min, max] closed interval
            mask = (buckets >= float(hard["min"])) & (
                buckets <= float(hard["max"])
            )
            buckets = buckets[mask]
            if sv is not None:
                sv = sv[mask]
        uniq, inv, cnt = np.unique(
            buckets, return_inverse=True, return_counts=True
        )
        # doc_count stays bucket MEMBERSHIP (identical to the no-sub-agg
        # path); the stats ride along as sum/min/max of the sub-agg
        # field within the bucket (aggregation.md 'histogram with stats
        # in each bucket')
        rows = _moment_records(
            [repr(k) for k in uniq.tolist()], cnt.tolist(),
            None if sv is None else _group_moments(inv, sv, uniq.size)[1:],
        )
    elif kind == "range":
        for rng in params["ranges"]:
            lo = rng.get("from")
            hi = rng.get("to")
            mask = np.ones(v.size, dtype=bool)
            if lo is not None:
                mask &= v >= lo
            if hi is not None:
                mask &= v < hi
            r = dict(
                agg_key=f"{lo if lo is not None else '*'}-{hi if hi is not None else '*'}",
                agg_count=int(mask.sum()),
            )
            if sv is not None:
                mv = sv[mask]
                mv = mv[~np.isnan(mv)]
                r.update(
                    agg_sum=float(mv.sum()) if mv.size else 0.0,
                    agg_min=float(mv.min()) if mv.size else np.nan,
                    agg_max=float(mv.max()) if mv.size else np.nan,
                    agg_sq=float((mv * mv).sum()) if mv.size else 0.0,
                )
            rows.append(r)
    else:
        v = v[~np.isnan(v)]
        if v.size:
            rows.append(dict(
                agg_key="",
                agg_count=int(v.size),
                agg_sum=float(v.sum()),
                agg_min=float(v.min()),
                agg_max=float(v.max()),
                agg_sq=float((v * v).sum()),
            ))
    return rows


# ---------------------------------------------------------------------------
# driver side
# ---------------------------------------------------------------------------

class Searcher:
    """Warm search handle over one index: caches catalog, global stats,
    per-term global doc-freqs, decoded postings (per-term shard stats
    and per-shard docid / tf / position arrays) and decoded row groups
    across queries (the root's metastore + footer + byte-range caches,
    leaf.rs:64-107 analog)."""

    def __init__(self, spark, index_dir: str, at_seq: int | None = None):
        self.spark = spark
        self.index_dir = index_dir
        # at_seq: search a HISTORICAL catalog state (an index built
        # with retain_history — Iceberg snapshot-read analog). Split
        # files are immutable so the old split set answers exactly as
        # it did then, as long as split GC has not reaped deleted
        # splits (run expire_history before gc, like Iceberg's
        # expire_snapshots before remove_orphan_files).
        self.at_seq = at_seq
        self.catalog = Catalog.load(index_dir, at_seq=at_seq)
        self.config = self.catalog.config
        self._df_cache: dict[tuple[str, str], int] = {}
        # each logged once per handle; every occurrence lands in the
        # response's errors
        self._warned_no_stats = False
        self._warned_leaf_drop = False
        self._warned_fetch_drop = False
        # the driver-mode leaves' decoded postings, keyed (postings
        # path, "term", field, term) and (postings path, blob column,
        # field, term, shard) (see _ShardPostings), and the decoded row
        # groups the leaves' misses and the root fetch read through,
        # keyed (file path, row group, columns); every key leads with
        # its file path, so refresh() drops by path. Per HANDLE, not per
        # process: a fresh Searcher always re-reads the disk, so a
        # corrupted split surfaces as a per-split error instead of
        # being served from memory. Split files are immutable, so
        # entries stay valid across refresh(), which drops only
        # unpublished splits.
        self._blocks = LRU(lambda: _BLOCK_CACHE_MAX_BYTES)
        self._catalog_mtime = self._mtime()

    def _mtime(self):
        # commit token: manifest head mtime (legacy file mtimes until
        # the first commit after an import)
        return Catalog.state_token(self.index_dir)

    @property
    def n_docs(self) -> int:
        return self.catalog.total_docs()

    def refresh(self) -> None:
        self.catalog = Catalog.load(self.index_dir, at_seq=self.at_seq)
        self.config = self.catalog.config
        self._df_cache.clear()
        live = {
            fsio.join(self.catalog.split_dir(s.split_id), name)
            for s in self.catalog.published_splits()
            for name in (DOCS_FILE, POSTINGS_FILE)
        }
        self._blocks.retain(lambda key: key[0] in live)
        self._catalog_mtime = self._mtime()

    def _refresh_if_stale(self) -> None:
        """A merge/ingest/GC republished the catalog since this handle
        loaded it — old split dirs may be gone; reload (one os.stat per
        query, the metastore-poll analog). A time-travel handle is
        pinned: new commits cannot change the state at its seq."""
        if self.at_seq is None and self._mtime() != self._catalog_mtime:
            self.refresh()

    # -- global term stats -------------------------------------------------

    def _global_df(self, terms: set[tuple[str, str]]) -> dict:
        missing = {t for t in terms if t not in self._df_cache}
        if missing:
            # fast path: precomputed index-level term stats (hotcache
            # analog — see operators/stats.py), driver-side point read
            from quickwit_spark.operators.stats import lookup_term_stats, sum_dfs

            found = lookup_term_stats(self.catalog, missing)
            if found is None:
                if not self._warned_no_stats:
                    # once per handle: every later miss takes the same path
                    self._warned_no_stats = True
                    _log.warning(
                        "index %s: term-stats artifact missing or unreadable; "
                        "global doc freqs are summed from the splits' "
                        "postings (stats.sum_dfs) until refresh_term_stats "
                        "rewrites it",
                        self.index_dir,
                    )
                found = sum_dfs(self.spark, self.catalog, missing)
            self._df_cache.update(found)
        return {t: self._df_cache[t] for t in terms}

    # -- search ------------------------------------------------------------

    def search(
        self,
        query: str,
        k: int = 20,
        offset: int = 0,
        start_us: int | None = None,
        end_us: int | None = None,
        sort_by: str | None = None,
        sort_desc: bool = True,
        aggs: dict | None = None,
        mode: str = "auto",
        search_fields: list | None = None,
    ) -> SearchResponse:
        import time as _time

        t0 = _time.time()
        if k + offset > 10_000 or offset > 10_000:
            # request validation (quickwit-search/src/root.rs:112-133)
            raise ValueError("max_hits + start_offset must be ≤ 10,000")
        aggs = _normalize_aggs(aggs)
        leaves, errors = self.search_partials(
            query, k, offset, start_us, end_us, sort_by, sort_desc, aggs,
            mode, search_fields,
        )
        resp = merge_partials(leaves, k, offset, sort_by, aggs)
        resp.errors = errors
        self._fetch_missing_docs(resp)
        resp.elapsed_sec = _time.time() - t0
        return resp

    def _fetch_missing_docs(self, resp: SearchResponse) -> None:
        """Root fetch_docs phase (fetch_docs.rs:98-173): payloads for
        the final hits only, grouped per split, addressed by docid and
        read through the block cache in the calling thread, whichever
        mode ran the leaves (see :func:`fetch_doc_payloads`); then one
        JSON round trip over every fetched record of the response.

        Same failure tolerance as the leaf phase: a split whose doc
        fetch fails (e.g. GC'd between the leaf phase and the root
        fetch) is retried once, then its hits are DROPPED and the
        failure is reported in ``resp.errors`` — one lost split must
        not discard an otherwise-partial result (the reference's
        fetch_docs errors degrade to partial responses the same way)."""
        import json as _json

        pending: dict[str, list] = {}
        for h in resp.hits:
            pending.setdefault(h.split_id, []).append(h)

        fetched, records = [], []
        for split_id, hs in pending.items():
            dpath = fsio.join(self.catalog.split_dir(split_id), DOCS_FILE)
            for _attempt in (0, 1):
                try:
                    got = fetch_doc_payloads(
                        dpath, [h.docid for h in hs], self._blocks
                    )
                    break
                except Exception as exc:  # noqa: BLE001 - reported
                    got = exc
            if isinstance(got, Exception):
                resp.errors.append(f"split {split_id}: doc fetch: {got}")
                if not self._warned_fetch_drop:
                    self._warned_fetch_drop = True
                    _log.warning(
                        "index %s: split %s dropped from a response: doc "
                        "fetch: %s (later drops only in the responses' "
                        "errors)", self.index_dir, split_id, got,
                    )
                continue
            fetched.extend(hs)
            records.extend(got)
        # one JSON round trip for the whole response: datetimes become
        # their str(), as a per-document dumps/loads made them
        for h, doc in zip(fetched, _json.loads(_json.dumps(records, default=str))):
            h.doc = doc
        if len(fetched) < len(resp.hits):
            kept = {id(h) for h in fetched}
            resp.hits = [h for h in resp.hits if id(h) in kept]

    # a leaf search is executed in the calling thread when the pruned
    # split set is small — the reference's single_node_search skips the
    # gRPC fan-out the same way (quickwit-search/src/lib.rs:189-251); larger
    # split sets go through the Spark job (the root→leaf fan-out)
    DRIVER_EXEC_MAX_SPLITS = 32

    def _plan(self, query, start_us, end_us, search_fields=None):
        """The root's planning, shared by searches and search streams:
        reload a stale catalog, parse and validate the query, prune the
        splits (lib.rs:107-156) and gather the BM25 stats
        ``{N, avgdl, df}``. Returns ``(ast, [(split_id, split_dir)],
        stats)``; stats is None when no split survives pruning."""
        self._refresh_if_stale()
        ast = parse_query(query, self.config, search_fields)
        _validate_phrase_fields(ast, self.config)
        splits = prune_splits(
            self.catalog.published_splits(), ast, self.config, start_us, end_us
        )
        if not splits:
            return ast, [], None
        stats = {
            "N": self.n_docs,
            "avgdl": (self.catalog.total_doc_len() / max(self.n_docs, 1)) or 1.0,
            "df": self._global_df(query_terms(ast)),
        }
        rows = [
            (s.split_id, self.catalog.split_dir(s.split_id)) for s in splits
        ]
        return ast, rows, stats

    def search_partials(
        self, query, k, offset=0, start_us=None, end_us=None,
        sort_by=None, sort_desc=True, aggs=None,
        mode: str = "auto", search_fields=None,
    ) -> tuple[list[LeafResponse], list]:
        """Run the leaf phase; returns (one ``LeafResponse`` per split
        that answered, per-split errors). Hits carry doc addresses; the
        root fetches payloads after the merge.

        mode: 'spark' (distributed mapInPandas over splits), 'driver'
        (in-process, same kernel function), or 'auto'.

        Driver mode runs the leaves one after another in the calling
        thread, reading postings through the block cache (``_blocks``),
        as the reference's leaf searches warmed postings synchronously
        (leaf.rs:166-356). Their Python work holds the GIL, so a thread
        pool only added hand-off cost: on a warm 40k-turn, 8-split index
        the mix's p50 was ~23 ms pooled, ~14 ms inline (both cached).

        Spark mode ships each split's response as one ``LEAF_SCHEMA``
        row with typed array columns and rebuilds it here; the wire
        turns a NaN inside an array into a null, which the dtype'd
        ``np.asarray`` turns back into NaN.

        Failure tolerance mirrors the reference root: a failing split
        is retried once (quickwit-search/src/retry/search.rs), then its
        error is REPORTED while the other splits' results still answer
        the query (search_api.proto `errors`). Spark mode delegates the
        retry to Spark's task retry; there a split that fails every
        attempt fails the job (documented difference: a cluster
        reschedules on another executor first, which is the reference's
        "retry on a different node").
        """
        aggs = _normalize_aggs(aggs)
        ast, rows, stats = self._plan(query, start_us, end_us, search_fields)
        if not rows:
            return [], []
        m = k + offset
        config = self.config
        if mode == "auto":
            mode = (
                "driver"
                if len(rows) <= self.DRIVER_EXEC_MAX_SPLITS
                else "spark"
            )

        if mode == "driver":
            leaves, errors = [], []
            for split_id, split_dir in rows:
                for attempt in (0, 1):
                    try:
                        leaves.append(_eval_split_partial(
                            split_id, split_dir, ast, stats, config, m,
                            start_us, end_us, sort_by, sort_desc, aggs,
                            cache=self._blocks,
                        ))
                        break
                    except Exception as exc:  # noqa: BLE001 - reported
                        if attempt:
                            errors.append(f"split {split_id}: {exc}")
            if errors and len(errors) == len(rows):
                # every split failed: that's not a partial result, it's
                # a broken query/index — surface it loudly (the
                # reference errors out when no leaf responds too)
                raise RuntimeError(
                    f"all {len(rows)} splits failed; first: {errors[0]}"
                )
            if errors and not self._warned_leaf_drop:
                self._warned_leaf_drop = True
                _log.warning(
                    "index %s: %d split(s) dropped from a response: %s "
                    "(later drops only in the responses' errors)",
                    self.index_dir, len(errors), errors[0],
                )
            return leaves, errors

        sdf = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(rows, len(rows)),
            "split_id string, path string",
        )

        def kernel(iterator):
            limit_worker_threads()
            for pdf in iterator:
                for split_id, path in zip(pdf["split_id"], pdf["path"]):
                    r = _eval_split_partial(
                        split_id, path, ast, stats, config, m,
                        start_us, end_us, sort_by, sort_desc, aggs,
                    )
                    yield pd.DataFrame({f: [v] for f, v in vars(r).items()})

        out = sdf.mapInPandas(kernel, schema=LEAF_SCHEMA).toPandas()
        leaves = [
            LeafResponse(
                r.split_id, int(r.num_hits),
                np.asarray(r.docid, np.int64),
                np.asarray(r.sort_value, np.float64),
                np.asarray(r.score, np.float64),
                np.asarray(r.ts_us, np.int64),
                list(r.aggs),
            )
            for r in out.itertuples(index=False)
        ]
        return leaves, []


def _validate_phrase_fields(ast, config) -> None:
    """Phrase queries need position-recorded postings — the reference
    rejects phrase queries on fields indexed without positions
    (record != 'position'; query build error in query_builder.rs)."""
    if isinstance(ast, Phrase):
        if not config.field(ast.field).with_positions:
            raise ValueError(
                f"phrase query on field {ast.field!r} which is indexed "
                f"without positions (record={config.field(ast.field).record!r})"
            )
    elif isinstance(ast, Bool):
        for c in ast.must + ast.should + ast.must_not:
            _validate_phrase_fields(c, config)
    elif isinstance(ast, Boost):
        _validate_phrase_fields(ast.node, config)


def merge_partials(
    leaves: list[LeafResponse], k, offset, sort_by, aggs
) -> SearchResponse:
    """Root merge (collector.rs:325-419 + root.rs:263-288) of the leaf
    responses: hits ordered by (sort_value desc, split_id asc, docid
    asc) with one stable lexsort (NaN sort values last), offset applied
    once (root.rs:341-356), agg buckets merged and finalized. Hits
    leave with ``doc=None``; the fetch phase fills them. Every
    requested agg is finalized, over no records when no split survived
    pruning, so the response shape does not depend on pruning."""
    final_aggs: dict = {}
    for name, spec in (aggs or {}).items():
        kind, params = next(iter(spec.items()))
        records = [
            r for leaf in leaves for r in leaf.aggs if r["agg_name"] == name
        ]
        final_aggs[name] = _final_agg(kind, params, records)
    if not leaves:
        return SearchResponse(0, [], final_aggs)
    num_hits = sum(leaf.num_hits for leaf in leaves)
    leaf_of = np.repeat(
        np.arange(len(leaves)), [leaf.docid.size for leaf in leaves]
    )
    split_rank = np.unique(
        [leaf.split_id for leaf in leaves], return_inverse=True
    )[1][leaf_of]
    docid, sort_value, score, ts_us = (
        np.concatenate([getattr(leaf, c) for leaf in leaves])
        for c in ("docid", "sort_value", "score", "ts_us")
    )
    order = np.lexsort((docid, split_rank, -sort_value))[offset : offset + k]
    hits = [
        SearchHit(
            leaves[leaf_of[i]].split_id, int(docid[i]), float(score[i]),
            None, int(ts_us[i]),
        )
        for i in order
    ]
    return SearchResponse(num_hits, hits, final_aggs)


AGGREGATION_BUCKET_LIMIT = 65_000  # collector.rs:273


def _std_from_moments(count: int, s_sum: float, s_sq: float) -> float:
    """Population standard deviation from the mergeable moments
    (count, sum, sum of squares) — the same moment formula tantivy's
    stats aggregation uses (aggregation.md Stats lists
    standard_deviation in the response)."""
    mean = s_sum / count
    return float(np.sqrt(max(s_sq / count - mean * mean, 0.0)))


def _sub_stats_payload(
    params: dict, doc_count: int, s_sum, s_min, s_max, s_sq
):
    """The sub-agg value for one merged bucket: avg -> {"value": ...},
    stats -> the full stats dict. Empty buckets (gap-filled histogram
    grid, empty ranges) report count 0 with null min/max/avg, the ES
    empty-bucket shape."""
    empty = doc_count == 0 or (isinstance(s_min, float) and np.isnan(s_min))
    stats = {
        "count": 0 if empty else int(doc_count),
        "sum": 0.0 if empty else float(s_sum),
        "min": None if empty else float(s_min),
        "max": None if empty else float(s_max),
        "avg": None if empty else float(s_sum) / doc_count,
        "standard_deviation": (
            None if empty else _std_from_moments(doc_count, s_sum, s_sq)
        ),
    }
    if params.get("sub_kind", "stats") == "avg":
        return {"value": stats["avg"]}
    return stats


def _present(rs: list[dict], col: str) -> list:
    """``col`` of records ``rs`` without NaN and null (pandas' skipna)."""
    return [r[col] for r in rs if r[col] is not None and r[col] == r[col]]


def _merge_buckets(records: list[dict], has_stats: bool) -> dict:
    """Leaf bucket records merged per ``agg_key``, keys in first-seen
    order (terms summaries, key None, left out): key -> [doc_count,
    sum, min, max, sum of squares], the moments skipping NaN and null
    like pandas' groupby (min/max NaN for a bucket without a value)."""
    out: dict = {}
    for r in records:
        if r["agg_key"] is not None:
            out.setdefault(r["agg_key"], []).append(r)
    for key, rs in out.items():
        out[key] = [sum(r["agg_count"] for r in rs)] + (
            [sum(_present(rs, "agg_sum"), 0.0),
             min(_present(rs, "agg_min"), default=math.nan),
             max(_present(rs, "agg_max"), default=math.nan),
             sum(_present(rs, "agg_sq"), 0.0)]
            if has_stats else [0.0, math.nan, math.nan, 0.0]
        )
    return out


def _final_agg(kind: str, params: dict, records: list[dict]):
    """One agg's final result from every split's bucket records, merged
    with dicts (:func:`_merge_buckets`). Terms buckets sort by key, then
    stably by count or sub-agg metric (NaN last); histogram buckets fill
    the offset grid's gaps; range buckets keep first-seen order."""
    has_stats = bool(params.get("stats_field"))
    sub_name = params.get("sub_name", "stats")
    if kind == "terms":
        size = int(params.get("size", 10))
        min_doc = int(params.get("min_doc_count", 1))
        # per-split summary rows (agg_key=None): docs dropped by the
        # split_size cut + the largest cut bucket per split;
        # doc_count_error_upper_bound (aggregation.md) is 'the sum of
        # the size of the largest bucket on each split that didn't fit
        # into split_size'
        summaries = [r for r in records if r["agg_key"] is None]
        leaf_dropped = sum(r["agg_count"] for r in summaries)
        error_bound = int(sum(r["agg_sum"] for r in summaries))
        merged = _merge_buckets(records, has_stats)
        if len(merged) > AGGREGATION_BUCKET_LIMIT:
            raise ValueError("aggregation bucket limit exceeded")
        total_docs = sum(m[0] for m in merged.values()) + leaf_dropped
        target, asc = _terms_order(params)
        ordered = sorted(
            (key, m) for key, m in merged.items() if m[0] >= min_doc
        )
        if target == "_key":
            if not asc:
                ordered.reverse()
        else:
            if target == "_count":
                metric = "count"
            elif not has_stats:
                raise ValueError(
                    f"terms order target {target!r} without a sub-aggregation"
                )
            else:
                metric = _subagg_metric_col(target, params)
            at = {"count": 0, "sum": 1, "min": 2, "max": 3}.get(metric)

            def value(item):
                m = item[1]
                return m[1] / max(m[0], 1) if at is None else m[at]

            # stable, so ties keep key order; NaN last either way
            ordered = sorted(
                (it for it in ordered if value(it) == value(it)),
                key=value, reverse=not asc,
            ) + [it for it in ordered if value(it) != value(it)]
        top = ordered[:size]
        out_buckets = []
        for key, m in top:
            b = {"key": key, "doc_count": int(m[0])}
            if has_stats:
                b[sub_name] = _sub_stats_payload(params, int(m[0]), *m[1:])
            out_buckets.append(b)
        out = {
            "buckets": out_buckets,
            # docs that didn't make it into the top `size` buckets —
            # either cut at the root or at split_size in a leaf
            "sum_other_doc_count": int(total_docs - sum(m[0] for _, m in top)),
        }
        show_err = params.get("show_term_doc_count_error")
        if show_err is None:
            # 'defaults to true when ordering by count desc'
            show_err = target == "_count" and not asc
        if show_err:
            # leaves only contribute an error component under count-desc
            # cut order (see the summary-row emit); with any other order
            # this reports 0 rather than a bound the math doesn't support
            out["doc_count_error_upper_bound"] = error_bound
        return out
    if kind == "histogram":
        interval = float(params["interval"])
        off = float(params.get("offset", 0.0))
        min_doc = int(params.get("min_doc_count", 0))
        ext = params.get("extended_bounds")
        hard = params.get("hard_bounds")
        if ext is not None and min_doc > 0:
            # aggregation.md: 'Cannot be set in conjunction with
            # min_doc_count > 0, since the empty buckets from extended
            # bounds would not be returned.'
            raise ValueError(
                "extended_bounds cannot be combined with min_doc_count > 0"
            )
        merged = _merge_buckets(records, has_stats)
        # bucket index on the offset grid: keys regenerate bit-identical
        # as float(i) * interval + off (same float64 ops as the leaf)
        at = {
            int(round((float(k) - off) / interval)): merged[k]
            for k in sorted(merged)
        }
        counts = {i: int(m[0]) for i, m in at.items()}
        if not counts and ext is None:
            return {"buckets": []}
        lo = min(counts) if counts else None
        hi = max(counts) if counts else None
        if ext is not None:
            elo = int(np.floor((float(ext["min"]) - off) / interval))
            ehi = int(np.floor((float(ext["max"]) - off) / interval))
            lo = elo if lo is None else min(lo, elo)
            hi = ehi if hi is None else max(hi, ehi)
        if hard is not None:
            # bucket keys limited to [min, max] closed (leaf already
            # filtered data buckets; this clamps the fill range)
            lo = max(lo, int(np.ceil((float(hard["min"]) - off) / interval - 1e-9)))
            hi = min(hi, int(np.floor((float(hard["max"]) - off) / interval + 1e-9)))
        # default (min_doc_count=0): every bucket between min and max,
        # empty ones included; min_doc_count>0 filters instead
        idxs = range(lo, hi + 1) if min_doc == 0 else sorted(counts)
        out_buckets = []
        for i in idxs:
            c = counts.get(i, 0)
            if c < min_doc:
                continue
            b = {"key": float(i) * interval + off, "doc_count": c}
            if has_stats:
                m = at.get(i, (0, 0.0, math.nan, math.nan, 0.0))
                b[sub_name] = _sub_stats_payload(params, c, *m[1:])
            out_buckets.append(b)
        return {"buckets": out_buckets}
    if kind == "range":
        buckets = []
        for key, m in _merge_buckets(records, has_stats).items():
            b = {"key": key, "doc_count": int(m[0])}
            if has_stats:
                b[sub_name] = _sub_stats_payload(params, int(m[0]), *m[1:])
            buckets.append(b)
        return {"buckets": buckets}
    if kind in ("stats", "avg"):
        count = sum(r["agg_count"] for r in records)
        if count == 0:
            return {"count": 0}
        total, sq = (
            float(np.sum([r[c] for r in records], dtype=np.float64))
            for c in ("agg_sum", "agg_sq")
        )
        stats = {
            "count": int(count),
            "sum": total,
            "min": float(min(r["agg_min"] for r in records)),
            "max": float(max(r["agg_max"] for r in records)),
            "avg": total / count,
            "standard_deviation": _std_from_moments(count, total, sq),
        }
        return {"value": stats["avg"]} if kind == "avg" else stats
    raise ValueError(f"unsupported aggregation {kind!r}")


def search(spark, index_dir: str, query: str, **kwargs) -> SearchResponse:
    """One-shot search (cold caches)."""
    return Searcher(spark, index_dir).search(query, **kwargs)


STREAM_SCHEMA = "split_id string, docid long, value double"


def stream_fast_field(
    searcher: Searcher,
    query: str,
    fast_field: str,
    start_us: int | None = None,
    end_us: int | None = None,
    partition_by: str | None = None,
):
    """Search-stream export (quickwit-search/src/search_stream/leaf.rs:
    72-284): evaluate the query and dump the fast-field value of EVERY
    matching doc — no top-k cap, unordered, streamed straight out of
    the leaf tasks as a DataFrame the caller can sink anywhere
    (`.write.csv(...)` = the reference's CSV/ClickHouseRowBinary
    output formats).
    """
    ast, rows, stats = searcher._plan(query, start_us, end_us)
    spark = searcher.spark
    schema = STREAM_SCHEMA + (", partition double" if partition_by else "")
    if not rows:
        return spark.createDataFrame([], schema)
    config = searcher.config
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, len(rows)),
        "split_id string, path string",
    )

    def kernel(iterator):
        limit_worker_threads()
        for pdf in iterator:
            for split_id, path in zip(pdf["split_id"], pdf["path"]):
                dpath = fsio.join(path, DOCS_FILE)
                ts_us = _fast_array_cached(dpath, "ts_us", np.int64)
                *_, ids = _wand_bool(
                    path, ast, _fast_array_cached(dpath, "doc_len", np.float64),
                    stats, config, 0, None, ts_us, start_us, end_us,
                    collect=True,
                )
                vals = _leaf_column(dpath, fast_field, ts_us)
                out = {
                    "split_id": split_id,
                    "docid": ids,
                    "value": vals[ids].astype(np.float64),
                }
                if partition_by:
                    # PartitionnedFastFieldCollector analog
                    # (search_stream/collector.rs:31-170)
                    out["partition"] = _leaf_column(
                        dpath, partition_by, ts_us
                    )[ids].astype(np.float64)
                yield pd.DataFrame(out)

    return sdf.mapInPandas(kernel, schema=schema)


_ROWBINARY_DTYPES = {"i64": "<i8", "u64": "<u8", "f64": "<f8"}


def rowbinary(values, value_type: str = "i64") -> bytes:
    """ClickHouse RowBinary of one column
    (quickwit-search/src/search_stream/leaf.rs:120-284
    OutputFormat::ClickHouseRowBinary): fixed-width little-endian
    values, no header or delimiters; floats become ints by truncation,
    and a null (NaN) or infinite value has no integer encoding, so it
    raises. The one encoder of the library sink and the REST stream."""
    vals = np.asarray(values, np.float64)
    if value_type != "f64" and not np.isfinite(vals).all():
        raise ValueError(
            f"RowBinary {value_type} cannot encode a null or non-finite value"
        )
    return vals.astype(_ROWBINARY_DTYPES[value_type]).tobytes()


def write_stream_clickhouse_rowbinary(
    stream_df, out_dir: str, value_type: str = "i64"
) -> list[str]:
    """Sink a search-stream DataFrame's ``value`` column as ClickHouse
    RowBinary part files (:func:`rowbinary`) — `cat parts |
    clickhouse-client --query 'INSERT ... FORMAT RowBinary'`. One file
    per task, written from the workers (no driver collect). Returns the
    part paths."""
    import pandas as pd

    if value_type not in _ROWBINARY_DTYPES:  # fail before the job
        raise KeyError(value_type)
    fsio.makedirs(out_dir)

    def kernel(iterator):
        import uuid

        limit_worker_threads()
        n = 0
        path = fsio.join(out_dir, f"part-{uuid.uuid4().hex}.bin")
        with fsio.open_output(path) as f:
            for pdf in iterator:
                f.write(rowbinary(pdf["value"].to_numpy(), value_type))
                n += len(pdf)
        if n == 0:
            fsio.delete(path)
            path = None
        yield pd.DataFrame({"path": [path], "n": [n]})

    rows = (
        stream_df.select("value").mapInPandas(kernel, schema="path string, n long")
        .collect()
    )
    return [r.path for r in rows if r.path is not None]
