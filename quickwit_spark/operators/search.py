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
  postings), decodes delta+varint lists, evaluates the boolean/phrase
  AST vectorized in numpy, scores BM25, and emits a partial top-k
  (collector.rs:136-231 analog) + per-split match count + partial agg
  buckets;
* root merge (collector.rs:325-419, root.rs:263-288) = a driver-side
  pandas merge of the tiny partials: final order
  ``(score desc, split_id asc, docid asc)`` — the reference's
  ``(Reverse(sort_value), GlobalDocAddress)`` tie order
  (quickwit-search/src/lib.rs:100-105, search_api.proto:184-204);
* fetch_docs (quickwit-search/src/fetch_docs.rs:98-173) = targeted
  docid-filtered reads of the split doc store, done inside the kernel
  for its own top-k only.

BM25 uses GLOBAL corpus stats: N and avgdl come from the catalog
(num_docs/sum_doc_len per split — free), per-term global doc-freq from a
tiny first Spark job that reads only the (field, term, df) columns of
term-pruned splits. ``Searcher`` caches those stats across queries.

Block-max pruning: posting rows carry (max_tf, min_dl, first/last
docid) per shard; for ANY pure positive boolean over terms and phrases
(arbitrary AND/OR nesting, ± negations that are themselves terms,
phrases, or positive booleans — only MatchAll-based pure-negation
shapes are excluded) the kernel cuts
docid space into segments at shard boundaries and processes them
document-at-a-time in
descending score-upper-bound order, skipping decode + scoring work that
cannot reach the running top-k threshold (tantivy's block-max WAND at
shard granularity, extended across terms — the reference disables
scoring at this rev, collector.rs:318-323, so this is our addition per
the north rule; see ``_wand_bool``). A ``wand=False`` flag forces
exhaustive evaluation; tests assert result equality over the full
query battery.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions import fs as fsio
from quickwit_spark.functions.codec import decode_positions, decode_varint, delta_decode
from quickwit_spark.functions.lru import LRU
from quickwit_spark.functions.phrase import phrase_freq_bulk
from quickwit_spark.operators.build import DOCS_FILE, POSTINGS_FILE
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

HIT_SCHEMA = (
    "kind string, split_id string, docid long, score double, "
    "sort_value double, doc string, ts_us long, "
    "agg_name string, agg_key string, agg_count long, agg_sum double, "
    "agg_min double, agg_max double, agg_sq double"
)
_HIT_COLS = [c.split(" ")[0] for c in HIT_SCHEMA.split(", ")]


@dataclass
class SearchHit:
    """One hit: the stored document comes back as a dict (the reference
    returns the reconstructed user JSON — convert_leaf_hit,
    quickwit-search/src/lib.rs:173-185)."""

    split_id: str
    docid: int
    score: float
    doc: dict
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

def _read_postings(split_dir: str, terms: set[tuple[str, str]]):
    """Read + decode only the query terms' posting rows.

    Returns {(field, term): (docids, tfs, positions_concat|None)} with
    shards concatenated in docid order.
    """
    from quickwit_spark.functions.parquet_io import read_pruned

    path = fsio.join(split_dir, POSTINGS_FILE)
    term_values = sorted({t for _, t in terms})
    tbl = read_pruned(path, None, "term", term_values)
    out: dict[tuple[str, str], tuple] = {}
    fields = tbl.column("field").to_pylist()
    tvals = tbl.column("term").to_pylist()
    shards = tbl.column("shard").to_pylist()
    doc_blobs = tbl.column("doc_ids").to_pylist()
    tf_blobs = tbl.column("tfs").to_pylist()
    pos_blobs = tbl.column("positions").to_pylist()
    rows_by_key: dict[tuple[str, str], list] = {}
    for i in range(len(fields)):
        key = (fields[i], tvals[i])
        if key not in terms:
            continue
        rows_by_key.setdefault(key, []).append(
            (shards[i], doc_blobs[i], tf_blobs[i], pos_blobs[i])
        )
    for key, rows in rows_by_key.items():
        rows.sort()
        docids = np.concatenate([delta_decode(r[1]) for r in rows]).astype(np.int64)
        tfs = np.concatenate([decode_varint(r[2]) for r in rows]).astype(np.int64)
        if rows[0][3] is not None:
            positions = np.concatenate(
                [
                    decode_positions(r[3], decode_varint(r[2]).astype(np.int64))
                    for r in rows
                ]
            ).astype(np.int64)
        else:
            positions = None
        out[key] = (docids, tfs, positions)
    return out


def _bm25_scores(tfs, dls, df_global, n_total, avgdl, k1, b):
    idf = math.log(1.0 + (n_total - df_global + 0.5) / (df_global + 0.5))
    tfs = tfs.astype(np.float64)
    norm = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
    return idf * norm


def _node_ok(node) -> bool:
    """True when a (sub-)query is a pure positive boolean over terms
    and phrases — any depth of AND/OR nesting, no must_not, no mixed
    must+should at one node (the exhaustive evaluator ignores should
    when must is present; that quirk stays on the exhaustive path)."""
    if isinstance(node, (Term, Phrase)):
        return True
    if isinstance(node, Boost):
        # boost scales the child's scores by a non-negative factor:
        # upper bounds scale the same way, so prunability is the child's
        return _node_ok(node.node)
    if not isinstance(node, Bool) or node.must_not:
        return False
    if node.must and node.should:
        return False
    kids = node.must or node.should
    return bool(kids) and all(_node_ok(c) for c in kids)


def _wand_plan(ast):
    """Normalize a prunable query into ``(groups, negs)`` where every
    group is a list of members and the query means "every group has
    >=1 matching member, scores sum over all matching members, minus
    docs matching any negation". A member is ANY pure positive boolean
    node (term, phrase, or arbitrarily nested AND/OR of those): the
    evaluator (:func:`_wand_bool`) recursively bounds and evaluates
    member trees per docid segment. A negation may likewise be any
    pure positive node; a negated disjunction is flattened into its
    members (set exclusion distributes over union). Only pure-negation
    queries (MatchAll base — pruning cannot skip work since every doc
    scores 0), negated-MatchAll shapes, and mixed must+should nodes
    return None and take the exhaustive path."""

    def term_group(node):
        # a top-level must child that is a disjunction contributes one
        # group PER the disjunction (>=1 member must match); anything
        # else is a single-member group
        if (
            isinstance(node, Bool)
            and node.should
            and not node.must
            and not node.must_not
            and all(_node_ok(c) for c in node.should)
        ):
            return list(node.should)
        if _node_ok(node):
            return [node]
        return None

    if isinstance(ast, (Term, Phrase)):
        return [[ast]], []
    if isinstance(ast, Boost):
        return ([[ast]], []) if _node_ok(ast) else None
    if not isinstance(ast, Bool):
        return None
    negs = []
    for c in ast.must_not:
        while isinstance(c, Boost):
            # exclusion is set-based — a negation's boost is score-dead
            c = c.node
        if isinstance(c, (Term, Phrase)):
            negs.append(c)
        elif (
            isinstance(c, Bool) and c.should and not c.must
            and not c.must_not and all(_node_ok(x) for x in c.should)
        ):
            # -(a OR b) ≡ -a -b: excluding the union equals excluding
            # each member (exclusion is set-based, no score effect)
            negs.extend(c.should)
        elif _node_ok(c):
            negs.append(c)
        else:
            return None
    if ast.must and not ast.should:
        groups = [term_group(c) for c in ast.must]
        if any(g is None for g in groups):
            return None
        return groups, negs
    if ast.should and not ast.must:
        g = term_group(Bool(should=ast.should))
        if g is None:
            return None
        return [g], negs
    return None  # pure must_not (MatchAll base) or mixed must+should


class _ShardPostings:
    """Lazily-decoded posting shards of the query's terms in one split —
    the decode-on-demand half of the block-max evaluator. Stat columns
    (df, max_tf, min_dl, first/last_docid) are read up front; doc_ids /
    tfs blobs are read in one pushdown-filtered scan but only DECODED
    for shards the evaluator actually visits."""

    def __init__(self, path: str, keys: list[tuple[str, str]]):
        from quickwit_spark.functions.parquet_io import read_pruned

        self._path = path
        keyset = set(keys)
        term_values = sorted({t for _, t in keyset})
        self._term_values = term_values
        # stats + posting blobs in ONE pushdown scan: the blob columns
        # of the query terms' rows are (almost) always needed anyway —
        # decode-on-demand skips the DECODE per shard, not the read —
        # and one scan halves the per-query row-group read count
        tbl = read_pruned(
            path,
            ["field", "term", "shard", "df", "max_tf", "min_dl",
             "first_docid", "last_docid", "doc_ids", "tfs"],
            "term", term_values,
        )
        fields = tbl.column("field").to_pylist()
        terms = tbl.column("term").to_pylist()
        cols = {
            c: tbl.column(c).to_numpy()
            for c in ("shard", "df", "max_tf", "min_dl", "first_docid", "last_docid")
        }
        by_key: dict[tuple[str, str], list[int]] = {}
        for i in range(len(fields)):
            key = (fields[i], terms[i])
            if key in keyset:
                by_key.setdefault(key, []).append(i)
        self.stats: dict[tuple[str, str], dict] = {}
        for key, idxs in by_key.items():
            idxs = np.asarray(idxs)
            order = np.argsort(cols["first_docid"][idxs], kind="stable")
            idxs = idxs[order]
            self.stats[key] = {
                "shard": cols["shard"][idxs],
                "df": cols["df"][idxs],
                "max_tf": cols["max_tf"][idxs],
                "min_dl": cols["min_dl"][idxs],
                "first": cols["first_docid"][idxs],
                "last": cols["last_docid"][idxs],
            }
        self._blob_tbl = tbl
        self._blob_row = {
            (f, t, int(sh)): i
            for i, (f, t, sh) in enumerate(
                zip(fields, terms, cols["shard"].tolist())
            )
        }
        self._pos_row: dict[tuple[str, str, int], int] | None = None
        self._pos_tbl = None
        self._doc_cache: dict[tuple[str, str, int], np.ndarray] = {}
        self._tf_cache: dict[tuple[str, str, int], np.ndarray] = {}
        self._pos_cache: dict[tuple[str, str, int], np.ndarray | None] = {}

    def _blobs(self):
        return self._blob_tbl, self._blob_row

    def docids(self, field: str, term: str, shard: int) -> np.ndarray:
        key = (field, term, shard)
        got = self._doc_cache.get(key)
        if got is None:
            tbl, rowmap = self._blobs()
            blob = tbl.column("doc_ids")[rowmap[key]].as_py()
            got = delta_decode(blob).astype(np.int64)
            self._doc_cache[key] = got
        return got

    def tfs(self, field: str, term: str, shard: int) -> np.ndarray:
        key = (field, term, shard)
        got = self._tf_cache.get(key)
        if got is None:
            tbl, rowmap = self._blobs()
            blob = tbl.column("tfs")[rowmap[key]].as_py()
            got = decode_varint(blob).astype(np.int64)
            self._tf_cache[key] = got
        return got

    def positions(self, field: str, term: str, shard: int):
        """Decoded positions for one shard, or None when the field has
        no positions. Read from a SEPARATE pushdown scan so term-only
        queries never touch the (large) position blobs."""
        key = (field, term, shard)
        if key in self._pos_cache:
            return self._pos_cache[key]
        if self._pos_tbl is None:
            from quickwit_spark.functions.parquet_io import read_pruned

            self._pos_tbl = read_pruned(
                self._path,
                ["field", "term", "shard", "positions"],
                "term", self._term_values,
            )
            self._pos_row = {
                (f, t, int(s)): i
                for i, (f, t, s) in enumerate(
                    zip(
                        self._pos_tbl.column("field").to_pylist(),
                        self._pos_tbl.column("term").to_pylist(),
                        self._pos_tbl.column("shard").to_pylist(),
                    )
                )
            }
        blob = self._pos_tbl.column("positions")[self._pos_row[key]].as_py()
        got = (
            None
            if blob is None
            else decode_positions(blob, self.tfs(field, term, shard)).astype(
                np.int64
            )
        )
        self._pos_cache[key] = got
        return got

    @property
    def n_docid_decoded(self) -> int:
        return len(self._doc_cache)

    @property
    def n_tf_decoded(self) -> int:
        return len(self._tf_cache)

    @property
    def n_pos_decoded(self) -> int:
        return len(self._pos_cache)


def _wand_bool(
    split_dir: str, groups, neg, doc_len, stats, config, m: int
) -> tuple[np.ndarray, np.ndarray, int, dict]:
    """Block-max pruned top-m for flat term booleans at shard
    granularity — the posting-row analog of tantivy's block-max WAND
    extended document-at-a-time across terms (SURVEY.md §2.6; the
    reference disables scoring at this rev, collector.rs:318-323, so
    pruning is our north-rule addition; semantics mirror tantivy's
    ``Weight::for_each_pruning``).

    The query is the normal form from :func:`_wand_plan`: a conjunction
    of GROUPS (each group = a disjunction of MEMBERS; score = sum over
    matching members) minus negations, where a member — and a negation
    — is ANY pure positive boolean tree of terms/phrases (arbitrary
    AND/OR nesting). Docid space is cut into SEGMENTS at the query
    terms' shard boundaries, so term coverage is constant within a
    segment. Member trees are annotated bottom-up with per-segment
    coverage and score upper bounds (conj: AND/Σ over children; group:
    OR/Σ; leaves from shard stats) and evaluated per segment by the
    recursive ``_node_seg``, which reproduces the exhaustive
    evaluator's float association at every level.

    * conjunction: segments where some group has NO covering member
      shard cannot contain a match — skipped entirely (no docid
      decode, no count work). This is the hot∧rare win: the hot term's
      shards outside the rare term's docid ranges are never touched.
    * disjunction (one group): the exact num_hits (union cardinality)
      forces a docid decode of every covering shard, but tf decode +
      scoring are skipped for segments whose bound falls strictly
      below the running m-th best score (descending-bound order →
      sound).
    * single positive term without negation: num_hits = Σ shard dfs
      (shards are disjoint), so even docid decode is skipped for
      pruned shards.

    Scores are EXACT (identical to the exhaustive evaluator): pruning
    only ever skips work that cannot change the top-m. Returns
    (ids, scores, num_hits, skip_stats).
    """
    path = fsio.join(split_dir, POSTINGS_FILE)
    # negated single terms exclude via direct shard-overlap scans (no
    # segmentation needed); every other negation (phrase, nested bool)
    # becomes a node evaluated per segment like a member, score-ignored
    negk = [(t.field, t.value) for t in neg if isinstance(t, Term)]
    neg_shapes = [n for n in neg if not isinstance(n, Term)]

    def _minfo(node):
        if isinstance(node, Boost):
            # score multiplier: cov/keys are the child's, bounds and
            # per-segment scores scale by the (non-negative) factor
            child = _minfo(node.node)
            return ("boost", child[1], (node.factor, child))
        if isinstance(node, Term):
            return ("term", [(node.field, node.value)], 0)
        if isinstance(node, Phrase):
            return ("phrase", [(node.field, tok) for tok in node.tokens], node.slop)
        if node.should:
            # disjunction child inside a conjunction member — the
            # (a OR b) in ((a OR b) AND c); third slot = SUB-member
            # minfos, keys flattened in sub-member order
            subs = [_minfo(c) for c in node.should]
            flat = [k for _, keys, _ in subs for k in keys]
            return ("group", flat, subs)
        # conjunction member from _wand_plan — (a AND b), (a AND "x y")
        # inside a should; the third slot carries the CHILD minfos and
        # the keys are the children's keys flattened in child order
        children = [_minfo(c) for c in node.must]
        flat = [k for _, keys, _ in children for k in keys]
        return ("conj", flat, children)

    member_info = [[_minfo(n) for n in g] for g in groups]
    neg_info = [_minfo(n) for n in neg_shapes]
    all_pos = [k for g in member_info for (_, keys, _) in g for k in keys]
    neg_keys = [k for (_, keys, _) in neg_info for k in keys]
    sp = _ShardPostings(path, all_pos + negk + neg_keys)
    k1, b = config.k1, config.b
    N, avgdl = stats["N"], stats["avgdl"]
    empty = (np.empty(0, np.int64), np.empty(0, np.float64))
    no_work = {"shards": 0, "docid_decoded": 0, "tf_decoded": 0,
               "pos_decoded": 0}

    # drop members with an absent key (a phrase missing a token, a term
    # never indexed, matches nothing — the exhaustive evaluator returns
    # empty for them too); inside a conj member a dead child kills the
    # member, but a GROUP child only drops its dead sub-members. A group
    # with no surviving member empties the conjunction.
    def _prune_minfo(mi_):
        kind, keys, extra = mi_
        if kind in ("term", "phrase"):
            return mi_ if all(k in sp.stats for k in keys) else None
        if kind == "boost":
            p = _prune_minfo(extra[1])
            if p is None:
                return None
            return ("boost", p[1], (extra[0], p))
        if kind == "group":
            subs = [p for p in map(_prune_minfo, extra) if p is not None]
            if not subs:
                return None
            return ("group", [k for _, kk, _ in subs for k in kk], subs)
        pruned = [_prune_minfo(c) for c in extra]
        if any(c is None for c in pruned):
            return None
        return ("conj", [k for _, kk, _ in pruned for k in kk], pruned)

    member_info = [
        [p for p in map(_prune_minfo, g) if p is not None]
        for g in member_info
    ]
    if any(not g for g in member_info):
        return (*empty, 0, no_work)
    # a negation that can never match (absent term/token somewhere
    # required) excludes nothing — drop it
    neg_info = [p for p in map(_prune_minfo, neg_info) if p is not None]

    def _idf(key):
        df_g = stats["df"].get(key, 0)
        return math.log(1.0 + (N - df_g + 0.5) / (df_g + 0.5))

    # flat member list; memb[i] carries group, kind, keys, and (after
    # annotation below) the recursive node tree with per-segment
    # coverage and score upper bounds
    memb: list[dict] = []
    n_pos_shards = 0
    for gi, g in enumerate(member_info):
        for mi_ in g:
            memb.append({"g": gi, "minfo": mi_})
            n_pos_shards += sum(sp.stats[k]["first"].size for k in mi_[1])

    # segment boundaries at every member token's shard edges, so term
    # coverage is constant within a segment. Non-term negation tokens
    # also segment the space: their per-segment matchers need ONE
    # covering shard per token per segment (negated single TERMS don't
    # — they exclude via direct shard-overlap scans)
    edges = []
    for m_ in memb:
        for k in m_["minfo"][1]:
            st = sp.stats[k]
            edges.append(st["first"])
            edges.append(st["last"] + 1)
    for _kind, keys, _extra in neg_info:
        for k in keys:
            st = sp.stats[k]
            edges.append(st["first"])
            edges.append(st["last"] + 1)
    bounds = np.unique(np.concatenate(edges))
    seg_lo = bounds[:-1]
    seg_hi = bounds[1:]
    n_seg = seg_lo.size
    n_groups = len(member_info)

    def _annotate(mi_):
        """Recursively annotate one node with per-segment coverage and
        a per-segment score upper bound (``ub`` is pre-masked: 0 where
        the node is uncovered, so parents may sum child UBs directly).

        term: cov = shard presence; UB = BM25(max_tf, min_dl) of the
        covering shard. phrase: cov = AND over tokens; a phrase
        occurrence needs every token present in the doc, so
        freq ≤ min token max_tf and candidate dl ≥ max token-shard
        min_dl — UB = Σtoken-idf × norm(min max_tf, max min_dl) ≥ any
        real phrase score (norm ↑ in freq, ↓ in dl). conj: cov = AND
        over children, UB = Σ child UBs (score sums over children).
        group: cov = OR over children, UB = Σ child UBs (the
        exhaustive Bool.should sums every matching member's score)."""
        kind, keys, extra = mi_
        nd = {"kind": kind, "keys": keys}
        if kind in ("term", "phrase"):
            tok_k, key_cov = [], []
            for key in keys:
                st = sp.stats[key]
                kk = np.searchsorted(st["first"], seg_lo, side="right") - 1
                key_cov.append(
                    (kk >= 0) & (st["last"][np.maximum(kk, 0)] >= seg_lo)
                )
                tok_k.append(np.maximum(kk, 0))
            nd["tok_k"] = tok_k
            if kind == "term":
                nd["val"] = stats["df"].get(keys[0], 0)
                cov = key_cov[0]
                st = sp.stats[keys[0]]
                kk = tok_k[0]
                raw = _bm25_scores(
                    st["max_tf"][kk], st["min_dl"][kk].astype(np.float64),
                    nd["val"], N, avgdl, k1, b,
                )
            else:
                nd["slop"] = extra
                nd["val"] = sum(_idf(k) for k in keys)
                cov = key_cov[0]
                for kc in key_cov[1:]:
                    cov = cov & kc
                f_ub = dl_lb = None
                for key, kk in zip(keys, tok_k):
                    st = sp.stats[key]
                    mt = st["max_tf"][kk].astype(np.float64)
                    md = st["min_dl"][kk].astype(np.float64)
                    f_ub = mt if f_ub is None else np.minimum(f_ub, mt)
                    dl_lb = md if dl_lb is None else np.maximum(dl_lb, md)
                raw = nd["val"] * (
                    f_ub * (k1 + 1.0)
                    / (f_ub + k1 * (1.0 - b + b * dl_lb / avgdl))
                )
            nd["cov"] = cov
            nd["ub"] = np.where(cov, raw, 0.0)
            return nd
        if kind == "boost":
            child = _annotate(extra[1])
            nd["factor"] = extra[0]
            nd["children"] = [child]
            nd["cov"] = child["cov"]
            # child ub is already cov-masked; factor >= 0 keeps the mask
            nd["ub"] = child["ub"] * extra[0]
            return nd
        children = [_annotate(c) for c in extra]
        nd["children"] = children
        cov = children[0]["cov"]
        for c in children[1:]:
            cov = (cov & c["cov"]) if kind == "conj" else (cov | c["cov"])
        ub = np.zeros(n_seg, dtype=np.float64)
        for c in children:
            ub += c["ub"]
        nd["cov"] = cov
        nd["ub"] = np.where(cov, ub, 0.0)
        return nd

    ub_seg = np.zeros(n_seg, dtype=np.float64)
    g_cov = np.zeros((n_groups, n_seg), dtype=bool)
    for m_ in memb:
        nd = _annotate(m_["minfo"])
        m_["node"] = nd
        m_["kind"] = nd["kind"]
        m_["cov"] = nd["cov"]
        ub_seg += nd["ub"]
        g_cov[m_["g"]] |= nd["cov"]
    active = g_cov.all(axis=0)
    active_idx = np.flatnonzero(active)

    neg_nodes = [_annotate(mi_) for mi_ in neg_info]

    def neg_exclude(ids: np.ndarray, s: int, lo: int, hi: int) -> np.ndarray:
        for key in negk:
            st = sp.stats.get(key)
            if st is None or ids.size == 0:
                continue
            # neg shards overlapping [lo, hi)
            j0 = np.searchsorted(st["last"], lo, side="left")
            j1 = np.searchsorted(st["first"], hi - 1, side="right")
            for j in range(j0, j1):
                dec = sp.docids(key[0], key[1], int(st["shard"][j]))
                ids = ids[~np.isin(ids, dec, assume_unique=True)]
        for nn in neg_nodes:
            if ids.size == 0:
                break
            if not nn["cov"][s]:
                continue  # negation can't match anything in this segment
            mids, _ = _node_seg(nn, s, lo, hi)
            if mids.size:
                ids = ids[~np.isin(ids, mids, assume_unique=True)]
        return ids

    def _term_slice(nd, s: int, lo: int, hi: int, with_tf: bool):
        key = nd["keys"][0]
        shard = int(sp.stats[key]["shard"][nd["tok_k"][0][s]])
        dec = sp.docids(key[0], key[1], shard)
        a_, b_ = np.searchsorted(dec, lo), np.searchsorted(dec, hi)
        if not with_tf:
            return dec[a_:b_], None
        return dec[a_:b_], sp.tfs(key[0], key[1], shard)[a_:b_]

    def _phrase_match(keys, tok_ks, slop, s: int, lo: int, hi: int):
        """(matching docids, phrase freqs) of one phrase — standalone
        member or conjunction child — within segment s; positions
        decoded ONLY here, i.e. only for shards whose token
        docid-intersection is non-empty."""
        toks = []
        cand = None
        for key, kk in zip(keys, tok_ks):
            shard = int(sp.stats[key]["shard"][kk[s]])
            dec = sp.docids(key[0], key[1], shard)
            a_, b_ = np.searchsorted(dec, lo), np.searchsorted(dec, hi)
            sl = dec[a_:b_]
            cand = sl if cand is None else np.intersect1d(
                cand, sl, assume_unique=True
            )
            if cand.size == 0:
                return empty
            toks.append((key, shard, dec))
        token_positions = []
        for key, shard, dec in toks:
            tfs = sp.tfs(key[0], key[1], shard)
            pos = sp.positions(key[0], key[1], shard)
            if pos is None:
                return empty  # field without positions: phrase matches nothing
            starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
            idx = np.searchsorted(dec, cand)
            seg_starts = starts[idx]
            seg_lens = tfs[idx]
            total = int(seg_lens.sum())
            inner = np.arange(total, dtype=np.int64) - np.repeat(
                np.concatenate(([0], np.cumsum(seg_lens)[:-1])), seg_lens
            )
            gathered = pos[np.repeat(seg_starts, seg_lens) + inner]
            token_positions.append((seg_lens, gathered))
        freqs = phrase_freq_bulk(token_positions, slop).astype(
            np.float64
        )
        mask = freqs > 0
        return cand[mask], freqs[mask]

    def _node_seg(nd, s: int, lo: int, hi: int):
        """(matching docids, scores) of one annotated node within
        segment s; the caller must ensure ``nd["cov"][s]``. Float
        association is IDENTICAL to the exhaustive evaluator at every
        level: conj = zeros + child scores gathered at the intersection
        in child order (``Bool.must``); group = zeros + child scores
        scatter-added at the union in child order (``Bool.should``);
        uncovered/empty children of a group contribute nothing exactly
        like their empty exhaustive eval."""
        kind = nd["kind"]
        if kind == "term":
            key = nd["keys"][0]
            shard = int(sp.stats[key]["shard"][nd["tok_k"][0][s]])
            dec = sp.docids(key[0], key[1], shard)
            a_, b_ = np.searchsorted(dec, lo), np.searchsorted(dec, hi)
            ids = dec[a_:b_]
            if ids.size == 0:
                return empty
            tfs = sp.tfs(key[0], key[1], shard)[a_:b_]
            return ids, _bm25_scores(
                tfs, doc_len[ids], nd["val"], N, avgdl, k1, b
            )
        if kind == "phrase":
            ids, freqs = _phrase_match(
                nd["keys"], nd["tok_k"], nd["slop"], s, lo, hi
            )
            if ids.size == 0:
                return empty
            dls = doc_len[ids]
            norm = freqs * (k1 + 1.0) / (
                freqs + k1 * (1.0 - b + b * dls / avgdl)
            )
            return ids, nd["val"] * norm
        if kind == "boost":
            ids, sc = _node_seg(nd["children"][0], s, lo, hi)
            return ids, sc * nd["factor"]
        if kind == "conj":
            parts = []
            cand = None
            for c in nd["children"]:
                ids_c, sc_c = _node_seg(c, s, lo, hi)
                parts.append((ids_c, sc_c))
                cand = ids_c if cand is None else np.intersect1d(
                    cand, ids_c, assume_unique=True
                )
                if cand.size == 0:
                    return empty
            scores = np.zeros(cand.size, dtype=np.float64)
            for p_ids, p_sc in parts:
                scores += p_sc[np.searchsorted(p_ids, cand)]
            return cand, scores
        # group
        parts = []
        for c in nd["children"]:
            if not c["cov"][s]:
                continue
            ids_c, sc_c = _node_seg(c, s, lo, hi)
            if ids_c.size:
                parts.append((ids_c, sc_c))
        if not parts:
            return empty
        g_ids = parts[0][0]
        for p_ids, _ in parts[1:]:
            g_ids = np.union1d(g_ids, p_ids)
        g_sc = np.zeros(g_ids.size, dtype=np.float64)
        for p_ids, p_sc in parts:
            g_sc[np.searchsorted(g_ids, p_ids)] += p_sc
        return g_ids, g_sc

    pcache: dict[tuple[int, int], tuple] = {}

    def member_ids(mi: int, s: int):
        """Matching docids of member mi within segment s; None when the
        member has no covering shard there."""
        m_ = memb[mi]
        if not m_["cov"][s]:
            return None
        lo, hi = int(seg_lo[s]), int(seg_hi[s])
        if m_["kind"] == "term":
            return _term_slice(m_["node"], s, lo, hi, with_tf=False)[0]
        got = pcache.get((mi, s))
        if got is None:
            got = _node_seg(m_["node"], s, lo, hi)
            pcache[(mi, s)] = got
        return got[0]

    def seg_candidates(s: int) -> np.ndarray:
        lo, hi = int(seg_lo[s]), int(seg_hi[s])
        ids = None
        for gi in range(n_groups):
            g_ids = None
            for mi in range(len(memb)):
                if memb[mi]["g"] != gi:
                    continue
                sl = member_ids(mi, s)
                if sl is None:
                    continue
                g_ids = sl if g_ids is None else np.union1d(g_ids, sl)
            if g_ids is None:
                return np.empty(0, np.int64)
            ids = g_ids if ids is None else np.intersect1d(
                ids, g_ids, assume_unique=True
            )
            if ids.size == 0:
                return ids
        return neg_exclude(
            ids if ids is not None else np.empty(0, np.int64), s, lo, hi
        )

    # ---- exact num_hits ------------------------------------------------
    cand_cache: dict[int, np.ndarray] = {}
    single_uncounted = (
        n_groups == 1 and len(memb) == 1
        and memb[0]["kind"] == "term" and not negk and not neg_nodes
    )
    if single_uncounted:
        num_hits = int(sp.stats[memb[0]["node"]["keys"][0]]["df"].sum())
    else:
        num_hits = 0
        for s in active_idx:
            ids = seg_candidates(int(s))
            cand_cache[int(s)] = ids
            num_hits += ids.size

    # ---- UB-ordered pruned scoring ------------------------------------
    order = active_idx[np.argsort(-ub_seg[active_idx], kind="stable")]
    best_ids = np.empty(0, np.int64)
    best_scores = np.empty(0, np.float64)
    theta = -math.inf
    for s in order:
        s = int(s)
        if best_ids.size >= m and ub_seg[s] < theta:
            break  # sound: bounds visited in descending order
        ids = cand_cache.get(s)
        if ids is None:
            ids = seg_candidates(s)
        if ids.size == 0:
            continue
        lo, hi = int(seg_lo[s]), int(seg_hi[s])
        # per-group partial sums added group-by-group: the SAME float
        # association as the exhaustive evaluator (Bool.must sums its
        # children's score arrays), so scores are bit-identical
        scores = np.zeros(ids.size, dtype=np.float64)
        for gi in range(n_groups):
            g_members = [mi for mi in range(len(memb)) if memb[mi]["g"] == gi]
            single = len(g_members) == 1
            g_scores = scores if single else np.zeros(ids.size, dtype=np.float64)
            for mi in g_members:
                m_ = memb[mi]
                sl_ids = member_ids(mi, s)
                if sl_ids is None:
                    continue
                if m_["kind"] == "term":
                    _, sl_tf = _term_slice(m_["node"], s, lo, hi, with_tf=True)
                    df_t = m_["node"]["val"]
                    if single:
                        # candidates ⊆ the member's slice (candidates
                        # were intersected with this very slice)
                        idx = np.searchsorted(sl_ids, ids)
                        g_scores += _bm25_scores(
                            sl_tf[idx], doc_len[ids], df_t, N, avgdl, k1, b
                        )
                    else:
                        common, ci, si = np.intersect1d(
                            ids, sl_ids, assume_unique=True, return_indices=True
                        )
                        if common.size:
                            g_scores[ci] += _bm25_scores(
                                sl_tf[si], doc_len[common], df_t,
                                N, avgdl, k1, b,
                            )
                else:
                    # phrase/conj/group member: _node_seg already
                    # produced (ids, scores) with the exhaustive float
                    # association; gather at the candidates
                    c_ids, c_scores = pcache[(mi, s)]
                    if single:
                        # candidates ⊆ the member's matching ids
                        idx = np.searchsorted(c_ids, ids)
                        g_scores += c_scores[idx]
                    else:
                        common, ci, si = np.intersect1d(
                            ids, c_ids, assume_unique=True, return_indices=True
                        )
                        if common.size:
                            g_scores[ci] += c_scores[si]
            if not single:
                scores += g_scores
        best_ids = np.concatenate([best_ids, ids])
        best_scores = np.concatenate([best_scores, scores])
        best_ids, best_scores = _top_m(best_ids, best_scores, m)
        if best_ids.size >= m:
            theta = best_scores[-1]
    skips = {
        "shards": n_pos_shards,
        "docid_decoded": sp.n_docid_decoded,
        "tf_decoded": sp.n_tf_decoded,
        "pos_decoded": sp.n_pos_decoded,
    }
    return best_ids, best_scores, num_hits, skips


class _SplitEval:
    """Evaluates a query AST against one split, vectorized."""

    def __init__(self, postings, doc_len, stats, config):
        self.postings = postings
        self.doc_len = doc_len.astype(np.float64)
        self.n_split = doc_len.size
        self.N = stats["N"]
        self.avgdl = stats["avgdl"]
        self.df = stats["df"]  # {(field, term): global doc freq}
        self.k1 = config.k1
        self.b = config.b

    def _idf(self, key) -> float:
        df = self.df.get(key, 0)
        return math.log(1.0 + (self.N - df + 0.5) / (df + 0.5))

    def eval(self, node):
        """Returns (docids sorted int64, scores float64)."""
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        if isinstance(node, MatchAll):
            return np.arange(self.n_split, dtype=np.int64), np.zeros(self.n_split)
        if isinstance(node, Boost):
            ids, scores = self.eval(node.node)
            return ids, scores * node.factor
        if isinstance(node, Term):
            key = (node.field, node.value)
            p = self.postings.get(key)
            if p is None:
                return empty
            docids, tfs, _ = p
            scores = _bm25_scores(
                tfs, self.doc_len[docids], self.df.get(key, 0),
                self.N, self.avgdl, self.k1, self.b,
            )
            return docids, scores
        if isinstance(node, Phrase):
            keys = [(node.field, t) for t in node.tokens]
            plists = [self.postings.get(k) for k in keys]
            if any(p is None or p[2] is None for p in plists):
                return empty
            cand = plists[0][0]
            for p in plists[1:]:
                cand = np.intersect1d(cand, p[0], assume_unique=True)
            if cand.size == 0:
                return empty
            idf_sum = sum(self._idf(k) for k in keys)
            # gather each token's candidate-doc position segments with a
            # vectorized variable-length take, then bulk phrase matching
            token_positions = []
            for docids, tfs, pos in plists:
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
            freqs = phrase_freq_bulk(token_positions, node.slop).astype(
                np.float64
            )
            mask = freqs > 0
            cand, freqs = cand[mask], freqs[mask]
            dls = self.doc_len[cand]
            norm = freqs * (self.k1 + 1.0) / (
                freqs + self.k1 * (1.0 - self.b + self.b * dls / self.avgdl)
            )
            return cand, idf_sum * norm
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
# (merge/demux create new dirs), so a split's (doc_len, ts_us[, sort])
# arrow table never changes under its path — yet re-reading it cost
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

# Per-Searcher budget of decoded doc-store row groups (see
# Searcher._blocks). The root fetch decodes a whole row group (up to
# 8192 docs) to return a few payloads, so a hit saves that decode. It
# pays off only while the groups holding the traffic's winners fit in
# the budget. The full doc store of a 40k-turn index decodes to 6 MB
# (about 150 bytes a turn), so 128 MB holds every group of an index of
# roughly 850k turns. Leaf postings reads are not cached: a cached
# scan measured no faster than the zstd decode, which runs outside the
# GIL in parallel leaf threads.
_BLOCK_CACHE_MAX_BYTES = 128 << 20


def _fast_table_cached(dpath: str, cols: tuple):
    key = (dpath, cols)
    got = _FAST_CACHE.get(key)
    if got is None:
        tbl = fsio.read_table(dpath, columns=list(cols))
        got = _FAST_CACHE.put(key, tbl, tbl.nbytes)
    return got


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
    wand: bool = True,
    fetch_payload: bool = True,
) -> pd.DataFrame:
    """One leaf search: returns partial rows (hits + count + agg buckets).
    ``fetch_payload=False`` defers doc-store reads to the root's
    fetch_docs phase (driver mode only — spark-mode kernels keep the
    fetch leaf-side for data locality on a real cluster)."""
    import pyarrow.parquet as pq

    from quickwit_spark.operators.build import limit_worker_threads

    limit_worker_threads()
    dpath = fsio.join(split_dir, DOCS_FILE)
    fast_cols = ["doc_len", "ts_us"]
    if sort_by and sort_by not in ("ts", "ts_us") and sort_by not in fast_cols:
        # validate against the split schema BEFORE the column read so
        # the errors carry the reference's exact strings
        # (sort_by.rs:95-115 validate_sort_by_field_name); every doc
        # column doubles as a fast field in this layout, so the
        # "must be a fast field" branch cannot occur
        schema = fsio.parquet_file_cached(dpath).schema_arrow
        if sort_by not in schema.names:
            raise ValueError(f"Unknown sort by field: `{sort_by}`")
        fast_cols.append(sort_by)
    import pyarrow as pa

    fast = _fast_table_cached(dpath, tuple(fast_cols))
    if sort_by and sort_by in fast.column_names:
        if not (
            pa.types.is_integer(fast.column(sort_by).type)
            or pa.types.is_floating(fast.column(sort_by).type)
        ):
            raise ValueError(
                f"Sort by field on type text is currently not supported "
                f"`{sort_by}`."
            )
    doc_len = fast.column("doc_len").to_numpy().astype(np.int64)
    ts_us = fast.column("ts_us").to_numpy()

    # block-max WAND fast path: flat term-boolean relevance top-k with
    # no residual filters — prune segments by score upper bound
    wplan = _wand_plan(ast) if wand else None
    use_wand = (
        wplan is not None
        and sort_by is None
        and not aggs
        and start_us is None
        and end_us is None
        and m > 0
    )
    if use_wand:
        w_groups, w_neg = wplan
        ids, scores, num_hits, _skips = _wand_bool(
            split_dir, w_groups, w_neg,
            doc_len.astype(np.float64), stats, config, m,
        )
        return _partial_rows_from_topk(
            split_id, dpath, ids, scores, scores, num_hits, ts_us,
            fetch_payload,
        )

    terms = query_terms(ast)
    postings = _read_postings(split_dir, terms) if terms else {}
    ev = _SplitEval(postings, doc_len, stats, config)
    ids, scores = ev.eval(ast)

    # timestamp fast-field filter, [start, end) (filters.rs:61-155)
    if start_us is not None or end_us is not None:
        mask = np.ones(ids.size, dtype=bool)
        tvals = ts_us[ids]
        if start_us is not None:
            mask &= tvals >= start_us
        if end_us is not None:
            mask &= tvals < end_us
        ids, scores = ids[mask], scores[mask]

    out_rows: list[dict] = []
    base = {c: None for c in _HIT_COLS}

    # partial top-m hits (+ count row)
    if m > 0 and ids.size:
        if sort_by:
            col = ts_us if sort_by in ("ts", "ts_us") else fast.column(sort_by).to_numpy()
            keys = col[ids].astype(np.float64)
            # Asc sort via negated key — the reference's u64::MAX - v
            # trick (collector.rs:41-92); ``sort_value`` is always a
            # descending-merge key, ``score`` the real field value.
            order_key = keys if sort_desc else -keys
            top_ids, sel = _top_m(ids, order_key, m)
            real_vals = col[top_ids].astype(np.float64)
        else:
            top_ids, sel = _top_m(ids, scores, m)
            real_vals = sel
        out_rows.extend(
            _hit_rows(split_id, dpath, top_ids, sel, real_vals, ts_us,
                      fetch_payload)
        )

    # count row (collector.rs:191 num_hits)
    count_row = dict(base)
    count_row.update(kind="count", split_id=split_id, agg_count=int(ids.size))
    out_rows.append(count_row)

    # partial aggregations (collector.rs:214-221 intermediate results).
    # A zero-match split still participates when a terms agg asks for
    # min_doc_count=0 — its term dictionary feeds the zero-count buckets
    _mdc0 = aggs is not None and any(
        "terms" in spec and int(spec["terms"].get("min_doc_count", 1)) == 0
        for spec in aggs.values()
    )
    if aggs and (ids.size or _mdc0):
        agg_cols_needed = set()
        for spec in aggs.values():
            for params in spec.values():
                agg_cols_needed.add(params["field"])
                if params.get("stats_field"):
                    agg_cols_needed.add(params["stats_field"])
        col_arrays = {}
        for c in agg_cols_needed:
            if c in ("ts", "ts_us"):
                col_arrays[c] = ts_us
            elif c == "doc_len":
                col_arrays[c] = doc_len
            else:
                col_arrays[c] = fsio.read_table(dpath, columns=[c]).column(c).to_numpy(
                    zero_copy_only=False
                )
        for name, spec in aggs.items():
            kind, params = next(iter(spec.items()))
            vals = col_arrays[params["field"]][ids]
            extra = (
                {params["stats_field"]: col_arrays[params["stats_field"]][ids]}
                if params.get("stats_field")
                else None
            )
            if kind == "terms" and int(params.get("min_doc_count", 1)) == 0:
                # zero-count buckets need the split's full term
                # dictionary, not just the matched docs
                extra = dict(extra or {})
                extra["__all__"] = col_arrays[params["field"]]
            rows = _partial_agg(kind, params, vals, extra)
            for r in rows:
                r["kind"] = "agg"
                r["split_id"] = split_id
                r["agg_name"] = name
            out_rows.extend(rows)

    return pd.DataFrame(out_rows, columns=_HIT_COLS)


def fetch_doc_payloads(dpath: str, docids, cache=None) -> dict[int, str]:
    """fetch_docs for one split (fetch_docs.rs:98-173 — grouped,
    docid-filtered doc-store read): {docid: doc json}. ``cache``: the
    decoded row-group LRU, see :func:`read_pruned`."""
    import json as _json

    from quickwit_spark.functions.parquet_io import read_pruned

    schema_cols = fsio.parquet_file_cached(dpath).schema_arrow.names
    fetch_cols = [c for c in schema_cols if c not in ("ts_us", "doc_len")]
    doc_tbl = read_pruned(
        dpath, fetch_cols, "docid", [int(d) for d in docids], cache
    )
    out = {}
    for rec in doc_tbl.to_pylist():
        did = rec.pop("docid")
        out[int(did)] = _json.dumps(rec, default=str)
    return out


def _hit_rows(
    split_id: str, dpath: str, top_ids, sel, real_vals, ts_us,
    fetch_payload: bool = True,
) -> list[dict]:
    """Per-split hit rows for the partial top-m. ``fetch_payload=False``
    defers the doc-store read to the root (the reference's separate
    fetch_docs phase): the root merges k+offset winners out of
    m×splits candidates, so fetching per-leaf reads splits× more doc
    rows than the response needs."""
    base = {c: None for c in _HIT_COLS}
    if len(top_ids) == 0:
        return []
    dmap = (
        fetch_doc_payloads(dpath, top_ids) if fetch_payload else {}
    )
    rows = []
    for did, ordkey, val in zip(top_ids, sel, real_vals):
        r = dict(base)
        r.update(
            kind="hit", split_id=split_id, docid=int(did),
            score=float(val), sort_value=float(ordkey),
            doc=dmap.get(int(did)),
            ts_us=int(ts_us[did]),
        )
        rows.append(r)
    return rows


def _partial_rows_from_topk(
    split_id: str, dpath: str, top_ids, sel, real_vals, num_hits: int, ts_us,
    fetch_payload: bool = True,
) -> pd.DataFrame:
    base = {c: None for c in _HIT_COLS}
    out_rows = _hit_rows(
        split_id, dpath, top_ids, sel, real_vals, ts_us, fetch_payload
    )
    count_row = dict(base)
    count_row.update(kind="count", split_id=split_id, agg_count=int(num_hits))
    out_rows.append(count_row)
    return pd.DataFrame(out_rows, columns=_HIT_COLS)


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


def _partial_agg(
    kind: str, params: dict, vals: np.ndarray, extra_cols: dict | None = None
) -> list[dict]:
    """Per-split partial aggregation buckets (ES-compatible subset the
    reference wires through — docs/reference/aggregation.md: terms
    (with optional stats sub-agg + order-by-sub-agg), histogram, range,
    avg, stats)."""
    base = {c: None for c in _HIT_COLS}
    rows = []
    if kind == "terms":
        ser = pd.Series(vals)
        # shard_size analog: fail fast IN THE LEAF on high-cardinality
        # terms aggs — without this cap every split ships its full
        # per-split cardinality through the root merge before the root
        # cap (collector.rs:273) gets a chance to reject the query
        n_buckets = ser.nunique(dropna=True)
        if n_buckets > AGGREGATION_BUCKET_LIMIT:
            raise ValueError(
                f"aggregation bucket limit exceeded in split: {n_buckets} "
                f"> {AGGREGATION_BUCKET_LIMIT} distinct terms keys"
            )
        stats_field = params.get("stats_field")
        if stats_field is not None:
            sv = pd.Series(extra_cols[stats_field]).astype(float)
            grouped = sv.groupby(ser).agg(["count", "sum", "min", "max"])
            grouped["sq"] = (sv * sv).groupby(ser).sum()
            for key, g in grouped.iterrows():
                r = dict(base)
                r.update(
                    agg_key=str(key), agg_count=int(g["count"]),
                    agg_sum=float(g["sum"]), agg_min=float(g["min"]),
                    agg_max=float(g["max"]), agg_sq=float(g["sq"]),
                )
                rows.append(r)
        else:
            counts = ser.value_counts(dropna=True)
            for key, cnt in counts.items():
                r = dict(base)
                r.update(agg_key=str(key), agg_count=int(cnt))
                rows.append(r)
        # min_doc_count=0: 'return all terms in the field'
        # (aggregation.md) — zero-count buckets for field values the
        # query didn't match (the split-local term dictionary)
        if (
            int(params.get("min_doc_count", 1)) == 0
            and extra_cols is not None
            and "__all__" in extra_cols
        ):
            seen = {r["agg_key"] for r in rows}
            all_keys = pd.Series(extra_cols["__all__"]).dropna().unique()
            if len(all_keys) > AGGREGATION_BUCKET_LIMIT:
                raise ValueError(
                    "aggregation bucket limit exceeded in split: "
                    f"{len(all_keys)} > {AGGREGATION_BUCKET_LIMIT} "
                    "distinct terms keys (min_doc_count=0)"
                )
            for key in all_keys:
                if str(key) not in seen:
                    r = dict(base)
                    r.update(agg_key=str(key), agg_count=0)
                    if stats_field is not None:
                        r.update(agg_sum=0.0, agg_min=np.nan, agg_max=np.nan,
                                 agg_sq=0.0)
                    rows.append(r)
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
            summary = dict(base)
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
            summary.update(
                agg_key=None,
                agg_count=int(sum(r["agg_count"] for r in cut)),
                agg_sum=err_part,
            )
            rows = kept + [summary]
    elif kind == "histogram":
        interval = float(params["interval"])
        # aggregation.md histogram: bucket key =
        # ((val - offset) / interval).floor() * interval + offset
        off = float(params.get("offset", 0.0))
        notna = ~pd.isna(vals)
        v = vals[notna].astype(np.float64)
        buckets = np.floor((v - off) / interval) * interval + off
        stats_field = params.get("stats_field")
        sv = (
            np.asarray(extra_cols[stats_field], dtype=np.float64)[notna]
            if stats_field is not None
            else None
        )
        hard = params.get("hard_bounds")
        if hard is not None:
            # limits the BUCKETS to the [min, max] closed interval
            mask = (buckets >= float(hard["min"])) & (
                buckets <= float(hard["max"])
            )
            buckets = buckets[mask]
            if sv is not None:
                sv = sv[mask]
        uniq, cnt = np.unique(buckets, return_counts=True)
        if sv is not None:
            # doc_count stays bucket MEMBERSHIP (identical to the
            # no-sub-agg path); the stats ride along as sum/min/max of
            # the sub-agg field within the bucket (aggregation.md
            # 'histogram with stats in each bucket')
            svs = pd.Series(sv)
            g = svs.groupby(pd.Series(buckets)).agg(["sum", "min", "max"])
            g["sq"] = (svs * svs).groupby(pd.Series(buckets)).sum()
            for key, c in zip(uniq, cnt):
                r = dict(base)
                st = g.loc[key]
                r.update(
                    agg_key=repr(float(key)), agg_count=int(c),
                    agg_sum=float(st["sum"]), agg_min=float(st["min"]),
                    agg_max=float(st["max"]), agg_sq=float(st["sq"]),
                )
                rows.append(r)
        else:
            for key, c in zip(uniq, cnt):
                r = dict(base)
                r.update(agg_key=repr(float(key)), agg_count=int(c))
                rows.append(r)
    elif kind == "range":
        v = vals.astype(np.float64)
        stats_field = params.get("stats_field")
        sv = (
            np.asarray(extra_cols[stats_field], dtype=np.float64)
            if stats_field is not None
            else None
        )
        for rng in params["ranges"]:
            lo = rng.get("from")
            hi = rng.get("to")
            mask = np.ones(v.size, dtype=bool)
            if lo is not None:
                mask &= v >= lo
            if hi is not None:
                mask &= v < hi
            r = dict(base)
            r.update(
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
    elif kind in ("stats", "avg"):
        v = vals[~pd.isna(vals)].astype(np.float64)
        if v.size:
            r = dict(base)
            r.update(
                agg_key="",
                agg_count=int(v.size),
                agg_sum=float(v.sum()),
                agg_min=float(v.min()),
                agg_max=float(v.max()),
                agg_sq=float((v * v).sum()),
            )
            rows.append(r)
    else:
        raise ValueError(f"unsupported aggregation {kind!r}")
    return rows


# ---------------------------------------------------------------------------
# driver side
# ---------------------------------------------------------------------------

def _df_candidate_splits(splits, missing, default_field):
    """Splits that can contribute a non-zero doc-freq for any of the
    ``missing`` (field, term) pairs: non-default-field terms have no
    recorded range (keep all splits); default-field terms prune on the
    split's (min, max) term range."""
    if any(f != default_field for f, _ in missing):
        return splits
    terms = [t for f, t in missing]
    out = []
    for s in splits:
        if s.term_range is None:
            out.append(s)
            continue
        lo, hi = s.term_range
        if any(lo <= t <= hi for t in terms):
            out.append(s)
    return out


class Searcher:
    """Warm search handle over one index: caches catalog, global stats,
    per-term global doc-freqs and decoded doc-store row groups across
    queries (the root's metastore + footer + byte-range caches,
    leaf.rs:64-107 analog)."""

    def __init__(self, spark, index_dir: str, at_seq: int | None = None):
        self.spark = spark
        self.index_dir = index_dir
        # at_seq: search a HISTORICAL catalog state (manifest backend
        # with retain_history — Iceberg snapshot-read analog). Split
        # files are immutable so the old split set answers exactly as
        # it did then, as long as split GC has not reaped deleted
        # splits (run expire_history before gc, like Iceberg's
        # expire_snapshots before remove_orphan_files).
        self.at_seq = at_seq
        self.catalog = Catalog.load(index_dir, at_seq=at_seq)
        self.config = self.catalog.config
        self._df_cache: dict[tuple[str, str], int] = {}
        # decoded doc-store row groups of the root doc fetch, keyed
        # (file path, row group, columns). Per HANDLE, not per process:
        # a fresh Searcher always re-reads the disk, so a corrupted
        # split surfaces as a per-split error instead of being served
        # from memory. Split files are immutable, so entries stay valid
        # across refresh(), which drops only unpublished splits.
        self._blocks = LRU(lambda: _BLOCK_CACHE_MAX_BYTES)
        self._catalog_mtime = self._mtime()
        self._pool = None  # lazy persistent leaf-thread pool

    def _leaf_pool(self):
        """Persistent executor for the driver-mode leaf fan-out —
        spawning 16 threads per query cost ~50 ms (profiled); reuse
        across queries like the reference's searcher thread pool."""
        from concurrent.futures import ThreadPoolExecutor

        if self._pool is None:
            self._pool = ThreadPoolExecutor(
                max_workers=16, thread_name_prefix="leaf"
            )
        return self._pool

    def _mtime(self):
        # backend-aware commit token (JSON mtime / sqlite WAL state)
        return Catalog.state_token(self.index_dir)

    @property
    def n_docs(self) -> int:
        return self.catalog.total_docs()

    def refresh(self) -> None:
        self.catalog = Catalog.load(self.index_dir, at_seq=self.at_seq)
        self.config = self.catalog.config
        self._df_cache.clear()
        live = {
            fsio.join(self.catalog.split_dir(s.split_id), DOCS_FILE)
            for s in self.catalog.published_splits()
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
        missing = sorted(t for t in terms if t not in self._df_cache)
        if missing:
            # fast path: precomputed index-level term stats (hotcache
            # analog — see operators/stats.py), driver-side point read
            from quickwit_spark.operators.stats import lookup_term_stats

            found = lookup_term_stats(self.catalog, set(missing))
            if found is not None:
                self._df_cache.update(found)
                return {t: self._df_cache[t] for t in terms}
        if missing:
            # term-range pruning is sound for df too: a split whose
            # default-field term range excludes EVERY missing term has
            # zero occurrences of them
            splits = _df_candidate_splits(
                self.catalog.published_splits(), missing,
                self.config.default_search_field,
            )
            rows = [
                (s.split_id, self.catalog.split_dir(s.split_id))
                for s in splits
            ]
            term_values = sorted({t for _, t in missing})
            if rows:
                sdf = self.spark.createDataFrame(rows, "split_id string, path string")
                sdf = sdf.repartition(min(len(rows), 64))

                def read_dfs(iterator):
                    from quickwit_spark.functions.parquet_io import read_pruned

                    for pdf in iterator:
                        out = []
                        for path in pdf["path"]:
                            t = read_pruned(
                                fsio.join(path, POSTINGS_FILE),
                                ["field", "term", "df"],
                                "term", term_values,
                            )
                            out.append(t.to_pandas())
                        if out:
                            yield pd.concat(out, ignore_index=True)

                res = (
                    sdf.mapInPandas(read_dfs, schema="field string, term string, df long")
                    .groupBy("field", "term")
                    .sum("df")
                    .collect()
                )
                found = {(r["field"], r["term"]): r["sum(df)"] for r in res}
            else:
                found = {}
            for t in missing:
                self._df_cache[t] = int(found.get(t, 0))
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
        wand: bool = True,
        mode: str = "auto",
        search_fields: list | None = None,
    ) -> SearchResponse:
        import time as _time

        t0 = _time.time()
        if k + offset > 10_000 or offset > 10_000:
            # request validation (quickwit-search/src/root.rs:112-133)
            raise ValueError("max_hits + start_offset must be ≤ 10,000")
        aggs = _normalize_aggs(aggs)
        pdf, errors = self.search_partials(
            query, k, offset, start_us, end_us, sort_by, sort_desc, aggs,
            wand, mode, search_fields,
        )
        resp = merge_partials(pdf, k, offset, sort_by, aggs)
        resp.errors = errors
        self._fetch_missing_docs(resp)
        resp.elapsed_sec = _time.time() - t0
        return resp

    def _fetch_missing_docs(self, resp: SearchResponse) -> None:
        """Root fetch_docs phase (fetch_docs.rs:98-173): payloads for
        the final winners only, grouped per split and fetched in
        parallel on the leaf pool (the reference issues per-split
        fetch_docs_in_split tasks concurrently too; serially this was
        ~5 ms × winners-bearing-splits of pure row-group reads).

        Same failure tolerance as the leaf phase: a split whose doc
        fetch fails (e.g. GC'd between the leaf phase and the root
        fetch) is retried once, then its hits are DROPPED and the
        failure is reported in ``resp.errors`` — one lost split must
        not discard an otherwise-partial result (the reference's
        fetch_docs errors degrade to partial responses the same way)."""
        import json as _json

        pending: dict[str, list] = {}
        for h in resp.hits:
            if h.doc is None:
                pending.setdefault(h.split_id, []).append(h)
        if not pending:
            return

        def fetch(item):
            split_id, hs = item
            dpath = fsio.join(self.catalog.split_dir(split_id), DOCS_FILE)
            for attempt in (0, 1):
                try:
                    return hs, fetch_doc_payloads(
                        dpath, [h.docid for h in hs], self._blocks
                    )
                except Exception as exc:  # noqa: BLE001 - reported
                    if attempt:
                        return hs, (split_id, exc)
            return None  # unreachable

        dropped: set[int] = set()
        for hs, dmap in self._leaf_pool().map(fetch, pending.items()):
            if isinstance(dmap, tuple):
                split_id, exc = dmap
                resp.errors.append(f"split {split_id}: doc fetch: {exc}")
                dropped.update(id(h) for h in hs)
                continue
            for h in hs:
                h.doc = _json.loads(dmap[h.docid])
        if dropped:
            resp.hits = [h for h in resp.hits if id(h) not in dropped]

    # a leaf search is executed in driver threads when the pruned split
    # set is small — the reference's single_node_search skips the gRPC
    # fan-out the same way (quickwit-search/src/lib.rs:189-251); larger
    # split sets go through the Spark job (the root→leaf fan-out)
    DRIVER_EXEC_MAX_SPLITS = 32

    def search_partials(
        self, query, k, offset=0, start_us=None, end_us=None,
        sort_by=None, sort_desc=True, aggs=None, wand=True,
        mode: str = "auto", search_fields=None,
    ) -> tuple[pd.DataFrame, list]:
        """Run the leaf phase; returns (partial rows, per-split errors).

        mode: 'spark' (distributed mapInPandas over splits), 'driver'
        (thread pool in-process — same kernel function), or 'auto'.

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
        self._refresh_if_stale()
        ast = parse_query(query, self.config, search_fields)
        _validate_phrase_fields(ast, self.config)
        splits = prune_splits(
            self.catalog.published_splits(), ast, self.config, start_us, end_us
        )
        if not splits:
            return pd.DataFrame(columns=_HIT_COLS), []
        stats = {
            "N": self.n_docs,
            "avgdl": (self.catalog.total_doc_len() / max(self.n_docs, 1)) or 1.0,
            "df": self._global_df(query_terms(ast)),
        }
        m = k + offset
        config = self.config
        rows = [
            (s.split_id, self.catalog.split_dir(s.split_id)) for s in splits
        ]
        if mode == "auto":
            mode = (
                "driver"
                if len(rows) <= self.DRIVER_EXEC_MAX_SPLITS
                else "spark"
            )

        if mode == "driver":
            # leaves return doc ADDRESSES; the root fetches payloads for
            # the k winners only (the reference's fetch_docs phase) —
            # per-leaf fetching reads splits× more doc rows than needed
            def leaf(r):
                for attempt in (0, 1):
                    try:
                        return _eval_split_partial(
                            r[0], r[1], ast, stats, config, m,
                            start_us, end_us, sort_by, sort_desc, aggs,
                            wand, fetch_payload=False,
                        )
                    except Exception as exc:  # noqa: BLE001 - reported
                        if attempt:
                            return (r[0], exc)
                return None  # unreachable

            results = list(self._leaf_pool().map(leaf, rows))
            errors = [
                f"split {sid}: {exc}"
                for sid, exc in (x for x in results if isinstance(x, tuple))
            ]
            if errors and len(errors) == len(rows):
                # every split failed: that's not a partial result, it's
                # a broken query/index — surface it loudly (the
                # reference errors out when no leaf responds too)
                raise RuntimeError(
                    f"all {len(rows)} splits failed; first: {errors[0]}"
                )
            # object dtype avoids the all-NA-column concat dtype warning
            parts = [
                p.astype(object)
                for p in results
                if not isinstance(p, tuple) and len(p)
            ]
            if not parts:
                return pd.DataFrame(columns=_HIT_COLS), errors
            return pd.concat(parts, ignore_index=True), errors

        sdf = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(rows, len(rows)),
            "split_id string, path string",
        )

        def kernel(iterator):
            for pdf in iterator:
                for split_id, path in zip(pdf["split_id"], pdf["path"]):
                    yield _eval_split_partial(
                        split_id, path, ast, stats, config, m,
                        start_us, end_us, sort_by, sort_desc, aggs, wand,
                    )

        out = sdf.mapInPandas(kernel, schema=HIT_SCHEMA)
        return out.toPandas(), []


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


def merge_partials(pdf: pd.DataFrame, k, offset, sort_by, aggs) -> SearchResponse:
    """Root merge (collector.rs:325-419 + root.rs:263-288): tiny pandas
    merge of per-split partials — hits re-sorted by
    (sort_value desc|score desc, split_id, docid), offset applied once
    (root.rs:341-356), agg buckets merged and finalized."""
    if pdf.empty:
        return SearchResponse(0, [], {})
    counts = pdf[pdf["kind"] == "count"]
    num_hits = int(counts["agg_count"].sum())
    hits_df = pdf[pdf["kind"] == "hit"].copy()
    if not hits_df.empty:
        hits_df = hits_df.sort_values(
            ["sort_value", "split_id", "docid"], ascending=[False, True, True],
            kind="mergesort",
        ).iloc[offset : offset + k]
    import json as _json

    hits = [
        SearchHit(
            r.split_id, int(r.docid), float(r.score),
            _json.loads(r.doc) if r.doc is not None else None, int(r.ts_us),
        )
        for r in hits_df.itertuples(index=False)
    ]
    final_aggs: dict = {}
    if aggs:
        agg_rows = pdf[pdf["kind"] == "agg"]
        for name, spec in aggs.items():
            kind, params = next(iter(spec.items()))
            sub = agg_rows[agg_rows["agg_name"] == name]
            final_aggs[name] = _final_agg(kind, params, sub)
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


def _final_agg(kind: str, params: dict, sub: pd.DataFrame):
    if kind == "terms":
        size = int(params.get("size", 10))
        min_doc = int(params.get("min_doc_count", 1))
        # per-split summary rows (agg_key=None): docs dropped by the
        # split_size cut + the largest cut bucket per split
        summaries = sub[sub["agg_key"].isna()]
        bucket_rows = sub[sub["agg_key"].notna()]
        leaf_dropped = (
            int(summaries["agg_count"].sum()) if len(summaries) else 0
        )
        # doc_count_error_upper_bound (aggregation.md): 'the sum of the
        # size of the largest bucket on each split that didn't fit into
        # split_size'
        error_bound = int(summaries["agg_sum"].sum()) if len(summaries) else 0
        has_stats = bool(params.get("stats_field"))
        if has_stats:
            m = bucket_rows.groupby("agg_key").agg(
                doc_count=("agg_count", "sum"), s_sum=("agg_sum", "sum"),
                s_min=("agg_min", "min"), s_max=("agg_max", "max"),
                s_sq=("agg_sq", "sum"),
            )
            m["s_avg"] = m["s_sum"] / m["doc_count"].clip(lower=1)
        else:
            m = bucket_rows.groupby("agg_key").agg(
                doc_count=("agg_count", "sum")
            )
        if len(m) > AGGREGATION_BUCKET_LIMIT:
            raise ValueError("aggregation bucket limit exceeded")
        total_docs = int(m["doc_count"].sum()) + leaf_dropped
        m = m[m["doc_count"] >= min_doc]
        target, asc = _terms_order(params)
        if target == "_key":
            ordered = m.sort_index(ascending=asc)
        elif target == "_count":
            ordered = m.sort_index().sort_values(
                "doc_count", ascending=asc, kind="mergesort"
            )
        else:
            if not has_stats:
                raise ValueError(
                    f"terms order target {target!r} without a sub-aggregation"
                )
            metric = _subagg_metric_col(target, params)
            col = {
                "count": "doc_count", "sum": "s_sum", "min": "s_min",
                "max": "s_max", "avg": "s_avg",
            }[metric]
            ordered = m.sort_index().sort_values(
                col, ascending=asc, kind="mergesort"
            )
        top = ordered.head(size)
        sub_name = params.get("sub_name", "stats")
        out_buckets = []
        for key, g in top.iterrows():
            b = {"key": key, "doc_count": int(g["doc_count"])}
            if has_stats:
                b[sub_name] = _sub_stats_payload(
                    params, int(g["doc_count"]), g["s_sum"],
                    g["s_min"], g["s_max"], g["s_sq"],
                )
            out_buckets.append(b)
        out = {
            "buckets": out_buckets,
            # docs that didn't make it into the top `size` buckets —
            # either cut at the root or at split_size in a leaf
            "sum_other_doc_count": total_docs
            - int(top["doc_count"].sum()),
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
        has_stats = bool(params.get("stats_field"))
        if has_stats:
            mdf = sub.groupby("agg_key").agg(
                doc_count=("agg_count", "sum"), s_sum=("agg_sum", "sum"),
                s_min=("agg_min", "min"), s_max=("agg_max", "max"),
                s_sq=("agg_sq", "sum"),
            )
            merged = mdf["doc_count"]
            stats_by_idx = {
                int(round((float(k) - off) / interval)):
                    (g["s_sum"], g["s_min"], g["s_max"], g["s_sq"])
                for k, g in mdf.iterrows()
            }
        else:
            merged = sub.groupby("agg_key")["agg_count"].sum()
            stats_by_idx = {}
        # bucket index on the offset grid: keys regenerate bit-identical
        # as float(i) * interval + off (same float64 ops as the leaf)
        counts = {
            int(round((float(k) - off) / interval)): int(c)
            for k, c in merged.items()
        }
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
                ss, sm, sx, sq = stats_by_idx.get(
                    i, (0.0, np.nan, np.nan, 0.0)
                )
                b[params.get("sub_name", "stats")] = _sub_stats_payload(
                    params, c, ss, sm, sx, sq
                )
            out_buckets.append(b)
        return {"buckets": out_buckets}
    if kind == "range":
        has_stats = bool(params.get("stats_field"))
        if has_stats:
            mdf = sub.groupby("agg_key", sort=False).agg(
                doc_count=("agg_count", "sum"), s_sum=("agg_sum", "sum"),
                s_min=("agg_min", "min"), s_max=("agg_max", "max"),
                s_sq=("agg_sq", "sum"),
            )
            sub_name = params.get("sub_name", "stats")
            return {
                "buckets": [
                    {
                        "key": key, "doc_count": int(g["doc_count"]),
                        sub_name: _sub_stats_payload(
                            params, int(g["doc_count"]), g["s_sum"],
                            g["s_min"], g["s_max"], g["s_sq"],
                        ),
                    }
                    for key, g in mdf.iterrows()
                ]
            }
        merged = sub.groupby("agg_key", sort=False)["agg_count"].sum()
        return {
            "buckets": [
                {"key": key, "doc_count": int(cnt)} for key, cnt in merged.items()
            ]
        }
    if kind in ("stats", "avg"):
        count = int(sub["agg_count"].sum())
        if count == 0:
            return {"count": 0}
        total = float(sub["agg_sum"].sum())
        stats = {
            "count": count,
            "sum": total,
            "min": float(sub["agg_min"].min()),
            "max": float(sub["agg_max"].max()),
            "avg": total / count,
            "standard_deviation": _std_from_moments(
                count, total, float(sub["agg_sq"].sum())
            ),
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
    ast = parse_query(query, searcher.config)
    splits = prune_splits(
        searcher.catalog.published_splits(), ast, searcher.config,
        start_us, end_us,
    )
    spark = searcher.spark
    schema = STREAM_SCHEMA + (", partition double" if partition_by else "")
    if not splits:
        return spark.createDataFrame([], schema)
    stats = {
        "N": searcher.n_docs,
        "avgdl": (searcher.catalog.total_doc_len() / max(searcher.n_docs, 1)) or 1.0,
        "df": searcher._global_df(query_terms(ast)),
    }
    config = searcher.config
    rows = [(s.split_id, searcher.catalog.split_dir(s.split_id)) for s in splits]
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, len(rows)),
        "split_id string, path string",
    )

    def kernel(iterator):
        import pyarrow.parquet as pq

        for pdf in iterator:
            for split_id, path in zip(pdf["split_id"], pdf["path"]):
                dpath = fsio.join(path, DOCS_FILE)
                cols = ["doc_len", "ts_us"]
                if fast_field not in cols:
                    cols.append(fast_field)
                if partition_by and partition_by not in cols:
                    cols.append(partition_by)
                fast = fsio.read_table(dpath, columns=cols)
                doc_len = fast.column("doc_len").to_numpy().astype(np.int64)
                ts_us = fast.column("ts_us").to_numpy()
                terms = query_terms(ast)
                postings = _read_postings(path, terms) if terms else {}
                ev = _SplitEval(postings, doc_len, stats, config)
                ids, _ = ev.eval(ast)
                if start_us is not None or end_us is not None:
                    mask = np.ones(ids.size, dtype=bool)
                    tvals = ts_us[ids]
                    if start_us is not None:
                        mask &= tvals >= start_us
                    if end_us is not None:
                        mask &= tvals < end_us
                    ids = ids[mask]
                vals = (
                    ts_us if fast_field in ("ts", "ts_us")
                    else fast.column(fast_field).to_numpy()
                )
                out = {
                    "split_id": split_id,
                    "docid": ids,
                    "value": vals[ids].astype(np.float64),
                }
                if partition_by:
                    # PartitionnedFastFieldCollector analog
                    # (search_stream/collector.rs:31-170)
                    pvals = (
                        ts_us if partition_by in ("ts", "ts_us")
                        else fast.column(partition_by).to_numpy()
                    )
                    out["partition"] = pvals[ids].astype(np.float64)
                yield pd.DataFrame(out)

    return sdf.mapInPandas(kernel, schema=schema)


def write_stream_clickhouse_rowbinary(
    stream_df, out_dir: str, value_type: str = "i64"
) -> list[str]:
    """Sink a search-stream DataFrame's ``value`` column as ClickHouse
    RowBinary part files (quickwit-search/src/search_stream/leaf.rs:120-284
    OutputFormat::ClickHouseRowBinary): fixed-width little-endian
    values, no header/delimiters — `cat parts | clickhouse-client
    --query 'INSERT ... FORMAT RowBinary'`. One file per task, written
    from the workers (no driver collect). Returns the part paths."""
    import pandas as pd

    dtype = {"i64": "<i8", "u64": "<u8", "f64": "<f8"}[value_type]
    fsio.makedirs(out_dir)

    def kernel(iterator):
        import uuid

        n = 0
        path = fsio.join(out_dir, f"part-{uuid.uuid4().hex}.bin")
        with fsio.open_output(path) as f:
            for pdf in iterator:
                vals = pdf["value"].to_numpy()
                f.write(np.ascontiguousarray(vals.astype(dtype)).tobytes())
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
