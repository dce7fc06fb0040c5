"""End-to-end rank-identity of the Spark engine vs the pure-Python
oracle — the analog of the reference's golden e2e suite
(quickwit-search/src/tests.rs: simple :31-73, slop corpus :111-143,
multi-split tie order :163-213, time filter :215-318, sort-by :320-381,
tag pruning :435-497, aggregations :718-789)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from tests.conftest import assert_rank_identical

QUERIES = [
    "w00001",
    "w00042",
    "hotterm",                       # salted hot term (sharded postings)
    "w00003 w00007",                 # conjunction by default
    "w00010 OR w00020",
    "w00001 AND w00002 AND w00004",
    '"w00001 w00002"',               # exact phrase
    '"w00001 w00002"~2',             # slop
    '"w00002 w00001"~3',
    "w00004 -w00001",                # must_not
    "NOT w00001 AND w00004",
    "role:assistant AND w00002",
    "tool:bash AND w00005",
    "tool:python",
    "(w00010 OR w00020) AND w00001",
    "w00001 OR (w00002 AND w00003)",
    "zzznotfound",
    "*",
]


@pytest.mark.parametrize("query", QUERIES)
def test_rank_identity(oracle, searcher, query):
    for k in (10,):
        assert_rank_identical(oracle.search(query, k=k), searcher.search(query, k=k))


def _typed(x):
    """``x`` with every leaf tagged by its type, so ``==`` tells an int
    ``doc_count`` from the same value as a float."""
    if isinstance(x, dict):
        return {k: _typed(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [_typed(v) for v in x]
    return (type(x).__name__, x)


def _response(resp):
    return _typed({
        "num_hits": resp.num_hits,
        "hits": [
            (h.split_id, h.docid, h.score, h.ts_us, h.doc) for h in resp.hits
        ],
        "aggs": resp.aggs,
        "errors": resp.errors,
    })


def test_spark_and_driver_modes_agree(oracle, searcher, corpus):
    """The distributed mapInPandas path and the single-node in-process
    path (single_node_search analog, lib.rs:189-251) share the kernel
    and must return identical responses: hits with payloads, num_hits
    and aggs, value types included. The agg shapes cover every bucket
    record the Spark wire carries: a split_size summary (null key),
    NaN min/max of zero-count stats buckets, and gap-filled histograms."""
    ts_us = (pd.to_datetime(corpus["ts"]).astype("int64") // 1000).to_numpy()
    lo, hi = (int(np.quantile(ts_us, f)) for f in (0.25, 0.75))
    len_stats = {"len_stats": {"stats": {"field": "doc_len"}}}
    shapes = [
        dict(query=q, k=10)
        for q in ["w00001", "hotterm", '"w00001 w00002"~2', "w00004 -w00001"]
    ] + [
        dict(query="w00002", k=12, sort_by="ts"),
        dict(query="w00002", k=12, sort_by="ts", sort_desc=False),
        dict(query="w00001", k=15, start_us=lo, end_us=hi),
        dict(query="w00001", k=6, offset=7),
        dict(
            query="w00001", k=5,
            aggs={"by_role": {"terms": {"field": "role", "size": 5}}},
        ),
        dict(
            query="w00001", k=0,
            aggs={"cut": {"terms": {"field": "role", "size": 1,
                                    "split_size": 1}}},
        ),
        dict(
            query="role:tool", k=3,
            aggs={"all_roles": {
                "terms": {"field": "role", "size": 10, "min_doc_count": 0},
                "aggs": len_stats,
            }},
        ),
        dict(
            query="w00001", k=0,
            aggs={"grid": {
                "histogram": {"field": "doc_len", "interval": 3.0,
                              "min_doc_count": 0,
                              "extended_bounds": {"min": 0, "max": 900}},
                "aggs": len_stats,
            }},
        ),
    ]
    for kw in shapes:
        a = searcher.search(mode="spark", **kw)
        b = searcher.search(mode="driver", **kw)
        assert _response(a) == _response(b), kw
        assert all(isinstance(h.doc, dict) for h in a.hits), kw
        assert type(a.num_hits) is int, kw
        for agg in a.aggs.values():
            assert agg["buckets"], kw
            assert all(type(b["doc_count"]) is int for b in agg["buckets"]), kw
        oracle_kw = {k: v for k, v in kw.items() if k != "aggs"}
        assert_rank_identical(oracle.search(**oracle_kw), a)
    # the agg shapes really reach the records they are meant to carry
    grid = a.aggs["grid"]["buckets"]
    assert any(b["len_stats"]["count"] > 0 for b in grid)
    assert any(b["doc_count"] == 0 for b in grid)
    cut = searcher.search(mode="spark", **shapes[-3]).aggs["cut"]
    assert cut["sum_other_doc_count"] > 0
    zero = [b for b in searcher.search(mode="spark", **shapes[-2])
            .aggs["all_roles"]["buckets"] if b["doc_count"] == 0]
    assert zero and all(b["len_stats"]["min"] is None for b in zero)


class TestWand:
    @pytest.fixture(scope="class")
    def sharded_index(self, spark, corpus, tmp_path_factory):
        from quickwit_spark.config import IndexConfig
        from quickwit_spark.operators.build import build_index

        cfg = IndexConfig(hot_term_doc_freq=50, salt_docid_range=32)
        d = str(tmp_path_factory.mktemp("wand") / "idx")
        build_index(spark, spark.createDataFrame(corpus), d, cfg, n_splits=4)
        return d

    def test_wand_equals_exhaustive_full_battery(
        self, spark, corpus, sharded_index, exhaustive
    ):
        """WAND must be result-identical to the reference evaluator over the
        whole F7 query battery (head/torso/tail terms, AND/OR/NOT,
        field-scoped, phrases, nested bools) — pruning may only skip
        work, never change the answer. Each query also runs under a
        time window, sorted by ts, and with a terms aggregation."""
        from quickwit_spark.operators.search import Searcher
        from tests.test_f7_battery import QUERIES

        ts_us = (pd.to_datetime(corpus["ts"]).astype("int64") // 1000).to_numpy()
        lo, hi = (int(np.quantile(ts_us, f)) for f in (0.3, 0.7))
        se = Searcher(spark, sharded_index)
        for q in QUERIES:
            for kw in (
                {},
                {"start_us": lo, "end_us": hi},
                {"sort_by": "ts"},
                {"aggs": {"roles": {"terms": {"field": "role"}}}},
            ):
                a = se.search(q, k=10, **kw)
                b = exhaustive(se.search, q, k=10, **kw)
                assert a.num_hits == b.num_hits, (q, kw)
                assert [(h.split_id, h.docid, h.score) for h in a.hits] == [
                    (h.split_id, h.docid, h.score) for h in b.hits
                ], (q, kw)
                assert a.aggs == b.aggs, (q, kw)

    @pytest.mark.parametrize(
        "query", ['"w00001 hotterm"~20', '"w00001 w00002"', '"w00002 hotterm"~20']
    )
    def test_sharded_phrase_exhaustive_matches_oracle(
        self, spark, corpus, oracle, sharded_index, query, exhaustive
    ):
        """Phrases over salted (multi-shard) postings on the whole-term
        reference evaluator, under sort_by and time bounds, against
        the oracle: it reads no postings, so it pins the order in which
        the reference concatenates a term's shards and their positions.
        Salting changes only the storage, so the session oracle
        answers for this index too."""
        from quickwit_spark.operators.search import Searcher

        ts_us = (pd.to_datetime(corpus["ts"]).astype("int64") // 1000).to_numpy()
        lo, hi = (int(np.quantile(ts_us, f)) for f in (0.2, 0.8))
        se = Searcher(spark, sharded_index)
        for kw in (
            dict(k=10),
            dict(k=10, sort_by="ts"),
            dict(k=10, sort_by="ts", sort_desc=False),
            dict(k=10, start_us=lo, end_us=hi),
            dict(k=10, sort_by="ts", start_us=lo, end_us=hi),
        ):
            resp = exhaustive(se.search, query, **kw)
            assert resp.num_hits > 0, (query, kw)
            assert_rank_identical(oracle.search(query, **kw), resp)

    @staticmethod
    def _split_env(sharded_index, terms):
        import numpy as np
        import pyarrow.parquet as pq

        from quickwit_spark.operators.stats import lookup_term_stats
        from quickwit_spark.plans.catalog import Catalog

        cat = Catalog.load(sharded_index)
        split = cat.published_splits()[0]
        sd = cat.split_dir(split.split_id)
        doc_len = (
            pq.read_table(sd + "/docs.parquet", columns=["doc_len"])
            .column("doc_len").to_numpy().astype(np.float64)
        )
        stats = {
            "N": cat.total_docs(),
            "avgdl": cat.total_doc_len() / cat.total_docs(),
            "df": lookup_term_stats(cat, set(terms)),
        }
        return cat, sd, doc_len, stats

    def test_wand_single_term_skips_all_decode(self, spark, sharded_index):
        """Single hot term: pruned shards are never docid- OR tf-decoded
        (num_hits needs no decode — shard dfs are disjoint)."""
        import numpy as np

        from quickwit_spark.operators.search import _wand_bool
        from quickwit_spark.plans.query import Term

        cat, sd, doc_len, stats = self._split_env(
            sharded_index, [("text", "hotterm")]
        )
        t = Term("text", "hotterm")
        ids, scores, num_hits, sk, _ = _wand_bool(
            sd, t, doc_len, stats, cat.config, 5
        )
        assert sk["shards"] > 2
        assert sk["tf_decoded"] < sk["shards"]      # pruning engaged
        assert sk["docid_decoded"] < sk["shards"]   # count needed no decode
        assert len(ids) == 5 and num_hits > 5
        # exhaustive check within the split
        ids_all, scores_all, n_all, _, _ = _wand_bool(
            sd, t, doc_len, stats, cat.config, 10_000
        )
        assert n_all == num_hits == len(ids_all)
        order = np.lexsort((ids_all, -scores_all))
        np.testing.assert_array_equal(ids, ids_all[order][:5])

    def test_wand_conjunction_skips_hot_shards(self, spark, sharded_index):
        """rare AND hot: the hot term's shards outside the rare term's
        docid ranges are segments that cannot match the conjunction —
        they are skipped without any decode."""
        from quickwit_spark.operators.search import _wand_bool
        from quickwit_spark.plans.query import Bool, Term

        import pyarrow.parquet as pq

        from quickwit_spark.plans.catalog import Catalog

        # pick a text term with df==1 in this split: its single-doc
        # docid range leaves most hot shards uncovered
        cat0 = Catalog.load(sharded_index)
        sd0 = cat0.split_dir(cat0.published_splits()[0].split_id)
        posts = pq.read_table(
            sd0 + "/postings.parquet", columns=["field", "term", "df"]
        ).to_pandas()
        rare = posts[(posts["field"] == "text") & (posts["df"] == 1)
                     ].iloc[0]["term"]
        keys = [("text", "hotterm"), ("text", rare)]
        cat, sd, doc_len, stats = self._split_env(sharded_index, keys)
        musts = [Term(f, v) for f, v in keys]
        ids, scores, num_hits, sk, _ = _wand_bool(
            sd, Bool(must=tuple(musts)), doc_len, stats, cat.config, 5
        )
        assert sk["shards"] > 3
        # the rare term spans few docid ranges: most hot shards skipped
        assert sk["docid_decoded"] < sk["shards"]

    def test_wand_disjunction_prunes_scoring(self, tmp_path):
        """Disjunction with small k: exact union count forces docid
        decode of every shard, but tf decode + scoring are pruned for
        segments whose bound cannot beat theta. Uses a skewed corpus
        (a few high-tf short docs, many low-tf long docs) so the strong
        shard provably dominates."""
        from quickwit_spark.config import FieldConfig, IndexConfig
        from quickwit_spark.functions.tokenize import tokenize_default
        from quickwit_spark.operators.build import build_split_tables_arrow, write_split
        from quickwit_spark.operators.search import _wand_bool
        from quickwit_spark.plans.query import Bool, Term
        from quickwit_spark.sources.transcripts import fixture_corpus

        import numpy as np

        strong = [("common common common",)] * 8
        weak = [
            ("common " + " ".join(f"x{j:03d}w{i:03d}" for j in range(30)),)
            for i in range(92)
        ]
        pdf = fixture_corpus(strong + weak)
        cfg = IndexConfig(hot_term_doc_freq=10, salt_docid_range=8)
        postings, docs, meta = build_split_tables_arrow(
            pa.Table.from_pandas(pdf, preserve_index=False), cfg
        )
        sd = str(tmp_path / "skew")
        write_split(postings, docs, sd)
        doc_len = docs["doc_len"].to_numpy().astype(np.float64)
        df_common = sum("common" in tokenize_default(t) for t in pdf["text"])
        stats = {
            "N": meta["num_docs"],
            "avgdl": meta["sum_doc_len"] / meta["num_docs"],
            "df": {("text", "common"): df_common, ("text", "x000w000"): 1},
        }
        shoulds = Bool(
            should=(Term("text", "common"), Term("text", "x000w000"))
        )
        ids, scores, num_hits, sk, _ = _wand_bool(
            sd, shoulds, doc_len, stats, cfg, 3
        )
        assert num_hits == 100
        assert len(ids) == 3
        assert sk["docid_decoded"] == sk["shards"]  # exact union count
        assert sk["tf_decoded"] < sk["shards"]      # scoring pruned
        # exact equality with the unpruned evaluation
        ids_all, scores_all, n_all, _, _ = _wand_bool(
            sd, shoulds, doc_len, stats, cfg, 10_000
        )
        assert n_all == 100
        order = np.lexsort((ids_all, -scores_all))
        np.testing.assert_array_equal(ids, ids_all[order][:3])
        np.testing.assert_allclose(scores, scores_all[order][:3])

    def test_wand_disjunction_with_conj_member_exact(self, tmp_path):
        """``common OR (xA AND xB)`` on the skewed corpus: the conj
        member only covers segments where BOTH terms have shards, the
        strong shard still dominates scoring, and results are exactly
        the unpruned evaluation."""
        from quickwit_spark.config import IndexConfig
        from quickwit_spark.functions.tokenize import tokenize_default
        from quickwit_spark.operators.build import build_split_tables_arrow, write_split
        from quickwit_spark.operators.search import _wand_bool
        from quickwit_spark.plans.query import Bool, Term
        from quickwit_spark.sources.transcripts import fixture_corpus

        import numpy as np

        strong = [("common common common",)] * 8
        weak = [
            ("common " + " ".join(f"x{j:03d}w{i:03d}" for j in range(30)),)
            for i in range(92)
        ]
        pdf = fixture_corpus(strong + weak)
        cfg = IndexConfig(hot_term_doc_freq=10, salt_docid_range=8)
        postings, docs, meta = build_split_tables_arrow(
            pa.Table.from_pandas(pdf, preserve_index=False), cfg
        )
        sd = str(tmp_path / "skewconj")
        write_split(postings, docs, sd)
        doc_len = docs["doc_len"].to_numpy().astype(np.float64)
        df_common = sum("common" in tokenize_default(t) for t in pdf["text"])
        stats = {
            "N": meta["num_docs"],
            "avgdl": meta["sum_doc_len"] / meta["num_docs"],
            "df": {
                ("text", "common"): df_common,
                ("text", "x000w000"): 1,
                ("text", "x001w000"): 1,
            },
        }
        conj = Bool(must=(Term("text", "x000w000"), Term("text", "x001w000")))
        shoulds = Bool(should=(Term("text", "common"), conj))
        ids, scores, num_hits, sk, _ = _wand_bool(
            sd, shoulds, doc_len, stats, cfg, 3
        )
        assert num_hits == 100
        assert len(ids) == 3
        assert sk["tf_decoded"] < sk["shards"]  # scoring still pruned
        ids_all, scores_all, n_all, _, _ = _wand_bool(
            sd, shoulds, doc_len, stats, cfg, 10_000
        )
        assert n_all == 100
        order = np.lexsort((ids_all, -scores_all))
        np.testing.assert_array_equal(ids, ids_all[order][:3])
        np.testing.assert_allclose(scores, scores_all[order][:3])
        # single-member-group path: the conj alone matches exactly the
        # one weak doc holding both rare terms
        conj_ids, conj_scores, conj_n, _, _ = _wand_bool(
            sd, conj, doc_len, stats, cfg, 10
        )
        assert conj_n == 1 and len(conj_ids) == 1
        # the conj member's single matching doc carries BOTH rare-term
        # scores on top of its 'common' score
        doc0 = conj_ids[0]
        s0 = scores_all[ids_all == doc0]
        only_common = _wand_bool(
            sd, Term("text", "common"), doc_len, stats, cfg, 10_000
        )
        oc = only_common[1][only_common[0] == doc0]
        assert s0.size == 1 and oc.size == 1 and s0[0] > oc[0]

    def test_wand_count_decodes_no_conj_tfs(self, tmp_path):
        """``common OR (hota AND hotb)`` with k=3: the exact count needs
        docids only, so tfs are decoded only where the scoring pass
        goes — the strong ``common`` shard — and not in the hot
        conjunction's shards (a count pass that scored every non-term
        member decoded tfs in all 17 shards)."""
        from quickwit_spark.config import IndexConfig
        from quickwit_spark.functions.tokenize import tokenize_default
        from quickwit_spark.operators.build import build_split_tables_arrow, write_split
        from quickwit_spark.operators.search import _wand_bool
        from tests.reference_eval import reference_leaf
        from quickwit_spark.plans.query import Bool, Term
        from quickwit_spark.sources.transcripts import fixture_corpus

        strong = [("common common common",)] * 8
        hot = [
            ("hota hotb " + " ".join(f"x{j:03d}h{i:03d}" for j in range(30)),)
            for i in range(60)
        ]
        filler = [(f"filler{i:03d} pad{i:03d}",) for i in range(92)]
        pdf = fixture_corpus(strong + hot + filler)
        cfg = IndexConfig(hot_term_doc_freq=10, salt_docid_range=8)
        postings, docs, meta = build_split_tables_arrow(
            pa.Table.from_pandas(pdf, preserve_index=False), cfg
        )
        sd = str(tmp_path / "countconj")
        write_split(postings, docs, sd)
        doc_len = docs["doc_len"].to_numpy().astype(np.float64)
        stats = {
            "N": meta["num_docs"],
            "avgdl": meta["sum_doc_len"] / meta["num_docs"],
            "df": {
                ("text", w): sum(w in tokenize_default(t) for t in pdf["text"])
                for w in ("common", "hota", "hotb")
            },
        }
        q = Bool(should=(
            Term("text", "common"),
            Bool(must=(Term("text", "hota"), Term("text", "hotb"))),
        ))
        ids, scores, num_hits, sk, _ = _wand_bool(sd, q, doc_len, stats, cfg, 3)
        assert num_hits == 68 and len(ids) == 3
        assert sk["shards"] == 17
        assert sk["docid_decoded"] == sk["shards"]  # exact union count
        assert sk["tf_decoded"] < sk["shards"]
        e_ids, e_scores, *_ = reference_leaf(sd, q, doc_len, stats, cfg, 3)
        np.testing.assert_array_equal(ids, e_ids)
        np.testing.assert_array_equal(scores, e_scores)

    def test_wand_phrase_conjunction_skips_positions(self, tmp_path):
        """rare AND "common common": segments outside the rare term's
        single-doc range can't match the conjunction, so the hot phrase
        tokens' position blobs there are never decoded (the two-phase
        phrase-pruning win — a hot phrase used to decode ALL blobs)."""
        import numpy as np

        from quickwit_spark.config import IndexConfig
        from quickwit_spark.functions.tokenize import tokenize_default
        from quickwit_spark.operators.build import build_split_tables_arrow, write_split
        from quickwit_spark.operators.search import _wand_bool
        from quickwit_spark.plans.query import Bool, Phrase, Term
        from quickwit_spark.sources.transcripts import fixture_corpus

        docs = [("common common rareone",)] + [
            (f"common common filler{i:03d}",) for i in range(99)
        ]
        pdf = fixture_corpus(docs)
        cfg = IndexConfig(hot_term_doc_freq=10, salt_docid_range=8)
        postings, dstore, meta = build_split_tables_arrow(
            pa.Table.from_pandas(pdf, preserve_index=False), cfg
        )
        sd = str(tmp_path / "phrase")
        write_split(postings, dstore, sd)
        doc_len = dstore["doc_len"].to_numpy().astype(np.float64)
        df_common = sum(
            "common" in tokenize_default(t) for t in pdf["text"]
        )
        stats = {
            "N": meta["num_docs"],
            "avgdl": meta["sum_doc_len"] / meta["num_docs"],
            "df": {("text", "common"): df_common, ("text", "rareone"): 1},
        }
        ph = Phrase("text", ("common", "common"))
        rare = Term("text", "rareone")
        ids, scores, num_hits, sk, _ = _wand_bool(
            sd, Bool(must=(rare, ph)), doc_len, stats, cfg, 5
        )
        assert num_hits == 1 and len(ids) == 1
        assert sk["shards"] > 10           # the hot token is sharded
        assert sk["pos_decoded"] <= 2      # only the rare doc's shard
        # and the phrase alone (all segments active) is still exact
        ids_all, scores_all, n_all, sk_all, _ = _wand_bool(
            sd, ph, doc_len, stats, cfg, 10_000
        )
        assert n_all == 100 == len(ids_all)
        assert sk_all["pos_decoded"] >= 10  # honest: unpruned = decode all

    def test_wand_sloppy_phrase_bound(self, tmp_path):
        """``"hot warm"~1`` matches ``hot hot warm`` at both ``hot``
        anchors (freq 2) though ``warm`` occurs once: a sloppy phrase's
        freq is bounded by its first token's max_tf, not by the minimum
        over its tokens, or the segment holding that doc (here its own
        ``hot`` shard) is pruned from the top-1."""
        from quickwit_spark.config import IndexConfig
        from quickwit_spark.operators.build import build_split_tables_arrow, write_split
        from quickwit_spark.operators.search import _wand_bool
        from tests.reference_eval import reference_leaf
        from quickwit_spark.plans.query import Bool, Phrase, Term
        from quickwit_spark.sources.transcripts import fixture_corpus

        docs = [("hot",)] * 15 + [("warm",)] * 3 + [
            ("hot warm",), ("hot hot warm",)
        ]
        pdf = fixture_corpus(docs)
        cfg = IndexConfig(hot_term_doc_freq=5, salt_docid_range=8)
        postings, dstore, meta = build_split_tables_arrow(
            pa.Table.from_pandas(pdf, preserve_index=False), cfg
        )
        sd = str(tmp_path / "sloppy")
        write_split(postings, dstore, sd)
        doc_len = dstore["doc_len"].to_numpy().astype(np.float64)
        stats = {
            "N": meta["num_docs"],
            "avgdl": meta["sum_doc_len"] / meta["num_docs"],
            "df": {("text", "hot"): 17, ("text", "warm"): 5},
        }
        ph = Phrase("text", ("hot", "warm"), 1)
        for q in (ph, Bool(must=(Term("text", "hot"), ph))):
            ids, scores, num_hits, _, _ = _wand_bool(sd, q, doc_len, stats, cfg, 1)
            e_ids, e_scores, *_ = reference_leaf(sd, q, doc_len, stats, cfg, 1)
            assert num_hits == 2 and ids.tolist() == [19], q
            np.testing.assert_array_equal(ids, e_ids)
            np.testing.assert_array_equal(scores, e_scores)

    def test_wand_nested_group_and_neg_phrase_skip(self, tmp_path):
        """Round-3 shapes actually prune: a disjunction of hot terms
        nested inside a conj member is only evaluated where the rare
        sibling lives, and a negated phrase only decodes positions in
        the active (rare) segments, never across the hot tokens' full
        shard range."""
        import numpy as np

        from quickwit_spark.config import IndexConfig
        from quickwit_spark.operators.build import build_split_tables_arrow, write_split
        from quickwit_spark.operators.search import _wand_bool
        from quickwit_spark.plans.query import Bool, Phrase, Term
        from quickwit_spark.sources.transcripts import fixture_corpus

        docs = [("hota hotb rareone",), ("hota raretwo",)] + [
            (f"hota hotb filler{i:03d}",) for i in range(98)
        ]
        pdf = fixture_corpus(docs)
        cfg = IndexConfig(hot_term_doc_freq=10, salt_docid_range=8)
        postings, dstore, meta = build_split_tables_arrow(
            pa.Table.from_pandas(pdf, preserve_index=False), cfg
        )
        sd = str(tmp_path / "nested")
        write_split(postings, dstore, sd)
        doc_len = dstore["doc_len"].to_numpy().astype(np.float64)
        stats = {
            "N": meta["num_docs"],
            "avgdl": meta["sum_doc_len"] / meta["num_docs"],
            "df": {("text", "hota"): 100, ("text", "hotb"): 99,
                   ("text", "rareone"): 1, ("text", "raretwo"): 1},
        }
        # ((hota OR hotb) AND rareone) OR raretwo — one group, two members
        conj = Bool(must=(
            Bool(should=(Term("text", "hota"), Term("text", "hotb"))),
            Term("text", "rareone"),
        ))
        ids, scores, num_hits, sk, _ = _wand_bool(
            sd, Bool(should=(conj, Term("text", "raretwo"))),
            doc_len, stats, cfg, 5,
        )
        assert num_hits == 2 and len(ids) == 2
        assert sk["shards"] > 10                 # hot terms are sharded
        assert sk["docid_decoded"] < sk["shards"]  # hot shards skipped
        # rareone -"hota hotb": the neg phrase is only position-decoded
        # in rareone's segment (1 shard per token), not corpus-wide
        ids2, _sc2, n2, sk2, _ = _wand_bool(
            sd, Bool(must=(Term("text", "rareone"),),
                     must_not=(Phrase("text", ("hota", "hotb")),)),
            doc_len, stats, cfg, 5,
        )
        assert n2 == 0 and len(ids2) == 0        # rareone doc HAS the phrase
        assert sk2["pos_decoded"] <= 2
        # and a rare doc WITHOUT the phrase survives the negation
        ids3, _sc3, n3, _sk3, _ = _wand_bool(
            sd, Bool(must=(Term("text", "raretwo"),),
                     must_not=(Phrase("text", ("hota", "hotb")),)),
            doc_len, stats, cfg, 5,
        )
        assert n3 == 1 and len(ids3) == 1


    @staticmethod
    def _df1_text_term(sharded_index):
        """The first text term with df == 1 in the first split."""
        import pyarrow.parquet as pq

        from quickwit_spark.plans.catalog import Catalog

        cat = Catalog.load(sharded_index)
        sd = cat.split_dir(cat.published_splits()[0].split_id)
        posts = pq.read_table(
            sd + "/postings.parquet", columns=["field", "term", "df"]
        ).to_pandas()
        return posts[(posts["field"] == "text") & (posts["df"] == 1)
                     ].iloc[0]["term"]

    @staticmethod
    def _leaf_skips(monkeypatch):
        """Records the skip counts of every driver-mode leaf."""
        from quickwit_spark.operators import search as search_mod

        real, seen = search_mod._wand_bool, []

        def spy(*args, **kwargs):
            out = real(*args, **kwargs)
            seen.append(out[3])
            return out

        monkeypatch.setattr(search_mod, "_wand_bool", spy)
        return seen

    @staticmethod
    def _same_answer(a, b):
        assert a.num_hits == b.num_hits
        assert [(h.split_id, h.docid, h.score) for h in a.hits] == [
            (h.split_id, h.docid, h.score) for h in b.hits
        ]
        assert a.aggs == b.aggs

    def test_time_window_prunes_scoring(
        self, spark, corpus, sharded_index, exhaustive, monkeypatch
    ):
        """A time-bounded hot∧rare query runs the block-max scoring
        pass: tfs are decoded for fewer shards than the query covers."""
        from collections import Counter

        from quickwit_spark.functions.tokenize import tokenize_default
        from quickwit_spark.operators.search import Searcher

        # a term in 2-4 turns, one of them holding hotterm too; the
        # window ends just after that turn
        toks = [set(tokenize_default(t)) for t in corpus["text"]]
        df = Counter(w for ws in toks for w in ws)
        i, rare = min(
            (i, w) for i, ws in enumerate(toks) if "hotterm" in ws
            for w in ws if 2 <= df[w] <= 4
        )
        ts_us = (pd.to_datetime(corpus["ts"]).astype("int64") // 1000).to_numpy()
        kw = dict(k=10, start_us=int(ts_us.min()), end_us=int(ts_us[i]) + 1)
        se = Searcher(spark, sharded_index)
        seen = self._leaf_skips(monkeypatch)
        got = se.search(f"hotterm AND {rare}", **kw)
        assert seen and got.num_hits > 0
        assert sum(sk["shards"] for sk in seen) > 3
        assert sum(sk["tf_decoded"] for sk in seen) < sum(sk["shards"] for sk in seen)
        self._same_answer(got, exhaustive(se.search, f"hotterm AND {rare}", **kw))

    def test_sort_and_count_only_aggs_decode_no_tfs(
        self, spark, sharded_index, exhaustive, monkeypatch
    ):
        """sort_by and a k=0 aggregation read the count pass's matches:
        no leaf decodes a single tf blob."""
        from quickwit_spark.operators.search import Searcher

        se = Searcher(spark, sharded_index)
        for kw in (
            dict(k=10, sort_by="ts"),
            dict(k=0, aggs={"roles": {"terms": {"field": "role"}}}),
        ):
            seen = self._leaf_skips(monkeypatch)
            got = se.search("hotterm", **kw)
            assert seen and got.num_hits > 0, kw
            assert sum(sk["shards"] for sk in seen) > len(seen), kw
            assert all(sk["tf_decoded"] == 0 for sk in seen), kw
            self._same_answer(got, exhaustive(se.search, "hotterm", **kw))

    def test_nested_negation_matches_reference_and_skips(self, sharded_index):
        """``rare AND (hotterm -w00001)``: the negation inside a conj
        member is evaluated per segment, so the hot shards outside the
        rare term's docid range are never decoded."""
        from quickwit_spark.operators.search import _wand_bool
        from quickwit_spark.plans.query import Bool, Term
        from tests.reference_eval import reference_leaf

        rare = self._df1_text_term(sharded_index)
        ast = Bool(must=(
            Term("text", rare),
            Bool(must=(Term("text", "hotterm"),),
                 must_not=(Term("text", "w00001"),)),
        ))
        cat, sd, doc_len, stats = self._split_env(
            sharded_index, [("text", rare), ("text", "hotterm"), ("text", "w00001")]
        )
        for m in (0, 1, 5):
            ids, scores, num_hits, sk, _ = _wand_bool(
                sd, ast, doc_len, stats, cat.config, m
            )
            e_ids, e_scores, e_hits, _, _ = reference_leaf(
                sd, ast, doc_len, stats, cat.config, m
            )
            assert num_hits == e_hits
            np.testing.assert_array_equal(ids, e_ids)
            np.testing.assert_array_equal(scores, e_scores)
            assert sk["shards"] > 3
            assert sk["docid_decoded"] < sk["shards"]


def test_deep_k(oracle, searcher):
    assert_rank_identical(
        oracle.search("w00001", k=200), searcher.search("w00001", k=200)
    )


def test_offset_pagination(oracle, searcher):
    # leaves get start_offset=0, max_hits+offset; offset applied once at
    # merge (root.rs:341-356)
    full = searcher.search("w00001", k=30)
    for off in (0, 5, 17):
        resp = searcher.search("w00001", k=10, offset=off)
        assert_rank_identical(oracle.search("w00001", k=10, offset=off), resp)
        assert [(h.split_id, h.docid) for h in resp.hits] == [
            (h.split_id, h.docid) for h in full.hits[off : off + 10]
        ]


def test_time_range_half_open(oracle, searcher, corpus):
    ts_us = (pd.to_datetime(corpus["ts"]).astype("int64") // 1000).to_numpy()
    lo = int(np.quantile(ts_us, 0.25))
    hi = int(np.quantile(ts_us, 0.75))
    for s, e in [(lo, hi), (None, hi), (lo, None), (hi, hi)]:
        assert_rank_identical(
            oracle.search("w00001", k=15, start_us=s, end_us=e),
            searcher.search("w00001", k=15, start_us=s, end_us=e),
        )
    # [s, e) exactness: doc at exactly e excluded, at s included
    some_ts = int(ts_us[0])
    r_in = searcher.search("*", k=1, start_us=some_ts, end_us=some_ts + 1)
    r_out = searcher.search("*", k=1, start_us=some_ts, end_us=some_ts)
    assert r_in.num_hits >= 1
    assert r_out.num_hits == 0


def test_sort_by_fast_field(oracle, searcher):
    for desc in (True, False):
        assert_rank_identical(
            oracle.search("w00002", k=12, sort_by="ts", sort_desc=desc),
            searcher.search("w00002", k=12, sort_by="ts", sort_desc=desc),
        )


def test_multi_field_search(oracle, searcher, corpus):
    """REST search_field param: unqualified terms match ANY of the
    given fields, scored as the boolean sum over matching fields."""
    # 'bash' appears only in the tool field — unqualified with
    # search_fields including tool must find it
    for sf in (["text", "tool"], ["tool"], ["text", "role", "tool"]):
        n_o, hits_o = oracle.search("bash", k=10, search_fields=sf)
        r = searcher.search("bash", k=10, search_fields=sf)
        assert r.num_hits == n_o
        assert [(h.split_id, h.docid) for h in r.hits] == [
            (h.split_id, h.docid) for h in hits_o
        ]
        for a, b in zip(hits_o, r.hits):
            assert abs(a.score - b.score) < 1e-9
    # default (text only) finds none
    assert searcher.search("bash", k=5).num_hits == 0
    # mixed: a real text term across text+tool fields
    n_o, hits_o = oracle.search("w00005 OR bash", k=10, search_fields=["text", "tool"])
    r = searcher.search("w00005 OR bash", k=10, search_fields=["text", "tool"])
    assert r.num_hits == n_o


def test_request_limits(searcher):
    # root.rs:112-133
    with pytest.raises(ValueError):
        searcher.search("w00001", k=10_001)
    with pytest.raises(ValueError):
        searcher.search("w00001", k=10, offset=10_001)


def test_tag_pruning_skips_splits_but_keeps_results(searcher, oracle, config):
    from quickwit_spark.plans.pruning import prune_splits
    from quickwit_spark.plans.query import parse_query

    # every split holds many tools, so pruning can't drop anything here;
    # craft a tag query for a value absent from the corpus
    ast = parse_query("tool:doesnotexist AND w00001", config)
    splits = searcher.catalog.published_splits()
    pruned = prune_splits(splits, ast, config)
    assert pruned == []  # all splits pruned by tags
    resp = searcher.search("tool:doesnotexist AND w00001", k=5)
    assert resp.num_hits == 0 and resp.hits == []


def test_term_range_pruning(searcher, config):
    from quickwit_spark.plans.pruning import prune_splits
    from quickwit_spark.plans.query import parse_query

    ast = parse_query("zzzzzz", config)  # beyond every split's term_range
    pruned = prune_splits(searcher.catalog.published_splits(), ast, config)
    assert pruned == []


def test_text_round_trip(searcher, corpus, spark, index_dir):
    """North-rule invariant: per-turn text byte-identical under stable
    (conv_id, turn_idx) ordering, reading back from the doc store."""
    import os

    import pyarrow.parquet as pq

    frames = []
    for s in searcher.catalog.published_splits():
        path = os.path.join(searcher.catalog.split_dir(s.split_id), "docs.parquet")
        frames.append(
            pq.read_table(path, columns=["conv_id", "turn_idx", "text"]).to_pandas()
        )
    got = (
        pd.concat(frames)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        corpus[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert (got["text"] == want["text"]).all()
    assert (got["conv_id"] == want["conv_id"]).all()


class TestAggregations:
    def test_terms_agg(self, searcher, oracle, corpus):
        resp = searcher.search(
            "w00001", k=0, aggs={"by_role": {"terms": {"field": "role", "size": 5}}}
        )
        # golden via oracle match set
        n, _ = oracle.search("w00001", k=1)
        matched = oracle.search("w00001", k=n)[1]
        df = pd.DataFrame(
            [(h.conv_id, h.turn_idx) for h in matched], columns=["conv_id", "turn_idx"]
        ).merge(corpus, on=["conv_id", "turn_idx"])
        want = df["role"].value_counts()
        got = {b["key"]: b["doc_count"] for b in resp.aggs["by_role"]["buckets"]}
        assert got == want.to_dict()

    def test_stats_and_avg_agg(self, searcher, oracle, corpus):
        resp = searcher.search(
            "w00002",
            k=0,
            aggs={
                "len_stats": {"stats": {"field": "doc_len"}},
                "len_avg": {"avg": {"field": "doc_len"}},
            },
        )
        stats = resp.aggs["len_stats"]
        assert stats["count"] == resp.num_hits
        assert stats["min"] <= stats["avg"] <= stats["max"]
        assert abs(resp.aggs["len_avg"]["value"] - stats["avg"]) < 1e-12

    def test_histogram_agg(self, searcher):
        resp = searcher.search(
            "w00001", k=0,
            aggs={"by_len": {"histogram": {"field": "doc_len", "interval": 5.0}}},
        )
        buckets = resp.aggs["by_len"]["buckets"]
        assert sum(b["doc_count"] for b in buckets) == resp.num_hits
        keys = [b["key"] for b in buckets]
        assert keys == sorted(keys)

    def test_histogram_offset_formula(self):
        """aggregation.md offset example: values 8 and 12, interval 10,
        offset 5 -> both fall in the bucket keyed 5 ([5..15))."""
        import numpy as np

        from quickwit_spark.operators.search import _partial_agg

        rows = _partial_agg(
            "histogram", {"field": "x", "interval": 10.0},
            np.array([8.0, 12.0]), np.arange(2),
        )
        assert [(float(r["agg_key"]), r["agg_count"]) for r in rows] == [
            (0.0, 1), (10.0, 1)
        ]
        rows = _partial_agg(
            "histogram", {"field": "x", "interval": 10.0, "offset": 5.0},
            np.array([8.0, 12.0]), np.arange(2),
        )
        assert [(float(r["agg_key"]), r["agg_count"]) for r in rows] == [
            (5.0, 2)
        ]

    def test_histogram_gap_fill_min_doc_count_bounds(self):
        """aggregation.md 'Returned Buckets': default returns every
        bucket between min and max INCLUDING empty ones;
        min_doc_count != 0 filters; extended_bounds widens;
        hard_bounds limits; extended+min_doc_count>0 rejected."""
        import numpy as np
        import pytest

        from quickwit_spark.operators.search import _final_agg, _partial_agg

        def run(params, vals, final_params=None):
            rows = _partial_agg(
                "histogram", params, np.asarray(vals, float), np.arange(len(vals))
            )
            return _final_agg("histogram", final_params or params, rows)

        p = {"field": "x", "interval": 10.0}
        got = run(p, [2.0, 12.0, 42.0])
        assert [(b["key"], b["doc_count"]) for b in got["buckets"]] == [
            (0.0, 1), (10.0, 1), (20.0, 0), (30.0, 0), (40.0, 1)
        ]
        got = run(p, [2.0, 12.0, 42.0], {**p, "min_doc_count": 1})
        assert [b["key"] for b in got["buckets"]] == [0.0, 10.0, 40.0]
        got = run(p, [2.0], {**p, "extended_bounds": {"min": -20, "max": 30}})
        assert [b["key"] for b in got["buckets"]] == [-20.0, -10.0, 0.0,
                                                      10.0, 20.0, 30.0]
        # hard_bounds limits BUCKETS to [min, max] closed, leaf-side
        hp = {**p, "hard_bounds": {"min": 0, "max": 100}}
        got = run(hp, [-5.0, 8.0, 105.0])
        keys = [b["key"] for b in got["buckets"]]
        assert keys[0] == 0.0 and keys[-1] == 100.0
        assert got["buckets"][0]["doc_count"] == 1
        assert got["buckets"][-1]["doc_count"] == 1  # 105 -> bucket 100
        with pytest.raises(ValueError, match="extended_bounds"):
            run(p, [2.0], {**p, "extended_bounds": {"min": 0, "max": 10},
                           "min_doc_count": 1})

    def test_histogram_gap_fill_e2e(self, searcher):
        """End-to-end default histogram returns a contiguous
        offset-aligned grid between data min and max."""
        resp = searcher.search(
            "w00001", k=0,
            aggs={"h": {"histogram": {"field": "doc_len", "interval": 3.0,
                                      "offset": 1.0}}},
        )
        buckets = resp.aggs["h"]["buckets"]
        keys = [b["key"] for b in buckets]
        assert keys == [keys[0] + 3.0 * i for i in range(len(keys))]
        assert all((k - 1.0) % 3.0 == 0 for k in keys)
        assert sum(b["doc_count"] for b in buckets) == resp.num_hits

    def test_terms_split_size_and_error_bounds(self, searcher):
        """terms split_size (aggregation.md): leaf results cut at
        split_size; sum_other_doc_count accounts for every doc that
        missed the top buckets; doc_count_error_upper_bound bounds the
        per-bucket undercount vs the exact (uncut) aggregation."""
        exact = searcher.search(
            "w00001", k=0,
            aggs={"t": {"terms": {"field": "role", "size": 2,
                                  "split_size": 100_000}}},
        ).aggs["t"]
        cut = searcher.search(
            "w00001", k=0,
            aggs={"t": {"terms": {"field": "role", "size": 2,
                                  "split_size": 1}}},
        ).aggs["t"]
        exact_counts = {b["key"]: b["doc_count"] for b in exact["buckets"]}
        total = sum(exact_counts.values()) + exact["sum_other_doc_count"]
        assert (
            sum(b["doc_count"] for b in cut["buckets"])
            + cut["sum_other_doc_count"]
            == total
        )
        # default (order count desc) includes the error bound
        assert cut["doc_count_error_upper_bound"] >= 0
        for b in cut["buckets"]:
            under = exact_counts.get(b["key"], 0) - b["doc_count"]
            assert 0 <= under <= cut["doc_count_error_upper_bound"]
        # exact run: nothing cut anywhere
        assert exact["doc_count_error_upper_bound"] == 0
        # under a NON-count cut order the largest cut bucket is not a
        # valid bound (aggregation.md defines the bound for count
        # ordering) — explicit show_term_doc_count_error reports 0
        # rather than a number the math doesn't support
        keyed = searcher.search(
            "w00001", k=0,
            aggs={"t": {"terms": {"field": "role", "size": 2,
                                  "split_size": 1,
                                  "order": {"_key": "asc"},
                                  "show_term_doc_count_error": True}}},
        ).aggs["t"]
        assert keyed["doc_count_error_upper_bound"] == 0

    def test_terms_order_key_and_min_doc_count_zero(self, searcher, corpus):
        """order {_key: asc|desc} and min_doc_count=0 ('return all
        terms in the field', even with zero matching docs)."""
        resp = searcher.search(
            "w00001", k=0,
            aggs={"t": {"terms": {"field": "role", "size": 10,
                                  "order": {"_key": "asc"}}}},
        )
        keys = [b["key"] for b in resp.aggs["t"]["buckets"]]
        assert keys == sorted(keys)
        # a query matching only `tool` turns: with min_doc_count=0 the
        # OTHER roles still appear, with doc_count 0
        resp0 = searcher.search(
            "role:tool", k=0,
            aggs={"t": {"terms": {"field": "role", "size": 10,
                                  "min_doc_count": 0,
                                  "order": {"_key": "asc"}}}},
        )
        got = {b["key"]: b["doc_count"] for b in resp0.aggs["t"]["buckets"]}
        all_roles = set(corpus["role"].unique())
        assert set(got) == all_roles
        assert got["tool"] == resp0.num_hits
        assert all(v == 0 for k, v in got.items() if k != "tool")

    def test_terms_nested_subagg_es_shape(self, searcher):
        """The ES nested sub-agg request shape (aggregation.md
        order-by-sub-agg example): sub-agg named in the response,
        order addressed by the sub-agg name."""
        resp = searcher.search(
            "w00001", k=0,
            aggs={"by_role": {
                "terms": {"field": "role", "size": 10,
                          "order": {"avg_len": "asc"}},
                "aggs": {"avg_len": {"avg": {"field": "doc_len"}}},
            }},
        )
        buckets = resp.aggs["by_role"]["buckets"]
        assert buckets, "expected non-empty buckets"
        avgs = [b["avg_len"]["value"] for b in buckets]
        assert avgs == sorted(avgs)
        # stats sub-agg keeps the full dict under its name
        resp2 = searcher.search(
            "w00001", k=0,
            aggs={"by_role": {
                "terms": {"field": "role", "size": 10,
                          "order": {"len_stats.max": "desc"}},
                "aggs": {"len_stats": {"stats": {"field": "doc_len"}}},
            }},
        )
        maxes = [b["len_stats"]["max"] for b in resp2.aggs["by_role"]["buckets"]]
        assert maxes == sorted(maxes, reverse=True)
        # consistency with the flat legacy spelling
        legacy = searcher.search(
            "w00001", k=0,
            aggs={"by_role": {"terms": {
                "field": "role", "size": 10, "stats_field": "doc_len",
                "order": {"stats.max": "desc"},
            }}},
        )
        assert [
            (b["key"], b["doc_count"], b["len_stats"]["max"])
            for b in resp2.aggs["by_role"]["buckets"]
        ] == [
            (b["key"], b["doc_count"], b["stats"]["max"])
            for b in legacy.aggs["by_role"]["buckets"]
        ]

    def test_histogram_and_range_subaggs(self, searcher):
        """Sub-aggs under the other bucket kinds (aggregation.md's own
        example is histogram-with-stats): per-bucket stats must agree
        with a whole-query stats agg restricted by hard_bounds/range,
        and an empty gap-filled bucket reports the ES empty shape."""
        resp = searcher.search(
            "w00001", k=0,
            aggs={"h": {"histogram": {"field": "doc_len", "interval": 5.0},
                        "aggs": {"st": {"stats": {"field": "turn_idx"}}}},
                  "r": {"range": {"field": "doc_len",
                                  "ranges": [{"to": 10}, {"from": 10}]},
                        "aggs": {"a": {"avg": {"field": "turn_idx"}}}}},
        )
        hb = [b for b in resp.aggs["h"]["buckets"] if b["doc_count"]]
        assert hb and all(
            b["st"]["count"] == b["doc_count"]
            and b["st"]["min"] <= b["st"]["avg"] <= b["st"]["max"]
            for b in hb
        )
        # a single histogram bucket cross-checked against a whole-query
        # stats agg confined to that bucket via hard_bounds
        k0 = hb[0]["key"]
        only = searcher.search(
            "w00001", k=0,
            aggs={"h": {"histogram": {
                "field": "doc_len", "interval": 5.0,
                "hard_bounds": {"min": k0, "max": k0},
            }, "aggs": {"st": {"stats": {"field": "turn_idx"}}}}},
        ).aggs["h"]["buckets"]
        assert [b for b in only if b["doc_count"]][0]["st"] == hb[0]["st"]
        # range avg = stats-derived avg over the same split point
        rb = {b["key"]: b for b in resp.aggs["r"]["buckets"]}
        n_lo = rb["*-10"]["doc_count"]
        assert n_lo + rb["10-*"]["doc_count"] == resp.num_hits
        tot = searcher.search(
            "w00001", k=0, aggs={"st": {"stats": {"field": "turn_idx"}}}
        ).aggs["st"]
        w_lo = rb["*-10"]["a"]["value"] * n_lo if n_lo else 0.0
        w_hi = rb["10-*"]["a"]["value"] * rb["10-*"]["doc_count"]
        assert abs((w_lo + w_hi) - tot["sum"]) < 1e-6
        # empty gap bucket (min_doc_count=0 grid) carries the ES empty
        # sub-agg shape
        empty = [b for b in resp.aggs["h"]["buckets"] if not b["doc_count"]]
        for b in empty:
            assert b["st"] == {"count": 0, "sum": 0.0, "min": None,
                               "max": None, "avg": None,
                               "standard_deviation": None}
        # sub-aggs under metric aggs still rejected loudly
        with pytest.raises(ValueError, match="bucket"):
            searcher.search(
                "w00001", k=0,
                aggs={"s": {"stats": {"field": "doc_len"},
                            "aggs": {"x": {"avg": {"field": "doc_len"}}}}},
            )

    def test_range_agg(self, searcher):
        resp = searcher.search(
            "w00001", k=0,
            aggs={
                "len_rng": {
                    "range": {
                        "field": "doc_len",
                        "ranges": [{"to": 10}, {"from": 10, "to": 20}, {"from": 20}],
                    }
                }
            },
        )
        buckets = resp.aggs["len_rng"]["buckets"]
        assert len(buckets) == 3
        assert sum(b["doc_count"] for b in buckets) == resp.num_hits


def test_terms_agg_modes_agree(searcher):
    """Driver-thread and distributed (mapInPandas) leaf modes produce
    identical terms aggregations including the split_size summary-row
    plumbing (sum_other / error bound ride the LEAF_SCHEMA buckets)."""
    aggs = {"t": {"terms": {"field": "role", "size": 2, "split_size": 1}}}
    a = searcher.search("w00001", k=0, aggs=aggs, mode="spark")
    b = searcher.search("w00001", k=0, aggs=aggs, mode="driver")
    assert a.aggs == b.aggs
    assert a.num_hits == b.num_hits


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    vals=st.lists(
        st.sampled_from([f"k{i}" for i in range(12)]), min_size=1,
        max_size=300,
    ),
    n_splits=st.integers(min_value=1, max_value=5),
    size=st.integers(min_value=1, max_value=6),
    split_size=st.integers(min_value=1, max_value=8),
)
def test_terms_cut_invariants_property(vals, n_splits, size, split_size):
    """For ANY value distribution, split partitioning, size, and
    split_size: (1) sum(bucket counts) + sum_other_doc_count == total
    docs, (2) every returned bucket undercounts the exact answer by at
    most doc_count_error_upper_bound, (3) lifting split_size past the
    cardinality reproduces the exact aggregation."""
    import numpy as np
    import pyarrow as pa

    from quickwit_spark.operators.search import (
        _final_agg,
        _partial_agg,
        _terms_column,
    )

    params = {"field": "x", "size": size, "split_size": split_size}
    chunks = [vals[i::n_splits] for i in range(n_splits)]
    cols = [(_terms_column(pa.chunked_array([pa.array(c)])), np.arange(len(c)))
            for c in chunks if c]
    rows = [r for c, m in cols for r in _partial_agg("terms", params, c, m)]
    got = _final_agg("terms", params, rows)
    total = len(vals)
    assert sum(b["doc_count"] for b in got["buckets"]) + got[
        "sum_other_doc_count"
    ] == total
    exact_params = {"field": "x", "size": 10_000, "split_size": 100_000}
    rows_x = [r for c, m in cols for r in _partial_agg("terms", exact_params, c, m)]
    exact = {
        b["key"]: b["doc_count"]
        for b in _final_agg("terms", exact_params, rows_x)["buckets"]
    }
    bound = got["doc_count_error_upper_bound"]
    for b in got["buckets"]:
        under = exact[b["key"]] - b["doc_count"]
        assert 0 <= under <= bound, (b, exact, bound)
    assert sum(exact.values()) == total  # uncut run loses nothing


@settings(max_examples=40, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=-500, max_value=500, allow_nan=False),
        min_size=1, max_size=200,
    ),
    n_splits=st.integers(min_value=1, max_value=4),
    interval=st.sampled_from([1.0, 2.5, 10.0]),
    offset=st.sampled_from([0.0, 0.5, 1.25]),
)
def test_histogram_grid_property(vals, n_splits, interval, offset):
    """For ANY data/partitioning: default histogram buckets form one
    contiguous offset-aligned grid, counts sum to the doc count, and
    every doc lands in the bucket the doc formula says."""
    import numpy as np

    from quickwit_spark.operators.search import _final_agg, _partial_agg

    params = {"field": "x", "interval": interval, "offset": offset}
    chunks = [np.array(vals[i::n_splits]) for i in range(n_splits)]
    rows = [r for c in chunks if c.size
            for r in _partial_agg("histogram", params, c, np.arange(c.size))]
    got = _final_agg("histogram", params, rows)["buckets"]
    assert sum(b["doc_count"] for b in got) == len(vals)
    keys = [b["key"] for b in got]
    assert keys == sorted(keys)
    for a, b in zip(keys, keys[1:]):
        assert abs((b - a) - interval) < 1e-9  # contiguous grid
    import math

    want = {}
    for v in vals:
        k = math.floor((v - offset) / interval) * interval + offset
        want[k] = want.get(k, 0) + 1
    got_nonzero = {b["key"]: b["doc_count"] for b in got if b["doc_count"]}
    assert got_nonzero == want


def test_terms_agg_bucket_cap_fails_fast_in_leaf():
    """A terms agg with more distinct keys than the bucket limit must
    raise in the LEAF kernel (shard_size analog) instead of shipping
    unbounded partials to the root."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from quickwit_spark.operators.search import (
        AGGREGATION_BUCKET_LIMIT,
        _partial_agg,
        _terms_column,
    )

    col = _terms_column(pa.chunked_array(
        [pa.array(np.arange(AGGREGATION_BUCKET_LIMIT + 1).astype(str))]
    ))
    with pytest.raises(ValueError, match="bucket limit exceeded in split"):
        _partial_agg("terms", {"field": "x"}, col, np.arange(len(col.codes)))
    # at the limit it still works (split_size lifted past cardinality)
    first = np.arange(1000)
    ok = _partial_agg("terms", {"field": "x", "split_size": 2000}, col, first)
    assert len(ok) == 1000
    # default split_size (size*1.5+10) cuts the leaf result and appends
    # ONE summary row (agg_key=None) carrying dropped-count + max-cut
    cut = _partial_agg("terms", {"field": "x"}, col, first)
    assert len(cut) == 26 and cut[-1]["agg_key"] is None
    assert cut[-1]["agg_count"] == 1000 - 25 and cut[-1]["agg_sum"] == 1.0


def test_global_df_cold_path_term_range_pruned(spark, index_dir, searcher):
    """With the term-stats artifact absent, the fallback df sum must
    term-range-prune splits and still return the correct global doc
    freqs (cache parity with the artifact's fast path)."""
    import os
    import shutil

    from quickwit_spark.operators.search import Searcher
    from quickwit_spark.operators.stats import _df_candidate_splits
    from quickwit_spark.plans.catalog import SplitMetadata

    # unit: a split whose range excludes the term is dropped
    s_in = SplitMetadata("a", term_range=("aaa", "mmm"))
    s_out = SplitMetadata("b", term_range=("nnn", "zzz"))
    got = _df_candidate_splits([s_in, s_out], {("text", "ccc")}, "text")
    assert [s.split_id for s in got] == ["a"]
    # non-default-field terms cannot prune
    got = _df_candidate_splits([s_in, s_out], {("tool", "ccc")}, "text")
    assert len(got) == 2

    # e2e: warm df via the fast path, then hide the stats artifact and
    # compare the cold (pruned) fallback sum
    terms = {("text", "w00001"), ("text", "w00400"), ("tool", "git")}
    warm = Searcher(spark, index_dir)
    want = warm._global_df(terms)
    stats_dir = os.path.join(index_dir, "term_stats")
    bak = stats_dir + ".bak"
    shutil.move(stats_dir, bak)
    try:
        cold = Searcher(spark, index_dir)
        got = cold._global_df(terms)
    finally:
        shutil.move(bak, stats_dir)
    assert got == want
    assert want[("text", "w00001")] > 0


def test_wand_plan_covers_nested_should_groups(searcher, exhaustive):
    """Every AND/OR/NOT tree of terms and phrases (incl. the multifield
    expansion, negated phrases, conjunctions and disjunctions, and pure
    negation) is evaluated as the query's own tree and answers exactly
    as the reference."""
    from quickwit_spark.plans.query import parse_query

    cfg = searcher.config
    ast = parse_query("en AND w00001", cfg, search_fields=["text", "role"])
    # multifield expansion: (text:en OR role:en) AND (text:w1 OR role:w1)
    assert [len(c.should) for c in ast.must] == [2, 2]
    for q, fields in [
        ("(w00000 OR w00050) AND (w00001 OR w00120)", None),
        ("en AND w00001", ["text", "role"]),
        ('"w00001 w00002"', None),
        ('w00000 AND "w00001 w00002"', None),
        ("w00050 OR (w00001 AND w00120)", None),
        ("(w00000 AND w00050) OR (w00001 AND w00200)", None),
        ('(w00000 AND "w00001 w00002") OR w00050', None),
        ("((w00000 OR w00004) AND w00001) OR w00050", None),
        ("((w00000 OR (w00002 AND w00003)) AND w00001) OR w00050", None),
        ('w00000 -"w00001 w00002"', None),
        ("w00000 -(w00001 AND w00002)", None),
        ("w00000 -(w00001 OR w00002)", None),
        ("-w00001", None),
        ("*", None),
    ]:
        kw = {"search_fields": fields} if fields else {}
        a = searcher.search(q, k=10, **kw)
        b = exhaustive(searcher.search, q, k=10, **kw)
        assert a.num_hits == b.num_hits, q
        assert [(h.split_id, h.docid, h.score) for h in a.hits] == [
            (h.split_id, h.docid, h.score) for h in b.hits
        ], q


def test_wand_equals_exhaustive_multifield(searcher, exhaustive):
    for q, fields in [
        ("en AND w00001", ["text", "role"]),
        ("assistant OR w00050", ["text", "role"]),
        ("(w00000 OR w00050) AND (w00001 OR w00120) -w00004", None),
        # conj members containing phrases (round 3)
        ('(w00000 AND "w00001 w00002") OR w00050', None),
        ('("w00001 w00002" AND w00000) OR (w00004 AND w00010)', None),
        ('(w00000 AND "w00001 w00002"~2) OR w00050 -w00003', None),
        ('(w00001 AND "w00002 w00000"~1 AND w00004) OR w00120', None),
        # disjunctions nested inside conj members (round 3)
        ("((w00000 OR w00004) AND w00001) OR w00050", None),
        ("((w00000 OR w00004) AND (w00001 OR w00120)) OR w00050", None),
        ('((w00000 OR "w00001 w00002") AND w00004) OR w00120', None),
        ("(w00000 OR w00004) AND w00001", ["text", "role"]),
        # negated phrases (round 3)
        ('w00000 -"w00001 w00002"', None),
        ('(w00000 OR w00004) -"w00001 w00002"~1 -w00050', None),
        ('((w00000 OR w00004) AND w00001) -"w00002 w00003"', None),
        # arbitrary-depth nesting + negated sub-booleans (round 3,
        # recursive node evaluator)
        ("((w00000 OR (w00002 AND w00003)) AND w00001) OR w00050", None),
        ('((w00000 OR (w00002 AND "w00001 w00003")) AND w00004) OR w00120',
         None),
        ("w00000 -(w00001 AND w00002)", None),
        ("w00000 -(w00001 OR w00002)", None),
        ('(w00000 OR w00004) -(w00001 AND "w00002 w00003")', None),
        ("(w00000 AND w00004) -(w00001 AND (w00002 OR w00003))", None),
    ]:
        kw = {"search_fields": fields} if fields else {}
        a = searcher.search(q, k=10, **kw)
        b = exhaustive(searcher.search, q, k=10, **kw)
        assert a.num_hits == b.num_hits, q
        assert [(h.split_id, h.docid, h.score) for h in a.hits] == [
            (h.split_id, h.docid, h.score) for h in b.hits
        ], q


def test_wand_equals_exhaustive_randomized(searcher, exhaustive):
    """Randomized flat/nested boolean queries over head/torso/tail
    vocabulary: WAND must equal the reference evaluator on every draw
    (seeded — deterministic across runs)."""
    import random

    rng = random.Random(1234)
    vocab = (
        [f"w{i:05d}" for i in range(5)]
        + [f"w{i:05d}" for i in range(50, 500, 37)]
        + [f"w{i:05d}" for i in range(1500, 9000, 611)]
        + ["hotterm"]
    )

    def rand_query():
        shape = rng.choice(
            ["term", "conj", "disj", "mixed", "neg", "nested", "disj_conj",
             "conj_phrase", "group_in_conj", "neg_phrase", "deep",
             "neg_bool"]
        )
        pick = lambda n: rng.sample(vocab, n)  # noqa: E731
        if shape == "term":
            return pick(1)[0]
        if shape == "conj":
            return " AND ".join(pick(rng.randint(2, 3)))
        if shape == "disj":
            return " OR ".join(pick(rng.randint(2, 3)))
        if shape == "neg":
            a, b = pick(2)
            return f"{a} -{b}"
        if shape == "mixed":
            a, b, c = pick(3)
            return f"{a} AND {b} -{c}"
        if shape == "disj_conj":
            a, b, c, d = pick(4)
            if rng.random() < 0.5:
                return f"({a} AND {b}) OR {c}"
            return f"({a} AND {b}) OR ({c} AND {d})"
        if shape == "conj_phrase":
            a, b, c, d = pick(4)
            slop = rng.choice(["", "~1", "~2"])
            return f'({a} AND "{b} {c}"{slop}) OR {d}'
        if shape == "group_in_conj":
            a, b, c, d, e = pick(5)
            if rng.random() < 0.5:
                return f"(({a} OR {b}) AND {c}) OR {d}"
            return f'(({a} OR "{b} {c}") AND {d}) OR {e}'
        if shape == "neg_phrase":
            a, b, c, d = pick(4)
            slop = rng.choice(["", "~1"])
            base = f"{a} OR {b}" if rng.random() < 0.5 else f"{a} AND {b}"
            return f'({base}) -"{c} {d}"{slop}'
        if shape == "deep":
            a, b, c, d, e = pick(5)
            if rng.random() < 0.5:
                return f"(({a} OR ({b} AND {c})) AND {d}) OR {e}"
            return f"(({a} AND ({b} OR {c})) OR {d}) AND {e}"
        if shape == "neg_bool":
            a, b, c, d = pick(4)
            op = rng.choice(["AND", "OR"])
            return f"({a} OR {b}) -({c} {op} {d})"
        a, b, c, d = pick(4)
        return f"({a} OR {b}) AND ({c} OR {d})"

    for _ in range(40):
        q = rand_query()
        a = searcher.search(q, k=8)
        b = exhaustive(searcher.search, q, k=8)
        assert a.num_hits == b.num_hits, q
        assert [(h.split_id, h.docid, h.score) for h in a.hits] == [
            (h.split_id, h.docid, h.score) for h in b.hits
        ], q


def test_partial_results_on_split_failure(spark, corpus, tmp_path, caplog):
    """Root failure tolerance (search_api.proto `errors`;
    quickwit-search/src/retry/): a split whose files are gone is
    retried once, then reported in resp.errors while the healthy
    splits still answer the query with correct counts. The handle logs
    the first such drop once."""
    import logging
    import os

    from quickwit_spark.operators import search as search_mod

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import Searcher
    from quickwit_spark.plans.catalog import Catalog

    d = str(tmp_path / "broken")
    build_index(spark, spark.createDataFrame(corpus), d,
                IndexConfig(), n_splits=4)
    s = Searcher(spark, d)
    full = s.search("w00001", k=10)
    assert full.errors == [] and full.num_hits > 0

    cat = Catalog.load(d)
    victim = cat.published_splits()[0].split_id
    # overwrite IN PLACE (same inode): a deleted file would still be
    # readable through the process's cached open file handle — in-place
    # corruption is the actual disk-failure scenario the root tolerates
    with open(os.path.join(cat.split_dir(victim), "postings.parquet"),
              "wb") as f:
        f.write(b"not a parquet file")

    s2 = Searcher(spark, d)
    with caplog.at_level(logging.WARNING, logger=search_mod.__name__):
        for _ in range(2):
            resp = s2.search("w00001", k=10)
            assert len(resp.errors) == 1 and victim in resp.errors[0]
            assert 0 < resp.num_hits < full.num_hits  # 3 of 4 answered
            assert all(h.split_id != victim for h in resp.hits)
            assert all(h.doc is not None for h in resp.hits)
    warned = [r for r in caplog.records if r.name == search_mod.__name__]
    assert len(warned) == 1 and victim in warned[0].getMessage()

    # every split failing is NOT a partial result — it raises
    for sm in cat.published_splits():
        with open(os.path.join(cat.split_dir(sm.split_id),
                               "postings.parquet"), "wb") as f:
            f.write(b"gone")
    s3 = Searcher(spark, d)
    with pytest.raises(RuntimeError, match="all 4 splits failed"):
        s3.search("w00001", k=10)


def test_partial_results_on_doc_fetch_failure(spark, corpus, tmp_path, caplog):
    """Root fetch_docs failure tolerance: a split whose DOC STORE dies
    between the leaf phase and the root payload fetch (e.g. GC'd by a
    concurrent merge) drops only its own hits and reports the failure
    in resp.errors — it must not discard the other splits' results.
    The handle logs the first such drop once."""
    import logging
    import os

    from quickwit_spark.operators import search as search_mod

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import Searcher
    from quickwit_spark.plans.catalog import Catalog

    d = str(tmp_path / "fetchfail")
    build_index(spark, spark.createDataFrame(corpus), d,
                IndexConfig(), n_splits=4)
    s = Searcher(spark, d)
    full = s.search("w00001", k=20)
    assert full.errors == [] and len(full.hits) > 0
    victim = next(h.split_id for h in full.hits)

    # corrupt ONLY the doc store (postings stay healthy, so the leaf
    # phase succeeds and the failure surfaces in the root fetch phase);
    # in-place overwrite — a deleted file stays readable via cached fds
    cat = Catalog.load(d)
    with open(os.path.join(cat.split_dir(victim), "docs.parquet"),
              "wb") as f:
        f.write(b"not a parquet file")

    s2 = Searcher(spark, d)
    n_victim_hits = sum(1 for h in full.hits if h.split_id == victim)
    with caplog.at_level(logging.WARNING, logger=search_mod.__name__):
        for _ in range(2):
            resp = s2.search("w00001", k=20)
            assert len(resp.errors) == 1
            assert victim in resp.errors[0] and "doc fetch" in resp.errors[0]
            assert all(h.split_id != victim for h in resp.hits)
            assert all(h.doc is not None for h in resp.hits)
            assert len(resp.hits) == len(full.hits) - n_victim_hits
    warned = [r for r in caplog.records if r.name == search_mod.__name__]
    assert len(warned) == 1 and "doc fetch" in warned[0].getMessage()


def test_invalid_sort_fields_use_reference_errors(searcher):
    """tests.rs test_single_node_invalid_sorting_with_query: sorting by
    a text field / unknown field fails with the reference's exact
    strings (sort_by.rs:95-115). Divergence, documented: with every
    split failing validation the root raises loudly instead of
    returning a response whose `errors` carries the message."""
    with pytest.raises(Exception, match="Sort by field on type text is currently not supported `role`"):
        searcher.search("w00002", k=5, sort_by="role")
    with pytest.raises(Exception, match="Unknown sort by field: `nope`"):
        searcher.search("w00002", k=5, sort_by="nope")
