"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface (SURVEY.md §2) over
the driver's testdata tables; ``oracle_sql()`` gives the DuckDB-runnable
ANSI-SQL twin of each. Search-engine entries build a real inverted
index over the ``documents`` table (cached per sf_dir) and run the
distributed BM25 kernel; the oracle recomputes BM25 from first
principles in SQL. Pipeline entries (dedup / similarity / text
analysis / multimodal) are pure DataFrame plans with SQL twins built
from the same cross-engine hash primitive
``H(s) = int(md5(s)[:15 hex], 16)``.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# ---------------------------------------------------------------------------
# shared constants (must match quickwit_spark.config.IndexConfig defaults)
# ---------------------------------------------------------------------------

K1, B = 1.2, 0.75
# duckdb tokenization twins: TOKS mirrors the PIPELINE text ops
# (textstats.TOKEN_PATTERN, uncapped); TOKS40 mirrors the ENGINE's
# `default` search tokenizer (40-char token cap) and backs every
# search/BM25 oracle so doc lengths and match sets agree exactly
TOKS = "regexp_extract_all(lower(text), '[0-9a-z]+')"
TOKS40 = f"list_filter({TOKS}, t -> length(t) <= 40)"
_IDX_CACHE: dict[str, str] = {}


def _documents_config():
    from quickwit_spark.config import FieldConfig, IndexConfig

    return IndexConfig(
        fields=(
            FieldConfig("text", tokenizer="default", record="position"),
            # same text under the Porter stemmer (tokenizer #14):
            # index-time stems match query-time-stemmed terms
            FieldConfig("text_stem", tokenizer="en_stem", record="basic"),
            FieldConfig("lang", tokenizer="raw", record="basic"),
            FieldConfig("source", tokenizer="raw", record="basic"),
            # json mapping-tree field synthesized from (lang, n_chars):
            # exercises dotted-path term resolution
            FieldConfig("props", tokenizer="json", record="basic"),
        ),
        default_search_field="text",
        timestamp_field="ts",
        tag_fields=("source",),
        doc_key_fields=("doc_id",),
        routing_field="doc_id",
    )


def _documents_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # synthesized deterministic timestamp (the engine indexes by time)
    # + a json column for the mapping-tree json field
    return df.withColumn(
        "ts",
        F.expr("timestamp'2025-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"),
    ).withColumn(
        "props",
        F.to_json(F.struct(F.col("lang"), F.col("n_chars").alias("nc"))),
    ).withColumn("text_stem", F.col("text"))


def _docs_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) the inverted index over the
    documents table; returns the index dir."""
    if sf_dir in _IDX_CACHE:
        return _IDX_CACHE[sf_dir]
    from quickwit_spark.operators.build import build_index

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    d = os.path.join(tempfile.gettempdir(), f"qs_entry_idx_{tag}_v7")
    from quickwit_spark.plans.catalog import Catalog

    if not Catalog.exists(d):
        build_index(
            spark, _documents_df(spark, sf_dir), d,
            _documents_config(), n_splits=4,
        )
    _IDX_CACHE[sf_dir] = d
    return d


def _docs_index_merged(spark: SparkSession, sf_dir: str) -> str:
    """A second index over the same documents, built as 4 small splits
    then fully MERGED by the planner loop — gate-verifies that search
    results are invariant under hierarchical merging."""
    key = sf_dir + "#merged"
    if key in _IDX_CACHE:
        return _IDX_CACHE[key]
    import dataclasses

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.merge import run_merge_pipeline
    from quickwit_spark.plans.catalog import Catalog

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    d = os.path.join(tempfile.gettempdir(), f"qs_entry_idxm_{tag}_v2")
    if not Catalog.exists(d):
        cfg = dataclasses.replace(
            _documents_config(),
            merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
        )
        build_index(spark, _documents_df(spark, sf_dir), d, cfg, n_splits=4)
        run_merge_pipeline(spark, d)
    _IDX_CACHE[key] = d
    return d


def _docs_index_demuxed(spark: SparkSession, sf_dir: str) -> str:
    """A third index over the same documents, built as 4 splits then
    DEMUXED by the `source` tenant field (merge_executor.rs:349-500
    semantics: docs re-shuffled into per-tenant virtual splits, atomic
    cutover) — gate-verifies that search results and per-tenant counts
    are invariant under demux."""
    key = sf_dir + "#demux"
    if key in _IDX_CACHE:
        return _IDX_CACHE[key]
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.demux import demux_splits
    from quickwit_spark.plans.catalog import Catalog

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    d = os.path.join(tempfile.gettempdir(), f"qs_entry_idxd_{tag}_v1")
    if not Catalog.exists(d):
        build_index(
            spark, _documents_df(spark, sf_dir), d,
            _documents_config(), n_splits=4,
        )
        cat = Catalog.load(d)
        sids = [s.split_id for s in cat.published_splits()]
        demux_splits(spark, cat, sids, demux_field="source", demux_factor=6)
    _IDX_CACHE[key] = d
    return d


def _searcher(spark, sf_dir):
    from quickwit_spark.operators.search import Searcher

    return Searcher(spark, _docs_index(spark, sf_dir))


def _hits_df(spark, resp) -> DataFrame:
    rows = [(int(h.doc["doc_id"]), round(float(h.score), 4)) for h in resp.hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


# ---------------------------------------------------------------------------
# search-engine queries
# ---------------------------------------------------------------------------

def q_bm25_topk(spark, sf_dir):
    return _hits_df(spark, _searcher(spark, sf_dir).search("vector", k=20))


def q_bm25_boolean(spark, sf_dir):
    return _hits_df(spark, _searcher(spark, sf_dir).search("merge AND stream", k=20))


def q_bm25_disjunction(spark, sf_dir):
    return _hits_df(spark, _searcher(spark, sf_dir).search("vector OR hash", k=20))


def q_bm25_must_not(spark, sf_dir):
    return _hits_df(spark, _searcher(spark, sf_dir).search("vector -merge", k=20))


def q_bm25_nested_bool(spark, sf_dir):
    """Disjunction nested inside a conjunctive member —
    ((vector OR hash) AND merge) OR stream — evaluated as the query's
    own tree per docid segment, each node's upper bound the sum of its
    children's (results identical to the whole-term reference)."""
    return _hits_df(
        spark,
        _searcher(spark, sf_dir).search(
            "((vector OR hash) AND merge) OR stream", k=20
        ),
    )


def q_bm25_neg_phrase(spark, sf_dir):
    """Negated phrase: vector -"table value" (round-3 WAND shape —
    the neg phrase only position-decodes active segments)."""
    return _hits_df(
        spark, _searcher(spark, sf_dir).search('vector -"table value"', k=20)
    )


def q_bm25_phrase(spark, sf_dir):
    return _hits_df(spark, _searcher(spark, sf_dir).search('"table value"', k=20))


def q_bm25_offset(spark, sf_dir):
    """Pagination: offset applied once at the root merge
    (root.rs:341-356)."""
    return _hits_df(
        spark, _searcher(spark, sf_dir).search("vector", k=10, offset=5)
    )


def q_bm25_multifield(spark, sf_dir):
    """Unqualified term over text+lang (REST search_field param):
    'en' matches every doc via the raw lang field."""
    resp = _searcher(spark, sf_dir).search(
        "en AND vector", k=20, search_fields=["text", "lang"]
    )
    return _hits_df(spark, resp)


def q_bm25_json_path(spark, sf_dir):
    """Dotted-path term on the json mapping-tree field
    (doc_mapper.rs:189-217 resolution): props.lang:en scores as a
    tf=1 path-scoped term in the conjunction."""
    resp = _searcher(spark, sf_dir).search("props.lang:en AND vector", k=20)
    return _hits_df(spark, resp)


def q_bm25_after_merge(spark, sf_dir):
    """Same query as bm25_topk but over the fully-merged index: scores
    and ranks are invariant under the merge pipeline (global stats
    unchanged; byte-splice executor), so the oracle is identical."""
    from quickwit_spark.operators.search import Searcher

    se = Searcher(spark, _docs_index_merged(spark, sf_dir))
    return _hits_df(spark, se.search("vector", k=20))


def q_bm25_after_demux(spark, sf_dir):
    """Same query as bm25_topk but over the DEMUXED index: demux
    re-shuffles docs into per-tenant splits without changing global
    stats, so scores and ranks are invariant and the oracle is
    identical (merge_executor.rs:349-500 demux semantics)."""
    from quickwit_spark.operators.search import Searcher

    se = Searcher(spark, _docs_index_demuxed(spark, sf_dir))
    return _hits_df(spark, se.search("vector", k=20))


def q_demux_tenant_counts(spark, sf_dir):
    """Per-tenant doc counts on the demuxed index via tag-pruned
    `source:<tenant>` term queries — every doc must land in exactly one
    tenant bin after the demux re-shuffle."""
    from quickwit_spark.operators.search import Searcher

    se = Searcher(spark, _docs_index_demuxed(spark, sf_dir))
    sources = sorted(
        r["source"]
        for r in _docs(spark, sf_dir).select("source").distinct().collect()
    )
    rows = [
        (s, int(se.search(f"source:{s}", k=0).num_hits)) for s in sources
    ]
    return spark.createDataFrame(rows, "source string, n_docs long")


def q_bm25_stemmed(spark, sf_dir):
    """en_stem end-to-end: the query term 'merging' stems to 'merg' at
    query time and matches docs whose text contains 'merge' (stemmed at
    index time) — surface forms differ, stems agree. In this corpus
    'merge' is the only token in the stem class, so the oracle is plain
    BM25 on 'merge' (tokenizer.rs en_stem / Porter 1980)."""
    resp = _searcher(spark, sf_dir).search(
        "merging", k=20, search_fields=["text_stem"]
    )
    return _hits_df(spark, resp)


def q_bm25_boosted(spark, sf_dir):
    """Boosted disjunction vector^2 OR hash (tantivy grammar
    ``UserInputAst::Boost``, accepted by query_builder.rs:79/96):
    the boosted clause's BM25 score doubles before the should-sum,
    reordering hits vs the unboosted disjunction."""
    return _hits_df(
        spark, _searcher(spark, sf_dir).search("vector^2 OR hash", k=20)
    )


def q_bm25_scoped_group(spark, sf_dir):
    """Field-scoped group lang:(de OR fr) AND vector (tantivy grammar
    ``field:(...)``): the group's field is the default for its inner
    clause; a doc's single raw lang value makes exactly one disjunct
    match, scored tf=1 against the text doc length."""
    return _hits_df(
        spark,
        _searcher(spark, sf_dir).search("lang:(de OR fr) AND vector", k=20),
    )


# fixed query table for the batch-retrieval gate: single-term,
# conjunctions, and a repeated term (repeated must clause → 2x score)
_BATCH_QUERIES = [
    ("b1", "vector"),
    ("b2", "hash join"),
    ("b3", "scan filter table"),
    ("b4", "vector vector"),
    ("b5", "stream window group"),
]


def q_bm25_batch_topk(spark, sf_dir):
    """Batch retrieval (operators/batch_search): top-10 BM25 for a whole
    TABLE of queries in one declarative Spark job — posting scan joined
    against the broadcast query-term table, isin term pushdown,
    vectorized posting decode, conjunction groupBy, per-query window.
    Output ranking is re-cut on (rounded score, doc_id) so the oracle's
    tie order is engine-independent."""
    from pyspark.sql import Window

    from quickwit_spark.operators.batch_search import batch_bm25_topk

    idx = _docs_index(spark, sf_dir)
    # pandas-sourced so the query table becomes an Arrow LocalRelation
    # (JVM-side, 1 partition) instead of a 32-partition pickled-Python
    # parallelize scan — the plan references this subtree ~4x (pushdown
    # collect + broadcasts), and the python scan costs ~0.3 s per
    # evaluation vs ~0 for the local relation (measured: 9.3 s -> 1.6 s
    # per batch call at sf0.01)
    import pandas as _pd

    qdf = spark.createDataFrame(
        _pd.DataFrame(_BATCH_QUERIES, columns=["query_id", "query"])
    )
    hits = batch_bm25_topk(spark, idx, qdf, k=25, fetch_cols=("doc_id",))
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 4).desc(), F.col("doc_id").asc()
    )
    return (
        hits.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select(
            "query_id",
            F.col("doc_id").cast("long").alias("doc_id"),
            F.round("score", 4).alias("score"),
        )
    )


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (pipeline/mining): top BM25 hits per query
    EXCLUDING a labeled-positive set — the contrastive-training negative
    generator (DPR-style), composed from batch retrieval + a left_anti
    join. Positives here are rule-derived so every scale factor agrees:
    doc is positive for query bN iff doc_id % 7 == N % 7. Output re-cut
    on (rounded score, doc_id) for engine-independent ties."""
    from pyspark.sql import Window

    from quickwit_spark.pipeline.mining import mine_hard_negatives

    idx = _docs_index(spark, sf_dir)
    import pandas as _pd

    qdf = spark.createDataFrame(
        _pd.DataFrame(_BATCH_QUERIES, columns=["query_id", "query"])
    )
    docs = _docs(spark, sf_dir).select("doc_id")
    positives = (
        qdf.select(
            "query_id",
            F.substring("query_id", 2, 8).cast("long").alias("qn"),
        )
        .crossJoin(docs)
        .where((F.col("doc_id") % 7) == (F.col("qn") % 7))
        .select("query_id", "doc_id")
    )
    # mine the FULL 40-deep candidate set minus positives, then cut to
    # 10 on the engine-independent (rounded score, doc_id) order — the
    # 40-row buffer keeps rounded boundary ties away from the cut
    neg = mine_hard_negatives(
        spark, idx, qdf, positives, k=40, n_neg=40, doc_key="doc_id"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round("score", 4).desc(), F.col("doc_id").asc()
    )
    return (
        neg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select(
            "query_id",
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("rnk").cast("long").alias("neg_rank"),
            F.round("score", 4).alias("score"),
        )
    )


def q_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid lexical+semantic retrieval (pipeline/mining
    hybrid_bm25_cosine_topk): batch BM25 over the inverted index fused
    with exact cosine over the embeddings table by reciprocal-rank
    fusion (Cormack et al. 2009; the ES/OpenSearch hybrid-search
    combiner). Query embeddings are the fixture vectors whose vec_id
    matches the query number (b1 ↔ vec 1 …). Contributions are
    floor(1e9/(60+rank)) integers, so rrf_micro and the fused order
    are bit-identical across engines; overfetch is set corpus-sized so
    the lexical depth cut happens entirely on the engine-independent
    (rounded score, doc_id) order."""
    from quickwit_spark.pipeline.mining import hybrid_bm25_cosine_topk

    idx = _docs_index(spark, sf_dir)
    import pandas as _pd

    qdf = spark.createDataFrame(
        _pd.DataFrame(_BATCH_QUERIES, columns=["query_id", "query"])
    )
    embs = _embs(spark, sf_dir)
    qvecs = embs.where(F.col("vec_id").between(1, 5)).select(
        F.concat(F.lit("b"), F.col("vec_id").cast("string")).alias("query_id"),
        "embedding",
    )
    out = hybrid_bm25_cosine_topk(
        spark, idx, qdf, embs, qvecs,
        k=10, depth=20, overfetch=1_000_000,
    )
    return out.select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        "fused_rank",
        "rrf_micro",
        "lex_rank",
        "sem_rank",
    )


def q_docmapper_typed(spark, sf_dir):
    """Generic DocMapping over a synthesized JSON feed of the documents
    table: typed leaves (i64/f64), base64 bytes, nested object, and a
    datetime — mapped by map_docs and projected back to comparable
    scalars (mapping_tree.rs:302-345 analog in one Catalyst plan)."""
    from quickwit_spark.sources.docmapper import (
        DocMapping,
        FieldMapping,
        map_docs,
        split_valid,
    )

    lines = _docs(spark, sf_dir).select(
        F.to_json(
            F.struct(
                F.col("doc_id"),
                F.col("lang"),
                F.base64(F.encode(F.col("text").substr(1, 16), "utf-8")).alias("payload"),
                F.struct(
                    F.col("source").alias("vendor"),
                    (F.col("n_chars") * 1.0).alias("rating"),
                ).alias("meta"),
                F.lit("2025-01-01T00:00:00Z").alias("created"),
            )
        ).alias("value")
    )
    mapping = DocMapping(
        fields=(
            FieldMapping("doc_id", "i64", required=True),
            FieldMapping("lang", "text"),
            FieldMapping("payload", "bytes"),
            FieldMapping("meta", "object", fields=(
                FieldMapping("vendor", "text"),
                FieldMapping("rating", "f64"),
            )),
            FieldMapping("created", "datetime", required=True),
        ),
        ts_field="created",
    )
    valid, _rejected = split_valid(map_docs(lines, mapping))
    return valid.select(
        F.col("doc_id"),
        F.col("lang"),
        F.length(F.col("payload")).alias("payload_len"),
        F.col("meta.vendor").alias("vendor"),
        F.round(F.col("meta.rating"), 1).alias("rating"),
        F.unix_timestamp(F.col("created")).alias("created_s"),
    )


def q_search_num_hits(spark, sf_dir):
    resp = _searcher(spark, sf_dir).search("vector", k=1)
    return spark.createDataFrame([(resp.num_hits,)], "num_hits long")


def q_search_sort_fastfield(spark, sf_dir):
    resp = _searcher(spark, sf_dir).search(
        "vector", k=20, sort_by="n_chars", sort_desc=True
    )
    rows = [(int(h.doc["doc_id"]), int(h.doc["n_chars"])) for h in resp.hits]
    return spark.createDataFrame(rows, "doc_id long, n_chars long")


def q_search_tag_filter(spark, sf_dir):
    """Tag-field (raw tokenizer) term + text term conjunction."""
    resp = _searcher(spark, sf_dir).search("source:src3 AND vector", k=50)
    rows = [(int(h.doc["doc_id"]), round(float(h.score), 4)) for h in resp.hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


def q_search_time_range(spark, sf_dir):
    """[start, end) timestamp filter on the synthesized ts field
    (ts = 2025-01-01 + doc_id seconds → doc_id in [100, 300))."""
    base = 1_735_689_600_000_000
    resp = _searcher(spark, sf_dir).search(
        "vector", k=50,
        start_us=base + 100 * 1_000_000, end_us=base + 300 * 1_000_000,
    )
    rows = [(int(h.doc["doc_id"]), round(float(h.score), 4)) for h in resp.hits]
    return spark.createDataFrame(rows, "doc_id long, score double")


def q_agg_terms_source(spark, sf_dir):
    # split_size lifted past the field cardinality: the oracle is an
    # exact GROUP BY, so the ES-approximate leaf cut must be disabled
    resp = _searcher(spark, sf_dir).search(
        "vector", k=1,
        aggs={"by_source": {"terms": {"field": "source", "size": 8,
                                      "split_size": 100_000}}},
    )
    rows = [
        (b["key"], int(b["doc_count"]))
        for b in resp.aggs["by_source"]["buckets"]
    ]
    return spark.createDataFrame(rows, "source string, doc_count long")


def q_agg_stats_nchars(spark, sf_dir):
    resp = _searcher(spark, sf_dir).search(
        "vector", k=1, aggs={"st": {"stats": {"field": "n_chars"}}}
    )
    s = resp.aggs["st"]
    return spark.createDataFrame(
        [(int(s["count"]), float(s["sum"]), float(s["min"]), float(s["max"]),
          round(float(s["avg"]), 4),
          round(float(s["standard_deviation"]), 4))],
        "cnt long, total double, mn double, mx double, av double, sd double",
    )


def q_agg_histogram_nchars(spark, sf_dir):
    # min_doc_count=1 pins the sparse (no gap-fill) shape the plain
    # GROUP BY oracle produces; agg_histogram_dense covers the default
    # gap-filled grid
    resp = _searcher(spark, sf_dir).search(
        "vector", k=1,
        aggs={"h": {"histogram": {"field": "n_chars", "interval": 100.0,
                                  "min_doc_count": 1}}},
    )
    rows = [
        (float(b["key"]), int(b["doc_count"])) for b in resp.aggs["h"]["buckets"]
    ]
    return spark.createDataFrame(rows, "bucket double, doc_count long")


def q_agg_range_nchars(spark, sf_dir):
    """Range aggregation (ES ranges subset the reference wires through —
    docs/reference/aggregation.md; merge at root.rs:341-356): bucket
    keys are '<from|*>-<to|*>', [from, to) semantics."""
    resp = _searcher(spark, sf_dir).search(
        "vector", k=1,
        aggs={"r": {"range": {"field": "n_chars", "ranges": [
            {"to": 200.0}, {"from": 200.0, "to": 400.0}, {"from": 400.0},
        ]}}},
    )
    rows = sorted(
        (b["key"], int(b["doc_count"])) for b in resp.aggs["r"]["buckets"]
    )
    return spark.createDataFrame(rows, "bucket string, doc_count long")


def q_agg_terms_stats(spark, sf_dir):
    """Terms agg with a stats sub-agg, buckets ordered by the sub-agg
    metric (order-by-sub-agg — aggregation.md terms order)."""
    resp = _searcher(spark, sf_dir).search(
        "vector", k=1,
        aggs={"by": {"terms": {
            "field": "source", "size": 8, "stats_field": "n_chars",
            "order": {"stats.avg": "desc"}, "split_size": 100_000,
        }}},
    )
    rows = [
        (b["key"], int(b["doc_count"]), round(float(b["stats"]["avg"]), 4),
         float(b["stats"]["min"]), float(b["stats"]["max"]))
        for b in resp.aggs["by"]["buckets"]
    ]
    return spark.createDataFrame(
        rows, "source string, doc_count long, av double, mn double, mx double"
    )


def q_agg_histogram_dense(spark, sf_dir):
    """Histogram with an offset grid and the default min_doc_count=0:
    every bucket between data min and max is returned, EMPTY BUCKETS
    INCLUDED (aggregation.md 'Returned Buckets'; key formula
    ((val - offset) / interval).floor() * interval + offset)."""
    resp = _searcher(spark, sf_dir).search(
        "vector", k=1,
        aggs={"h": {"histogram": {"field": "n_chars", "interval": 2.0,
                                  "offset": 0.5}}},
    )
    rows = [
        (float(b["key"]), int(b["doc_count"])) for b in resp.aggs["h"]["buckets"]
    ]
    return spark.createDataFrame(rows, "bucket double, doc_count long")


def q_agg_histogram_subagg_stats(spark, sf_dir):
    """Histogram buckets each carrying a stats sub-aggregation — the
    aggregation.md 'histogram with stats in each bucket' example shape
    (sub-aggs under bucket aggs, round 4). min_doc_count=1 pins the
    sparse no-gap-fill shape the GROUP BY oracle produces."""
    resp = _searcher(spark, sf_dir).search(
        "vector", k=1,
        aggs={"h": {"histogram": {"field": "n_chars", "interval": 100.0,
                                  "min_doc_count": 1},
                    "aggs": {"st": {"stats": {"field": "doc_id"}}}}},
    )
    rows = [
        (float(b["key"]), int(b["doc_count"]), int(b["st"]["count"]),
         float(b["st"]["sum"]), float(b["st"]["min"]),
         float(b["st"]["max"]), round(float(b["st"]["avg"]), 6),
         round(float(b["st"]["standard_deviation"]), 6))
        for b in resp.aggs["h"]["buckets"]
    ]
    return spark.createDataFrame(
        rows,
        "bucket double, doc_count long, s_count long, s_sum double, "
        "s_min double, s_max double, s_avg double, s_sd double",
    )


def q_agg_range_subagg_avg(spark, sf_dir):
    """Range buckets each carrying an avg sub-aggregation."""
    resp = _searcher(spark, sf_dir).search(
        "vector", k=1,
        aggs={"r": {"range": {"field": "n_chars", "ranges": [
            {"to": 300.0}, {"from": 300.0},
        ]}, "aggs": {"a": {"avg": {"field": "doc_id"}}}}},
    )
    rows = sorted(
        (b["key"], int(b["doc_count"]),
         round(float(b["a"]["value"]), 6) if b["a"]["value"] is not None else None)
        for b in resp.aggs["r"]["buckets"]
    )
    return spark.createDataFrame(rows, "bucket string, doc_count long, av double")


def q_agg_terms_order_key(spark, sf_dir):
    """Terms agg ordered alphabetically (aggregation.md terms order
    {"_key": "asc"})."""
    resp = _searcher(spark, sf_dir).search(
        "vector", k=1,
        aggs={"t": {"terms": {"field": "source", "size": 5,
                              "order": {"_key": "asc"},
                              "split_size": 100_000}}},
    )
    rows = [(b["key"], int(b["doc_count"])) for b in resp.aggs["t"]["buckets"]]
    return spark.createDataFrame(rows, "source string, doc_count long")


def q_agg_terms_subagg_avg(spark, sf_dir):
    """Terms agg with the ES NESTED sub-agg request shape, ordered by
    the sub-agg's name (aggregation.md order-by-sub-agg example):
    buckets carry the avg under its requested name."""
    resp = _searcher(spark, sf_dir).search(
        "vector", k=1,
        aggs={"by": {
            "terms": {"field": "source", "size": 6,
                      "order": {"mean_len": "asc"},
                      "split_size": 100_000},
            "aggs": {"mean_len": {"avg": {"field": "n_chars"}}},
        }},
    )
    rows = [
        (b["key"], int(b["doc_count"]),
         round(float(b["mean_len"]["value"]), 4))
        for b in resp.aggs["by"]["buckets"]
    ]
    return spark.createDataFrame(rows, "source string, doc_count long, av double")


def q_search_stream_fastfield(spark, sf_dir):
    """Search-stream export: fast-field values of ALL matching docs
    (search_stream/leaf.rs:72-284 analog) — genuinely uncapped, through
    the stream_fast_field operator (partition_by carries doc_id, the
    PartitionnedFastFieldCollector shape)."""
    from quickwit_spark.operators.search import stream_fast_field

    se = _searcher(spark, sf_dir)
    out = stream_fast_field(se, "hash", "n_chars", partition_by="doc_id")
    return out.select(
        F.col("partition").cast("long").alias("doc_id"),
        F.col("value").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# pipeline queries (pure DataFrame plans over the parquet tables)
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def q_token_count(spark, sf_dir):
    from quickwit_spark.pipeline.textstats import token_count

    return token_count(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    from quickwit_spark.pipeline.textstats import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    from quickwit_spark.pipeline.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    from quickwit_spark.pipeline.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def _pii_decorated(spark, sf_dir):
    """Documents with deterministically injected PII-ish substrings
    (emails / IPv4s / phone numbers derived from doc_id): the raw
    corpus is synthetic word soup with zero PII, so the scrub entries
    construct their matches reproducibly on BOTH engines."""
    d = F.col("doc_id")
    txt = F.concat(
        F.col("text"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" contact user"), d.cast("string"),
                     F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(F.lit(" from 10.0."), (d % 256).cast("string"),
                     F.lit(".7")),
        ).otherwise(F.lit("")),
        F.when(
            d % 7 == 0,
            F.concat(F.lit(" call +1555"), (d + 1000000).cast("string")),
        ).otherwise(F.lit("")),
    )
    return _docs(spark, sf_dir).select(d.alias("doc_id"), txt.alias("text"))


def q_repetition_stats(spark, sf_dir):
    from quickwit_spark.pipeline.textstats import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_pii_scrub(spark, sf_dir):
    from quickwit_spark.pipeline.scrub import pii_scrub

    return pii_scrub(_pii_decorated(spark, sf_dir))


def q_url_extract(spark, sf_dir):
    from quickwit_spark.pipeline.scrub import url_extract

    d = F.col("doc_id")
    deco = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.col("text"),
            F.when(
                d % 2 == 0,
                F.concat(F.lit(" see https://"), F.col("source"),
                         (d % 10).cast("string"),
                         F.lit(".example.org/p/"), d.cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return url_extract(deco)


def q_normalize_text(spark, sf_dir):
    from quickwit_spark.pipeline.scrub import normalize_text

    d = F.col("doc_id")
    deco = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit(" \t"),
            F.col("text"),
            F.when(d % 2 == 0, F.lit("\n\ntail\x07")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return normalize_text(deco)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus docs sharing any word
    3-gram with a small eval set (the deterministic doc_id % 97 == 0
    subset here), eval shingles broadcast against the corpus."""
    from quickwit_spark.pipeline.sampling import decontaminate

    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, ev, k=3).select(
        "doc_id",
        F.col("n_overlap").cast("long").alias("n_overlap"),
        "contaminated",
    )


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-source training-mix sampling (md5-threshold
    keep/drop — reproducible across engines, runs, partitionings)."""
    from quickwit_spark.pipeline.sampling import stratified_sample

    fr = {"src0": 0.5, "src1": 0.25, "src2": 1.0, "src3": 0.125}
    return stratified_sample(_docs(spark, sf_dir), fr, seed="mix1").select(
        "doc_id", "source"
    )


def q_sequence_packing(spark, sf_dir):
    """GPT-style concat-and-chunk packing layout: deterministic shard
    + order (H15 md5), per-shard token cumsum, cut every seq_len
    tokens. One hash-partition shuffle; the DuckDB twin runs the
    identical window arithmetic."""
    from quickwit_spark.pipeline.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=64, n_shards=4)


def q_sequence_packing_materialized(spark, sf_dir):
    """Packed training sequences materialized: per (shard, seq) doc
    count, token count, and an md5 of the token stream (arrays hash
    engine-specifically, the joined stream doesn't). Every non-final
    sequence must carry exactly seq_len tokens — the DuckDB twin
    recomputes the identical slice/flatten pipeline."""
    from pyspark.sql import functions as F

    from quickwit_spark.pipeline.packing import packed_token_sequences

    out = packed_token_sequences(_docs(spark, sf_dir), seq_len=64, n_shards=4)
    return out.select(
        "shard", "seq_idx", "n_docs", "n_tokens",
        F.md5(F.concat_ws(" ", "tokens")).alias("tokens_md5"),
    )


def q_corpus_curation(spark, sf_dir):
    """Training-mix curation as ONE composed declarative plan — the
    100-TB pre-training shape: quality gate (narrow map), exact-dedup
    keepers (one digest shuffle), deterministic per-source sampling
    (narrow map), per-source doc/token accounting (one agg shuffle).
    Catalyst fuses the maps; nothing materializes between stages."""
    from quickwit_spark.pipeline.dedup import exact_dedup
    from quickwit_spark.pipeline.sampling import stratified_sample
    from quickwit_spark.pipeline.textstats import quality_score, token_count

    docs = _docs(spark, sf_dir)
    # append=True composes the narrow maps onto the same rows — no
    # self-joins on doc_id; the ONLY wide ops in the whole plan are
    # the dedup digest-window shuffle and the final per-source agg
    enriched = token_count(
        quality_score(docs, append=True), append=True
    )
    # quality gate BEFORE the dedup window: rejected rows never enter
    # the digest shuffle (the only data-proportional exchange here)
    kept = exact_dedup(
        enriched.where(F.col("quality") >= 0.45), append=True
    ).where(~F.col("is_dup"))
    fractions = {f"src{i}": (1.0 if i % 2 == 0 else 0.5) for i in range(10)}
    return (
        stratified_sample(kept, fractions, seed="cur1")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


def q_corpus_curation_spans(spark, sf_dir):
    """Second composed curation gate, with the round-4 span family:
    exact-dedup keepers (one digest-window shuffle) → keep-first
    substring-span scrub (remove every duplicated passage except its
    canonical copy; two gram shuffles) → per-source kept/removed
    token accounting. The doc-level and span-level dedup compose:
    whole-doc copies fall to the digest window first, so the span
    pass only pays for partial overlaps."""
    from quickwit_spark.pipeline.dedup import (
        duplicate_spans,
        exact_dedup,
        remove_duplicate_spans,
    )

    docs = _docs(spark, sf_dir)
    kept = (
        exact_dedup(docs, append=True)
        .where(~F.col("is_dup"))
        .select("doc_id", "text", "source")
    )
    spans = duplicate_spans(kept, min_len=8, hash="md5", keep_first=True)
    scrub = remove_duplicate_spans(kept, spans)
    return (
        scrub.join(kept.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum("n_dup_tokens").cast("long").alias("sum_removed"),
        )
    )


def q_dedup_exact(spark, sf_dir):
    from quickwit_spark.pipeline.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_minhash_lsh(spark, sf_dir):
    from quickwit_spark.pipeline.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.4)


def q_dedup_ngram_jaccard(spark, sf_dir):
    from quickwit_spark.pipeline.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.4)


def q_dedup_simhash(spark, sf_dir):
    from quickwit_spark.pipeline.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def q_dedup_simhash_pairs(spark, sf_dir):
    """Multi-rotation SimHash near-dup pairs (2 rotation tables,
    8-bit prefix buckets, hamming <= 24)."""
    from quickwit_spark.pipeline.dedup import simhash_pairs

    return simhash_pairs(
        _docs(spark, sf_dir), max_hamming=24, prefix_bits=8, n_rotations=2
    )


def q_dedup_embedding_cosine(spark, sf_dir):
    from quickwit_spark.pipeline.dedup import embedding_cosine_pairs

    return embedding_cosine_pairs(_embs(spark, sf_dir), threshold=0.2)


def q_dedup_embedding_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: hyperplane-LSH candidate
    buckets + exact cosine verify (no O(n²) cross join)."""
    from quickwit_spark.pipeline.dedup import embedding_lsh_pairs

    return embedding_lsh_pairs(
        _embs(spark, sf_dir), threshold=0.2, n_planes=4, n_tables=1
    )


def q_semantic_decontaminate(spark, sf_dir):
    """Embedding-space decontamination: max cosine vs a broadcast
    eval set (vec_id < 8 stands in for the benchmark embeddings) —
    the paraphrase-catching twin of the k-gram `decontaminate`.
    Zero corpus shuffles: the eval set collapses to one broadcast
    row of structs and the flag is a narrow map."""
    from quickwit_spark.pipeline.sampling import semantic_decontaminate

    embs = _embs(spark, sf_dir)
    return semantic_decontaminate(
        embs.where(F.col("vec_id") >= 8),
        embs.where(F.col("vec_id") < 8),
        threshold=0.3,
    )


def q_dedup_substring_spans(spark, sf_dir):
    """Span-level exact-substring dedup (Lee et al. 2022): maximal
    token spans duplicated across distinct docs, from merged
    8-token seed grams — two shuffles (gram-hash window + doc
    window), no join back, no broadcast of the duplicate set. The
    gate uses the md5 gram hash (DuckDB-reproducible); production
    defaults to the 3× faster xxhash64-over-slice."""
    from quickwit_spark.pipeline.dedup import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), min_len=8, hash="md5")


def q_dedup_substring_keepfirst(spark, sf_dir):
    """Lee et al. remove-all-but-one policy: spans over every
    duplicated occurrence EXCEPT each gram's globally smallest
    (id, pos) one — one extra min-struct window over the same
    gram-hash partition, no extra shuffle."""
    from quickwit_spark.pipeline.dedup import duplicate_spans

    return duplicate_spans(
        _docs(spark, sf_dir), min_len=8, hash="md5", keep_first=True
    )


def q_decontaminate_spans(spark, sf_dir):
    """Span-level decontamination: exact token spans where a corpus
    doc (doc_id % 97 != 0) verbatim-overlaps the held-out eval subset
    (doc_id % 97 == 0, the same split the k-gram decontaminate entry
    uses) — max-flag window over the unioned gram table, no broadcast
    ceiling on the eval set."""
    from quickwit_spark.pipeline.dedup import contamination_spans

    docs = _docs(spark, sf_dir)
    return contamination_spans(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        min_len=8,
        hash="md5",
    )


def q_dedup_substring_scrub(spark, sf_dir):
    """Scrub companion: per-doc surviving token stream after removing
    every duplicated span, verified by md5 of the kept tokens."""
    from quickwit_spark.pipeline.dedup import duplicate_spans, remove_duplicate_spans

    docs = _docs(spark, sf_dir)
    return remove_duplicate_spans(
        docs, duplicate_spans(docs, min_len=8, hash="md5")
    )


def q_dedup_clusters(spark, sf_dir):
    from quickwit_spark.pipeline.dedup import (
        minhash_lsh_pairs,
        near_dup_clusters,
        unpersist_intermediates,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=0.4)
    # near_dup_clusters' label loop is eager, so pairs' persisted
    # shingle/signature intermediates are no longer needed afterwards
    out = near_dup_clusters(docs, pairs)
    unpersist_intermediates(pairs)
    return out


def q_dedup_canonical(spark, sf_dir):
    """Keeper policy over near-dup clusters: keep-longest (most
    tokens, tie lowest id) — one window shuffle on cluster_id."""
    from quickwit_spark.pipeline.dedup import (
        canonical_docs,
        minhash_lsh_pairs,
        near_dup_clusters,
        unpersist_intermediates,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=0.4)
    clusters = near_dup_clusters(docs, pairs)
    unpersist_intermediates(pairs)
    return canonical_docs(docs, clusters)


def _incremental_sides(spark, sf_dir):
    """Deterministic corpus/batch split for the incremental-dedup
    gates: corpus = docs with id%10<7; the incoming batch = the rest
    PLUS re-id'd replays of every 17th corpus doc (guaranteed
    corpus-dup content, ids offset by 1e6 so they never collide)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.where("doc_id % 10 < 7")
    batch = docs.where("doc_id % 10 >= 7").unionByName(
        corpus.where("doc_id % 17 = 0").select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return corpus, batch


def _digest_index(spark, sf_dir, corpus):
    """The standing digest index over the corpus side, written once
    per sf_dir per process."""
    from quickwit_spark.pipeline.dedup import write_digest_index

    key = sf_dir + "#digest_idx"
    if key not in _IDX_CACHE:
        tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        d = os.path.join(tempfile.gettempdir(), f"qs_entry_digidx_{tag}_v1")
        write_digest_index(corpus, d)
        _IDX_CACHE[key] = d
    return _IDX_CACHE[key]


def q_dedup_exact_incremental(spark, sf_dir):
    """Incremental exact dedup: the batch is annotated against a
    STANDING digest index (one narrow row per distinct corpus digest)
    — per-increment cost scales with the increment, never the corpus.
    The batch is shuffled once (digest window + index probe join share
    the partitioning)."""
    from quickwit_spark.pipeline.dedup import exact_dedup_incremental

    corpus, batch = _incremental_sides(spark, sf_dir)
    return exact_dedup_incremental(
        spark, batch, _digest_index(spark, sf_dir, corpus)
    )


def q_corpus_curation_incremental(spark, sf_dir):
    """Composed incremental ingest gate — what a daily 100 TB-corpus
    increment actually runs: annotate vs the standing digest index,
    keep the non-dups, Gopher-gate them, assign train/val/test, and
    account per split. Increment-sized work end to end; the corpus
    appears only as the narrow digest index."""
    from quickwit_spark.pipeline.dedup import exact_dedup_incremental
    from quickwit_spark.pipeline.sampling import assign_split
    from quickwit_spark.pipeline.textstats import gopher_rules

    corpus, batch = _incremental_sides(spark, sf_dir)
    ann = exact_dedup_incremental(
        spark, batch, _digest_index(spark, sf_dir, corpus)
    )
    keepers = batch.join(
        ann.where(~F.col("is_dup")).select("doc_id"), "doc_id"
    )
    gated = gopher_rules(
        keepers, min_words=30, min_required_stopwords=1
    ).where("gopher_keep")
    assigned = assign_split(
        gated.select("doc_id", "n_words"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words_total"),
    )


def q_sample_frequency_cap(spark, sf_dir):
    """Per-domain frequency cap (RefinedWeb/C4 guard): at most 50 docs
    per source by deterministic md5 rank — one window shuffle."""
    from quickwit_spark.pipeline.sampling import frequency_cap

    return frequency_cap(
        _docs(spark, sf_dir).select("doc_id", "source"),
        group_col="source", max_per_group=50,
    )


def q_dedup_minhash_incremental(spark, sf_dir):
    """Incremental MinHash+LSH near-dup: candidate join is new-bands ×
    corpus-bands ONLY — no corpus self-pairs are ever generated, so a
    daily increment against a 100 TB corpus does increment-sized work.
    Same banding + exact-Jaccard verify as dedup_minhash_lsh."""
    from quickwit_spark.pipeline.dedup import minhash_lsh_incremental

    corpus, batch = _incremental_sides(spark, sf_dir)
    return minhash_lsh_incremental(batch, corpus, threshold=0.3)


def q_dedup_minhash_indexed(spark, sf_dir):
    """The PERSISTED-index form of dedup_minhash_incremental: the
    corpus band table + shingle sets are written once (cached per
    sf_dir) and the increment probes the stored datasets — identical
    pairs to the recompute path, so the same oracle verifies both."""
    from quickwit_spark.pipeline.dedup import (
        minhash_lsh_indexed,
        write_minhash_index,
    )

    corpus, batch = _incremental_sides(spark, sf_dir)
    key = sf_dir + "#minhash_idx"
    if key not in _IDX_CACHE:
        tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        d = os.path.join(tempfile.gettempdir(), f"qs_entry_mhidx_{tag}_v1")
        write_minhash_index(corpus, d)
        _IDX_CACHE[key] = d
    return minhash_lsh_indexed(spark, batch, _IDX_CACHE[key], threshold=0.3)


def _pages(spark, sf_dir):
    """Paragraph-structured fixture: 5 consecutive docs per page
    (bodies joined by newline, doc-id order) wrapped in a shared
    header/footer paragraph — the CCNet boilerplate shape."""
    docs = _docs(spark, sf_dir)
    body = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s.text,
        ),
        "\n",
    )
    return (
        docs.groupBy(F.expr("doc_id DIV 5").alias("page_id"))
        .agg(body.alias("body"))
        .select(
            "page_id",
            F.concat(
                F.lit("Common Header Paragraph\n"),
                F.col("body"),
                F.lit("\nCommon Footer Paragraph"),
            ).alias("text"),
        )
    )


def q_dedup_paragraph(spark, sf_dir):
    """CCNet paragraph-level dedup: repeated paragraphs (the shared
    header/footer here) are marked per-occurrence with the corpus-wide
    first kept — ONE digest-window shuffle, no join back."""
    from quickwit_spark.pipeline.dedup import paragraph_dedup

    out = paragraph_dedup(_pages(spark, sf_dir), id_col="page_id")
    return out.withColumn("para_idx", F.col("para_idx").cast("long"))


def q_dedup_paragraph_scrub(spark, sf_dir):
    """Paragraph scrub: rebuild each page keeping only corpus-wide
    first occurrences; verified via the md5 of the cleaned text."""
    from quickwit_spark.pipeline.dedup import remove_duplicate_paragraphs

    out = remove_duplicate_paragraphs(_pages(spark, sf_dir), id_col="page_id")
    return out.select(
        "page_id", "n_paras", "n_removed",
        F.md5("text_clean").alias("clean_md5"),
    )


def q_dedup_fraction(spark, sf_dir):
    """Per-doc duplicated-token fraction (the filter metric over
    duplicate_spans): spans are disjoint maximal islands so the sum is
    exact coverage; md5 gram hash for the DuckDB twin."""
    from quickwit_spark.pipeline.dedup import duplication_fraction

    return duplication_fraction(_docs(spark, sf_dir), min_len=8, hash="md5")


def q_sample_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment: md5-hash cut at
    cumulative ppm thresholds — zero shuffles, stable under corpus
    growth, bit-identical across engines."""
    from quickwit_spark.pipeline.sampling import assign_split

    return assign_split(
        _docs(spark, sf_dir).select("doc_id"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )


def q_dsir_logweights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed
    unigram+bigram log-ratio of a small target distribution (every
    97th doc — the decontaminate gate's eval set) vs the raw corpus.
    Each ln is quantized to integer micro-nats, so logweight_micro is
    exact integer arithmetic on both engines; the ratio table is
    bucket-bounded and broadcast — the only corpus-wide exchange is
    the per-doc groupBy."""
    from quickwit_spark.pipeline.sampling import dsir_logweights

    docs = _docs(spark, sf_dir)
    return dsir_logweights(docs, docs.where("doc_id % 97 = 0"))


def q_dsir_select(spark, sf_dir):
    """DSIR argmax selection: top-50 docs by exact integer importance
    weight (ties by id) — TakeOrdered, no global sort."""
    from quickwit_spark.pipeline.sampling import dsir_select

    docs = _docs(spark, sf_dir)
    return dsir_select(docs, docs.where("doc_id % 97 = 0"), k=50)


def q_gopher_rules(spark, sf_dir):
    """Gopher quality-rule battery (Rae et al. 2021): whitespace-word
    and line features + composite keep flag — pure narrow map, zero
    shuffles. min_words/stopword bounds relaxed to the fixture's word
    lengths so the flag actually splits the corpus."""
    from quickwit_spark.pipeline.textstats import gopher_rules

    return gopher_rules(
        _docs(spark, sf_dir), min_words=30, min_required_stopwords=1
    )


def q_c4_rules(spark, sf_dir):
    """C4 line/page filter battery (Raffel et al. 2020 §2.2) over a
    deterministically synthesized line structure: every 5th word of
    the flat fixture text becomes a '.'-terminated line (the remainder
    line keeps NO terminal punctuation, exercising the punct rule),
    plus per-doc-id variants — a javascript line (%5), a short line
    (%7), a page-level 'lorem ipsum' prefix (%17) and a curly brace
    (%13). Both engines build the identical synthetic text, so kept
    lines, sentence counts, and the keep flag match value-for-value."""
    from quickwit_spark.pipeline.textstats import c4_rules

    docs = _docs(spark, sf_dir)
    base = F.regexp_replace(
        F.col("text"), r"(([a-z0-9]+ ){4}[a-z0-9]+) ", "$1.\n"
    )
    synth = F.concat(
        F.when(
            F.col("doc_id") % 17 == 0,
            F.lit("lorem ipsum dolor sit amet consectetur.\n"),
        ).otherwise(F.lit("")),
        base,
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("\nplease enable javascript to view this page today."),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("\ntiny line.")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 13 == 0, F.lit(" {")).otherwise(F.lit("")),
    )
    return c4_rules(docs.select("doc_id", synth.alias("text")))


def q_quality_filter(spark, sf_dir):
    """CCNet-style corpus-relative quality gate: drop the bottom 10%
    of docs by unigram-LM score; threshold = exact type-7 quantile
    (Spark percentile == DuckDB quantile_cont over 6dp scores)."""
    from quickwit_spark.pipeline.sampling import quality_percentile_filter

    return quality_percentile_filter(_docs(spark, sf_dir), p=0.1)


def q_bpe_merges(spark, sf_dir):
    """Learn 6 BPE merges from the corpus (most frequent adjacent
    symbol pair per round, ties lexical, greedy left-to-right merge).
    The string-replace formulation is bit-exact cross-engine, so the
    oracle replays the rounds as CTEs and lands on the same table."""
    from quickwit_spark.pipeline.bpe import bpe_learn, merges_df
    from quickwit_spark.pipeline.dedup import unpersist_intermediates

    merges, reps = bpe_learn(_docs(spark, sf_dir), n_merges=6)
    unpersist_intermediates(reps)
    return merges_df(spark, merges)


def q_bpe_encode(spark, sf_dir):
    """Encode every doc with the 6 learned merges: per-doc subtoken
    count + md5 of the ordered subtoken stream."""
    from quickwit_spark.pipeline.bpe import bpe_encode, bpe_learn

    docs = _docs(spark, sf_dir)
    _, reps = bpe_learn(docs, n_merges=6)
    out = bpe_encode(docs, reps)
    out._qs_cached = getattr(reps, "_qs_cached", ())
    return out


def q_tfidf_keywords(spark, sf_dir):
    """Top-5 TF-IDF keywords per doc: smoothed idf quantized to
    integer micro-nats so the score — and therefore the top-k order —
    is exact integer arithmetic on both engines."""
    from quickwit_spark.pipeline.textstats import tfidf_keywords

    return tfidf_keywords(_docs(spark, sf_dir), k=5,
                          persist_intermediates=False)


def q_unigram_logprob(spark, sf_dir):
    """Corpus unigram-LM quality score (perplexity stand-in): mean
    ln p(token) per doc, each ln quantized to integer micro-nats so
    the per-doc sums are exact integers on both engines."""
    from quickwit_spark.pipeline.textstats import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir))


def q_bigram_logprob(spark, sf_dir):
    """Corpus bigram-LM quality score (the CCNet-perplexity-shaped
    upgrade of unigram_logprob): mean ln p(w_i | w_{i-1}) under the
    corpus's own ML conditional bigram distribution, each ln in exact
    integer micro-nats on both engines."""
    from quickwit_spark.pipeline.textstats import bigram_logprob

    return bigram_logprob(_docs(spark, sf_dir))


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020): label
    every doc by where its bigram-LM score falls vs the corpus
    tercile thresholds (exact type-7 quantiles; head = most fluent
    third). Unscoreable docs (< 2 tokens) get a NULL bucket."""
    from quickwit_spark.pipeline.textstats import ccnet_buckets

    return ccnet_buckets(_docs(spark, sf_dir))


def q_ccnet_buckets_by_lang(spark, sf_dir):
    """CCNet bucketing PER LANGUAGE (the paper's actual shape — cuts
    from each language's own score distribution): lang_id assigns the
    group, the tercile thresholds come from that group's quantiles,
    and the broadcast cut table is one row per language."""
    from quickwit_spark.pipeline.textstats import ccnet_buckets, lang_id

    docs = _docs(spark, sf_dir)
    # pred_lang, not lang — the documents table carries its own lang
    # column and the joined frame must not be ambiguous
    langs = lang_id(docs).select(
        "doc_id", F.col("lang_pred").alias("pred_lang")
    )
    return ccnet_buckets(docs.join(langs, "doc_id"), by_col="pred_lang")


def q_chunk_overlap(spark, sf_dir):
    """Sliding-window chunking (RAG layout): 64-token chunks every 48
    tokens; zero shuffles — tokenize/posexplode/slice narrow maps."""
    from quickwit_spark.pipeline.packing import chunk_text

    return chunk_text(_docs(spark, sf_dir), chunk_len=64, stride=48)


def q_sample_temperature(spark, sf_dir):
    """T=2 domain-mixing sampler over the skewed ``lang`` strata:
    keep rate sqrt(c_min/c_g) (sqrt is IEEE correctly-rounded — the
    rates are bit-identical cross-engine), md5-threshold keep/drop."""
    from quickwit_spark.pipeline.sampling import temperature_sample

    return temperature_sample(
        _docs(spark, sf_dir), strata_col="lang", seed="tmp1"
    ).select("doc_id", "lang")


def q_shuffle_rows(spark, sf_dir):
    """Deterministic global corpus shuffle: (shard, pos) layout from
    the cross-engine md5 hash — the write-time training order. One
    hash-partition shuffle; the permutation is never on one node."""
    from quickwit_spark.pipeline.sampling import shuffle_rows

    return shuffle_rows(
        _docs(spark, sf_dir), seed="ep1", n_shards=8
    ).select("doc_id", "shuffle_shard", "shuffle_pos")


def q_ann_cosine_topk(spark, sf_dir):
    from quickwit_spark.pipeline.similarity import cosine_topk

    embs = _embs(spark, sf_dir)
    return cosine_topk(embs, embs.where(F.col("vec_id") < 5), k=10)


def q_ann_lsh_topk(spark, sf_dir):
    from quickwit_spark.pipeline.similarity import lsh_ann_topk

    embs = _embs(spark, sf_dir)
    return lsh_ann_topk(embs, embs.where(F.col("vec_id") < 5), k=10, n_planes=4)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN: deterministic md5-sampled centroids (no k-means, no
    RNG), per-row argmax cell assignment over the broadcast centroid
    array, queries probe their 2 nearest of 8 cells."""
    from quickwit_spark.pipeline.similarity import ivf_ann_topk

    embs = _embs(spark, sf_dir)
    return ivf_ann_topk(
        embs, embs.where(F.col("vec_id") < 5), k=10, n_centroids=8, n_probe=2
    )


def q_embedding_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding column (4x at-rest
    reduction): per-vector floor-of-shifted quantize, digest of the
    integer array (engine-portable) + the dequant scale."""
    from quickwit_spark.pipeline.similarity import quantize_embeddings

    return quantize_embeddings(_embs(spark, sf_dir)).select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale"),
        F.md5(
            F.expr("array_join(transform(qvec, x -> cast(x as string)), ',')")
        ).alias("q_md5"),
    )


def q_ann_quantized_topk(spark, sf_dir):
    """Brute-force cosine top-k over int8-quantized vectors: exact
    BIGINT dot products (scales cancel out of cosine), same broadcast
    + window top-k shape as the float op."""
    from quickwit_spark.pipeline.similarity import quantized_cosine_topk

    embs = _embs(spark, sf_dir)
    return quantized_cosine_topk(embs, embs.where(F.col("vec_id") < 5), k=10)


def q_kmeans_clusters(spark, sf_dir):
    """Quantized k-means (k=8, 2 Lloyd rounds): integer-lattice
    centroids + exact BIGINT distances make every round bit-identical
    across engines — the oracle replays the same iterations as CTEs
    and lands on the same assignment with no tolerance window."""
    from quickwit_spark.pipeline.clustering import kmeans_assign

    return kmeans_assign(
        _embs(spark, sf_dir), k=8, n_iter=2, persist_intermediates=False
    )


def q_cluster_balanced(spark, sf_dir):
    """DataComp-style cluster-balanced subsample: cap each k-means
    cluster at 20 rows via the cross-engine md5 rank (deterministic
    uniform within-cluster draw)."""
    from quickwit_spark.pipeline.clustering import cluster_balanced_sample

    return cluster_balanced_sample(_embs(spark, sf_dir), quota=20, k=8, n_iter=2)


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup: Voronoi cells over deterministic md5-sampled
    centroids, within-cell cosine prune (keep-lowest-id canonical).
    One row per embedding; the only pairwise work is within-cell."""
    from quickwit_spark.pipeline.dedup import semantic_dedup

    return semantic_dedup(
        _embs(spark, sf_dir), threshold=0.3, n_centroids=8, seed="sd1"
    )


def q_events_windowed(spark, sf_dir):
    from quickwit_spark.pipeline.events import windowed_event_counts

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return windowed_event_counts(ev, "1 hour").select(
        F.col("window_start").cast("timestamp_ltz").cast("long").alias("window_start_s"),
        "event_type", "n_events", "value_sum", "value_avg",
    )


def q_events_sessionize(spark, sf_dir):
    from quickwit_spark.pipeline.events import sessionize

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return sessionize(ev, gap_minutes=30).select(
        "user_id", "session_idx", "n_events",
        F.col("session_start").cast("timestamp_ltz").cast("long").alias("session_start_s"),
        F.col("session_end").cast("timestamp_ltz").cast("long").alias("session_end_s"),
        "value_sum",
    )


def q_sessionize_stream_replay(spark, sf_dir):
    """Deterministic batch replay of the stateful streaming
    sessionizer's append-mode emission (applyInPandasWithState with a
    gap timeout): sessions closed by an observed gap plus sessions
    timeout-expired at the input's max event time. Attests the state
    logic in the driver gate, where a running stream can't."""
    from quickwit_spark.pipeline.events import sessionize_closed

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return sessionize_closed(ev, gap_minutes=30, expire_at_max_ts=True)


def q_dedup_stream_replay(spark, sf_dir):
    """Deterministic batch replay of exact_dedup_stream's
    first-seen-wins digest state over 4 micro-batches: the corpus plus
    replayed copies (doc_id%5==2 re-arrives as id+1000000 in batch
    (doc_id+3)%4), survivor = min (batch, id) arrival — a later-id
    copy in an earlier batch beats the smaller id, unlike batch
    exact_dedup's min-id keeper."""
    from quickwit_spark.pipeline.dedup import exact_dedup_stream_replay

    base = _docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 4).alias("batch_id"), "text"
    )
    replay = _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 2).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        ((F.col("doc_id") + 3) % 4).alias("batch_id"),
        "text",
    )
    return exact_dedup_stream_replay(base.unionByName(replay))


def q_transcript_packing(spark, sf_dir):
    """Conversation-aware packing: whole conversations rendered first
    (turn order, role headers), THEN concat-and-chunk packed — a
    conversation never interleaves with another inside the token
    stream; the packer sees conv-level rows."""
    from quickwit_spark.pipeline.packing import pack_sequences
    from quickwit_spark.pipeline.transcripts import render_conversations

    r = render_conversations(_turns_df(spark, sf_dir))
    return pack_sequences(
        r, seq_len=64, n_shards=4,
        id_col="conv_id", text_col="rendered", seed="cpack",
    )


def q_retrieval_metrics(spark, sf_dir):
    """Self-retrieval evaluation: every 10th document queries the index
    with its own first 3 tokens; gold = the document itself. Emits the
    per-query gold rank inside the BM25 top-10 + reciprocal rank (the
    MRR@10 / recall@10 components). The 50-row query fixture is
    collected to a local relation (driver-side metadata, not data);
    the OP takes any (hits, gold) pair at any scale."""
    from quickwit_spark.operators.batch_search import batch_bm25_topk
    from quickwit_spark.pipeline.mining import retrieval_metrics

    idx = _docs_index(spark, sf_dir)
    toks40 = (
        "filter(regexp_extract_all(lower(text), '[0-9a-z]+', 0),"
        " t -> length(t) <= 40)"
    )
    qpdf = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 10 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(F.expr(toks40), 1, 3), " ").alias("query"),
        )
        .toPandas()
    )
    qdf = spark.createDataFrame(qpdf)
    hits = batch_bm25_topk(spark, idx, qdf, k=25, fetch_cols=("doc_id",))
    gold = qdf.select("query_id", F.col("query_id").alias("doc_id"))
    return retrieval_metrics(hits, gold, k=10)


def q_events_asof(spark, sf_dir):
    """As-of enrichment: for each probe (derived deterministically from
    documents), the latest event of the same user at-or-before the
    probe instant — union-and-carry-forward plan, ONE key shuffle, no
    range join (plan-asserted in tests/test_event_joins.py)."""
    from quickwit_spark.pipeline.events import asof_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    probes = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("probe_id"),
        (F.col("doc_id") % 150).cast("int").alias("user_id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0,0,0,0,0,doc_id*37,0)"
        ).alias("ts"),
    )
    return asof_join(probes, ev).select(
        "probe_id", "user_id", "asof_event_id", "asof_event_type",
        "asof_ts_us",
    )


def q_events_interval(spark, sf_dir):
    """Range (interval-containment) join, bucketized to an equi-join:
    per-interval event count + value sum over 45-minute intervals
    derived from documents. Intervals with zero events drop (inner
    semantics) — both engines agree."""
    from quickwit_spark.pipeline.events import interval_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    iv = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("interval_id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0,0,0,0,0,doc_id*80,0)"
        ).alias("start_ts"),
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0,0,0,0,0,doc_id*80+45,0)"
        ).alias("end_ts"),
    )
    return interval_join(iv, ev, bucket_minutes=60).groupBy(
        "interval_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


def q_media_metadata(spark, sf_dir):
    from quickwit_spark.pipeline.multimodal import (
        attach_fake_payload,
        extract_media_metadata,
    )
    from quickwit_spark.pipeline.textstats import ensure_parallelism

    return extract_media_metadata(
        attach_fake_payload(ensure_parallelism(_docs(spark, sf_dir))),
        fake=True,
    )


def q_frame_sample(spark, sf_dir):
    from quickwit_spark.pipeline.multimodal import (
        attach_fake_payload,
        extract_media_metadata,
        frame_sample,
    )

    meta = extract_media_metadata(
        attach_fake_payload(_docs(spark, sf_dir)), fake=True
    )
    return frame_sample(meta, every_n=8)


# ---------------------------------------------------------------------------
# transcript curation ops (pipeline/transcripts.py) over a turns table
# derived deterministically from `documents` — the (conv_id, turn_idx,
# role, text, tool, ts) shape the engine indexes; both engines derive
# it with the same integer arithmetic so the fixtures are identical
# ---------------------------------------------------------------------------


def _turns_df(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        F.concat(
            F.lit("c"), F.lpad((F.col("doc_id") % 97).cast("string"), 3, "0")
        ).alias("conv_id"),
        F.expr("CAST(doc_id DIV 97 AS INT)").alias("turn_idx"),
        F.expr(
            "CASE WHEN (doc_id DIV 97) % 2 = 0 THEN 'user' ELSE 'assistant' END"
        ).alias("role"),
        F.col("text"),
        F.expr(
            "CASE WHEN (doc_id DIV 97) % 2 = 1 AND doc_id % 5 = 0"
            " THEN 'search' END"
        ).alias("tool"),
        F.expr(
            "timestamp'2025-01-01 00:00:00' + make_interval(0,0,0,0,0,doc_id,0)"
        ).alias("ts"),
    )


def q_transcript_render(spark, sf_dir):
    """Chat-template rendering: one training string per conversation,
    '<|role|>'/'<|role:tool|>' headers, turn order respected."""
    from quickwit_spark.pipeline.transcripts import render_conversations

    return render_conversations(_turns_df(spark, sf_dir))


def q_transcript_loss_spans(spark, sf_dir):
    """Train-on-assistant loss masking: the [tok_start, tok_end) token
    span of every assistant turn in its conversation's token stream."""
    from quickwit_spark.pipeline.transcripts import assistant_spans

    return assistant_spans(_turns_df(spark, sf_dir))


def q_transcript_truncate(spark, sf_dir):
    """Context-length gate: maximal turn prefix per conversation with
    total tokens <= 64 (never splits a turn)."""
    from quickwit_spark.pipeline.transcripts import truncate_to_budget

    return truncate_to_budget(_turns_df(spark, sf_dir), max_tokens=64).select(
        "conv_id", "turn_idx", "n_tok", "tok_end"
    )


def q_transcript_stats(spark, sf_dir):
    """Per-conversation curation stats: role/tool turn counts, token
    totals, mean assistant-turn tokens, wall-clock span."""
    from quickwit_spark.pipeline.transcripts import conversation_stats

    return conversation_stats(_turns_df(spark, sf_dir))


def q_transcript_dedup(spark, sf_dir):
    """Conversation-LEVEL exact dedup over a corpus with 8 replayed
    conversations (conv_id 'rNNN' byte-identical to 'cNNN'): each conv
    maps to its canonical survivor + dup-group size."""
    from quickwit_spark.pipeline.transcripts import dedup_conversations

    base = _turns_df(spark, sf_dir)
    replay = base.filter(
        F.expr("CAST(substring(conv_id, 2, 3) AS INT) < 8")
    ).withColumn("conv_id", F.concat(F.lit("r"), F.substring("conv_id", 2, 3)))
    return dedup_conversations(base.unionByName(replay))


def q_transcript_context(spark, sf_dir):
    """Sliding SFT samples: for each assistant turn, the rendered
    context of the previous 2 turns + the turn itself."""
    from quickwit_spark.pipeline.transcripts import context_windows

    return context_windows(_turns_df(spark, sf_dir), k_prev=2)


def _turns_curation_df(spark, sf_dir):
    """Turns table with planted curation hazards, deterministic in
    doc_id (c = doc_id % 97, t = doc_id DIV 97): shared system
    preambles (template c%7, prefix length 2+(c%3) turns, tool forced
    NULL inside the preamble), a stuck-agent loop (c%13==5, odd turns
    3..9 repeat one assistant message), whitespace-only turns
    (c%11==3, turn 2), a role repeat (c%11==7, turn 3 forced 'user'),
    a timestamp regression (c%11==9, turn 2 set 300 minutes early),
    and a MISSING timestamp (c%11==1, turn 1 ts NULL — the lint
    n_null_ts hazard: invisible to the regression comparison, counted
    explicitly). CASE order (empty, loop, preamble) is load-bearing
    and mirrored verbatim in the oracle's turns2 CTE."""
    return _docs(spark, sf_dir).select(
        F.expr("'c' || lpad(CAST(doc_id % 97 AS STRING), 3, '0')").alias(
            "conv_id"
        ),
        F.expr("CAST(doc_id DIV 97 AS INT)").alias("turn_idx"),
        F.expr(
            "CASE WHEN doc_id % 97 % 11 = 7 AND doc_id DIV 97 = 3 THEN 'user'"
            " WHEN (doc_id DIV 97) % 2 = 0 THEN 'user'"
            " ELSE 'assistant' END"
        ).alias("role"),
        F.expr(
            "CASE"
            " WHEN doc_id % 97 % 11 = 3 AND doc_id DIV 97 = 2 THEN '  '"
            " WHEN doc_id % 97 % 13 = 5 AND (doc_id DIV 97) % 2 = 1"
            "  AND doc_id DIV 97 BETWEEN 3 AND 9"
            "  THEN 'retrying the tool call'"
            " WHEN doc_id DIV 97 < 2 + doc_id % 97 % 3"
            "  THEN 'SYS preamble v' || CAST(doc_id % 97 % 7 AS STRING)"
            "    || ' turn ' || CAST(doc_id DIV 97 AS STRING)"
            " ELSE text END"
        ).alias("text"),
        F.expr(
            "CASE WHEN doc_id DIV 97 < 2 + doc_id % 97 % 3 THEN NULL"
            " WHEN (doc_id DIV 97) % 2 = 1 AND doc_id % 5 = 0"
            " THEN 'search' END"
        ).alias("tool"),
        F.expr(
            "CASE WHEN doc_id % 97 % 11 = 1 AND doc_id DIV 97 = 1 THEN NULL"
            " ELSE timestamp'2025-01-01 00:00:00' + make_interval(0,0,0,0,0,"
            "CASE WHEN doc_id % 97 % 11 = 9 AND doc_id DIV 97 = 2"
            " THEN doc_id - 300 ELSE doc_id END,0) END"
        ).alias("ts"),
    )


def q_transcript_prefix_share(spark, sf_dir):
    """Shared-prefix families: per conversation, the deepest rendered
    turn prefix shared byte-identically with another conversation
    (retried-rollout / templated-spam detection) + how many share it."""
    from quickwit_spark.pipeline.transcripts import shared_prefix_depth

    return shared_prefix_depth(_turns_curation_df(spark, sf_dir))


def q_transcript_loops(spark, sf_dir):
    """Stuck-agent loop detection: longest run of consecutive
    byte-identical assistant turns per conversation, plus the count of
    runs >= 2 and the turns they cover."""
    from quickwit_spark.pipeline.transcripts import turn_loops

    return turn_loops(_turns_curation_df(spark, sf_dir))


def q_transcript_lint(spark, sf_dir):
    """Structural chat-data validation per conversation: empty turns,
    adjacent same-role turns, timestamp regressions, opening role."""
    from quickwit_spark.pipeline.transcripts import transcript_lint

    return transcript_lint(_turns_curation_df(spark, sf_dir))


def q_transcript_divergence(spark, sf_dir):
    """DPO-shaped preference pairs at rollout branch points: each pair
    of conversations sharing a maximal rendered prefix, with both
    first divergent turns; deterministic per-branch/per-family caps."""
    from quickwit_spark.pipeline.transcripts import divergence_pairs

    return divergence_pairs(_turns_curation_df(spark, sf_dir))


def q_transcript_curation(spark, sf_dir):
    """Composed agent-data gate over the hazard corpus + 8 replayed
    conversations: lint -> stuck-loop -> exact-duplicate ->
    prefix-family stages, one verdict row per conversation, later
    stages computed over earlier survivors."""
    from quickwit_spark.pipeline.transcripts import curate_transcripts

    base = _turns_curation_df(spark, sf_dir)
    replay = base.filter(
        F.expr("CAST(substring(conv_id, 2, 3) AS INT) < 8")
    ).withColumn("conv_id", F.concat(F.lit("r"), F.substring("conv_id", 2, 3)))
    # loop_run_limit=2: the planted loop runs span assistant turns 3/5
    # (length 2 at the testdata conversation lengths)
    return curate_transcripts(
        base.unionByName(replay),
        loop_run_limit=2,
        family_depth=2,
        per_family=2,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-gate registry. ORDER IS LOAD-BEARING: the driver's
    per-round CORRECTNESS artifact covers only the FIRST 50 keys in
    dict insertion order, so the window rotates each round onto the
    least-recently-driver-attested entries (VERDICT r4 finding #1).

    Rotation policy:
    * positions 1-3: core sentinels (bm25_topk, bm25_phrase,
      agg_terms_stats) — the index-build/search/agg spine stays in
      every round's window;
    * positions 4-10: the 7 VARIANTS never attested through r5
      (substring/paragraph-scrub/spans/by-lang/select flavors of
      attested base ops) — first-time attestations;
    * positions 11-50: the r5 window (attested in r5) in its r5 order,
      minus its last 7 entries;
    * positions 51-57: those 7 (transcript_dedup … transcript_curation,
      attested in r5), displaced by the variants; then previously
      attested entries ordered by last-attested round ascending.

    Every entry stays verified every round regardless of position via
    tests/test_entry.py (the full local replica of the driver gate).
    """
    return {
        "bm25_topk": q_bm25_topk,
        "bm25_phrase": q_bm25_phrase,
        "agg_terms_stats": q_agg_terms_stats,
        "corpus_curation_spans": q_corpus_curation_spans,
        "dedup_substring_keepfirst": q_dedup_substring_keepfirst,
        "dedup_substring_scrub": q_dedup_substring_scrub,
        "decontaminate_spans": q_decontaminate_spans,
        "dedup_paragraph_scrub": q_dedup_paragraph_scrub,
        "ccnet_buckets_by_lang": q_ccnet_buckets_by_lang,
        "dsir_select": q_dsir_select,
        "sessionize_stream_replay": q_sessionize_stream_replay,
        "dedup_stream_replay": q_dedup_stream_replay,
        "corpus_curation": q_corpus_curation,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "semantic_decontaminate": q_semantic_decontaminate,
        "dedup_substring_spans": q_dedup_substring_spans,
        "dedup_canonical": q_dedup_canonical,
        "dedup_exact_incremental": q_dedup_exact_incremental,
        "dedup_minhash_incremental": q_dedup_minhash_incremental,
        "dedup_paragraph": q_dedup_paragraph,
        "dedup_fraction": q_dedup_fraction,
        "sample_split_assign": q_sample_split_assign,
        "dedup_minhash_indexed": q_dedup_minhash_indexed,
        "dsir_logweights": q_dsir_logweights,
        "corpus_curation_incremental": q_corpus_curation_incremental,
        "sample_frequency_cap": q_sample_frequency_cap,
        "unigram_logprob": q_unigram_logprob,
        "bigram_logprob": q_bigram_logprob,
        "ccnet_buckets": q_ccnet_buckets,
        "tfidf_keywords": q_tfidf_keywords,
        "bpe_merges": q_bpe_merges,
        "bpe_encode": q_bpe_encode,
        "quality_filter": q_quality_filter,
        "chunk_overlap": q_chunk_overlap,
        "sample_temperature": q_sample_temperature,
        "shuffle_rows": q_shuffle_rows,
        "ann_ivf_topk": q_ann_ivf_topk,
        "dedup_semantic": q_dedup_semantic,
        "embedding_quantize": q_embedding_quantize,
        "ann_quantized_topk": q_ann_quantized_topk,
        "kmeans_clusters": q_kmeans_clusters,
        "cluster_balanced": q_cluster_balanced,
        "events_asof": q_events_asof,
        "events_interval": q_events_interval,
        "retrieval_metrics": q_retrieval_metrics,
        "transcript_packing": q_transcript_packing,
        "transcript_render": q_transcript_render,
        "transcript_loss_spans": q_transcript_loss_spans,
        "transcript_truncate": q_transcript_truncate,
        "transcript_stats": q_transcript_stats,
        "transcript_dedup": q_transcript_dedup,
        "transcript_context": q_transcript_context,
        "transcript_prefix_share": q_transcript_prefix_share,
        "transcript_loops": q_transcript_loops,
        "transcript_lint": q_transcript_lint,
        "transcript_divergence": q_transcript_divergence,
        "transcript_curation": q_transcript_curation,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "dedup_clusters": q_dedup_clusters,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "media_metadata": q_media_metadata,
        "frame_sample": q_frame_sample,
        "events_windowed": q_events_windowed,
        "events_sessionize": q_events_sessionize,
        "bm25_boolean": q_bm25_boolean,
        "bm25_disjunction": q_bm25_disjunction,
        "bm25_must_not": q_bm25_must_not,
        "bm25_nested_bool": q_bm25_nested_bool,
        "bm25_neg_phrase": q_bm25_neg_phrase,
        "bm25_offset": q_bm25_offset,
        "bm25_multifield": q_bm25_multifield,
        "bm25_json_path": q_bm25_json_path,
        "bm25_after_merge": q_bm25_after_merge,
        "bm25_after_demux": q_bm25_after_demux,
        "bm25_stemmed": q_bm25_stemmed,
        "bm25_boosted": q_bm25_boosted,
        "bm25_scoped_group": q_bm25_scoped_group,
        "bm25_batch_topk": q_bm25_batch_topk,
        "hard_negatives": q_hard_negatives,
        "hybrid_rrf_topk": q_hybrid_rrf_topk,
        "demux_tenant_counts": q_demux_tenant_counts,
        "docmapper_typed": q_docmapper_typed,
        "search_num_hits": q_search_num_hits,
        "search_sort_fastfield": q_search_sort_fastfield,
        "search_tag_filter": q_search_tag_filter,
        "search_time_range": q_search_time_range,
        "search_stream_fastfield": q_search_stream_fastfield,
        "agg_terms_source": q_agg_terms_source,
        "agg_stats_nchars": q_agg_stats_nchars,
        "agg_histogram_nchars": q_agg_histogram_nchars,
        "agg_range_nchars": q_agg_range_nchars,
        "agg_histogram_dense": q_agg_histogram_dense,
        "agg_histogram_subagg_stats": q_agg_histogram_subagg_stats,
        "agg_range_subagg_avg": q_agg_range_subagg_avg,
        "agg_terms_order_key": q_agg_terms_order_key,
        "agg_terms_subagg_avg": q_agg_terms_subagg_avg,
        "token_count": q_token_count,
        "quality_score": q_quality_score,
        "gopher_rules": q_gopher_rules,
        "c4_rules": q_c4_rules,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "repetition_stats": q_repetition_stats,
        "pii_scrub": q_pii_scrub,
        "url_extract": q_url_extract,
        "normalize_text": q_normalize_text,
        "decontaminate": q_decontaminate,
        "sample_stratified": q_sample_stratified,
        "sequence_packing": q_sequence_packing,
        "sequence_packing_materialized": q_sequence_packing_materialized,
        "dedup_exact": q_dedup_exact,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-k over an index built from sf0.001 docs."""
    return q_bm25_topk(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

# BM25 scaffolding: token table, doc lengths, corpus stats
_BM25_WITH = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS40}) AS term
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT count(*) FROM toks) * 1.0 / (SELECT count(*) FROM documents) AS avgdl
)
"""


def _bm25_term_cte(term: str, alias: str) -> str:
    """Per-term scored CTE: (doc_id, s) BM25 partial for one term."""
    return f"""
{alias}_tf AS (
  SELECT doc_id, count(*) AS tf FROM toks WHERE term = '{term}' GROUP BY doc_id
),
{alias} AS (
  SELECT t.doc_id,
         ln(1 + ((SELECT n FROM stats) - (SELECT count(*) FROM {alias}_tf) + 0.5)
                / ((SELECT count(*) FROM {alias}_tf) + 0.5))
         * (t.tf * ({K1} + 1)) / (t.tf + {K1} * (1 - {B} + {B} * dl.dl / (SELECT avgdl FROM stats))) AS s
  FROM {alias}_tf t JOIN dl ON t.doc_id = dl.doc_id
)
"""


def _bm25_single(term: str, k: int = 20) -> str:
    return (
        _BM25_WITH + "," + _bm25_term_cte(term, "t1")
        + f"""
SELECT doc_id, round(s, 4) AS score FROM t1
ORDER BY s DESC, doc_id ASC LIMIT {k}
"""
    )


def oracle_sql() -> dict[str, str]:
    h15 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
    shingles = (
        f"list_distinct(list_transform(generate_series(1, greatest(len({TOKS}) - 2, 1)),"
        f" i -> array_to_string(({TOKS})[i:i+2], ' ')))"
    )
    en = ", ".join(f"'{w}'" for w in ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"))
    de = ", ".join(f"'{w}'" for w in ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "zu", "auf"))
    fr = ", ".join(f"'{w}'" for w in ("le", "la", "les", "et", "est", "un", "une", "pas", "pour", "dans"))

    dot = (
        "list_sum(list_transform(generate_series(1, len(a.embedding)),"
        " i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))"
    )
    self_dot = (
        "list_sum(list_transform(generate_series(1, len(embedding)),"
        " i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))"
    )

    def lsh_bucket_expr(n_planes: int, seed: int = 42) -> str:
        parts = []
        for p in range(n_planes):
            comp_sign = h15.format(x=f"concat('{seed}:', '{p}', ':', cast(i - 1 as string))")
            proj = (
                f"list_sum(list_transform(generate_series(1, len(embedding)),"
                f" i -> embedding[i]::DOUBLE * ({comp_sign} % 2 * 2 - 1)))"
            )
            parts.append(f"CASE WHEN {proj} > 0 THEN '1' ELSE '0' END")
        return "concat(" + ", ".join(parts) + ")"

    sql: dict[str, str] = {}

    sql["bm25_topk"] = _bm25_single("vector")
    # merge invariance: the fully-merged index answers identically
    sql["bm25_after_merge"] = _bm25_single("vector")
    # demux invariance: per-tenant re-shuffle leaves global stats,
    # scores, and ranks unchanged
    sql["bm25_after_demux"] = _bm25_single("vector")
    # every doc lands in exactly one tenant bin after demux
    sql["demux_tenant_counts"] = """
SELECT source, count(*) AS n_docs FROM documents
GROUP BY source ORDER BY source
"""
    # en_stem: query 'merging' and indexed 'merge' share the Porter stem
    # 'merg'; 'merge' is the only corpus token in that stem class, and
    # the stemmed field's doc lengths equal the text field's (the
    # stemmer maps token -> token), so first-principles BM25 on the
    # surface form 'merge' is the exact oracle
    sql["bm25_stemmed"] = _bm25_single("merge")

    sql["docmapper_typed"] = """
SELECT doc_id, lang,
       octet_length(encode(substr(text, 1, 16)))::BIGINT AS payload_len,
       source AS vendor,
       round(n_chars * 1.0, 1) AS rating,
       1735689600::BIGINT AS created_s
FROM documents
"""

    sql["bm25_boolean"] = (
        _BM25_WITH + ","
        + _bm25_term_cte("merge", "t1") + ","
        + _bm25_term_cte("stream", "t2")
        + """
SELECT t1.doc_id, round(t1.s + t2.s, 4) AS score
FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id
ORDER BY t1.s + t2.s DESC, t1.doc_id ASC LIMIT 20
"""
    )

    sql["bm25_disjunction"] = (
        _BM25_WITH + ","
        + _bm25_term_cte("vector", "t1") + ","
        + _bm25_term_cte("hash", "t2")
        + """
, u AS (
  SELECT coalesce(t1.doc_id, t2.doc_id) AS doc_id,
         coalesce(t1.s, 0) + coalesce(t2.s, 0) AS s
  FROM t1 FULL OUTER JOIN t2 ON t1.doc_id = t2.doc_id
)
SELECT doc_id, round(s, 4) AS score FROM u
ORDER BY s DESC, doc_id ASC LIMIT 20
"""
    )

    # vector^2 OR hash — the boost multiplies the boosted clause's
    # BM25 partial BEFORE the should-sum (Lucene/tantivy Boost)
    sql["bm25_boosted"] = (
        _BM25_WITH + ","
        + _bm25_term_cte("vector", "t1") + ","
        + _bm25_term_cte("hash", "t2")
        + """
, u AS (
  SELECT coalesce(t1.doc_id, t2.doc_id) AS doc_id,
         coalesce(t1.s * 2, 0) + coalesce(t2.s, 0) AS s
  FROM t1 FULL OUTER JOIN t2 ON t1.doc_id = t2.doc_id
)
SELECT doc_id, round(s, 4) AS score FROM u
ORDER BY s DESC, doc_id ASC LIMIT 20
"""
    )

    sql["bm25_must_not"] = (
        _BM25_WITH + ","
        + _bm25_term_cte("vector", "t1") + ","
        + _bm25_term_cte("merge", "t2")
        + """
SELECT t1.doc_id, round(t1.s, 4) AS score
FROM t1 WHERE t1.doc_id NOT IN (SELECT doc_id FROM t2)
ORDER BY t1.s DESC, t1.doc_id ASC LIMIT 20
"""
    )

    # ((vector OR hash) AND merge) OR stream — sum-of-matching-members
    # scoring with the engine's association: (v + h) inside the group,
    # + merge inside the conj, + stream at the top disjunction
    sql["bm25_nested_bool"] = (
        _BM25_WITH + ","
        + _bm25_term_cte("vector", "t1") + ","
        + _bm25_term_cte("hash", "t2") + ","
        + _bm25_term_cte("merge", "t3") + ","
        + _bm25_term_cte("stream", "t4")
        + """
, u12 AS (
  SELECT coalesce(t1.doc_id, t2.doc_id) AS doc_id,
         coalesce(t1.s, 0) + coalesce(t2.s, 0) AS s
  FROM t1 FULL OUTER JOIN t2 ON t1.doc_id = t2.doc_id
),
c AS (
  SELECT u12.doc_id, u12.s + t3.s AS s
  FROM u12 JOIN t3 ON u12.doc_id = t3.doc_id
),
u AS (
  SELECT coalesce(c.doc_id, t4.doc_id) AS doc_id,
         coalesce(c.s, 0) + coalesce(t4.s, 0) AS s
  FROM c FULL OUTER JOIN t4 ON c.doc_id = t4.doc_id
)
SELECT doc_id, round(s, 4) AS score FROM u
ORDER BY s DESC, doc_id ASC LIMIT 20
"""
    )

    # vector -"table value": term scoring minus docs containing the
    # adjacent pair (the negation contributes no score)
    sql["bm25_neg_phrase"] = (
        f"""
WITH lsts AS (SELECT doc_id, {TOKS40} AS lst FROM documents),
toks AS (SELECT doc_id, unnest(lst) AS term FROM lsts),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT count(*) FROM toks) * 1.0 / (SELECT count(*) FROM documents) AS avgdl
),"""
        + _bm25_term_cte("vector", "t1")
        + """
, ph AS (
  SELECT doc_id FROM lsts
  WHERE list_sum(list_transform(generate_series(1, len(lst) - 1),
    i -> CASE WHEN lst[i] = 'table' AND lst[i+1] = 'value' THEN 1 ELSE 0 END)) > 0
)
SELECT t1.doc_id, round(t1.s, 4) AS score
FROM t1 WHERE t1.doc_id NOT IN (SELECT doc_id FROM ph)
ORDER BY t1.s DESC, t1.doc_id ASC LIMIT 20
"""
    )

    # phrase "table value": tf = adjacent-pair count; idf = sum of both
    # terms' idfs (Lucene-style phrase scoring, slop 0)
    sql["bm25_phrase"] = f"""
WITH lsts AS (SELECT doc_id, {TOKS40} AS lst FROM documents),
toks AS (SELECT doc_id, unnest(lst) AS term FROM lsts),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT count(*) FROM toks) * 1.0 / (SELECT count(*) FROM documents) AS avgdl
),
df1 AS (SELECT count(DISTINCT doc_id) AS df FROM toks WHERE term = 'table'),
df2 AS (SELECT count(DISTINCT doc_id) AS df FROM toks WHERE term = 'value'),
pf AS (
  SELECT doc_id, list_sum(list_transform(generate_series(1, len(lst) - 1),
    i -> CASE WHEN lst[i] = 'table' AND lst[i+1] = 'value' THEN 1 ELSE 0 END)) AS tf
  FROM lsts
),
scored AS (
  SELECT pf.doc_id,
    (ln(1 + ((SELECT n FROM stats) - (SELECT df FROM df1) + 0.5) / ((SELECT df FROM df1) + 0.5))
     + ln(1 + ((SELECT n FROM stats) - (SELECT df FROM df2) + 0.5) / ((SELECT df FROM df2) + 0.5)))
    * (pf.tf * ({K1} + 1)) / (pf.tf + {K1} * (1 - {B} + {B} * dl.dl / (SELECT avgdl FROM stats))) AS s
  FROM pf JOIN dl ON pf.doc_id = dl.doc_id WHERE pf.tf > 0
)
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY s DESC, doc_id ASC LIMIT 20
"""

    sql["bm25_offset"] = (
        _BM25_WITH + "," + _bm25_term_cte("vector", "t1")
        + """
SELECT doc_id, round(s, 4) AS score FROM t1
ORDER BY s DESC, doc_id ASC LIMIT 10 OFFSET 5
"""
    )

    # "en AND vector" over search fields (text, lang): each unqualified
    # term expands to Should(text-term, lang-term); lang is a raw field
    # (tf=1, doc len = text doc len)
    sql["bm25_multifield"] = (
        _BM25_WITH + ","
        + _bm25_term_cte("en", "ten") + ","
        + _bm25_term_cte("vector", "tvec")
        + f"""
, len_df AS (SELECT count(*) AS df FROM documents WHERE lang = 'en'),
len_s AS (
  SELECT d.doc_id,
    ln(1 + ((SELECT n FROM stats) - (SELECT df FROM len_df) + 0.5)
           / ((SELECT df FROM len_df) + 0.5))
    * (1 * ({K1} + 1)) / (1 + {K1} * (1 - {B} + {B} * dl.dl / (SELECT avgdl FROM stats))) AS s
  FROM documents d JOIN dl ON d.doc_id = dl.doc_id
  WHERE d.lang = 'en'
),
lvec_df AS (SELECT count(*) AS df FROM documents WHERE lang = 'vector'),
lvec_s AS (
  SELECT d.doc_id,
    ln(1 + ((SELECT n FROM stats) - (SELECT df FROM lvec_df) + 0.5)
           / ((SELECT df FROM lvec_df) + 0.5))
    * (1 * ({K1} + 1)) / (1 + {K1} * (1 - {B} + {B} * dl.dl / (SELECT avgdl FROM stats))) AS s
  FROM documents d JOIN dl ON d.doc_id = dl.doc_id
  WHERE d.lang = 'vector'
),
u1 AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(a.s, 0) + coalesce(b.s, 0) AS s
  FROM ten a FULL OUTER JOIN len_s b ON a.doc_id = b.doc_id
),
u2 AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(a.s, 0) + coalesce(b.s, 0) AS s
  FROM tvec a FULL OUTER JOIN lvec_s b ON a.doc_id = b.doc_id
)
SELECT u1.doc_id, round(u1.s + u2.s, 4) AS score
FROM u1 JOIN u2 ON u1.doc_id = u2.doc_id
ORDER BY u1.s + u2.s DESC, u1.doc_id ASC LIMIT 20
"""
    )

    # lang:(de OR fr) AND vector — the scoped group contributes the
    # matched raw-lang partial (disjoint values: exactly one disjunct
    # matches per doc), summed with the text-term partial
    sql["bm25_scoped_group"] = (
        _BM25_WITH + "," + _bm25_term_cte("vector", "tvec")
        + f"""
, gde_df AS (SELECT count(*) AS df FROM documents WHERE lang = 'de'),
gfr_df AS (SELECT count(*) AS df FROM documents WHERE lang = 'fr'),
g AS (
  SELECT d.doc_id,
    CASE WHEN d.lang = 'de' THEN
      ln(1 + ((SELECT n FROM stats) - (SELECT df FROM gde_df) + 0.5)
             / ((SELECT df FROM gde_df) + 0.5))
    ELSE
      ln(1 + ((SELECT n FROM stats) - (SELECT df FROM gfr_df) + 0.5)
             / ((SELECT df FROM gfr_df) + 0.5))
    END
    * (1 * ({K1} + 1)) / (1 + {K1} * (1 - {B} + {B} * dl.dl / (SELECT avgdl FROM stats))) AS s
  FROM documents d JOIN dl ON d.doc_id = dl.doc_id
  WHERE d.lang IN ('de', 'fr')
)
SELECT g.doc_id, round(g.s + tvec.s, 4) AS score
FROM g JOIN tvec ON g.doc_id = tvec.doc_id
ORDER BY g.s + tvec.s DESC, g.doc_id ASC LIMIT 20
"""
    )

    # batch retrieval: top-10 per query of a query TABLE, conjunction
    # semantics with term multiplicity as a score weight (a repeated
    # term is a repeated must clause); tie order (rounded score desc,
    # doc_id asc) on both engines
    qvalues = ", ".join(f"('{qid}', '{q}')" for qid, q in _BATCH_QUERIES)
    sql["bm25_batch_topk"] = (
        _BM25_WITH
        + f"""
, queries(query_id, qtext) AS (VALUES {qvalues}),
qterms AS (
  SELECT query_id, term, count(*) AS weight
  FROM (SELECT query_id,
               unnest(regexp_extract_all(lower(qtext), '[0-9a-z]+')) AS term
        FROM queries)
  GROUP BY query_id, term
),
nq AS (SELECT query_id, count(*) AS n_terms FROM qterms GROUP BY query_id),
qdf AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY term
),
qtf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY term, doc_id
),
scored AS (
  SELECT q.query_id, t.doc_id,
         sum(q.weight
             * ln(1 + ((SELECT n FROM stats) - d.df + 0.5) / (d.df + 0.5))
             * (t.tf * ({K1} + 1))
             / (t.tf + {K1} * (1 - {B} + {B} * dl.dl / (SELECT avgdl FROM stats)))) AS s,
         count(*) AS nm
  FROM qterms q
  JOIN qtf t USING (term)
  JOIN qdf d USING (term)
  JOIN dl ON t.doc_id = dl.doc_id
  GROUP BY q.query_id, t.doc_id
),
conj AS (
  SELECT s.query_id, s.doc_id, round(s.s, 4) AS score
  FROM scored s JOIN nq USING (query_id)
  WHERE s.nm = nq.n_terms
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rnk
  FROM conj
)
SELECT query_id, doc_id, score FROM ranked WHERE rnk <= 10
"""
    )

    # hard-negative mining: the same staged computation as the engine —
    # 40-deep candidate rank, THEN the rule-positive anti-filter
    # (doc_id % 7 == qnum % 7), THEN re-rank and cut 10 on the
    # engine-independent (rounded score, doc_id) order
    sql["hard_negatives"] = (
        _BM25_WITH
        + f"""
, queries(query_id, qtext) AS (VALUES {qvalues}),
qterms AS (
  SELECT query_id, term, count(*) AS weight
  FROM (SELECT query_id,
               unnest(regexp_extract_all(lower(qtext), '[0-9a-z]+')) AS term
        FROM queries)
  GROUP BY query_id, term
),
nq AS (SELECT query_id, count(*) AS n_terms FROM qterms GROUP BY query_id),
qdf AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY term
),
qtf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY term, doc_id
),
scored AS (
  SELECT q.query_id, t.doc_id,
         sum(q.weight
             * ln(1 + ((SELECT n FROM stats) - d.df + 0.5) / (d.df + 0.5))
             * (t.tf * ({K1} + 1))
             / (t.tf + {K1} * (1 - {B} + {B} * dl.dl / (SELECT avgdl FROM stats)))) AS s,
         count(*) AS nm
  FROM qterms q
  JOIN qtf t USING (term)
  JOIN qdf d USING (term)
  JOIN dl ON t.doc_id = dl.doc_id
  GROUP BY q.query_id, t.doc_id
),
conj AS (
  SELECT s.query_id, s.doc_id, round(s.s, 4) AS score
  FROM scored s JOIN nq USING (query_id)
  WHERE s.nm = nq.n_terms
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rnk
  FROM conj
),
negs AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS neg_rank
  FROM ranked
  WHERE rnk <= 40
    AND NOT (doc_id % 7 = CAST(substr(query_id, 2) AS BIGINT) % 7)
)
SELECT query_id, doc_id, neg_rank, score FROM negs WHERE neg_rank <= 10
"""
    )

    # hybrid RRF: the SAME first-principles lexical ranking (all
    # conjunction matches ranked on rounded score, cut 20) fused with
    # the cosine side (query vec = the query's number) by exact
    # integer floor(1e9/(60+rank)) contributions — bit-identical
    # rrf_micro and fused order by construction
    sql["hybrid_rrf_topk"] = (
        _BM25_WITH
        + f"""
, queries(query_id, qtext) AS (VALUES {qvalues}),
qterms AS (
  SELECT query_id, term, count(*) AS weight
  FROM (SELECT query_id,
               unnest(regexp_extract_all(lower(qtext), '[0-9a-z]+')) AS term
        FROM queries)
  GROUP BY query_id, term
),
nq AS (SELECT query_id, count(*) AS n_terms FROM qterms GROUP BY query_id),
qdf AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY term
),
qtf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY term, doc_id
),
scored AS (
  SELECT q.query_id, t.doc_id,
         sum(q.weight
             * ln(1 + ((SELECT n FROM stats) - d.df + 0.5) / (d.df + 0.5))
             * (t.tf * ({K1} + 1))
             / (t.tf + {K1} * (1 - {B} + {B} * dl.dl / (SELECT avgdl FROM stats)))) AS s,
         count(*) AS nm
  FROM qterms q
  JOIN qtf t USING (term)
  JOIN qdf d USING (term)
  JOIN dl ON t.doc_id = dl.doc_id
  GROUP BY q.query_id, t.doc_id
),
conj AS (
  SELECT s.query_id, s.doc_id, round(s.s, 4) AS score
  FROM scored s JOIN nq USING (query_id)
  WHERE s.nm = nq.n_terms
),
lex AS (
  SELECT * FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS lex_rank
    FROM conj
  ) WHERE lex_rank <= 20
),
wv AS (SELECT vec_id, embedding, sqrt({self_dot}) AS nrm FROM embeddings),
semsc AS (
  SELECT 'b' || b.vec_id AS query_id, a.vec_id AS doc_id,
         round({dot} / (a.nrm * b.nrm), 6) AS cosine
  FROM wv a JOIN wv b ON b.vec_id BETWEEN 1 AND 5
),
sem AS (
  SELECT * FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, doc_id ASC) AS sem_rank
    FROM semsc
  ) WHERE sem_rank <= 20
),
contrib AS (
  SELECT query_id, doc_id,
         CAST(FLOOR(1000000000.0 / (60 + lex_rank)) AS BIGINT) AS c FROM lex
  UNION ALL
  SELECT query_id, doc_id,
         CAST(FLOOR(1000000000.0 / (60 + sem_rank)) AS BIGINT) AS c FROM sem
),
fused AS (
  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
  FROM contrib GROUP BY query_id, doc_id
),
franked AS (
  SELECT query_id, doc_id, rrf_micro,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_micro DESC, doc_id ASC) AS fused_rank
  FROM fused
)
SELECT r.query_id, r.doc_id, r.fused_rank, r.rrf_micro,
       l.lex_rank, s.sem_rank
FROM franked r
LEFT JOIN lex l ON r.query_id = l.query_id AND r.doc_id = l.doc_id
LEFT JOIN sem s ON r.query_id = s.query_id AND r.doc_id = s.doc_id
WHERE r.fused_rank <= 10
"""
    )

    sql["bm25_json_path"] = (
        _BM25_WITH + "," + _bm25_term_cte("vector", "t1")
        + f"""
, jdf AS (SELECT count(*) AS df FROM documents WHERE lang = 'en'),
js AS (
  SELECT d.doc_id,
    ln(1 + ((SELECT n FROM stats) - (SELECT df FROM jdf) + 0.5)
           / ((SELECT df FROM jdf) + 0.5))
    * (1 * ({K1} + 1)) / (1 + {K1} * (1 - {B} + {B} * dl.dl / (SELECT avgdl FROM stats))) AS s
  FROM documents d JOIN dl ON d.doc_id = dl.doc_id
  WHERE d.lang = 'en'
)
SELECT t1.doc_id, round(t1.s + js.s, 4) AS score
FROM t1 JOIN js ON t1.doc_id = js.doc_id
ORDER BY t1.s + js.s DESC, t1.doc_id ASC LIMIT 20
"""
    )

    sql["search_num_hits"] = f"""
SELECT count(*) AS num_hits FROM documents
WHERE list_contains({TOKS40}, 'vector')
"""

    sql["search_sort_fastfield"] = f"""
SELECT doc_id, n_chars FROM documents
WHERE list_contains({TOKS40}, 'vector')
ORDER BY n_chars DESC, doc_id ASC LIMIT 20
"""

    # conjunction scoring: the raw tag term scores too (tf=1, doc len =
    # text doc len, df = docs with source='src3') — same as the engine's
    # Bool.must clause-score sum
    sql["search_tag_filter"] = (
        _BM25_WITH + "," + _bm25_term_cte("vector", "t1")
        + f"""
, srcdf AS (SELECT count(*) AS df FROM documents WHERE source = 'src3'),
srcs AS (
  SELECT d.doc_id,
    ln(1 + ((SELECT n FROM stats) - (SELECT df FROM srcdf) + 0.5)
           / ((SELECT df FROM srcdf) + 0.5))
    * (1 * ({K1} + 1)) / (1 + {K1} * (1 - {B} + {B} * dl.dl / (SELECT avgdl FROM stats))) AS s
  FROM documents d JOIN dl ON d.doc_id = dl.doc_id
  WHERE d.source = 'src3'
)
SELECT t1.doc_id, round(t1.s + srcs.s, 4) AS score
FROM t1 JOIN srcs ON t1.doc_id = srcs.doc_id
ORDER BY t1.s + srcs.s DESC, t1.doc_id ASC LIMIT 50
"""
    )

    sql["search_time_range"] = (
        _BM25_WITH + "," + _bm25_term_cte("vector", "t1")
        + """
SELECT doc_id, round(s, 4) AS score FROM t1
WHERE doc_id >= 100 AND doc_id < 300
ORDER BY s DESC, doc_id ASC LIMIT 50
"""
    )

    sql["search_stream_fastfield"] = f"""
SELECT doc_id, n_chars FROM documents
WHERE list_contains({TOKS40}, 'hash')
"""

    sql["agg_terms_source"] = f"""
SELECT source, count(*) AS doc_count FROM documents
WHERE list_contains({TOKS40}, 'vector')
GROUP BY source ORDER BY doc_count DESC, source ASC LIMIT 8
"""

    sql["agg_stats_nchars"] = f"""
SELECT count(*) AS cnt, sum(n_chars)::DOUBLE AS total,
       min(n_chars)::DOUBLE AS mn, max(n_chars)::DOUBLE AS mx,
       round(avg(n_chars), 4) AS av,
       -- population SD from the same moment formula the engine merges
       -- (sum of squares), not stddev_pop's streaming form
       round(sqrt(greatest(
         sum(n_chars*n_chars)::DOUBLE / count(*)
         - (sum(n_chars)::DOUBLE / count(*)) ^ 2, 0)), 4) AS sd
FROM documents WHERE list_contains({TOKS40}, 'vector')
"""

    sql["agg_histogram_nchars"] = f"""
SELECT floor(n_chars / 100.0) * 100.0 AS bucket, count(*) AS doc_count
FROM documents WHERE list_contains({TOKS40}, 'vector')
GROUP BY bucket ORDER BY bucket
"""

    sql["agg_range_nchars"] = f"""
WITH m AS (
  SELECT n_chars FROM documents WHERE list_contains({TOKS40}, 'vector')
),
b(bucket, lo, hi) AS (
  SELECT * FROM (VALUES ('*-200.0', NULL, 200.0),
                        ('200.0-400.0', 200.0, 400.0),
                        ('400.0-*', 400.0, NULL))
)
SELECT b.bucket, count(m.n_chars) AS doc_count
FROM b LEFT JOIN m ON (b.lo IS NULL OR m.n_chars >= b.lo)
                  AND (b.hi IS NULL OR m.n_chars < b.hi)
GROUP BY b.bucket ORDER BY b.bucket
"""

    sql["agg_histogram_subagg_stats"] = f"""
SELECT floor(n_chars / 100.0) * 100.0 AS bucket, count(*) AS doc_count,
       count(*) AS s_count, sum(doc_id)::DOUBLE AS s_sum,
       min(doc_id)::DOUBLE AS s_min, max(doc_id)::DOUBLE AS s_max,
       round(sum(doc_id)::DOUBLE / count(*), 6) AS s_avg,
       round(sqrt(greatest(
         sum(doc_id*doc_id)::DOUBLE / count(*)
         - (sum(doc_id)::DOUBLE / count(*)) ^ 2, 0)), 6) AS s_sd
FROM documents WHERE list_contains({TOKS40}, 'vector')
GROUP BY bucket ORDER BY bucket
"""

    sql["agg_range_subagg_avg"] = f"""
WITH m AS (
  SELECT n_chars, doc_id FROM documents WHERE list_contains({TOKS40}, 'vector')
),
b(bucket, lo, hi) AS (
  SELECT * FROM (VALUES ('*-300.0', NULL, 300.0), ('300.0-*', 300.0, NULL))
)
SELECT b.bucket, count(m.n_chars) AS doc_count,
       round(sum(m.doc_id)::DOUBLE / count(m.n_chars), 6) AS av
FROM b LEFT JOIN m ON (b.lo IS NULL OR m.n_chars >= b.lo)
                  AND (b.hi IS NULL OR m.n_chars < b.hi)
GROUP BY b.bucket ORDER BY b.bucket
"""

    sql["agg_terms_stats"] = f"""
SELECT source, count(*) AS doc_count, round(avg(n_chars), 4) AS av,
       min(n_chars)::DOUBLE AS mn, max(n_chars)::DOUBLE AS mx
FROM documents WHERE list_contains({TOKS40}, 'vector')
GROUP BY source ORDER BY avg(n_chars) DESC, source ASC LIMIT 8
"""

    # gap-filled offset grid: first-principles bucket index, then a
    # generate_series LEFT JOIN supplies the empty buckets
    sql["agg_histogram_dense"] = f"""
WITH m AS (
  SELECT CAST(floor((n_chars - 0.5) / 2.0) AS BIGINT) AS idx
  FROM documents WHERE list_contains({TOKS40}, 'vector')
), b AS (SELECT min(idx) AS mn, max(idx) AS mx FROM m),
g AS (SELECT unnest(generate_series(b.mn, b.mx)) AS idx FROM b)
SELECT g.idx * 2.0 + 0.5 AS bucket, count(m.idx)::BIGINT AS doc_count
FROM g LEFT JOIN m ON m.idx = g.idx
GROUP BY g.idx ORDER BY bucket
"""

    sql["agg_terms_order_key"] = f"""
SELECT source, count(*) AS doc_count FROM documents
WHERE list_contains({TOKS40}, 'vector')
GROUP BY source ORDER BY source ASC LIMIT 5
"""

    sql["agg_terms_subagg_avg"] = f"""
SELECT source, count(*) AS doc_count, round(avg(n_chars), 4) AS av
FROM documents WHERE list_contains({TOKS40}, 'vector')
GROUP BY source ORDER BY avg(n_chars) ASC, source ASC LIMIT 6
"""

    sql["token_count"] = f"""
SELECT doc_id,
       len({TOKS})::BIGINT AS n_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS n_bpeish,
       length(text)::BIGINT AS n_chars_computed
FROM documents
"""

    sql["quality_score"] = f"""
WITH q AS (
  SELECT doc_id,
    length(text)::BIGINT AS n_chars_q,
    len({TOKS})::BIGINT AS n_toks,
    len(list_filter({TOKS}, t -> t IN ({en})))::BIGINT AS n_stop,
    len(list_distinct({TOKS}))::BIGINT AS n_distinct
  FROM documents
), r AS (
  SELECT *,
    round(n_stop * 1.0 / greatest(n_toks, 1), 6) AS stopword_ratio,
    round(n_distinct * 1.0 / greatest(n_toks, 1), 6) AS distinct_ratio
  FROM q
)
SELECT *,
  round(least(n_toks / 100.0, 1.0) * 0.4
        + least(stopword_ratio * 5.0, 1.0) * 0.2
        + distinct_ratio * 0.4, 6) AS quality
FROM r
"""

    sql["lang_id"] = f"""
WITH v AS (
  SELECT doc_id,
    len(list_filter({TOKS}, t -> t IN ({en})))::INT AS v_en,
    len(list_filter({TOKS}, t -> t IN ({de})))::INT AS v_de,
    len(list_filter({TOKS}, t -> t IN ({fr})))::INT AS v_fr
  FROM documents
)
SELECT doc_id, v_en, v_de, v_fr,
  CASE WHEN greatest(v_en, v_de, v_fr) = 0 THEN 'und'
       WHEN v_de = greatest(v_en, v_de, v_fr) THEN 'de'
       WHEN v_en = greatest(v_en, v_de, v_fr) THEN 'en'
       ELSE 'fr' END AS lang_pred
FROM v
"""

    sql["fingerprint"] = f"""
SELECT doc_id,
  md5(array_to_string({TOKS}, ' ')) AS content_md5,
  list_min(list_transform(
    generate_series(1, greatest(len({TOKS}) - 2, 1)),
    i -> {h15.format(x=f"array_to_string(({TOKS})[i:i+2], ' ')")}
  )) AS shingle_min_hash
FROM documents
"""

    # Gopher-style repetition signals; duckdb twin of the Spark HOFs
    # (1-based slices on both engines; single-token docs yield one
    # degenerate bigram on both — see textstats.repetition_stats)
    sql["repetition_stats"] = f"""
WITH lsts AS (SELECT doc_id, {TOKS} AS toks FROM documents),
b AS (
  SELECT doc_id, toks,
    list_transform(generate_series(1, greatest(len(toks) - 1, 1)),
      i -> array_to_string(toks[i:i+1], ' ')) AS bg
  FROM lsts
),
t AS (
  SELECT doc_id, toks, bg,
    list_max(list_transform(list_distinct(bg),
      x -> len(list_filter(bg, y -> y = x)))) AS top_n
  FROM b
)
SELECT doc_id,
  len(bg)::BIGINT AS n_bigrams,
  top_n::BIGINT AS top_bigram_n,
  round(top_n::DOUBLE / len(bg), 6) AS top_bigram_frac,
  round(len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1), 6)
    AS distinct_token_ratio
FROM t
"""

    from quickwit_spark.pipeline.scrub import (
        EMAIL_RE, IPV4_RE, PHONE_RE, URL_RE,
    )

    pii_deco = """
WITH deco AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' call +1555' || (doc_id + 1000000) ELSE '' END AS text
  FROM documents
)
"""
    sql["pii_scrub"] = pii_deco + f"""
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
    '{EMAIL_RE}', '<EMAIL>', 'g'),
    '{IPV4_RE}', '<IP>', 'g'),
    '{PHONE_RE}', '<PHONE>', 'g') AS text_scrubbed,
  len(regexp_extract_all(text, '{EMAIL_RE}'))::BIGINT AS n_emails,
  len(regexp_extract_all(text, '{IPV4_RE}'))::BIGINT AS n_ipv4,
  len(regexp_extract_all(text, '{PHONE_RE}'))::BIGINT AS n_phones
FROM deco
"""

    sql["url_extract"] = f"""
WITH deco AS (
  SELECT doc_id,
    text || CASE WHEN doc_id % 2 = 0
      THEN ' see https://' || source || (doc_id % 10) || '.example.org/p/' || doc_id
      ELSE '' END AS text
  FROM documents
),
u AS (SELECT doc_id, unnest(regexp_extract_all(text, '{URL_RE}')) AS url FROM deco)
SELECT doc_id, url, regexp_extract(url, 'https?://([^/ ]+)', 1) AS domain FROM u
"""

    sql["normalize_text"] = """
WITH deco AS (
  SELECT doc_id,
    ' ' || chr(9) || text
    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || chr(10) || 'tail' || chr(7) ELSE '' END AS text
  FROM documents
),
n AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(text,
      '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'),
      '[ \\t\\n\\r]+', ' ', 'g')) AS text_norm,
    length(text)::BIGINT AS n_chars_raw
  FROM deco
)
SELECT doc_id, text_norm, n_chars_raw, length(text_norm)::BIGINT AS n_chars_norm
FROM n
"""

    sql["dedup_exact"] = """
WITH w AS (SELECT doc_id, md5(text) AS digest FROM documents),
g AS (SELECT digest, min(doc_id) AS keeper_id, count(*) AS group_size FROM w GROUP BY digest)
SELECT w.doc_id, g.keeper_id, g.group_size, w.doc_id <> g.keeper_id AS is_dup
FROM w JOIN g ON w.digest = g.digest
"""

    # span-level exact-substring dedup: 8-token seed grams, H15-hashed,
    # duplicated when seen under >=2 distinct doc ids, merged
    # gaps-and-islands (new span when the gap exceeds the gram length)
    L = 8
    span_gh = h15.format(x=f"array_to_string(toks[i+1:i+{L}], ' ')")
    substring_spans = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, i AS pos, {span_gh} AS gh
  FROM t, UNNEST(generate_series(0, len(toks) - {L})) AS u(i)
  WHERE len(toks) >= {L}
),
m AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
      min(doc_id) OVER (PARTITION BY gh) AS mn,
      max(doc_id) OVER (PARTITION BY gh) AS mx
    FROM g) WHERE mn <> mx
),
brk AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {L}
         THEN 0 ELSE 1 END AS b
  FROM m
),
isl AS (
  SELECT doc_id, pos,
    sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
)
SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + {L})::BIGINT AS span_end,
  count(*)::BIGINT AS n_grams
FROM isl GROUP BY doc_id, island
"""
    sql["dedup_substring_spans"] = substring_spans

    # composed gate #2: exact-dedup keepers -> keep-first span scrub
    # -> per-source kept/removed token accounting (sum casts: DuckDB
    # sum(BIGINT) is HUGEINT)
    sql["corpus_curation_spans"] = f"""
WITH k0 AS (
  SELECT doc_id, text, source,
         min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
  FROM documents
),
keepers AS (SELECT doc_id, text, source FROM k0 WHERE doc_id = keeper),
t AS (SELECT doc_id, {TOKS} AS toks FROM keepers),
g AS (
  SELECT doc_id, i AS pos, {span_gh} AS gh
  FROM t, UNNEST(generate_series(0, len(toks) - {L})) AS u(i)
  WHERE len(toks) >= {L}
),
m AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
      min(doc_id) OVER (PARTITION BY gh) AS mn,
      max(doc_id) OVER (PARTITION BY gh) AS mx,
      min(struct_pack(d := doc_id, p := pos)) OVER (PARTITION BY gh) AS mo
    FROM g)
  WHERE mn <> mx AND NOT (doc_id = mo.d AND pos = mo.p)
),
brk AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {L}
         THEN 0 ELSE 1 END AS b
  FROM m
),
isl AS (
  SELECT doc_id, pos,
    sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {L} AS e
  FROM isl GROUP BY doc_id, island
),
sl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp FROM spans GROUP BY doc_id),
sc AS (
  SELECT t.doc_id, t.toks, coalesce(sl.sp, []) AS sp
  FROM t LEFT JOIN sl ON t.doc_id = sl.doc_id
),
kk AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
    (len(toks) - len(list_filter(list_transform(toks, (x, i) -> i - 1),
       p -> len(list_filter(sp, q -> p >= q.s AND p < q.e)) = 0)))::BIGINT AS n_dup_tokens
  FROM sc
)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(n_tokens)::BIGINT AS sum_tokens,
  sum(n_dup_tokens)::BIGINT AS sum_removed
FROM kk JOIN keepers USING (doc_id)
GROUP BY source
"""

    # span-level decontamination: corpus grams (doc_id % 97 != 0)
    # joined against the DISTINCT eval-gram hashes (doc_id % 97 == 0),
    # then the same islands merge (a join is the window-max's
    # value-equivalent formulation)
    sql["decontaminate_spans"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
cg AS (
  SELECT doc_id, i AS pos, {span_gh} AS gh
  FROM t, UNNEST(generate_series(0, len(toks) - {L})) AS u(i)
  WHERE len(toks) >= {L} AND doc_id % 97 <> 0
),
eh AS (
  SELECT DISTINCT {span_gh} AS gh
  FROM t, UNNEST(generate_series(0, len(toks) - {L})) AS u(i)
  WHERE len(toks) >= {L} AND doc_id % 97 = 0
),
m AS (SELECT cg.doc_id, cg.pos FROM cg JOIN eh USING (gh)),
brk AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {L}
         THEN 0 ELSE 1 END AS b
  FROM m
),
isl AS (
  SELECT doc_id, pos,
    sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
)
SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + {L})::BIGINT AS span_end,
  count(*)::BIGINT AS n_grams
FROM isl GROUP BY doc_id, island
"""

    # keep-first variant: same CTE chain but the duplicate mark also
    # skips each gram's canonical (globally smallest (doc_id, pos))
    # occurrence — struct min windows order lexicographically in both
    # engines
    sql["dedup_substring_keepfirst"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, i AS pos, {span_gh} AS gh
  FROM t, UNNEST(generate_series(0, len(toks) - {L})) AS u(i)
  WHERE len(toks) >= {L}
),
m AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
      min(doc_id) OVER (PARTITION BY gh) AS mn,
      max(doc_id) OVER (PARTITION BY gh) AS mx,
      min(struct_pack(d := doc_id, p := pos)) OVER (PARTITION BY gh) AS mo
    FROM g)
  WHERE mn <> mx AND NOT (doc_id = mo.d AND pos = mo.p)
),
brk AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {L}
         THEN 0 ELSE 1 END AS b
  FROM m
),
isl AS (
  SELECT doc_id, pos,
    sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
)
SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + {L})::BIGINT AS span_end,
  count(*)::BIGINT AS n_grams
FROM isl GROUP BY doc_id, island
"""

    sql["dedup_substring_scrub"] = f"""
WITH spans AS ({substring_spans}),
sl AS (SELECT doc_id, list(struct_pack(s := span_start, e := span_end)) AS sp
       FROM spans GROUP BY doc_id),
t AS (SELECT d.doc_id, {TOKS} AS toks, coalesce(sl.sp, []) AS sp
      FROM documents d LEFT JOIN sl ON d.doc_id = sl.doc_id),
k AS (
  SELECT doc_id, toks,
    list_filter(list_transform(toks, (x, i) -> struct_pack(t := x, i := i - 1)),
                s -> len(list_filter(sp, p -> s.i >= p.s AND s.i < p.e)) = 0) AS kept
  FROM t
)
SELECT doc_id, len(toks)::BIGINT AS n_tokens,
  (len(toks) - len(kept))::BIGINT AS n_dup_tokens,
  md5(coalesce(array_to_string(list_transform(kept, s -> s.t), ' '), '')) AS clean_md5
FROM k
"""

    jaccard_verify = f"""
sets_ AS (SELECT doc_id, {shingles} AS sh FROM documents),
verified AS (
  SELECT c.id_a, c.id_b,
    round(len(list_intersect(sa.sh, sb.sh)) * 1.0
          / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
  FROM cand c
  JOIN sets_ sa ON c.id_a = sa.doc_id
  JOIN sets_ sb ON c.id_b = sb.doc_id
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {{thr}}
"""

    M = 1 << 40  # MINHASH_MOD
    mh_h1 = h15.format(x="s") + f" % {M}"
    mh_h2 = h15.format(x="concat('~', s)") + f" % {M}"
    sql["dedup_minhash_lsh"] = f"""
WITH hs AS (
  SELECT doc_id,
    list_transform({shingles}, s -> {mh_h1}) AS hs1,
    list_transform({shingles}, s -> {mh_h2}) AS hs2
  FROM documents
),
sig AS (
  SELECT doc_id,
    list_transform(generate_series(0, 11),
      p -> list_min(list_transform(generate_series(1, len(hs1)),
             i -> (hs1[i] + p * hs2[i]) % {M}))) AS signature
  FROM hs
),
bands AS (
  SELECT doc_id, b.band,
         md5(array_to_string(signature[b.band * 3 + 1 : b.band * 3 + 3], ',')) AS bucket
  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
),
{jaccard_verify.format(thr=0.4)}
"""

    # incremental dedup gates: corpus = id%10<7, batch = the rest plus
    # re-id'd replays of every 17th corpus doc (guaranteed dups)
    corpus_batch = """
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 7),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 7
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM corpus WHERE doc_id % 17 = 0
)"""

    sql["dedup_exact_incremental"] = f"""
WITH {corpus_batch},
idx AS (SELECT md5(text) AS digest, min(doc_id) AS corpus_keeper_id
        FROM corpus GROUP BY 1),
b AS (
  SELECT doc_id, md5(text) AS digest,
    min(doc_id) OVER (PARTITION BY md5(text)) AS batch_keeper_id,
    count(*) OVER (PARTITION BY md5(text)) AS batch_group_size
  FROM batch
)
SELECT b.doc_id, b.digest,
  (i.corpus_keeper_id IS NOT NULL) AS is_dup_corpus,
  i.corpus_keeper_id,
  b.batch_keeper_id, b.batch_group_size::BIGINT AS batch_group_size,
  coalesce(i.corpus_keeper_id, b.batch_keeper_id) AS keeper_id,
  (i.corpus_keeper_id IS NOT NULL OR b.doc_id <> b.batch_keeper_id) AS is_dup
FROM b LEFT JOIN idx i ON b.digest = i.digest
"""

    def mh_side(name: str, src: str) -> str:
        return f"""
{name}_hs AS (
  SELECT doc_id,
    list_transform({shingles}, s -> {mh_h1}) AS hs1,
    list_transform({shingles}, s -> {mh_h2}) AS hs2
  FROM {src}
),
{name}_sig AS (
  SELECT doc_id,
    list_transform(generate_series(0, 11),
      p -> list_min(list_transform(generate_series(1, len(hs1)),
             i -> (hs1[i] + p * hs2[i]) % {M}))) AS signature
  FROM {name}_hs
),
{name}_bands AS (
  SELECT doc_id, b.band,
         md5(array_to_string(signature[b.band * 3 + 1 : b.band * 3 + 3], ',')) AS bucket
  FROM {name}_sig, (SELECT unnest(generate_series(0, 3)) AS band) b
),
{name}_sets AS (SELECT doc_id, {shingles} AS sh FROM {src})"""

    sql["dedup_minhash_incremental"] = f"""
WITH {corpus_batch},
{mh_side('n', 'batch')},
{mh_side('c', 'corpus')},
cand AS (
  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_corpus
  FROM n_bands a JOIN c_bands b ON a.band = b.band AND a.bucket = b.bucket
),
verified AS (
  SELECT cand.id_new, cand.id_corpus,
    round(len(list_intersect(sn.sh, sc.sh)) * 1.0
          / (len(sn.sh) + len(sc.sh) - len(list_intersect(sn.sh, sc.sh))), 6) AS jaccard
  FROM cand
  JOIN n_sets sn ON cand.id_new = sn.doc_id
  JOIN c_sets sc ON cand.id_corpus = sc.doc_id
)
SELECT id_new, id_corpus, jaccard FROM verified WHERE jaccard >= 0.3
"""
    # the persisted-index probe produces identical pairs by
    # construction (same banding, same verify) — same oracle
    sql["dedup_minhash_indexed"] = sql["dedup_minhash_incremental"]

    # paragraph-dedup gates: pages of 5 consecutive docs wrapped in a
    # shared header/footer paragraph (the CCNet boilerplate shape)
    pages_cte = """
pages AS (
  SELECT doc_id // 5 AS page_id,
         'Common Header Paragraph' || chr(10)
         || string_agg(text, chr(10) ORDER BY doc_id)
         || chr(10) || 'Common Footer Paragraph' AS text
  FROM documents GROUP BY doc_id // 5
),
parts AS (SELECT page_id, string_split_regex(text, '\\n+') AS ps FROM pages),
paras AS (
  SELECT page_id, i - 1 AS para_idx, ps[i] AS para
  FROM parts, UNNEST(generate_series(1, len(ps))) AS u(i)
  WHERE len(trim(ps[i])) > 0
),
pd AS (
  SELECT page_id, para_idx, para,
    md5(regexp_replace(lower(trim(para)), '\\s+', ' ', 'g')) AS para_digest
  FROM paras
)"""

    sql["dedup_paragraph"] = f"""
WITH {pages_cte},
w AS (
  SELECT page_id, para_idx, para_digest,
    count(*) OVER (PARTITION BY para_digest) AS dup_count,
    min(struct_pack(p := page_id, i := para_idx))
      OVER (PARTITION BY para_digest) AS mo
  FROM pd
)
SELECT page_id, para_idx::BIGINT AS para_idx, para_digest,
  dup_count::BIGINT AS dup_count,
  (page_id = mo.p AND para_idx = mo.i) AS is_keeper,
  (dup_count >= 2 AND NOT (page_id = mo.p AND para_idx = mo.i)) AS is_dup
FROM w
"""

    sql["dedup_paragraph_scrub"] = f"""
WITH {pages_cte},
w AS (
  SELECT page_id, para_idx, para,
    count(*) OVER (PARTITION BY para_digest) AS c,
    min(struct_pack(p := page_id, i := para_idx))
      OVER (PARTITION BY para_digest) AS mo
  FROM pd
),
m AS (
  SELECT page_id, para_idx, para,
    (c >= 2 AND NOT (page_id = mo.p AND para_idx = mo.i)) AS dropped
  FROM w
)
SELECT page_id, count(*)::BIGINT AS n_paras,
  sum(CASE WHEN dropped THEN 1 ELSE 0 END)::BIGINT AS n_removed,
  md5(coalesce(string_agg(CASE WHEN NOT dropped THEN para END,
                          chr(10) ORDER BY para_idx), '')) AS clean_md5
FROM m GROUP BY page_id
"""

    sql["dedup_fraction"] = f"""
WITH spans AS ({substring_spans}),
agg AS (SELECT doc_id, sum(span_end - span_start) AS dup_tokens
        FROM spans GROUP BY doc_id)
SELECT d.doc_id, len({TOKS})::BIGINT AS n_tokens,
  coalesce(agg.dup_tokens, 0)::BIGINT AS dup_tokens,
  round(coalesce(agg.dup_tokens, 0) * 1.0
        / greatest(len({TOKS}), 1), 6) AS dup_fraction
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""

    h_split = h15.format(x="concat('split0:', cast(doc_id AS VARCHAR))")
    gopher_stops = ", ".join(
        f"'{w}'"
        for w in ("the", "be", "to", "of", "and", "that", "have", "with")
    )

    def gopher_cte(src: str) -> str:
        """w/f CTE bodies computing the Gopher rule features over any
        (doc_id, text) relation."""
        return f"""
w AS (
  SELECT doc_id,
    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws,
    string_split(text, chr(10)) AS ls,
    (len(text) - len(replace(text, '#', ''))
     + len(regexp_extract_all(text, '\\.\\.\\.|…'))) AS n_symbols
  FROM {src}
),
f AS (
  SELECT doc_id,
    len(ws)::BIGINT AS n_words,
    round(coalesce(list_sum(list_transform(ws, x -> len(x))), 0) * 1.0
          / greatest(len(ws), 1), 6) AS mean_word_len,
    round(n_symbols * 1.0 / greatest(len(ws), 1), 6) AS symbol_ratio,
    round(len(list_filter(ls, l -> trim(l) LIKE '-%' OR trim(l) LIKE '•%')) * 1.0
          / greatest(len(ls), 1), 6) AS bullet_line_frac,
    round(len(list_filter(ls, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…')) * 1.0
          / greatest(len(ls), 1), 6) AS ellipsis_line_frac,
    round(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
          / greatest(len(ws), 1), 6) AS alpha_word_frac,
    len(list_filter([{gopher_stops}],
        s -> list_contains(list_transform(ws, x -> lower(x)), s)))::BIGINT
      AS n_required_stop
  FROM w
)"""

    gopher_keep_cond = """(n_words >= 30 AND n_words <= 100000
   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
   AND symbol_ratio <= 0.1
   AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
   AND alpha_word_frac >= 0.8 AND n_required_stop >= 1)"""

    sql["gopher_rules"] = f"""
WITH {gopher_cte('documents')}
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_frac,
  ellipsis_line_frac, alpha_word_frac, n_required_stop,
  {gopher_keep_cond} AS gopher_keep
FROM f
"""

    # C4 twin: identical synthetic line structure (5-word '.' lines via
    # the same regex, remainder unpunctuated, %5 javascript line, %7
    # short line, %17 lorem-ipsum prefix, %13 brace), then the same
    # line/page rules — RE2 and Java regex agree on this pattern
    sql["c4_rules"] = """
WITH synth AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 17 = 0
          THEN 'lorem ipsum dolor sit amet consectetur.' || chr(10)
          ELSE '' END)
    || regexp_replace(text, '(([a-z0-9]+ ){4}[a-z0-9]+) ',
                      '\\1.' || chr(10), 'g')
    || (CASE WHEN doc_id % 5 = 0
             THEN chr(10) || 'please enable javascript to view this page today.'
             ELSE '' END)
    || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'tiny line.' ELSE '' END)
    || (CASE WHEN doc_id % 13 = 0 THEN ' {' ELSE '' END) AS text
  FROM documents
),
l AS (
  SELECT doc_id, text,
    list_transform(string_split(text, chr(10)), x -> trim(x)) AS ls
  FROM synth
),
k AS (
  SELECT doc_id, text, len(ls)::BIGINT AS n_lines,
    list_filter(ls, x -> regexp_matches(x, '[.!?"]$')
      AND len(list_filter(string_split(x, ' '), w -> w <> '')) >= 5
      AND NOT contains(lower(x), 'javascript')) AS kept
  FROM l
),
f AS (
  -- coalesce: array_to_string([]) is NULL in DuckDB but Spark's
  -- array_join([]) is '' — a zero-kept-line page must match exactly
  SELECT doc_id, n_lines, len(kept)::BIGINT AS n_kept_lines,
    len(regexp_extract_all(coalesce(array_to_string(kept, chr(10)), ''),
                           '[.!?]'))::BIGINT AS n_sentences,
    contains(lower(text), 'lorem ipsum') AS has_blocklist,
    contains(text, '{') AS has_brace,
    coalesce(array_to_string(kept, chr(10)), '') AS kept_text
  FROM k
)
SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_blocklist, has_brace,
  kept_text,
  (n_sentences >= 3 AND NOT has_blocklist AND NOT has_brace) AS c4_keep
FROM f
"""

    sql["corpus_curation_incremental"] = f"""
WITH {corpus_batch},
idx AS (SELECT md5(text) AS digest, min(doc_id) AS corpus_keeper_id
        FROM corpus GROUP BY 1),
b AS (
  SELECT doc_id, md5(text) AS digest,
    min(doc_id) OVER (PARTITION BY md5(text)) AS batch_keeper_id
  FROM batch
),
keep_ids AS (
  SELECT b.doc_id FROM b LEFT JOIN idx i ON b.digest = i.digest
  WHERE i.corpus_keeper_id IS NULL AND b.doc_id = b.batch_keeper_id
),
kept AS (SELECT batch.doc_id, batch.text
         FROM batch JOIN keep_ids USING (doc_id)),
{gopher_cte('kept').lstrip()},
gk AS (SELECT doc_id, n_words FROM f WHERE {gopher_keep_cond}),
assigned AS (
  SELECT n_words,
    CASE WHEN {h_split} % 1000000 < 800000 THEN 'train'
         WHEN {h_split} % 1000000 < 900000 THEN 'val'
         ELSE 'test' END AS split
  FROM gk
)
SELECT split, count(*)::BIGINT AS n_docs, sum(n_words)::BIGINT AS n_words_total
FROM assigned GROUP BY split
"""

    sql["sample_frequency_cap"] = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source
      ORDER BY {h15.format(x="concat('cap0:', cast(doc_id AS VARCHAR))")} ASC,
               doc_id ASC) AS rk
  FROM documents)
WHERE rk <= 50
"""

    sql["sample_split_assign"] = f"""
SELECT doc_id,
  CASE WHEN {h_split} % 1000000 < 800000 THEN 'train'
       WHEN {h_split} % 1000000 < 900000 THEN 'val'
       ELSE 'test' END AS split
FROM documents
"""

    # DSIR gates: hashed unigram+bigram features, add-one smoothed
    # micro-nat log ratios (target = every 97th doc), exact integer sum
    DSIR_B = 10_000
    dsir_feats = f"""
  SELECT doc_id, u.f AS bucket FROM (
    SELECT doc_id, list_concat(
      list_transform(toks, t -> {h15.format(x='t')} % {DSIR_B}),
      list_transform(generate_series(1, len(toks) - 1),
        i -> {h15.format(x="toks[i] || ' ' || toks[i+1]")} % {DSIR_B})
    ) AS fs
    FROM (SELECT doc_id, {TOKS} AS toks FROM documents{{flt}})
  ), UNNEST(fs) AS u(f)"""
    dsir_core = f"""
raw_feats AS ({dsir_feats.format(flt="")}),
tgt_feats AS ({dsir_feats.format(flt=" WHERE doc_id % 97 = 0")}),
rc AS (SELECT bucket, count(*) AS rc FROM raw_feats GROUP BY bucket),
tc AS (SELECT bucket, count(*) AS tc FROM tgt_feats GROUP BY bucket),
tot AS (SELECT
  round(ln((SELECT sum(rc) FROM rc) + {DSIR_B}) * 1000000, 0)::BIGINT AS qrt,
  round(ln((SELECT sum(tc) FROM tc) + {DSIR_B}) * 1000000, 0)::BIGINT AS qtt),
ratio AS (
  SELECT rc.bucket,
    (round(ln(coalesce(tc.tc, 0) + 1) * 1000000, 0)::BIGINT
     - (SELECT qtt FROM tot)
     - round(ln(rc.rc + 1) * 1000000, 0)::BIGINT
     + (SELECT qrt FROM tot)) AS qr
  FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket
),
per_doc AS (
  SELECT f.doc_id, count(*)::BIGINT AS n_feats, sum(r.qr)::BIGINT AS lw
  FROM raw_feats f JOIN ratio r ON f.bucket = r.bucket
  GROUP BY f.doc_id
),
weights AS (
  SELECT d.doc_id, coalesce(p.n_feats, 0)::BIGINT AS n_feats,
    coalesce(p.lw, 0)::BIGINT AS logweight_micro,
    round(coalesce(p.lw, 0) / 1000000.0, 6) AS logweight
  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
)"""
    sql["dsir_logweights"] = f"WITH {dsir_core}\nSELECT * FROM weights"
    sql["dsir_select"] = f"""WITH {dsir_core}
SELECT * FROM weights
ORDER BY logweight_micro DESC, doc_id ASC LIMIT 50
"""

    sql["decontaminate"] = f"""
WITH ds AS (SELECT doc_id, unnest({shingles}) AS sh FROM documents),
ev AS (
  SELECT DISTINCT unnest({shingles}) AS sh FROM documents
  WHERE doc_id % 97 = 0
),
hits AS (
  SELECT ds.doc_id, count(DISTINCT ds.sh) AS n_overlap
  FROM ds JOIN ev USING (sh) GROUP BY ds.doc_id
)
SELECT d.doc_id, coalesce(h.n_overlap, 0) AS n_overlap,
       coalesce(h.n_overlap, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""

    frac_case = (
        "CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25 "
        "WHEN 'src2' THEN 1.0 WHEN 'src3' THEN 0.125 END"
    )
    sql["sample_stratified"] = f"""
SELECT doc_id, source FROM documents
WHERE {h15.format(x="'mix1:' || cast(doc_id AS VARCHAR)")} % 1000000
      < floor(({frac_case}) * 1000000)
"""

    sql["sequence_packing"] = f"""
WITH t AS (
  SELECT doc_id,
         len({TOKS})::BIGINT AS n_tokens,
         ({h15.format(x="'pack0:' || cast(doc_id AS VARCHAR)")} % 4)::BIGINT AS shard,
         {h15.format(x="'pack0~' || cast(doc_id AS VARCHAR)")} AS ord
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::BIGINT AS token_start
  FROM t
)
SELECT doc_id, shard, n_tokens, token_start,
       (token_start // 64)::BIGINT AS seq_idx,
       (token_start % 64)::BIGINT AS seq_offset,
       (CASE WHEN n_tokens = 0 THEN 0
             ELSE (token_start + n_tokens - 1) // 64 - token_start // 64 + 1 END)::BIGINT AS n_seqs
FROM c
"""

    sql["sequence_packing_materialized"] = f"""
WITH t AS (
  SELECT doc_id, {TOKS} AS toks, len({TOKS})::BIGINT AS n_tokens,
         ({h15.format(x="'pack0:' || cast(doc_id AS VARCHAR)")} % 4)::BIGINT AS shard,
         {h15.format(x="'pack0~' || cast(doc_id AS VARCHAR)")} AS ord
  FROM documents
), c AS (
  SELECT doc_id, shard, toks, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::BIGINT AS token_start
  FROM t
  QUALIFY n_tokens > 0
), spans AS (
  SELECT shard, token_start,
         unnest(generate_series(token_start // 64,
                                (token_start + n_tokens - 1) // 64)) AS seq_idx,
         toks, n_tokens
  FROM c
), pieces AS (
  SELECT shard, seq_idx, token_start,
         toks[greatest(seq_idx * 64 - token_start, 0) + 1 :
              least((seq_idx + 1) * 64, token_start + n_tokens) - token_start] AS piece
  FROM spans
)
SELECT shard, seq_idx::BIGINT AS seq_idx, count(*)::BIGINT AS n_docs,
       len(flatten(list(piece ORDER BY token_start)))::BIGINT AS n_tokens,
       md5(array_to_string(flatten(list(piece ORDER BY token_start)), ' ')) AS tokens_md5
FROM pieces
GROUP BY shard, seq_idx
"""

    # composed curation plan: quality gate + dedup keepers +
    # deterministic per-source sample + per-source accounting
    cur_frac_case = "CASE source " + " ".join(
        f"WHEN 'src{i}' THEN {1.0 if i % 2 == 0 else 0.5}" for i in range(10)
    ) + " END"
    sql["corpus_curation"] = f"""
WITH q AS (
  SELECT doc_id,
    len({TOKS})::BIGINT AS n_toks,
    len(list_filter({TOKS}, t -> t IN ({en})))::BIGINT AS n_stop,
    len(list_distinct({TOKS}))::BIGINT AS n_distinct
  FROM documents
), r AS (
  SELECT doc_id,
    round(least(n_toks / 100.0, 1.0) * 0.4
          + least(round(n_stop * 1.0 / greatest(n_toks, 1), 6) * 5.0, 1.0) * 0.2
          + round(n_distinct * 1.0 / greatest(n_toks, 1), 6) * 0.4, 6) AS quality
  FROM q
), keepers AS (
  -- dedup AMONG quality-passing docs (the gate runs before the
  -- digest shuffle in the Spark plan)
  SELECT doc_id FROM (
    SELECT d.doc_id, min(d.doc_id) OVER (PARTITION BY md5(d.text)) AS keeper
    FROM documents d JOIN r USING (doc_id)
    WHERE r.quality >= 0.45
  ) WHERE doc_id = keeper
), kept AS (
  SELECT d.doc_id, d.source, len({TOKS})::BIGINT AS n_tokens
  FROM documents d
  JOIN keepers USING (doc_id)
  WHERE {h15.format(x="'cur1:' || cast(doc_id AS VARCHAR)")} % 1000000
        < floor(({cur_frac_case}) * 1000000)
)
SELECT source, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens
FROM kept GROUP BY source
"""

    sql["dedup_ngram_jaccard"] = f"""
WITH sh AS (
  SELECT doc_id, unnest({shingles}) AS shingle FROM documents
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
),
{jaccard_verify.format(thr=0.4)}
"""

    # 60-bit simhash: explode tokens x bits, vote, reassemble
    sql["dedup_simhash"] = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
th AS (SELECT doc_id, {h15.format(x='term')} AS h FROM toks),
votes AS (
  SELECT doc_id, b.bit,
         sum(((h >> b.bit) & 1) * 2 - 1) AS v
  FROM th, (SELECT unnest(generate_series(0, 59)) AS bit) b
  GROUP BY doc_id, b.bit
)
SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY doc_id
"""

    # multi-rotation simhash pairs: rotation r buckets on the 4-bit
    # prefix of the fingerprint rotated left by r*30; union, hamming cap
    sql["dedup_simhash_pairs"] = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
th AS (SELECT doc_id, {h15.format(x='term')} AS h FROM toks),
votes AS (
  SELECT doc_id, b.bit,
         sum(((h >> b.bit) & 1) * 2 - 1) AS v
  FROM th, (SELECT unnest(generate_series(0, 59)) AS bit) b
  GROUP BY doc_id, b.bit
),
sh AS (
  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
  FROM votes GROUP BY doc_id
),
sb AS (
  SELECT doc_id, simhash, r.rot,
    CASE WHEN r.rot = 0 THEN simhash >> 52
         ELSE (((simhash & 1073741823) << 30) | (simhash >> 30)) >> 52 END AS bucket
  FROM sh, (SELECT unnest(generate_series(0, 1)) AS rot) r
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sb a JOIN sb b ON a.rot = b.rot AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 24
"""

    # connected components over the same LSH-verified pairs via a
    # recursive CTE: min reachable id per doc
    pairs_cte = sql["dedup_minhash_lsh"].strip().removeprefix("WITH ")
    sql["dedup_clusters"] = f"""
WITH RECURSIVE {pairs_cte.rsplit("SELECT id_a, id_b, jaccard", 1)[0].rstrip()},
pairs2 AS (
  SELECT id_a, id_b FROM verified WHERE jaccard >= 0.4
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs2
  UNION SELECT id_b, id_a FROM pairs2
),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id
)
SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
"""

    # keeper policy on top of the same cluster CTE: keep-longest
    # (token count desc, id asc) picks one canonical doc per cluster
    sql["dedup_canonical"] = f"""
WITH RECURSIVE {pairs_cte.rsplit("SELECT id_a, id_b, jaccard", 1)[0].rstrip()},
pairs2 AS (
  SELECT id_a, id_b FROM verified WHERE jaccard >= 0.4
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs2
  UNION SELECT id_b, id_a FROM pairs2
),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id
),
clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
nt AS (SELECT doc_id, len({TOKS})::BIGINT AS n_toks FROM documents)
SELECT c.doc_id, c.cluster_id,
       (count(*) OVER (PARTITION BY c.cluster_id))::BIGINT AS cluster_size,
       (row_number() OVER (PARTITION BY c.cluster_id
                           ORDER BY nt.n_toks DESC, c.doc_id ASC) = 1)
         AS is_canonical
FROM clusters c JOIN nt USING (doc_id)
"""

    # per-token ln quantized to integer micro-nats (LN_MICRO) so the
    # per-doc sum is exact integer arithmetic on both engines — the
    # same cross-engine determinism trick as H15
    sql["unigram_logprob"] = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
vocab AS (
  SELECT tok, sum(tf) AS cnt,
         round(ln(sum(tf)) * 1000000, 0)::BIGINT AS q
  FROM tf GROUP BY tok
),
tot AS (SELECT round(ln(sum(cnt)) * 1000000, 0)::BIGINT AS qtot FROM vocab),
pd AS (
  SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_tokens,
         sum(tf.tf * vocab.q)::BIGINT AS sq
  FROM tf JOIN vocab USING (tok) GROUP BY tf.doc_id
)
SELECT d.doc_id,
       coalesce(pd.n_tokens, 0)::BIGINT AS n_tokens,
       round((sq::DOUBLE / pd.n_tokens - qtot) / 1000000, 6) AS logprob
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id, tot
"""

    # bigram-LM twin: same integer micro-nat quantization; heads
    # re-derived from the bigram table exactly as the Spark plan does
    bigram_chain = f"""WITH t AS (SELECT doc_id, {TOKS} AS tk FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(2, len(tk)),
                               i -> tk[i-1] || ' ' || tk[i])) AS bg
  FROM t WHERE len(tk) >= 2
),
tf AS (SELECT doc_id, bg, count(*) AS tf FROM bg GROUP BY doc_id, bg),
bgc AS (SELECT bg, sum(tf)::BIGINT AS c FROM tf GROUP BY bg),
hc AS (
  SELECT split_part(bg, ' ', 1) AS head, sum(c)::BIGINT AS hc
  FROM bgc GROUP BY 1
),
q AS (
  SELECT bg, round(ln(c) * 1000000, 0)::BIGINT
             - round(ln(hc) * 1000000, 0)::BIGINT AS q
  FROM bgc JOIN hc ON split_part(bgc.bg, ' ', 1) = hc.head
),
pd AS (
  SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_bigrams,
         sum(tf.tf * q.q)::BIGINT AS sq
  FROM tf JOIN q USING (bg) GROUP BY tf.doc_id
),
lp AS (
  SELECT d.doc_id,
         coalesce(pd.n_bigrams, 0)::BIGINT AS n_bigrams,
         round(sq::DOUBLE / pd.n_bigrams / 1000000, 6) AS logprob
  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
)"""

    sql["bigram_logprob"] = f"""
{bigram_chain}
SELECT doc_id, n_bigrams, logprob FROM lp
"""

    # CCNet tercile twin: exact type-7 quantile cuts over the 6dp
    # scores (quantile_cont == Spark percentile), CASE order mirrors
    # the Spark side exactly
    sql["ccnet_buckets"] = f"""
{bigram_chain},
cuts AS (
  -- quantile positions formatted from the SAME Python doubles the
  -- Spark side passes (1.0 - 1/3 != 2.0/3.0 in the last ulp; an
  -- exact-hit quantile index must not differ between engines)
  SELECT quantile_cont(logprob, {1.0 - 1 / 3!r}) AS hi,
         quantile_cont(logprob, {float(1 / 3)!r}) AS lo
  FROM lp
)
SELECT lp.doc_id, lp.n_bigrams, lp.logprob,
       CASE WHEN lp.logprob IS NULL THEN NULL
            WHEN lp.logprob >= cuts.hi THEN 'head'
            WHEN lp.logprob < cuts.lo THEN 'tail'
            ELSE 'middle' END AS ccnet_bucket,
       round(cuts.lo, 6) AS cut_lo,
       round(cuts.hi, 6) AS cut_hi
FROM lp, cuts
"""

    # per-language CCNet twin: same chain, cuts per lang_id group (the
    # lang CTE mirrors sql["lang_id"]'s vote + tie rule exactly)
    sql["ccnet_buckets_by_lang"] = f"""
{bigram_chain},
lv AS (
  SELECT doc_id,
    len(list_filter({TOKS}, t -> t IN ({en})))::INT AS v_en,
    len(list_filter({TOKS}, t -> t IN ({de})))::INT AS v_de,
    len(list_filter({TOKS}, t -> t IN ({fr})))::INT AS v_fr
  FROM documents
),
lang AS (
  SELECT doc_id,
    CASE WHEN greatest(v_en, v_de, v_fr) = 0 THEN 'und'
         WHEN v_de = greatest(v_en, v_de, v_fr) THEN 'de'
         WHEN v_en = greatest(v_en, v_de, v_fr) THEN 'en'
         ELSE 'fr' END AS pred_lang
  FROM lv
),
g AS (SELECT lp.*, lang.pred_lang FROM lp JOIN lang USING (doc_id)),
cuts AS (
  SELECT pred_lang, quantile_cont(logprob, {1.0 - 1 / 3!r}) AS hi,
               quantile_cont(logprob, {float(1 / 3)!r}) AS lo
  FROM g GROUP BY pred_lang
)
SELECT g.doc_id, g.pred_lang, g.n_bigrams, g.logprob,
       CASE WHEN g.logprob IS NULL THEN NULL
            WHEN g.logprob >= cuts.hi THEN 'head'
            WHEN g.logprob < cuts.lo THEN 'tail'
            ELSE 'middle' END AS ccnet_bucket,
       round(cuts.lo, 6) AS cut_lo,
       round(cuts.hi, 6) AS cut_hi
FROM g JOIN cuts USING (pred_lang)
"""

    # quality-gate twin: the unigram chain + an exact type-7 quantile
    # threshold (quantile_cont == Spark percentile over 6dp scores)
    sql["quality_filter"] = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
vocab AS (
  SELECT tok, sum(tf) AS cnt,
         round(ln(sum(tf)) * 1000000, 0)::BIGINT AS q
  FROM tf GROUP BY tok
),
tot AS (SELECT round(ln(sum(cnt)) * 1000000, 0)::BIGINT AS qtot FROM vocab),
pd AS (
  SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_tokens,
         sum(tf.tf * vocab.q)::BIGINT AS sq
  FROM tf JOIN vocab USING (tok) GROUP BY tf.doc_id
),
scored AS (
  SELECT pd.doc_id, pd.n_tokens,
         round((sq::DOUBLE / pd.n_tokens - qtot) / 1000000, 6) AS logprob
  FROM pd, tot
),
thr AS (SELECT quantile_cont(logprob, 0.1) AS t FROM scored)
SELECT s.doc_id, s.n_tokens, s.logprob, round(thr.t, 6) AS cutoff
FROM scored s, thr WHERE s.logprob >= thr.t
"""

    # BPE twins: replay the merge rounds as CTEs — replace() is
    # left-to-right non-overlapping in both engines (= greedy BPE
    # merge), pair counts are exact integer sums, ties break lexical.
    # Every CTE is MATERIALIZED: the merge pick is referenced as 3
    # scalar subqueries per round, and DuckDB's default CTE inlining
    # re-executes each reference — the 6-round chain goes exponential
    # (4^6 r0 scans) without materialization.
    S = "chr(30)"

    def _bpe_round(i):
        prev, m, cur = f"r{i - 1}", f"m{i}", f"r{i}"
        return f""",
px{i} AS MATERIALIZED (SELECT freq, string_split(rep, {S}) AS a FROM {prev}),
pc{i} AS MATERIALIZED (
  SELECT a[t.i] AS lhs, a[t.i + 1] AS rhs, sum(freq)::BIGINT AS pair_freq
  FROM px{i}, unnest(generate_series(1, len(a) - 1)) AS t(i)
  GROUP BY 1, 2
),
{m} AS MATERIALIZED (SELECT lhs, rhs, pair_freq FROM pc{i}
  ORDER BY pair_freq DESC, lhs ASC, rhs ASC LIMIT 1),
{cur} AS MATERIALIZED (
  -- bracketed merge: every symbol wrapped in {S} so the pattern can
  -- only match two COMPLETE adjacent symbols (a bare l||SEP||r would
  -- also fire where l is a proper suffix / r a proper prefix of a
  -- longer symbol — not BPE); replacement keeps the bracketed form,
  -- then collapse the double seps and trim the ends
  SELECT word, freq,
    trim(replace(
      replace({S} || replace(rep, {S}, {S} || {S}) || {S},
              {S} || (SELECT lhs FROM {m}) || {S} || {S}
                  || (SELECT rhs FROM {m}) || {S},
              {S} || (SELECT lhs FROM {m}) || (SELECT rhs FROM {m}) || {S}),
      {S} || {S}, {S}), {S}) AS rep
  FROM {prev}
)"""

    bpe_base = f"""WITH wf AS MATERIALIZED (
  SELECT tok AS word, count(*) AS freq
  FROM (SELECT unnest({TOKS}) AS tok FROM documents) GROUP BY tok
),
r0 AS MATERIALIZED (
  SELECT word, freq,
    array_to_string(list_transform(generate_series(1, length(word)),
      i -> word[i]), {S}) AS rep
  FROM wf
)""" + "".join(_bpe_round(i) for i in range(1, 7))

    sql["bpe_merges"] = f"""
{bpe_base}
SELECT * FROM (
  {' UNION ALL '.join(f"SELECT {i}::INT AS rank, lhs, rhs, pair_freq FROM m{i}" for i in range(1, 7))}
) ORDER BY rank
"""

    sql["bpe_encode"] = f"""
{bpe_base},
toks6 AS (
  SELECT d.doc_id, t.i AS pos, d.tk[t.i] AS word
  FROM (SELECT doc_id, {TOKS} AS tk FROM documents) d,
       unnest(generate_series(1, len(d.tk))) AS t(i)
)
SELECT e.doc_id, count(*)::BIGINT AS n_tokens,
       sum(len(string_split(r6.rep, {S})))::BIGINT AS n_subtokens,
       md5(string_agg(r6.rep, {S} ORDER BY e.pos)) AS sub_md5
FROM toks6 e JOIN r6 USING (word) GROUP BY e.doc_id
"""

    # TF-IDF twin: micro-nat idf makes tf*idf exact integer arithmetic,
    # so the (score desc, term asc) top-k order matches bit-for-bit
    sql["tfidf_keywords"] = f"""
WITH toks AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
n AS (SELECT count(*)::BIGINT AS n FROM documents),
idf AS (
  SELECT tok,
         round(ln((1 + n.n)::DOUBLE / (1 + count(*))) * 1000000, 0)::BIGINT
           AS idf_micro
  FROM tf, n GROUP BY tok, n.n
),
ranked AS (
  SELECT tf.doc_id, tf.tok AS term, tf.tf::BIGINT AS tf,
         (tf.tf * idf.idf_micro)::BIGINT AS score_micro,
         row_number() OVER (PARTITION BY tf.doc_id
           ORDER BY tf.tf * idf.idf_micro DESC, tf.tok ASC) AS rank
  FROM tf JOIN idf USING (tok)
)
SELECT doc_id, term, rank, tf,
       round(score_micro::DOUBLE / 1000000, 6) AS tfidf
FROM ranked WHERE rank <= 5
"""

    sql["chunk_overlap"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS lst, len({TOKS}) AS n FROM documents),
ex AS (
  SELECT doc_id, lst,
         (i - 1)::BIGINT AS chunk_idx, ((i - 1) * 48)::BIGINT AS start_tok
  FROM (
    SELECT doc_id, lst, unnest(generate_series(1, (n - 1) // 48 + 1)) AS i
    FROM t WHERE n > 0
  )
)
SELECT doc_id, chunk_idx, start_tok,
       len(lst[(start_tok + 1)::INT : (start_tok + 64)::INT])::BIGINT AS n_tokens,
       md5(array_to_string(lst[(start_tok + 1)::INT : (start_tok + 64)::INT], ' '))
         AS chunk_md5
FROM ex
"""

    # T=2 rate = sqrt(c_min/c_g): sqrt is IEEE correctly-rounded, so
    # the rate doubles are bit-identical across engines
    sql["sample_temperature"] = f"""
WITH c AS (SELECT lang, count(*) AS cg FROM documents GROUP BY lang),
m AS (SELECT min(cg) AS cmin FROM c),
r AS (SELECT lang, sqrt(cmin * 1.0 / cg) AS rate FROM c, m)
SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
WHERE {h15.format(x="'tmp1:' || cast(doc_id AS VARCHAR)")} % 1000000
      < floor(rate * 1000000)
"""

    sql["shuffle_rows"] = f"""
SELECT doc_id,
       ({h15.format(x="'ep1:' || cast(doc_id AS VARCHAR)")} % 8)::INT
           AS shuffle_shard,
       row_number() OVER (
           PARTITION BY {h15.format(x="'ep1:' || cast(doc_id AS VARCHAR)")} % 8
           ORDER BY {h15.format(x="'ep1~' || cast(doc_id AS VARCHAR)")}, doc_id
       )::BIGINT AS shuffle_pos
FROM documents
"""

    sql["dedup_embedding_cosine"] = f"""
WITH w AS (SELECT vec_id, embedding, sqrt({self_dot}) AS nrm FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({dot} / (a.nrm * b.nrm), 6) AS cosine
FROM w a JOIN w b ON a.vec_id < b.vec_id
WHERE round({dot} / (a.nrm * b.nrm), 6) >= 0.2
"""

    # scale-path twin of dedup_embedding_cosine: candidates restricted
    # to hyperplane-LSH bucket collisions (same md5-derived planes as
    # the Spark side), verified with the same exact cosine
    sql["dedup_embedding_lsh"] = f"""
WITH w AS (
  SELECT vec_id, embedding, sqrt({self_dot}) AS nrm,
         {lsh_bucket_expr(4)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({dot} / (a.nrm * b.nrm), 6) AS cosine
FROM w a JOIN w b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({dot} / (a.nrm * b.nrm), 6) >= 0.2
"""

    # embedding-space decontamination twin: per-corpus-doc max cosine
    # vs the eval subset, ties to the smallest eval id, same 6dp
    # rounding as the Spark side
    sql["semantic_decontaminate"] = f"""
WITH w AS (SELECT vec_id, embedding, sqrt({self_dot}) AS nrm FROM embeddings),
scored AS (
  SELECT a.vec_id,
         CASE WHEN a.nrm * b.nrm > 0
              THEN round({dot} / (a.nrm * b.nrm), 6) END AS cos,
         b.vec_id AS eid
  FROM (SELECT * FROM w WHERE vec_id >= 8) a,
       (SELECT * FROM w WHERE vec_id < 8) b
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos DESC NULLS LAST, eid ASC) AS rk
  FROM scored
)
SELECT vec_id, cos AS max_cosine,
       -- a doc with NO defined cosine (zero-norm corpus vector) has
       -- no nearest eval doc — rk=1 still picks a row (NULLS LAST
       -- over an all-NULL group), so mask eid to mirror the engine
       CASE WHEN cos IS NULL THEN NULL ELSE eid END AS nearest_eval_id,
       coalesce(cos >= 0.3, false) AS contaminated
FROM ranked WHERE rk = 1
"""

    sql["ann_cosine_topk"] = f"""
WITH w AS (SELECT vec_id, embedding, sqrt({self_dot}) AS nrm FROM embeddings),
scored AS (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         round({dot} / (a.nrm * b.nrm), 6) AS cosine
  FROM w a JOIN w b ON a.vec_id <> b.vec_id
  WHERE b.vec_id < 5
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 10
"""

    sql["ann_lsh_topk"] = f"""
WITH w AS (
  SELECT vec_id, embedding, sqrt({self_dot}) AS nrm,
         {lsh_bucket_expr(4)} AS bucket
  FROM embeddings
),
scored AS (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         round({dot} / (a.nrm * b.nrm), 6) AS cosine
  FROM w a JOIN w b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
  WHERE b.vec_id < 5
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 10
"""

    # IVF twin: same md5-ranked centroid sample, Voronoi assignment via
    # (cos desc, cid asc) row_number, queries probe their 2 nearest of
    # 8 cells, exact cosine rank within candidates
    ivf_dot_wc = (
        "list_sum(list_transform(generate_series(1, len(w.embedding)),"
        " i -> w.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE))"
    )
    ivf_dot_aq = (
        "list_sum(list_transform(generate_series(1, len(wa.embedding)),"
        " i -> wa.embedding[i]::DOUBLE * wq.embedding[i]::DOUBLE))"
    )
    sql["ann_ivf_topk"] = f"""
WITH w AS (SELECT vec_id, embedding, sqrt({self_dot}) AS nrm FROM embeddings),
cents AS (
  SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm FROM w
  ORDER BY {h15.format(x="'ivf1:' || cast(vec_id AS VARCHAR)")}, vec_id
  LIMIT 8
),
assign AS (
  SELECT vec_id AS c_id, cid AS cell FROM (
    SELECT w.vec_id, c.cid,
           row_number() OVER (PARTITION BY w.vec_id
             ORDER BY {ivf_dot_wc} / (w.nrm * c.cnrm) DESC, c.cid ASC) AS rn
    FROM w, cents c) t WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS q_id, cid AS cell FROM (
    SELECT w.vec_id, c.cid,
           row_number() OVER (PARTITION BY w.vec_id
             ORDER BY {ivf_dot_wc} / (w.nrm * c.cnrm) DESC, c.cid ASC) AS rn
    FROM w, cents c WHERE w.vec_id < 5) t WHERE rn <= 2
),
cand AS (
  SELECT q.q_id, a.c_id,
         round({ivf_dot_aq} / (wa.nrm * wq.nrm), 6) AS cosine
  FROM qprobe q JOIN assign a USING (cell)
  JOIN w wa ON wa.vec_id = a.c_id
  JOIN w wq ON wq.vec_id = q.q_id
  WHERE a.c_id <> q.q_id
),
ranked AS (
  SELECT q_id AS query_id, c_id AS neighbor_id,
         row_number() OVER (PARTITION BY q_id
           ORDER BY cosine DESC, c_id ASC) AS rank,
         cosine
  FROM cand
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 10
"""

    # int8 quantization twins: floor-of-shifted quantize (IEEE-exact
    # cross-engine, unlike engine round() modes), BIGINT integer dots
    q8 = """q8 AS (
  SELECT vec_id,
    CASE WHEN m > 0 THEN list_transform(embedding, x -> floor(x::DOUBLE * 127.0 / m + 0.5)::BIGINT)
         ELSE list_transform(embedding, x -> 0::BIGINT) END AS qv, m
  FROM (SELECT vec_id, embedding,
        list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS m
        FROM embeddings)
)"""
    sql["embedding_quantize"] = f"""
WITH {q8}
SELECT vec_id, round(m, 6) AS scale,
       md5(array_to_string(list_transform(qv, x -> x::VARCHAR), ',')) AS q_md5
FROM q8
"""

    qdot = (
        "list_sum(list_transform(generate_series(1, len(a.qv)),"
        " i -> a.qv[i] * b.qv[i]))"
    )
    sql["ann_quantized_topk"] = f"""
WITH {q8},
n AS (
  SELECT vec_id, qv,
         sqrt(list_sum(list_transform(qv, x -> x * x))::DOUBLE) AS nrm
  FROM q8
),
cand AS (
  SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         round(({qdot})::DOUBLE / (a.nrm * b.nrm), 6) AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
  WHERE b.vec_id < 5
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id ASC) AS rank,
         cosine
  FROM cand
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 10
"""

    # SemDeDup twin: same centroid sample/assignment as the IVF twin
    # (seed 'sd1'), within-cell pairs, lowest near-dup predecessor
    sql["dedup_semantic"] = f"""
WITH w AS (SELECT vec_id, embedding, sqrt({self_dot}) AS nrm FROM embeddings),
cents AS (
  SELECT vec_id AS cid, embedding AS cvec, nrm AS cnrm FROM w
  ORDER BY {h15.format(x="'sd1:' || cast(vec_id AS VARCHAR)")}, vec_id
  LIMIT 8
),
assign AS (
  SELECT vec_id AS c_id, cid AS cell FROM (
    SELECT w.vec_id, c.cid,
           row_number() OVER (PARTITION BY w.vec_id
             ORDER BY {ivf_dot_wc} / (w.nrm * c.cnrm) DESC, c.cid ASC) AS rn
    FROM w, cents c) t WHERE rn = 1
),
dup AS (
  SELECT b.c_id AS b_id, min(a.c_id) AS canon
  FROM assign a JOIN assign b USING (cell)
  JOIN w wa ON wa.vec_id = a.c_id
  JOIN w wq ON wq.vec_id = b.c_id
  WHERE a.c_id < b.c_id
    AND round({ivf_dot_aq} / (wa.nrm * wq.nrm), 6) >= 0.3
  GROUP BY b.c_id
)
SELECT a.c_id AS vec_id, a.cell,
       coalesce(d.canon, a.c_id) AS canonical_id,
       d.canon IS NOT NULL AS is_dup
FROM assign a LEFT JOIN dup d ON d.b_id = a.c_id
"""

    # quantized k-means twins: replay the Lloyd rounds as CTEs — exact
    # BIGINT distances + floor(int_sum/count + 0.5) centroid updates
    # are bit-identical across engines, so assignment matches exactly
    def _km_assign(name, cents):
        return f"""{name} AS (
  SELECT vec_id, qv, cid, dist::BIGINT AS dist FROM (
    SELECT t.*, row_number() OVER (PARTITION BY vec_id
      ORDER BY dist ASC, cid ASC) AS rn
    FROM (
      SELECT x.vec_id, x.qv, c.cid,
        list_sum(list_transform(generate_series(1, len(x.qv)),
          i -> (x.qv[i] - c.cv[i]) * (x.qv[i] - c.cv[i]))) AS dist
      FROM q8 x CROSS JOIN {cents} c) t) WHERE rn = 1
)"""

    def _km_update(name, assign, prev):
        return f"""{name} AS (
  SELECT p.cid, coalesce(u.cv, p.cv) AS cv FROM {prev} p LEFT JOIN (
    SELECT cid, list(val ORDER BY pos) AS cv FROM (
      SELECT a.cid, t.i AS pos,
        floor(sum(a.qv[t.i])::DOUBLE / count(*) + 0.5)::BIGINT AS val
      FROM {assign} a, unnest(generate_series(1, len(a.qv))) AS t(i)
      GROUP BY a.cid, t.i) GROUP BY cid
  ) u USING (cid)
)"""

    km_h = h15.format(x="'km1:' || cast(vec_id AS VARCHAR)")
    km_ctes = [
        q8,
        f"""cents0 AS (
  SELECT (row_number() OVER (ORDER BY {km_h}, vec_id) - 1)::BIGINT AS cid,
         qv AS cv
  FROM q8 ORDER BY {km_h}, vec_id LIMIT 8
)""",
        _km_assign("a0", "cents0"),
        _km_update("cents1", "a0", "cents0"),
        _km_assign("a1", "cents1"),
        _km_update("cents2", "a1", "cents1"),
        _km_assign("afinal", "cents2"),
    ]
    km_with = "WITH " + ",\n".join(km_ctes)
    sql["kmeans_clusters"] = f"""
{km_with}
SELECT vec_id, cid AS cluster_id, dist AS sq_dist FROM afinal
"""

    bal_h = h15.format(x="'bal1:' || cast(vec_id AS VARCHAR)")
    sql["cluster_balanced"] = f"""
{km_with}
SELECT vec_id, cluster_id, sq_dist FROM (
  SELECT vec_id, cid AS cluster_id, dist AS sq_dist,
         row_number() OVER (PARTITION BY cid
           ORDER BY {bal_h}, vec_id) AS rn
  FROM afinal) WHERE rn <= 20
"""

    sql["events_windowed"] = """
SELECT (epoch_us(date_trunc('hour', ts)) // 1000000)::BIGINT AS window_start_s, event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS value_sum,
       round(avg(value), 4) AS value_avg
FROM events GROUP BY 1, 2
"""

    sql["events_sessionize"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx::BIGINT AS session_idx, count(*) AS n_events,
       (epoch_us(min(ts)) // 1000000)::BIGINT AS session_start_s,
       (epoch_us(max(ts)) // 1000000)::BIGINT AS session_end_s,
       round(sum(value), 4) AS value_sum
FROM s GROUP BY user_id, session_idx
"""

    # batch replay of the stateful streaming sessionizer's append-mode
    # emission: gap-closed sessions (a later session of the same user
    # exists) plus event-time timeout expiry at the global max ts
    sql["sessionize_stream_replay"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) AS session_idx
  FROM flagged
), sess AS (
  SELECT user_id, session_idx::BIGINT AS session_idx,
         count(*)::BIGINT AS n_events,
         epoch_us(min(ts))::BIGINT AS session_start_us,
         epoch_us(max(ts))::BIGINT AS session_end_us,
         round(sum(value), 4) AS value_sum
  FROM s GROUP BY user_id, session_idx
), sess2 AS (
  SELECT *, max(session_idx) OVER (PARTITION BY user_id) AS mx FROM sess
), cutoff AS (SELECT max(epoch_us(ts)) AS cutoff_us FROM events)
SELECT user_id, session_idx, n_events, session_start_us, session_end_us,
       value_sum
FROM sess2, cutoff
WHERE session_idx < mx OR cutoff_us - session_end_us > 1800000000
"""

    # first-seen-wins micro-batch dedup replay: survivor per digest is
    # the min (batch_id, doc_id) arrival key
    sql["dedup_stream_replay"] = """
WITH s AS (
  SELECT doc_id, doc_id % 4 AS batch_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, (doc_id + 3) % 4 AS batch_id, text
  FROM documents WHERE doc_id % 5 = 2
),
-- coalesce: a NULL-text row must stay one digest GROUP (the engine's
-- Window.partitionBy(md5(text)) groups NULLs together), not vanish
-- from the USING join (NULL never equi-joins); chr(1) cannot collide
-- with a hex md5
d AS (SELECT doc_id, batch_id,
             coalesce(md5(text), chr(1)) AS dg FROM s),
k AS (
  SELECT dg, doc_id AS keeper_id, batch_id AS keeper_batch FROM (
    SELECT dg, doc_id, batch_id,
           row_number() OVER (PARTITION BY dg ORDER BY batch_id, doc_id)
             AS rn
    FROM d) WHERE rn = 1
)
SELECT d.doc_id, d.batch_id, k.keeper_id,
       (CASE WHEN d.doc_id = k.keeper_id AND d.batch_id = k.keeper_batch
             THEN 1 ELSE 0 END)::BIGINT AS kept
FROM d JOIN k USING (dg)
"""

    sql["media_metadata"] = """
SELECT doc_id AS media_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
  octet_length(encode(text))::BIGINT AS byte_len,
  lower(hex(encode(substr(text, 1, 4)))) AS header,
  CASE WHEN doc_id % 3 = 0 THEN ((ascii(substr(text, 1, 1)) % 64 + 1) * 16)::INT ELSE 0 END AS width,
  CASE WHEN doc_id % 3 = 0 THEN ((octet_length(encode(text)) % 64 + 1) * 16)::INT ELSE 0 END AS height,
  CASE WHEN doc_id % 3 = 2 THEN (octet_length(encode(text)) % 24 + 1)::INT ELSE 1 END AS n_frames
FROM documents
"""

    sql["frame_sample"] = """
WITH meta AS (
  SELECT doc_id AS media_id,
         (octet_length(encode(text)) % 24 + 1)::INT AS n_frames
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id, unnest(generate_series(0, n_frames - 1, 8))::INT AS frame_idx
FROM meta
"""

    # ---- self-retrieval evaluation: the same first-principles batch
    # BM25 as bm25_batch_topk, with queries DERIVED (first 3 tokens of
    # every 10th doc) and an MRR/rank tail; gold = the querying doc
    sql["retrieval_metrics"] = (
        _BM25_WITH
        + f"""
, queries AS (
  SELECT doc_id AS query_id, array_to_string(({TOKS40})[1:3], ' ') AS qtext
  FROM documents WHERE doc_id % 10 = 0
),
qterms AS (
  SELECT query_id, term, count(*) AS weight
  FROM (SELECT query_id,
               unnest(regexp_extract_all(lower(qtext), '[0-9a-z]+')) AS term
        FROM queries)
  GROUP BY query_id, term
),
nq AS (SELECT query_id, count(*) AS n_terms FROM qterms GROUP BY query_id),
qdf AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY term
),
qtf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks
  WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY term, doc_id
),
scored AS (
  SELECT q.query_id, t.doc_id,
         sum(q.weight
             * ln(1 + ((SELECT n FROM stats) - d.df + 0.5) / (d.df + 0.5))
             * (t.tf * ({K1} + 1))
             / (t.tf + {K1} * (1 - {B} + {B} * dl.dl / (SELECT avgdl FROM stats)))) AS s,
         count(*) AS nm
  FROM qterms q
  JOIN qtf t USING (term)
  JOIN qdf d USING (term)
  JOIN dl ON t.doc_id = dl.doc_id
  GROUP BY q.query_id, t.doc_id
),
conj AS (
  SELECT s.query_id, s.doc_id, round(s.s, 4) AS score
  FROM scored s JOIN nq USING (query_id)
  WHERE s.nm = nq.n_terms
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rnk
  FROM conj
),
m AS (
  SELECT query_id, min(rnk)::INT AS gold_rank
  FROM ranked WHERE rnk <= 10 AND doc_id = query_id GROUP BY query_id
)
SELECT q.query_id, m.gold_rank,
       round(CASE WHEN m.gold_rank IS NOT NULL
                  THEN 1.0 / m.gold_rank ELSE 0.0 END, 6) AS recip_rank
FROM queries q LEFT JOIN m USING (query_id)
"""
    )

    # ---- as-of join: latest same-user event at-or-before each probe;
    # ties broken (ts desc, event_id desc) exactly like the Spark
    # window's (ts, tag, tie) order; LEFT semantics keep probe rows
    # with no prior event
    sql["events_asof"] = """
WITH probes AS (
  SELECT doc_id AS probe_id, (doc_id % 150)::INT AS user_id,
         TIMESTAMP '2024-01-01 00:00:00' + to_minutes((doc_id * 37)::BIGINT) AS ts
  FROM documents
),
ranked AS (
  SELECT p.probe_id, e.event_id, e.event_type, epoch_us(e.ts)::BIGINT AS ts_us,
         row_number() OVER (
           PARTITION BY p.probe_id ORDER BY e.ts DESC, e.event_id DESC) AS rn
  FROM probes p JOIN events e
    ON e.user_id = p.user_id AND e.ts <= p.ts
)
SELECT p.probe_id, p.user_id,
       r.event_id AS asof_event_id, r.event_type AS asof_event_type,
       r.ts_us AS asof_ts_us
FROM probes p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
  ON r.probe_id = p.probe_id
"""

    # ---- interval-containment join (the oracle is the naive theta
    # join; the Spark side bucketizes to an equi-join)
    sql["events_interval"] = """
WITH iv AS (
  SELECT doc_id AS interval_id,
         TIMESTAMP '2024-01-01 00:00:00' + to_minutes((doc_id * 80)::BIGINT) AS s,
         TIMESTAMP '2024-01-01 00:00:00' + to_minutes((doc_id * 80 + 45)::BIGINT) AS e
  FROM documents
)
SELECT interval_id, count(*)::BIGINT AS n_events,
       round(sum(value), 4) AS value_sum
FROM iv JOIN events ev ON ev.ts >= iv.s AND ev.ts < iv.e
GROUP BY interval_id
"""

    # ---- transcript curation ops: same deterministic turns table as
    # _turns_df (integer arithmetic over doc_id), same render template
    turns_cte = """
turns AS (
  SELECT 'c' || lpad((doc_id % 97)::VARCHAR, 3, '0') AS conv_id,
         (doc_id // 97)::INT AS turn_idx,
         CASE WHEN (doc_id // 97) % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
         text,
         CASE WHEN (doc_id // 97) % 2 = 1 AND doc_id % 5 = 0 THEN 'search' END AS tool,
         TIMESTAMP '2025-01-01 00:00:00' + to_minutes(doc_id::BIGINT) AS ts
  FROM documents
)"""

    def _line(p: str = "") -> str:
        # NULL text renders as an empty body, mirroring _turn_line
        r, t, x = f"{p}role", f"{p}tool", f"{p}text"
        return (
            f"'<|' || {r} || CASE WHEN {t} IS NOT NULL THEN ':' || {t}"
            f" ELSE '' END || '|>' || coalesce({x}, '')"
        )

    sql["transcript_render"] = f"""
WITH {turns_cte}
SELECT conv_id, count(*)::BIGINT AS n_turns,
       string_agg({_line()}, chr(10) ORDER BY turn_idx) AS rendered
FROM turns GROUP BY conv_id
"""

    cum_cte = f"""
c AS (
  SELECT conv_id, turn_idx, role, len({TOKS})::BIGINT AS n_tok,
         sum(len({TOKS})) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS UNBOUNDED PRECEDING)::BIGINT AS tok_end
  FROM turns
)"""

    sql["transcript_loss_spans"] = f"""
WITH {turns_cte}, {cum_cte}
SELECT conv_id, turn_idx, (tok_end - n_tok)::BIGINT AS tok_start, tok_end
FROM c WHERE role = 'assistant'
"""

    sql["transcript_truncate"] = f"""
WITH {turns_cte}, {cum_cte}
SELECT conv_id, turn_idx, n_tok, tok_end FROM c WHERE tok_end <= 64
"""

    sql["transcript_stats"] = f"""
WITH {turns_cte}
SELECT conv_id,
       count(*)::BIGINT AS n_turns,
       sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)::BIGINT AS n_user,
       sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT AS n_assistant,
       sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_tool_calls,
       sum(len({TOKS}))::BIGINT AS n_tokens,
       round(sum(CASE WHEN role = 'assistant' THEN len({TOKS}) ELSE 0 END)::DOUBLE
             / greatest(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END), 1),
             6) AS avg_assistant_tokens,
       date_diff('second', min(ts), max(ts))::BIGINT AS span_seconds
FROM turns GROUP BY conv_id
"""

    # conversation-level dedup corpus: 8 replayed convs ('rNNN' =
    # byte-identical transcript of 'cNNN'); grouping by the rendered
    # string itself (the Spark side groups by md5(rendered) — identical
    # partitions barring md5 collision)
    sql["transcript_dedup"] = f"""
WITH {turns_cte},
all_turns AS (
  SELECT * FROM turns
  UNION ALL
  SELECT 'r' || substr(conv_id, 2) AS conv_id, turn_idx, role, text, tool, ts
  FROM turns WHERE substr(conv_id, 2)::INT < 8
),
r AS (
  SELECT conv_id,
         string_agg({_line()}, chr(10) ORDER BY turn_idx) AS rendered
  FROM all_turns GROUP BY conv_id
),
g AS (
  SELECT rendered, min(conv_id) AS canonical_conv_id,
         count(*)::BIGINT AS dup_group_size
  FROM r GROUP BY rendered
)
SELECT r.conv_id, g.canonical_conv_id, g.dup_group_size
FROM r JOIN g USING (rendered)
"""

    # conversation-aware packing: render (same template) then the
    # sequence_packing window arithmetic keyed by conv_id
    rtoks = "regexp_extract_all(lower(rendered), '[0-9a-z]+')"
    sql["transcript_packing"] = f"""
WITH {turns_cte},
r AS (
  SELECT conv_id,
         string_agg({_line()}, chr(10) ORDER BY turn_idx) AS rendered
  FROM turns GROUP BY conv_id
),
t AS (
  SELECT conv_id,
         len({rtoks})::BIGINT AS n_tokens,
         ({h15.format(x="'cpack:' || conv_id")} % 4)::BIGINT AS shard,
         {h15.format(x="'cpack~' || conv_id")} AS ord
  FROM r
), c AS (
  SELECT conv_id, shard, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord, conv_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)::BIGINT AS token_start
  FROM t
)
SELECT conv_id, shard, n_tokens, token_start,
       (token_start // 64)::BIGINT AS seq_idx,
       (token_start % 64)::BIGINT AS seq_offset,
       (CASE WHEN n_tokens = 0 THEN 0
             ELSE (token_start + n_tokens - 1) // 64 - token_start // 64 + 1 END)::BIGINT AS n_seqs
FROM c
"""

    sql["transcript_context"] = f"""
WITH {turns_cte}
SELECT t.conv_id, t.turn_idx,
       string_agg({_line("p.")}, chr(10) ORDER BY p.turn_idx) AS context
FROM turns t
JOIN turns p
  ON p.conv_id = t.conv_id
 AND p.turn_idx BETWEEN t.turn_idx - 2 AND t.turn_idx
WHERE t.role = 'assistant'
GROUP BY t.conv_id, t.turn_idx
"""

    # ---- transcript curation-hazard battery: the turns2 CTE mirrors
    # _turns_curation_df verbatim (CASE order empty/loop/preamble is
    # load-bearing on both sides)
    turns2_cte = """
turns2 AS (
  SELECT 'c' || lpad((doc_id % 97)::VARCHAR, 3, '0') AS conv_id,
         (doc_id // 97)::INT AS turn_idx,
         CASE WHEN doc_id % 97 % 11 = 7 AND doc_id // 97 = 3 THEN 'user'
              WHEN (doc_id // 97) % 2 = 0 THEN 'user'
              ELSE 'assistant' END AS role,
         CASE WHEN doc_id % 97 % 11 = 3 AND doc_id // 97 = 2 THEN '  '
              WHEN doc_id % 97 % 13 = 5 AND (doc_id // 97) % 2 = 1
                   AND doc_id // 97 BETWEEN 3 AND 9
                   THEN 'retrying the tool call'
              WHEN doc_id // 97 < 2 + doc_id % 97 % 3
                   THEN 'SYS preamble v' || (doc_id % 97 % 7)::VARCHAR
                        || ' turn ' || (doc_id // 97)::VARCHAR
              ELSE text END AS text,
         CASE WHEN doc_id // 97 < 2 + doc_id % 97 % 3 THEN NULL
              WHEN (doc_id // 97) % 2 = 1 AND doc_id % 5 = 0
              THEN 'search' END AS tool,
         CASE WHEN doc_id % 97 % 11 = 1 AND doc_id // 97 = 1 THEN NULL
              ELSE TIMESTAMP '2025-01-01 00:00:00' + to_minutes(
                (CASE WHEN doc_id % 97 % 11 = 9 AND doc_id // 97 = 2
                      THEN doc_id - 300 ELSE doc_id END)::BIGINT) END AS ts
  FROM documents
)"""

    # shared-prefix depth: per-line digests, cumulative prefix digests
    # (digest of '|'-joined line digests — same composition as the
    # engine's array_join/slice plan), sharer counts per (depth, hash)
    sql["transcript_prefix_share"] = f"""
WITH {turns2_cte},
l AS (
  SELECT conv_id,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
         md5({_line()}) AS lh
  FROM turns2
),
p AS (
  SELECT a.conv_id, a.rn AS depth,
         md5(string_agg(b.lh, '|' ORDER BY b.rn)) AS ph
  FROM l a JOIN l b ON b.conv_id = a.conv_id AND b.rn <= a.rn
  GROUP BY a.conv_id, a.rn
),
g AS (SELECT depth, ph, count(*)::BIGINT AS cnt FROM p GROUP BY depth, ph),
j AS (SELECT p.conv_id, p.depth, g.cnt FROM p JOIN g USING (depth, ph)),
n AS (SELECT conv_id, count(*)::BIGINT AS n_turns FROM turns2 GROUP BY conv_id),
d AS (
  SELECT conv_id, max(CASE WHEN cnt >= 2 THEN depth END) AS sd
  FROM j GROUP BY conv_id
)
SELECT n.conv_id, n.n_turns,
       coalesce(d.sd, 0)::BIGINT AS shared_depth,
       coalesce(j2.cnt, 1)::BIGINT AS n_sharers
FROM n JOIN d USING (conv_id)
LEFT JOIN j j2 ON j2.conv_id = d.conv_id AND j2.depth = d.sd
"""

    # stuck-agent loops: change-point running sum assigns run ids over
    # the assistant turns, exactly the engine's window plan
    sql["transcript_loops"] = f"""
WITH {turns2_cte},
f AS (SELECT conv_id, turn_idx, role, text FROM turns2
      WHERE role = 'assistant'),
x AS (
  -- run continues only when BOTH text and role match the previous
  -- turn (null-safe) — the engine's `same` predicate verbatim; the
  -- role term is a no-op under the role='assistant' filter but keeps
  -- the twin semantically identical for a future role=None entry
  SELECT conv_id, turn_idx,
         CASE WHEN lag(turn_idx) OVER w IS NULL THEN 1
              WHEN lag(text) OVER w IS NOT DISTINCT FROM text
                   AND lag(role) OVER w IS NOT DISTINCT FROM role THEN 0
              ELSE 1 END AS chg
  FROM f
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
r AS (
  SELECT conv_id,
         sum(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS UNBOUNDED PRECEDING) AS run
  FROM x
),
runs AS (SELECT conv_id, run, count(*)::BIGINT AS run_len
         FROM r GROUP BY conv_id, run)
SELECT conv_id,
       sum(run_len)::BIGINT AS n_turns_seen,
       max(run_len)::BIGINT AS max_run,
       sum(CASE WHEN run_len >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_loops,
       sum(CASE WHEN run_len >= 2 THEN run_len ELSE 0 END)::BIGINT
         AS n_loop_turns
FROM runs GROUP BY conv_id
"""

    sql["transcript_lint"] = f"""
WITH {turns2_cte},
x AS (
  SELECT conv_id, turn_idx, role,
         CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END AS emp,
         CASE WHEN role = lag(role) OVER w THEN 1 ELSE 0 END AS rep,
         CASE WHEN ts < lag(ts) OVER w THEN 1 ELSE 0 END AS reg,
         CASE WHEN ts IS NULL THEN 1 ELSE 0 END AS nts,
         CASE WHEN role IS NULL THEN 1 ELSE 0 END AS nrole
  FROM turns2
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
a AS (
  SELECT conv_id,
         count(*)::BIGINT AS n_turns,
         sum(emp)::BIGINT AS n_empty_turns,
         sum(rep)::BIGINT AS n_role_repeats,
         sum(reg)::BIGINT AS n_ts_regressions,
         sum(nts)::BIGINT AS n_null_ts,
         sum(nrole)::BIGINT AS n_null_role,
         -- struct-min, NOT arg_min: arg_min SKIPS a NULL role at the
         -- first turn; the engine keeps it (first_role is the role AT
         -- min turn_idx, NULL included)
         (min(struct_pack(t := turn_idx, r := role))).r AS first_role
  FROM x GROUP BY conv_id
)
SELECT conv_id, n_turns, n_empty_turns, n_role_repeats, n_ts_regressions,
       n_null_ts, n_null_role, first_role,
       (CASE WHEN n_empty_turns = 0 AND n_role_repeats = 0
             AND n_ts_regressions = 0 AND n_null_ts = 0
             AND n_null_role = 0 AND first_role = 'user'
             THEN 1 ELSE 0 END)::BIGINT AS ok
FROM a
"""

    # divergence pairs: same prefix digests as transcript_prefix_share,
    # branch line via rank-(depth+1) left join, the engine's exact md5
    # rank caps (per_branch=2 convs per continuation, max_branches=16
    # continuations per prefix group), pairs at the maximal shared
    # depth only (same-continuation members never pair)
    sql["transcript_divergence"] = f"""
WITH {turns2_cte},
l AS (
  SELECT conv_id,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
         {_line()} AS line,
         md5({_line()}) AS lh
  FROM turns2
),
p AS (
  SELECT a.conv_id, a.rn AS depth,
         md5(string_agg(b.lh, '|' ORDER BY b.rn)) AS ph
  FROM l a JOIN l b ON b.conv_id = a.conv_id AND b.rn <= a.rn
  GROUP BY a.conv_id, a.rn
),
cand AS (
  SELECT p.conv_id, p.depth, p.ph, nl.line AS branch,
         coalesce(md5(nl.line), '<END>') AS bd
  FROM p LEFT JOIN l nl
    ON nl.conv_id = p.conv_id AND nl.rn = p.depth + 1
  WHERE p.depth >= 1
),
keptc AS (
  SELECT *, row_number() OVER (
           PARTITION BY depth, ph, bd
           ORDER BY md5(conv_id || '|' || ph)) AS cr
  FROM cand
),
keptb AS (
  SELECT *, dense_rank() OVER (
           PARTITION BY depth, ph
           ORDER BY md5(bd || '~' || ph)) AS br
  FROM keptc WHERE cr <= 2
)
SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
       a.depth::BIGINT AS shared_depth,
       a.branch AS branch_a, b.branch AS branch_b
FROM keptb a JOIN keptb b
  ON a.depth = b.depth AND a.ph = b.ph
 AND a.conv_id < b.conv_id AND a.bd <> b.bd
WHERE a.br <= 16 AND b.br <= 16
"""

    # composed curation gate: the staged engine plan replayed CTE by
    # CTE over turns2 + 8 replayed convs (priority lint > loop >
    # duplicate > prefix_family; each stage over earlier survivors)
    sql["transcript_curation"] = f"""
WITH {turns2_cte},
turns3 AS (
  SELECT * FROM turns2
  UNION ALL
  SELECT 'r' || substr(conv_id, 2) AS conv_id, turn_idx, role, text, tool, ts
  FROM turns2 WHERE substr(conv_id, 2)::INT < 8
),
lx AS (
  SELECT conv_id, turn_idx, role,
         CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END AS emp,
         CASE WHEN role = lag(role) OVER w THEN 1 ELSE 0 END AS rep,
         CASE WHEN ts < lag(ts) OVER w THEN 1 ELSE 0 END AS reg,
         CASE WHEN ts IS NULL THEN 1 ELSE 0 END AS nts,
         CASE WHEN role IS NULL THEN 1 ELSE 0 END AS nrole
  FROM turns3
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
lint AS (
  SELECT conv_id,
         CASE WHEN sum(emp) = 0 AND sum(rep) = 0 AND sum(reg) = 0
              AND sum(nts) = 0 AND sum(nrole) = 0
              AND (min(struct_pack(t := turn_idx, r := role))).r = 'user'
              THEN 1 ELSE 0 END AS ok
  FROM lx GROUP BY conv_id
),
lf AS (SELECT conv_id, turn_idx, role, text FROM turns3
       WHERE role = 'assistant'),
lc AS (
  SELECT conv_id, turn_idx,
         CASE WHEN lag(turn_idx) OVER w IS NULL THEN 1
              WHEN lag(text) OVER w IS NOT DISTINCT FROM text
                   AND lag(role) OVER w IS NOT DISTINCT FROM role THEN 0
              ELSE 1 END AS chg
  FROM lf
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
lr AS (
  SELECT conv_id,
         sum(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS UNBOUNDED PRECEDING) AS run
  FROM lc
),
loops AS (
  SELECT conv_id, max(run_len) AS max_run
  FROM (SELECT conv_id, run, count(*) AS run_len
        FROM lr GROUP BY conv_id, run)
  GROUP BY conv_id
),
a1 AS (
  SELECT l.conv_id,
         CASE WHEN l.ok = 0 THEN 'lint'
              WHEN coalesce(lo.max_run, 1) >= 2 THEN 'loop' END AS r1
  FROM lint l LEFT JOIN loops lo USING (conv_id)
),
t1 AS (SELECT t.* FROM turns3 t JOIN a1 ON a1.conv_id = t.conv_id
       WHERE a1.r1 IS NULL),
rr AS (
  SELECT conv_id,
         string_agg({_line()}, chr(10) ORDER BY turn_idx) AS rendered
  FROM t1 GROUP BY conv_id
),
gg AS (SELECT rendered, min(conv_id) AS canonical FROM rr GROUP BY rendered),
a2 AS (
  SELECT rr.conv_id,
         CASE WHEN rr.conv_id <> gg.canonical THEN 'duplicate' END AS r2
  FROM rr JOIN gg USING (rendered)
),
t2 AS (SELECT t.* FROM turns3 t JOIN a2 ON a2.conv_id = t.conv_id
       WHERE a2.r2 IS NULL),
l2 AS (
  SELECT conv_id,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
         md5({_line()}) AS lh
  FROM t2
),
p2 AS (
  SELECT x.conv_id, md5(x.lh || '|' || y.lh) AS ph
  FROM l2 x JOIN l2 y ON y.conv_id = x.conv_id AND x.rn = 1 AND y.rn = 2
),
a3 AS (
  SELECT conv_id,
         CASE WHEN row_number() OVER (
                PARTITION BY ph ORDER BY md5(conv_id || '|' || ph)) > 2
              THEN 'prefix_family' END AS r3
  FROM p2
)
SELECT a1.conv_id,
       (CASE WHEN coalesce(a1.r1, a2.r2, a3.r3) IS NULL
             THEN 1 ELSE 0 END)::BIGINT AS kept,
       coalesce(a1.r1, a2.r2, a3.r3) AS reason
FROM a1
LEFT JOIN a2 USING (conv_id)
LEFT JOIN a3 USING (conv_id)
"""

    return sql
