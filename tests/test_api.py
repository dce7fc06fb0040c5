"""Index API facade tests — CLI/REST surface parity (SURVEY.md §2.11)."""

from __future__ import annotations

import pytest

from quickwit_spark.api import Index
from quickwit_spark.config import IndexConfig


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("api") / "idx")
    idx = Index.create(
        spark, d,
        IndexConfig(
            hot_term_doc_freq=200, salt_docid_range=64,
            merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
        ),
    )
    idx.ingest(spark.createDataFrame(corpus), n_splits=4)
    return idx


def test_create_refuses_overwrite(spark, index):
    with pytest.raises(ValueError):
        Index.create(spark, index.index_dir)


def test_describe(index, corpus):
    d = index.describe()
    assert d["num_docs"] == len(corpus)
    assert d["num_published_splits"] == 4
    assert d["size_in_bytes"] > 0
    assert d["fields"] == ["text", "role", "tool"]

    # split statistics block (CLI `index describe` §2, index.rs:630-640)
    st = d["split_num_docs_stats"]
    docs_per_split = sorted(
        s.num_docs for s in index.catalog().published_splits()
    )
    assert st["min"] == docs_per_split[0] and st["max"] == docs_per_split[-1]
    assert st["mean"] == round(sum(docs_per_split) / 4, 2)
    assert st["q1"] <= st["q25"] <= st["q50"] <= st["q75"] <= st["q99"]
    # q50 of 4 sorted values = linear midpoint of the middle pair
    assert st["q50"] == round(
        (docs_per_split[1] + docs_per_split[2]) / 2, 2
    )
    assert d["split_size_mb_stats"] is not None
    lo, hi = d["timestamp_range_us"]
    assert lo <= hi


def test_descriptive_stats_edge_cases():
    from quickwit_spark.api import _descriptive_stats

    assert _descriptive_stats([]) is None
    one = _descriptive_stats([7])
    assert one["mean"] == 7.0 and one["q99"] == 7.0 and one["std"] == 0.0
    s = _descriptive_stats(list(range(1, 11)))
    assert (s["q25"], s["q50"], s["q75"]) == (3.25, 5.5, 7.75)


def test_search_json_shape(index):
    r = index.search_json("w00001", k=3)
    assert r["num_hits"] > 0
    assert len(r["hits"]) == 3
    h = r["hits"][0]
    assert set(h) == {"score", "document", "split_id", "doc_id"}
    assert "text" in h["document"]
    assert r["elapsed_time_micros"] > 0


def test_search_stream_export(index, oracle, tmp_path):
    df = index.search_stream("w00002", "doc_len")
    rows = df.collect()
    n_o, _ = oracle.search("w00002", k=1)
    assert len(rows) == n_o
    # values are real doc lens
    assert all(r.value > 0 for r in rows)
    out = str(tmp_path / "export")
    df.write.csv(out)  # the CSV output format of the reference


def test_sort_prefix_dsl(index):
    """REST '+field'/'-field' sort DSL (rest_handler.rs:83-114)."""
    desc = index.search("w00002", k=5, sort_by="-ts")
    asc = index.search("w00002", k=5, sort_by="+ts")
    d = [h.ts_us for h in desc.hits]
    a = [h.ts_us for h in asc.hits]
    assert d == sorted(d, reverse=True)
    assert a == sorted(a)
    assert a[0] <= d[0]


def test_partitioned_stream_export(index):
    """PartitionnedFastFieldCollector analog: dump (value, partition)
    pairs for all matches."""
    df = index.search_stream("w00002", "doc_len", partition_by="turn_idx")
    pdf = df.toPandas()
    assert set(pdf.columns) == {"split_id", "docid", "value", "partition"}
    assert len(pdf) == index.search("w00002", k=1).num_hits
    assert (pdf["partition"] >= 0).all()


def test_tail(index):
    r = index.tail(5)
    ts = [h.ts_us for h in r.hits]
    assert ts == sorted(ts, reverse=True)
    assert len(r.hits) == 5


def test_ingest_json_lines(spark, tmp_path):
    import json

    from quickwit_spark.api import Index

    lines = [
        json.dumps({"conv_id": "c1", "turn_idx": i, "role": "user",
                    "text": f"json ingest turn {i}", "tool": None,
                    "ts": "2025-01-01T00:00:00Z"})
        for i in range(5)
    ] + ["not json", json.dumps({"conv_id": "c2", "text": "no idx",
                                 "ts": "2025-01-01T00:00:00Z"})]
    p = tmp_path / "docs.ndjson"
    p.write_text("\n".join(lines))
    idx = Index.create(spark, str(tmp_path / "jidx"))
    result = idx.ingest_json_lines(str(p), n_splits=2)
    assert result["num_docs_valid"] == 5
    assert result["rejected"] == {
        "parse_error": 1, "missing_field:turn_idx": 1
    }
    assert idx.search("ingest", k=10).num_hits == 5


def test_gc_grace_period_reaps_stale_staged(index):
    from quickwit_spark.operators.merge import gc_deleted_splits
    from quickwit_spark.plans.catalog import Catalog, SplitMetadata

    cat = index.catalog()
    stale = SplitMetadata(split_id="stale-001")
    cat.stage_split(stale)
    cat.splits["stale-001"].update_timestamp -= 7200
    cat._commit()
    doomed = gc_deleted_splits(index.index_dir, grace_period_secs=3600)
    assert "stale-001" in doomed
    assert "stale-001" not in Catalog.load(index.index_dir).splits


def test_ingest_second_batch_requires_ingest_id(index, corpus, spark):
    """A second DataFrame ingest on an index with a completed batch is
    ambiguous (retry vs append) — it must raise, not silently no-op
    (appended data must never be dropped)."""
    import pytest

    before = index.describe()
    with pytest.raises(ValueError, match="ingest_id"):
        index.ingest(spark.createDataFrame(corpus), n_splits=4)
    # same-id retry of the completed ingest IS a checkpointed no-op
    index.ingest(spark.createDataFrame(corpus), n_splits=4, ingest_id="b0000")
    after = index.describe()
    assert after["num_docs"] == before["num_docs"]
    assert after["num_published_splits"] == before["num_published_splits"]


def test_ingest_append_with_new_ingest_id(spark, corpus, tmp_path):
    """An explicit new ingest_id appends: the new data is indexed and
    searchable next to the first ingest's splits."""
    from quickwit_spark.api import Index
    from quickwit_spark.sources.transcripts import generate_transcripts

    idx = Index.create(spark, str(tmp_path / "append"))
    idx.ingest(spark.createDataFrame(corpus), n_splits=2)
    n1 = idx.describe()["num_docs"]
    extra = generate_transcripts(300, seed=99)
    extra["conv_id"] = "app-" + extra["conv_id"]
    idx.ingest(spark.createDataFrame(extra), n_splits=2, ingest_id="b0001")
    after = idx.describe()
    assert after["num_docs"] == n1 + len(extra)
    assert after["num_published_splits"] == 4
    # both ingests' docs are visible to search
    assert idx.search("w00001", k=5).num_hits > 0


def test_stale_searcher_survives_merge_and_gc(spark, corpus, tmp_path):
    """A Searcher held across merge+GC must auto-refresh instead of
    failing on deleted split dirs."""
    from quickwit_spark.api import Index
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.operators.search import Searcher

    idx = Index.create(
        spark, str(tmp_path / "stale"),
        IndexConfig(merge_factor=2, max_merge_factor=4, min_level_num_docs=10),
    )
    idx.ingest(spark.createDataFrame(corpus), n_splits=4)
    se = Searcher(spark, idx.index_dir)  # held across maintenance
    before = se.search("w00001", k=5)
    idx.merge()
    idx.gc()
    after = se.search("w00001", k=5)  # auto-refreshed
    assert after.num_hits == before.num_hits
    assert [round(h.score, 9) for h in after.hits] == [
        round(h.score, 9) for h in before.hits
    ]


def test_stream_sees_other_writers_appends(spark, corpus, tmp_path):
    """A long-lived handle's search stream reloads a catalog another
    writer republished, as its searches do: it streams every match of
    the current split set, not the one it first loaded."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import Searcher, stream_fast_field

    d = str(tmp_path / "streamfresh")
    build_index(spark, spark.createDataFrame(corpus), d, n_splits=2)
    se = Searcher(spark, d)
    before = se.search("w00001", k=0).num_hits
    build_index(spark, spark.createDataFrame(corpus), d, n_splits=2,
                ingest_id="b0001")  # another writer appends
    n_stream = stream_fast_field(se, "w00001", "doc_len").count()
    assert n_stream == se.search("w00001", k=0).num_hits == 2 * before


def test_merge_and_gc_and_lineage(index, corpus):
    assert index.merge() >= 1
    assert index.describe()["num_published_splits"] == 1
    assert index.describe()["num_docs"] == len(corpus)
    doomed = index.gc()
    assert len(doomed) >= 4
    lin = index.lineage().toPandas()
    assert set(lin["op"]) >= {"build", "merge"}
    assert (lin["num_docs"] > 0).all()
    # per-split lineage carries bytes + wall time (north rule)
    assert (lin["size_in_bytes"] > 0).all()
    assert (lin["wall_time_sec"] >= 0).all()


def test_lineage_files_of_both_writers_read_as_one_table(spark, tmp_path):
    """A lineage file written through pandas (how lineage was written
    before the pinned Arrow schema) and one written now read as one
    table, through Spark and through pandas."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickwit_spark.plans.catalog import Catalog

    idx = Index.create(spark, str(tmp_path / "idx"))
    row = {"split_id": "s-new", "op": "merge", "partition": None,
           "num_docs": 3, "size_in_bytes": 10, "term_min": None,
           "term_max": "zz", "wall_time_sec": 1, "ts": 5.0}
    Catalog.load(idx.index_dir).append_lineage([row])
    old = pd.DataFrame([{**row, "split_id": "s-old", "op": "build",
                         "partition": 2, "term_min": "aa"}])
    for c, t in [("partition", "int64"), ("num_docs", "int64"),
                 ("size_in_bytes", "int64"), ("term_min", "string"),
                 ("term_max", "string"), ("split_id", "string"),
                 ("op", "string"), ("wall_time_sec", "float64"),
                 ("ts", "float64")]:
        old[c] = old[c].astype(t)
    lin_dir = os.path.join(idx.index_dir, "lineage")
    pq.write_table(pa.Table.from_pandas(old, preserve_index=False),
                           os.path.join(lin_dir, "lineage-old.parquet"))
    want = {("s-new", "merge", -1, None), ("s-old", "build", 2, "aa")}
    via_spark = idx.lineage().toPandas()
    via_pandas = pd.read_parquet(lin_dir)
    for lin in (via_spark, via_pandas):
        assert len(lin) == 2
        assert {
            (r.split_id, r.op, r.partition, None if pd.isna(r.term_min) else r.term_min)
            for r in lin.itertuples()
        } == want
        assert (lin["num_docs"] == 3).all() and (lin["wall_time_sec"] == 1.0).all()


def test_catalog_scales_to_10k_splits(tmp_path):
    """10k-split catalog: adaptive chunked publishing keeps the number
    of atomic commits bounded (<=9 for any split count), and load /
    stats-version stay fast."""
    import time

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.operators.build import PUBLISH_CHUNK
    from quickwit_spark.plans.catalog import Catalog, SplitMetadata

    d = str(tmp_path / "big")
    cat = Catalog.create(d, IndexConfig())
    commits = {"n": 0}
    real_commit = type(cat)._commit

    def counting_commit(self):
        commits["n"] += 1
        return real_commit(self)

    metas = [
        SplitMetadata(
            split_id=f"s-{i:05d}", num_docs=10, sum_doc_len=100,
            time_range=(i, i + 1), term_range=("a", "z"),
        )
        for i in range(10_000)
    ]
    type(cat)._commit = counting_commit
    try:
        chunk = max(PUBLISH_CHUNK, -(-len(metas) // 8))
        t0 = time.time()
        for i in range(0, len(metas), chunk):
            cat.stage_and_publish(metas[i : i + chunk])
        publish_sec = time.time() - t0
    finally:
        type(cat)._commit = real_commit
    assert 1 <= commits["n"] <= 9     # adaptive chunking bounds commits
    assert publish_sec < 30

    t0 = time.time()
    cat2 = Catalog.load(d)
    load_sec = time.time() - t0
    assert len(cat2.published_splits()) == 10_000
    assert load_sec < 5
    assert cat2.stats_version()       # version hash over 10k ids is fast
    assert cat2.total_docs() == 100_000


def test_search_stream_clickhouse_rowbinary(index):
    """RowBinary export: concatenated part files decode to exactly the
    stream's values (little-endian i64, no header)."""
    import numpy as np

    paths = index.search_stream_rowbinary(
        "w00002", "doc_len", str(index.index_dir) + "/../rb_out"
    )
    assert paths
    blob = b"".join(open(p, "rb").read() for p in paths)
    got = np.frombuffer(blob, dtype="<i8")
    want = np.sort(
        index.search_stream("w00002", "doc_len")
        .toPandas()["value"].to_numpy().astype("<i8")
    )
    assert np.array_equal(np.sort(got), want)
    assert len(got) == index.search("w00002", k=1).num_hits


def test_rowbinary_encoder():
    """The one RowBinary encoder: little-endian fixed width, floats
    truncate to ints, and a null (NaN) has no integer encoding."""
    import struct

    from quickwit_spark.operators.search import rowbinary

    assert rowbinary([1.0, 2.9, -3.7]) == struct.pack("<3q", 1, 2, -3)
    assert rowbinary([7.0], "u64") == struct.pack("<Q", 7)
    assert rowbinary([1.5], "f64") == struct.pack("<d", 1.5)
    with pytest.raises(ValueError, match="non-finite"):
        rowbinary([1.0, float("nan")])


def test_ingest_bulk_es_shim(spark, tmp_path):
    """ES _bulk NDJSON (action line + doc line pairs) ingests the docs
    and ignores the action lines."""
    import json

    from quickwit_spark.api import Index

    lines = []
    for i in range(4):
        lines.append(json.dumps({"index": {"_index": "t", "_id": str(i)}}))
        lines.append(json.dumps({
            "conv_id": "bk", "turn_idx": i, "role": "user",
            "text": f"bulk ingest doc {i}", "tool": None,
            "ts": "2025-01-01T00:00:00Z",
        }))
    p = tmp_path / "bulk.ndjson"
    p.write_text("\n".join(lines))
    idx = Index.create(spark, str(tmp_path / "bidx"))
    result = idx.ingest_bulk(str(p), n_splits=2)
    assert result["num_docs_valid"] == 4
    assert result["rejected"] == {}
    assert idx.search("bulk", k=10).num_hits == 4


def test_http_rest_server(index, corpus, tmp_path):
    """A real HTTP listener over the Index facade: /search (REST param
    names), /search/stream, /tail, /describe respond with the
    reference's shapes (rest_handler.rs:83-166)."""
    import json
    import urllib.request

    from quickwit_spark.serve import serve

    srv, _t = serve({"transcripts": index})
    port = srv.server_address[1]
    base = f"http://127.0.0.1:{port}/api/v1/transcripts"
    try:
        def get(path):
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return r.status, r.read().decode()

        code, body = get("/search?query=w00001&max_hits=3")
        assert code == 200
        payload = json.loads(body)
        assert payload["num_hits"] > 0 and len(payload["hits"]) == 3
        assert {"score", "document", "split_id", "doc_id"} <= set(payload["hits"][0])

        # sort DSL + offset params
        code, body = get("/search?query=w00002&max_hits=2&sort_by_field=-ts")
        ts = [h["document"]["ts"] for h in json.loads(body)["hits"]]
        assert ts == sorted(ts, reverse=True)

        # default output_format=csv — one fast-field value per line
        code, body = get("/search/stream?query=w00002&fast_field=doc_len")
        vals = [int(l) for l in body.splitlines() if l]
        assert len(vals) == index.search("w00002", k=1).num_hits

        # clickHouseRowBinary — little-endian i64 fixed width
        import struct
        import urllib.request as _rq

        with _rq.urlopen(
            base + "/search/stream?query=w00002&fast_field=doc_len"
                   "&output_format=clickHouseRowBinary",
            timeout=60,
        ) as r:
            raw = r.read()
        assert len(raw) == 8 * len(vals)
        assert sorted(struct.unpack(f"<{len(vals)}q", raw)) == sorted(vals)
        # the same multiset as the library sink's part files (one part
        # per task, so compared unordered)
        parts = index.search_stream_rowbinary("w00002", "doc_len", str(tmp_path / "rb"))
        sink = b"".join(open(p, "rb").read() for p in parts)
        assert sorted(struct.unpack(f"<{len(sink) // 8}q", sink)) == sorted(
            struct.unpack(f"<{len(raw) // 8}q", raw)
        )

        # aggs JSON param (rest_handler.rs SearchRequestQueryString.aggs)
        from urllib.parse import quote

        aggs = quote(json.dumps(
            {"by_role": {"terms": {"field": "role", "size": 5}}}
        ))
        code, body = get(f"/search?query=w00001&max_hits=0&aggs={aggs}")
        agg = json.loads(body)["aggregations"]["by_role"]
        assert agg["buckets"] and all(
            b["doc_count"] > 0 for b in agg["buckets"]
        )

        # nested bucket sub-agg round-trips the live JSON path
        # (aggregation.md histogram-with-stats example shape)
        aggs2 = quote(json.dumps({
            "h": {"histogram": {"field": "doc_len", "interval": 5.0},
                  "aggs": {"st": {"stats": {"field": "doc_len"}}}},
        }))
        code, body = get(f"/search?query=w00001&max_hits=0&aggs={aggs2}")
        hb = json.loads(body)["aggregations"]["h"]["buckets"]
        assert code == 200 and hb
        filled = [b for b in hb if b["doc_count"]]
        assert filled and all(
            b["st"]["count"] == b["doc_count"]
            and b["st"]["min"] <= b["st"]["avg"] <= b["st"]["max"]
            for b in filled
        )

        # format=json is compact, default prettyjson is indented
        code, compact = get("/search?query=w00001&max_hits=1&format=json")
        assert "\n" not in compact
        code, pretty = get("/search?query=w00001&max_hits=1")
        assert "\n" in pretty
        assert json.loads(compact)["num_hits"] == json.loads(pretty)["num_hits"]
        assert "elapsed_time_micros" in json.loads(compact)

        code, body = get("/tail?num_hits=4")
        assert len(json.loads(body)["hits"]) == 4

        code, body = get("/describe")
        assert json.loads(body)["num_docs"] == len(corpus)

        # unknown index / bad query → 4xx JSON errors
        import urllib.error

        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/api/v1/nope/search?query=x", timeout=30
            )
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
            # rest-api.md "Error handling": body carries error_message
            assert "error_message" in json.loads(e.read().decode())
        try:
            urllib.request.urlopen(base + "/search?query=x&max_hits=99999", timeout=30)
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "error_message" in json.loads(e.read().decode())
    finally:
        srv.shutdown()


def test_http_rest_ingest(spark, tmp_path):
    """POST /ingest: NDJSON body -> mapped, indexed, searchable."""
    import json
    import os
    import urllib.request

    from quickwit_spark.api import Index
    from quickwit_spark.serve import serve

    import time

    idx = Index.create(spark, str(tmp_path / "http_ingest"))
    srv, _t = serve({"ing": idx})
    port = srv.server_address[1]
    pre_ingest_time = time.time() - 1
    try:
        lines = "\n".join(
            json.dumps({"conv_id": "h", "turn_idx": i, "role": "user",
                        "text": f"http ingested doc {i}", "tool": None,
                        "ts": "2025-01-01T00:00:00Z"})
            for i in range(4)
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/ing/ingest", data=lines,
            method="POST", headers={"content-type": "application/x-ndjson"},
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            out = json.loads(r.read().decode())
        assert out["num_docs_valid"] == 4
        assert out["num_docs_for_processing"] == 4
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/v1/ing/search?query=http", timeout=60
        ) as r:
            assert json.loads(r.read().decode())["num_hits"] == 4
        # re-POSTing the IDENTICAL body must APPEND (ES bulk semantics),
        # not silently no-op behind a body-hash ingest id
        req2 = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/ing/ingest", data=lines,
            method="POST", headers={"content-type": "application/x-ndjson"},
        )
        with urllib.request.urlopen(req2, timeout=120) as r:
            out2 = json.loads(r.read().decode())
        assert out2["num_docs_valid"] == 8
        # spool files are cleaned up (no NEW leftovers from these posts)
        import glob
        import tempfile

        leftover = glob.glob(
            os.path.join(tempfile.gettempdir(), "qs_ingest_*.ndjson")
        )
        assert not [p for p in leftover
                    if os.path.getmtime(p) > pre_ingest_time]
    finally:
        srv.shutdown()


def test_http_management_routes(index, corpus):
    """Index-management + cluster + health read routes
    (index_api/rest_handler.rs:30-87, cluster_api, health_check_api)."""
    import json
    import urllib.request

    from quickwit_spark.serve import serve

    srv, _t = serve({"transcripts": index})
    port = srv.server_address[1]
    root = f"http://127.0.0.1:{port}"
    try:
        def get(path):
            with urllib.request.urlopen(root + path, timeout=60) as r:
                return json.loads(r.read().decode())

        assert get("/health/livez")["status"] == "alive"

        cluster = get("/api/v1/cluster")
        assert cluster["indexes"] == ["transcripts"]
        assert cluster["members"] and cluster["members"][0]["parallelism"] >= 1

        listing = get("/api/v1/indexes")
        assert [m["index_id"] for m in listing] == ["transcripts"]
        assert listing[0]["num_docs"] == len(corpus)

        meta = get("/api/v1/indexes/transcripts")
        assert meta["index_id"] == "transcripts"
        assert meta["index_uri"] == index.index_dir

        splits = get("/api/v1/indexes/transcripts/splits")
        assert len(splits) == len(index.list_splits())
        assert all("split_id" in s for s in splits)

        import urllib.error

        try:
            urllib.request.urlopen(root + "/api/v1/indexes/nope", timeout=30)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.shutdown()


def test_http_bulk_route(spark, tmp_path):
    """POST /api/v1/_bulk: ES-compatible NDJSON routed per-action by
    the metadata `_index` (rest-api.md elastic-compat bulk)."""
    import json
    import urllib.request

    from quickwit_spark.api import Index
    from quickwit_spark.serve import serve

    a = Index.create(spark, str(tmp_path / "bulk_a"))
    b = Index.create(spark, str(tmp_path / "bulk_b"))
    srv, _t = serve({"ia": a, "ib": b})
    port = srv.server_address[1]
    try:
        def doc(i, word):
            return json.dumps({"conv_id": "b", "turn_idx": i, "role": "user",
                               "text": f"bulk {word} {i}", "tool": None,
                               "ts": "2025-01-01T00:00:00Z"})

        lines = []
        for i in range(3):
            lines += [json.dumps({"index": {"_index": "ia"}}), doc(i, "alpha")]
        for i in range(2):
            lines += [json.dumps({"create": {"_index": "ib"}}), doc(i, "beta")]
        # unknown index: action + payload dropped, counted
        lines += [json.dumps({"index": {"_index": "nope"}}), doc(9, "gamma")]
        # delete action (no payload line follows, per ES)
        lines += [json.dumps({"delete": {"_index": "ia"}})]
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/v1/_bulk",
            data=("\n".join(lines) + "\n").encode(), method="POST",
            headers={"content-type": "application/x-ndjson"},
        )
        with urllib.request.urlopen(req, timeout=180) as r:
            out = json.loads(r.read().decode())
        assert out["num_docs_for_processing"] == 5
        assert out["num_unrouted_actions"] == 1
        assert a.search("alpha", k=10).num_hits == 3
        assert b.search("beta", k=10).num_hits == 2
        assert a.search("gamma", k=10).num_hits == 0
    finally:
        srv.shutdown()


def test_http_stream_is_chunked(index):
    """/search/stream streams via chunked transfer — a response larger
    than one flush threshold arrives complete and well-formed (and the
    driver never held the whole body as one string)."""
    import json
    import urllib.request

    from quickwit_spark import serve as serve_mod
    from quickwit_spark.serve import serve

    old = serve_mod.STREAM_CHUNK_BYTES
    serve_mod.STREAM_CHUNK_BYTES = 256  # force many chunks
    srv, _t = serve({"transcripts": index})
    port = srv.server_address[1]
    try:
        url = (f"http://127.0.0.1:{port}/api/v1/transcripts/search/stream"
               "?query=w00002&fast_field=doc_len")
        with urllib.request.urlopen(url, timeout=120) as r:
            assert r.headers.get("transfer-encoding") == "chunked"
            assert r.headers.get("content-length") is None
            body = r.read().decode()
        vals = [int(l) for l in body.splitlines() if l]
        assert len(vals) == index.search("w00002", k=1).num_hits
        assert len(body) > 256  # actually spanned multiple chunks
    finally:
        serve_mod.STREAM_CHUNK_BYTES = old
        srv.shutdown()


def test_ingest_bulk_scalar_index_field_is_a_doc(spark, tmp_path):
    """A doc line with a single scalar field named 'index' is NOT an
    action line — it must flow to the mapper (and be rejected there
    with a mapping error, not silently dropped)."""
    import json

    from quickwit_spark.api import Index

    lines = [
        json.dumps({"index": {"_index": "t"}}),          # real action line
        json.dumps({"conv_id": "b", "turn_idx": 0, "role": "user",
                    "text": "bulk scalar case", "tool": None,
                    "ts": "2025-01-01T00:00:00Z"}),
        json.dumps({"index": "just a scalar"}),          # a (bad) DOC
    ]
    p = tmp_path / "bulk2.ndjson"
    p.write_text("\n".join(lines))
    idx = Index.create(spark, str(tmp_path / "b2idx"))
    result = idx.ingest_bulk(str(p), n_splits=2)
    assert result["num_docs_valid"] == 1
    # the scalar-'index' line reached the mapper and was REJECTED
    assert result["rejected"] == {"missing_field:conv_id": 1}


def test_ingest_bulk_positional_pairing(spark, tmp_path):
    """ES bulk semantics are positional: (a) an `update` action's
    `{"doc": ...}` payload is dropped + counted (not fed to the mapper
    as a bad doc), (b) a `delete` action (no payload) is counted and
    the NEXT action line still parses as an action, (c) a real document
    in payload position is ingested even when its only top-level field
    is named `index` with an object value."""
    import json

    from quickwit_spark.api import Index

    def doc(i, text):
        return json.dumps({"conv_id": "pp", "turn_idx": i, "role": "user",
                           "text": text, "tool": None,
                           "ts": "2025-01-01T00:00:00Z"})

    lines = [
        json.dumps({"index": {"_id": "0"}}),
        doc(0, "positional zero"),
        json.dumps({"update": {"_id": "0"}}),
        json.dumps({"doc": {"text": "partial update payload"}}),  # dropped
        json.dumps({"delete": {"_id": "0"}}),                      # no payload
        json.dumps({"create": {"_id": "1"}}),
        # a DOC whose only field is named "index" (object value) — in
        # payload position it is still a document... but it lacks the
        # required fields, so the mapper rejects it (NOT silently drops)
        json.dumps({"index": {"nested": "object doc"}}),
        json.dumps({"index": {"_id": "2"}}),
        doc(2, "positional two"),
    ]
    p = tmp_path / "bulk3.ndjson"
    p.write_text("\n".join(lines))
    idx = Index.create(spark, str(tmp_path / "b3idx"))
    result = idx.ingest_bulk(str(p), n_splits=2)
    assert result["num_docs_valid"] == 2
    assert result["rejected"] == {
        "unsupported_action:update": 1,
        "unsupported_action:delete": 1,
        "missing_field:conv_id": 1,
    }
    assert idx.search("positional", k=10).num_hits == 2
