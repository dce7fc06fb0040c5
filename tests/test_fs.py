"""Object-storage-capable split I/O (quickwit-storage/src/ analog:
the Storage trait resolving URIs to S3/local/RAM backends).

``mock://<abs-path>`` routes EVERY index byte through the pyarrow
FileSystem interface while backing onto the local tree — so any code
path that still calls ``open()``/``os.*`` on an index path blows up
with a bogus ``mock://…`` literal path. The full lifecycle
(create → ingest → search → merge → gc → export) runs against it and
must match a byte-identical plain-local build.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from quickwit_spark.api import Index
from quickwit_spark.config import IndexConfig
from quickwit_spark.functions import fs as fsio
from quickwit_spark.plans.catalog import Catalog


def _cfg() -> IndexConfig:
    return IndexConfig(
        hot_term_doc_freq=200, salt_docid_range=64,
        merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
    )


@pytest.fixture(scope="module")
def mock_backing(tmp_path_factory):
    return str(tmp_path_factory.mktemp("mockfs"))


@pytest.fixture(scope="module")
def mock_index(spark, corpus, mock_backing):
    d = "mock://" + os.path.join(mock_backing, "idx")
    idx = Index.create(spark, d, _cfg())
    idx.ingest(spark.createDataFrame(corpus), n_splits=4, ingest_id="e2e")
    return idx


@pytest.fixture(scope="module")
def local_twin(spark, corpus, tmp_path_factory):
    """Same corpus, same config, same ingest id → identical split ids,
    so results are comparable down to (split_id, docid, score)."""
    d = str(tmp_path_factory.mktemp("localfs") / "idx")
    idx = Index.create(spark, d, _cfg())
    idx.ingest(spark.createDataFrame(corpus), n_splits=4, ingest_id="e2e")
    return idx


def _hits_key(resp):
    return [
        (h.split_id, h.docid, round(h.score, 6)) for h in resp.hits
    ]


def _doc_key(resp):
    """Split-layout-independent hit identity (survives merge/demux)."""
    return sorted(
        (round(h.score, 6), h.doc["conv_id"], h.doc["turn_idx"])
        for h in resp.hits
    )


class TestSchemeGuard:
    def test_unknown_scheme_rejected_loudly(self, tmp_path):
        with pytest.raises(ValueError, match="unsupported index_dir scheme"):
            fsio.resolve_fs("warp://bucket/idx")
        with pytest.raises(ValueError, match="supported"):
            Catalog.create("warp://bucket/idx", IndexConfig())

    def test_local_and_file_uri_resolve(self, tmp_path):
        for p in (str(tmp_path), "file://" + str(tmp_path), "mock://" + str(tmp_path)):
            fs, local = fsio.resolve_fs(p)
            assert local == str(tmp_path)

    def test_spark_read_path_mapping(self):
        assert fsio.spark_read_path("mock:///t/idx/lineage") == "/t/idx/lineage"
        assert fsio.spark_read_path("s3://b/idx") == "s3a://b/idx"
        assert fsio.spark_read_path("/t/idx") == "/t/idx"
        assert fsio.spark_read_path("hdfs://nn/idx") == "hdfs://nn/idx"


class TestMockE2E:
    def test_no_stray_local_writes(self, mock_index, mock_backing):
        # everything landed under the backing tree, nothing beside it
        # (a stray open("mock://…") would have thrown, not escaped —
        # this asserts the index actually materialized through the fs)
        root = os.path.join(mock_backing, "idx")
        assert os.path.exists(os.path.join(root, "manifests", "head.json"))
        assert len(os.listdir(os.path.join(root, "splits"))) == 4

    def test_search_parity_with_local(self, mock_index, local_twin):
        for q in ("w00002", "w00001 w00002", '"w00001"', "w00002 -w00004"):
            m = mock_index.search(q, k=10)
            l = local_twin.search(q, k=10)
            assert m.num_hits == l.num_hits, q
            assert _hits_key(m) == _hits_key(l), q

    def test_agg_and_sort_parity(self, mock_index, local_twin):
        m = mock_index.search(
            "w00002", k=5, sort_by="-ts",
            aggs={"by_role": {"terms": {"field": "role"}}},
        )
        l = local_twin.search(
            "w00002", k=5, sort_by="-ts",
            aggs={"by_role": {"terms": {"field": "role"}}},
        )
        assert _hits_key(m) == _hits_key(l)
        assert m.aggs == l.aggs

    def test_lineage_readable(self, mock_index):
        rows = mock_index.lineage().collect()
        assert len(rows) == 4
        assert all(r.op == "build" for r in rows)

    def test_rowbinary_export(self, mock_index, local_twin, mock_backing):
        out = "mock://" + os.path.join(mock_backing, "export")
        parts = mock_index.search_stream_rowbinary("w00002", "doc_len", out)
        assert parts and all(p.startswith("mock://") for p in parts)
        blob = b"".join(fsio.read_bytes(p) for p in parts)
        vals = sorted(struct.unpack(f"<{len(blob) // 8}q", blob))
        want = sorted(
            r.value for r in local_twin.search_stream("w00002", "doc_len").collect()
        )
        assert vals == [int(v) for v in want]

    def test_merge_gc_search(self, spark, mock_index, local_twin, mock_backing):
        # record pre-merge answer, merge + gc BOTH indexes, re-compare
        q = "w00002 w00004"
        before = mock_index.search(q, k=20)
        n_mock = mock_index.merge()
        n_local = local_twin.merge()
        assert n_mock == n_local and n_mock > 0
        gone = mock_index.gc()
        local_twin.gc()
        assert gone  # replaced splits physically deleted through the fs
        for sid in gone:
            assert not os.path.exists(
                os.path.join(mock_backing, "idx", "splits", sid)
            )
        # the merge republished the term stats under the new version;
        # GC deleted the superseded artifact through the fs
        from quickwit_spark.plans.catalog import Catalog

        cur = Catalog.load(mock_index.index_dir).stats_version()
        assert os.listdir(os.path.join(mock_backing, "idx", "term_stats")) == [
            f"stats-{cur}.parquet.shards"
        ]
        after = mock_index.search(q, k=20)
        assert after.num_hits == before.num_hits
        assert _doc_key(after) == _doc_key(before)
        assert _hits_key(after) == _hits_key(local_twin.search(q, k=20))

    def test_extract_split(self, mock_index, tmp_path):
        sid = mock_index.list_splits()[0]["split_id"]
        out = mock_index.extract_split(sid, str(tmp_path / "ex"))
        names = sorted(p.rsplit("/", 1)[-1] for p in out)
        assert names == ["docs.parquet", "postings.parquet"]
        assert all(os.path.getsize(p) > 0 for p in out)
        with pytest.raises(ValueError, match="no split"):
            mock_index.extract_split("nope", str(tmp_path / "ex2"))

    def test_demux_on_mock(self, spark, corpus, mock_backing, exhaustive):
        from quickwit_spark.operators.demux import demux_splits
        from quickwit_spark.plans.catalog import Catalog

        d = "mock://" + os.path.join(mock_backing, "demux")
        idx = Index.create(spark, d, IndexConfig(
            hot_term_doc_freq=200, salt_docid_range=64, tag_fields=["tool"],
        ))
        idx.ingest(spark.createDataFrame(corpus[:400]), n_splits=2,
                   ingest_id="dm")
        cat = Catalog.load(d)
        sids = [s.split_id for s in cat.published_splits()]
        new = demux_splits(spark, cat, sids, demux_field="tool",
                           demux_factor=3)
        assert new and sum(s.num_docs for s in new) == 400
        assert all(s.tag_has_null is not None for s in new)
        n = idx.search("w00001", k=5).num_hits
        assert n == exhaustive(idx.search, "w00001", k=5).num_hits

    def test_manifest_catalog_on_mock(
        self, spark, corpus, mock_backing, exhaustive
    ):
        """The append-log catalog routed through the FileSystem layer —
        the object-store deployment shape (manifest log + URI split
        I/O) end-to-end."""
        from quickwit_spark.plans.catalog import Catalog, ManifestCatalog

        d = "mock://" + os.path.join(mock_backing, "manifest_idx")
        idx = Index.create(spark, d, _cfg())
        idx.ingest(spark.createDataFrame(corpus[:300]), n_splits=2,
                   ingest_id="mf")
        assert isinstance(idx.catalog(), ManifestCatalog)
        assert os.path.exists(
            os.path.join(mock_backing, "manifest_idx", "manifests", "head.json")
        )
        r = idx.search("w00001", k=5)
        assert r.num_hits == exhaustive(idx.search, "w00001", k=5).num_hits
        n = idx.merge()
        assert n >= 1
        idx.gc()
        assert Catalog.load(d).total_docs() == 300

    def test_parquet_cache_thread_safety(self, tmp_path):
        """The footer cache is shared by concurrent searches (the
        ThreadingHTTPServer); concurrent read_pruned calls on the SAME
        cached handle must serialize per file (pyarrow ParquetFile
        reads are not thread-safe) and return correct rows."""
        import concurrent.futures as cf

        import pyarrow as pa
        import pyarrow.parquet as pq

        from quickwit_spark.functions.parquet_io import read_pruned

        path = str(tmp_path / "shared.parquet")
        n = 20_000
        pq.write_table(
            pa.table({"k": pa.array(range(n)), "v": pa.array(range(0, 2 * n, 2))}),
            path, row_group_size=512,
        )
        pf1 = fsio.parquet_file_cached(path)
        assert fsio.parquet_file_cached(path) is pf1  # shared handle

        def probe(seed: int) -> bool:
            keys = [(seed * 37 + i * 101) % n for i in range(8)]
            tbl = read_pruned(path, ["k", "v"], "k", keys)
            got = dict(zip(tbl.column("k").to_pylist(), tbl.column("v").to_pylist()))
            return got == {k: 2 * k for k in set(keys)}

        with cf.ThreadPoolExecutor(max_workers=16) as pool:
            assert all(pool.map(probe, range(200)))
        # footer-derived attrs delegate through the facade
        assert pf1.metadata.num_rows == n
        assert pf1.schema_arrow.names == ["k", "v"]

    def test_delete_through_fs(self, spark, corpus, mock_backing):
        d = "mock://" + os.path.join(mock_backing, "todelete")
        idx = Index.create(spark, d, _cfg())
        idx.ingest(spark.createDataFrame(corpus[:50]), n_splits=1,
                   ingest_id="del")
        assert os.path.exists(os.path.join(mock_backing, "todelete"))
        idx.delete()
        assert not os.path.exists(os.path.join(mock_backing, "todelete"))


def test_cached_schema_is_memoized_and_equals_fresh(tmp_path):
    """The cached handle builds its Arrow schema once and hands back the
    same object, equal to a fresh open's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickwit_spark.functions import fs as fsio

    path = str(tmp_path / "schema.parquet")
    pq.write_table(
        pa.table({"docid": pa.array([1, 2], pa.int64()),
                  "text": ["a", "b"], "ts_us": pa.array([3, 4], pa.int64())}),
        path,
    )
    pf = fsio.parquet_file_cached(path)
    first = pf.schema_arrow
    assert pf.schema_arrow is first
    assert first.equals(fsio.parquet_file(path).schema_arrow)
    assert first.names == ["docid", "text", "ts_us"]


def test_listdir_mock_and_local(tmp_path):
    from quickwit_spark.functions import fs as fsio

    base = str(tmp_path / "lst")
    fsio.makedirs(base)
    fsio.write_bytes(os.path.join(base, "a.json"), b"{}")
    fsio.write_bytes(os.path.join(base, "b.json"), b"{}")
    for prefix in ("", "mock://"):
        got = sorted(fsio.listdir(prefix + base))
        assert got == ["a.json", "b.json"], prefix
    assert fsio.listdir(str(tmp_path / "missing")) == []
    assert fsio.listdir("mock://" + str(tmp_path / "missing")) == []
