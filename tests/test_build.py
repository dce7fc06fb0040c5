"""Build-path unit + resume tests (indexer/packager/publisher analogs;
failpoint-style resume per quickwit-indexing/failpoints/mod.rs:54-215)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions.codec import (
    _encode_varint_parts,
    decode_varint,
    delta_decode,
    encode_varint,
    grouped_delta_encode,
)
from quickwit_spark.functions.tokenize import tokenize_default
from quickwit_spark.operators.build import (
    POSTINGS_FILE,
    POSTINGS_SCHEMA,
    build_split_tables_arrow,
    write_split,
)
from quickwit_spark.sources.transcripts import generate_transcripts


def test_varint_part_offsets_match_encoding():
    rng = np.random.default_rng(0)
    vals = rng.integers(0, 2**40, size=1000, dtype=np.uint64)
    blob, nbytes, offsets = _encode_varint_parts(vals)
    assert blob.tobytes() == encode_varint(vals)
    assert offsets[-1] == len(blob) == nbytes.sum()
    for i in (0, 1, 500, 999):
        one = encode_varint(vals[i : i + 1])
        assert blob[offsets[i] : offsets[i + 1]].tobytes() == one
        assert nbytes[i] == len(one)


def test_grouped_delta_encode_slices():
    vals = np.array([5, 9, 14, 3, 3, 10, 100], dtype=np.uint64)
    starts = np.array([0, 3, 5])
    blobs = grouped_delta_encode(vals, starts, delta=True)
    assert blobs.type == pa.binary()
    blobs = blobs.to_pylist()
    assert len(blobs) == 3
    np.testing.assert_array_equal(delta_decode(blobs[0]), [5, 9, 14])
    np.testing.assert_array_equal(delta_decode(blobs[1]), [3, 3])
    np.testing.assert_array_equal(delta_decode(blobs[2]), [10, 100])


def test_grouped_encode_no_delta():
    vals = np.array([1, 2, 300, 4], dtype=np.uint64)
    blobs = grouped_delta_encode(vals, np.array([0, 2]), delta=False).to_pylist()
    np.testing.assert_array_equal(decode_varint(blobs[0]), [1, 2])
    np.testing.assert_array_equal(decode_varint(blobs[1]), [300, 4])


class TestBuildSplitTables:
    @pytest.fixture(scope="class")
    def built(self):
        pdf = generate_transcripts(500, seed=3, hot_term_frac=0.5)
        cfg = IndexConfig(hot_term_doc_freq=50, salt_docid_range=32)
        postings, docs, meta = build_split_tables_arrow(
            pa.Table.from_pandas(pdf, preserve_index=False), cfg
        )
        return pdf, cfg, (postings.to_pandas(), docs.to_pandas(), meta)

    def test_doc_conservation(self, built):
        pdf, cfg, (postings, docs, meta) = built
        assert len(docs) == len(pdf) == meta["num_docs"]
        # docids are a stable (conv_id, turn_idx) ordering
        assert docs["docid"].tolist() == list(range(len(pdf)))
        sorted_keys = docs[["conv_id", "turn_idx"]].values.tolist()
        assert sorted_keys == sorted(sorted_keys)

    def test_posting_doc_freq_conserved(self, built):
        pdf, cfg, (postings, docs, meta) = built
        # sum of df over text rows == number of distinct (term, doc) pairs
        text_rows = postings[postings["field"] == "text"]
        n_pairs = sum(
            len(set(tokenize_default(t))) for t in pdf["text"]
        )
        assert int(text_rows["df"].sum()) == n_pairs

    def test_hot_term_is_sharded(self, built):
        pdf, cfg, (postings, docs, meta) = built
        hot = postings[
            (postings["field"] == "text") & (postings["term"] == "hotterm")
        ]
        assert len(hot) > 1  # sharded
        assert hot["shard"].tolist() == list(range(len(hot)))
        assert (hot["df"] <= cfg.salt_docid_range).all()
        # shards concatenate to a strictly increasing docid list
        all_ids = np.concatenate(
            [delta_decode(b) for b in hot.sort_values("shard")["doc_ids"]]
        )
        assert (np.diff(all_ids.astype(np.int64)) > 0).all()

    def test_block_max_stats(self, built):
        pdf, cfg, (postings, docs, meta) = built
        dl = docs["doc_len"].to_numpy()
        for row in postings[postings["field"] == "text"].head(50).itertuples():
            ids = delta_decode(row.doc_ids).astype(np.int64)
            tfs = decode_varint(row.tfs).astype(np.int64)
            assert tfs.max() == row.max_tf
            assert dl[ids].min() == row.min_dl

    def test_meta_ranges(self, built):
        pdf, cfg, (postings, docs, meta) = built
        terms = postings[postings["field"] == "text"]["term"]
        assert meta["term_range"] == (terms.min(), terms.max())
        lo, hi = meta["time_range"]
        assert lo <= hi
        assert meta["tags"]["tool"] is not None  # ≤ 20 tools


@pytest.mark.parametrize("case", ["transcripts", "positionless", "empty"])
def test_postings_table_has_the_on_disk_schema(tmp_path, case):
    """The kernel returns the postings as a pyarrow Table with exactly
    the schema write_split puts on disk, written as is: no pandas
    metadata, and the same types for positionless fields and for a
    split without any token."""
    import pyarrow.parquet as pq

    from quickwit_spark.config import FieldConfig

    tbl = pa.Table.from_pandas(
        generate_transcripts(200, seed=4), preserve_index=False
    )
    cfg = IndexConfig()
    if case == "positionless":
        cfg = IndexConfig(fields=(FieldConfig("text", "default", "freq"),))
    elif case == "empty":
        tbl = tbl.slice(0, 0)
    postings, docs, _ = build_split_tables_arrow(tbl, cfg)
    assert isinstance(postings, pa.Table)
    assert postings.schema.equals(POSTINGS_SCHEMA, check_metadata=True)
    assert postings.schema.metadata is None
    write_split(postings, docs, str(tmp_path))
    on_disk = pq.read_schema(str(tmp_path / POSTINGS_FILE))
    assert on_disk.equals(POSTINGS_SCHEMA, check_metadata=True)
    back = pq.read_table(str(tmp_path / POSTINGS_FILE))
    assert back.equals(postings)
    if case == "positionless":
        assert postings.column("positions").null_count == len(postings) > 0
    if case == "empty":
        assert len(postings) == 0


@given(
    st.lists(st.integers(0, 6), max_size=40).flatmap(
        lambda lens: st.tuples(
            st.just(np.array(lens, dtype=np.int64)),
            st.lists(st.integers(0, 5), min_size=sum(lens), max_size=sum(lens)),
        )
    )
)
@settings(max_examples=200, deadline=None)
def test_stable_code_argsort_is_the_three_key_lexsort(stream):
    """Token codes come in (docid, position) order, so the kernel's
    stable argsort on the code alone equals the (code, docid,
    position) lexsort."""
    lens, codes = stream
    codes = np.array(codes, dtype=np.int64)
    docids = np.repeat(np.arange(lens.size, dtype=np.int64), lens)
    starts = np.cumsum(lens) - lens
    pos = np.arange(codes.size, dtype=np.int64) - np.repeat(starts, lens)
    np.testing.assert_array_equal(
        np.argsort(codes, kind="stable"), np.lexsort((pos, docids, codes))
    )


def test_append_builds_with_the_index_config(spark, tmp_path):
    """An append without a config builds with the index's own config,
    not IndexConfig() defaults: its hot term is salted like the first
    ingest's."""
    from quickwit_spark.operators.build import POSTINGS_FILE, build_index
    from quickwit_spark.plans.catalog import Catalog

    cfg = IndexConfig(hot_term_doc_freq=50, salt_docid_range=32)
    pdf = generate_transcripts(800, seed=3, hot_term_frac=0.5)
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf.iloc[:400]), idx, cfg,
                n_splits=1, ingest_id="first")
    build_index(spark, spark.createDataFrame(pdf.iloc[400:]), idx,
                n_splits=1, ingest_id="append")
    cat = Catalog.load(idx)
    assert cat.config == cfg
    for sid in ("split-first-00000", "split-append-00000"):
        postings = pd.read_parquet(
            f"{cat.split_dir(sid)}/{POSTINGS_FILE}", columns=["field", "term", "df"]
        )
        hot = postings[(postings["field"] == "text") & (postings["term"] == "hotterm")]
        assert len(hot) > 1, sid
        assert (hot["df"] <= cfg.salt_docid_range).all(), sid


def _write_source(pdf, path) -> str:
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), str(path),
        coerce_timestamps="us",
    )
    return str(path)


@pytest.mark.parametrize("source_kind", ["dataframe", "file"])
def test_resume_after_partial_publish(spark, corpus, config, tmp_path,
                                      source_kind):
    """Kill between split publishes → re-run → no loss, no duplication
    (publisher.rs:140-148 atomic publish; checkpoint.rs resume), for a
    DataFrame (Spark build) and a small parquet file (driver build)."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.catalog import Catalog

    import quickwit_spark.operators.build as build_mod

    idx = str(tmp_path / "idx")
    if source_kind == "dataframe":
        sdf = spark.createDataFrame(corpus)
    else:
        sdf = _write_source(corpus, tmp_path / "src.parquet")

    monkey_chunk = build_mod.PUBLISH_CHUNK
    build_mod.PUBLISH_CHUNK = 1  # per-split publishes for this test
    real_publish = Catalog.stage_and_publish
    calls = {"n": 0}

    def failing_publish(self, *a, **kw):
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash mid-publish")
        calls["n"] += 1
        return real_publish(self, *a, **kw)

    Catalog.stage_and_publish = failing_publish
    try:
        with pytest.raises(RuntimeError):
            build_index(spark, sdf, idx, config, n_splits=4)
    finally:
        Catalog.stage_and_publish = real_publish
        build_mod.PUBLISH_CHUNK = monkey_chunk

    cat = Catalog.load(idx)
    assert len(cat.published_splits()) == 2  # partial progress persisted
    # a DataFrame ingest starts b0000; a path gets a path-derived one
    ns = next(iter(cat.checkpoint)).split("/")[1]
    assert (ns == "b0000") == (source_kind == "dataframe")

    # resume: must rebuild ONLY the missing partitions
    cat2 = build_index(spark, sdf, idx, config, n_splits=4)
    assert len(cat2.published_splits()) == 4
    assert cat2.total_docs() == len(corpus)
    # all four checkpoint positions recorded exactly once, plus the
    # ingest-completion marker (all namespaced under this ingest)
    assert sorted(cat2.checkpoint) == [
        f"batch/{ns}", *(f"batch/{ns}/{p}" for p in range(4)),
    ]
    assert cat2.checkpoint[f"batch/{ns}"] == "complete"


def _parity_source(tmp_path, utc: bool) -> str:
    """NULL role/tool, non-ASCII text and routing keys, and a hot term
    that the parity config salts into shards."""
    pdf = generate_transcripts(3000, seed=11, hot_term_frac=0.3)
    pdf.loc[::17, "role"] = None
    pdf.loc[::13, "tool"] = None
    pdf.loc[::7, "text"] = pdf.loc[::7, "text"] + " İstanbul ΟΔΟΣ 東京 ü_naïve 🙂"
    pdf["conv_id"] = pdf["conv_id"].where(
        ~pdf["conv_id"].str.endswith("3"), pdf["conv_id"] + "-ü"
    )
    if utc:
        pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    return _write_source(pdf, tmp_path / f"src-{'utc' if utc else 'naive'}.parquet")


@pytest.mark.parametrize("utc", [False, True], ids=["naive_ts", "utc_ts"])
def test_driver_build_matches_spark_build(spark, tmp_path, monkeypatch, utc):
    """A small single file builds in the driver; forced through Spark,
    the same file must give the same split files, split metadata,
    checkpoint keys and lineage."""
    import pyarrow.parquet as pq

    import quickwit_spark.operators.build as build_mod
    from quickwit_spark.plans.catalog import Catalog

    cfg = IndexConfig(hot_term_doc_freq=50, salt_docid_range=32)
    src = _parity_source(tmp_path, utc)
    driver_idx, spark_idx = str(tmp_path / "driver"), str(tmp_path / "spark")
    build_mod.build_index(spark, src, driver_idx, cfg, n_splits=4, ingest_id="x")
    monkeypatch.setattr(build_mod, "DRIVER_BUILD_MAX_ROWS", 0)
    build_mod.build_index(spark, src, spark_idx, cfg, n_splits=4, ingest_id="x")

    dcat, scat = Catalog.load(driver_idx), Catalog.load(spark_idx)
    assert dcat.checkpoint == scat.checkpoint
    assert sorted(dcat.splits) == sorted(scat.splits)
    assert len(dcat.splits) == 4
    volatile = ("create_timestamp", "update_timestamp")
    for sid in dcat.splits:
        dm, sm = dcat.splits[sid].to_dict(), scat.splits[sid].to_dict()
        for k in volatile:
            dm.pop(k), sm.pop(k)
        assert dm == sm, sid
        for name in (build_mod.POSTINGS_FILE, build_mod.DOCS_FILE):
            dt = pq.read_table(f"{dcat.split_dir(sid)}/{name}")
            st = pq.read_table(f"{scat.split_dir(sid)}/{name}")
            assert dt.schema.equals(st.schema, check_metadata=True), (sid, name)
            assert dt.equals(st), (sid, name)
        docs = pq.read_table(f"{dcat.split_dir(sid)}/{build_mod.DOCS_FILE}")
        assert docs.schema.field("ts").type == pa.timestamp(
            "us", tz="UTC" if utc else None
        )
        assert docs.column("role").null_count and docs.column("tool").null_count
    hot = pd.read_parquet(
        f"{dcat.split_dir(sorted(dcat.splits)[0])}/{build_mod.POSTINGS_FILE}"
    ).query("term == 'hotterm'")
    assert len(hot) > 1  # salted into shards

    def lineage(idx):
        tbl = pd.read_parquet(f"{idx}/lineage")
        return sorted(zip(tbl["split_id"], tbl["op"], tbl["partition"]))

    assert lineage(driver_idx) == lineage(spark_idx)


def test_small_file_build_starts_no_spark_job(spark, corpus, config, tmp_path):
    """A single small parquet file builds in the driver with no Spark
    job; a DataFrame of the same rows still runs the Spark build."""
    from quickwit_spark.operators.build import build_index

    src = _write_source(corpus, tmp_path / "src.parquet")
    sdf = spark.createDataFrame(corpus)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group, source, idx):
        sc.setJobGroup(group, group)
        try:
            cat = build_index(spark, source, str(tmp_path / idx), config, n_splits=4)
        finally:
            sc.setJobGroup(None, None)
        assert cat.total_docs() == len(corpus)
        return tracker.getJobIdsForGroup(group)

    assert jobs("driver-build-test", src, "driver") == []
    assert jobs("spark-build-test", sdf, "spark")


def test_driver_work_keeps_arrow_thread_pools(spark, corpus, config, tmp_path):
    """The worker thread cap belongs to Spark task closures: a driver
    build and a driver-mode search leave the process's Arrow pools as
    they found them."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import Searcher

    before = pa.cpu_count(), pa.io_thread_count()
    pa.set_cpu_count(4)
    pa.set_io_thread_count(8)
    try:
        src = _write_source(corpus[:300], tmp_path / "src.parquet")
        idx = str(tmp_path / "idx")
        build_index(spark, src, idx, config, n_splits=2)
        assert (pa.cpu_count(), pa.io_thread_count()) == (4, 8)
        resp = Searcher(spark, idx).search("w00001", k=5, mode="driver")
        assert resp.num_hits > 0
        assert (pa.cpu_count(), pa.io_thread_count()) == (4, 8)
    finally:
        pa.set_cpu_count(before[0])
        pa.set_io_thread_count(before[1])


def test_driver_build_rejects_null_routing_value(spark, corpus, config, tmp_path):
    """A NULL routing value fails the driver build before any split is
    written or published (the Spark build fails on it too)."""
    import os

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.catalog import Catalog

    pdf = corpus.copy()
    pdf.loc[5, "conv_id"] = None
    src = _write_source(pdf, tmp_path / "src.parquet")
    idx = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="NULL"):
        build_index(spark, src, idx, config, n_splits=4)
    assert Catalog.load(idx).splits == {}
    assert os.listdir(os.path.join(idx, "splits")) == []


def test_crc32_routing_matches_spark(spark):
    """The oracle's zlib.crc32 routing must equal Spark's crc32 —
    otherwise oracle and engine disagree on split membership."""
    import zlib

    from pyspark.sql import functions as F

    ids = [f"conv-{i:08d}" for i in range(50)] + ["üñíçødé", ""]
    df = spark.createDataFrame([(i,) for i in ids], "conv_id string")
    got = {
        r["conv_id"]: r["h"]
        for r in df.select(
            "conv_id",
            F.pmod(F.crc32(F.encode(F.col("conv_id"), "utf-8")), F.lit(8)).alias("h"),
        ).collect()
    }
    for cid in ids:
        assert got[cid] == zlib.crc32(cid.encode("utf-8")) % 8


def test_legacy_checkpoint_resume_no_duplication(spark, corpus, config, tmp_path):
    """An index whose checkpoint predates per-ingest namespacing (bare
    '<partition>': 'done' keys) must resume as a no-op, NOT rebuild and
    double-publish every document."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.catalog import Catalog

    idx = str(tmp_path / "legacy")
    sdf = spark.createDataFrame(corpus)
    build_index(spark, sdf, idx, config, n_splits=4)
    # rewrite the checkpoint into the PRE-upgrade format
    cat = Catalog.load(idx)
    cat.checkpoint = {
        k.rsplit("/", 1)[1]: v
        for k, v in cat.checkpoint.items()
        if k.count("/") == 2
    }
    cat._commit()

    cat2 = build_index(spark, sdf, idx, config, n_splits=4)  # resume
    assert cat2.total_docs() == len(corpus)          # no duplication
    assert len(cat2.published_splits()) == 4
    assert cat2.checkpoint.get("batch/b0000") == "complete"
    assert sorted(k for k in cat2.checkpoint if k.count("/") == 2) == [
        f"batch/b0000/{i}" for i in range(4)
    ]


def test_legacy_checkpoint_resume_path_source(spark, corpus, config, tmp_path):
    """Path-source variant: a pre-upgrade index built from a parquet
    PATH must also resume as a no-op on re-run with the same path —
    the path-derived namespace must not shadow the migrated b0000
    namespace and rebuild everything."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.plans.catalog import Catalog

    src = str(tmp_path / "src.parquet")
    pq.write_table(
        pa.Table.from_pandas(corpus, preserve_index=False), src,
        coerce_timestamps="us",
    )
    idx = str(tmp_path / "legacy_path")
    build_index(spark, src, idx, config, n_splits=4)
    # rewrite the checkpoint into the PRE-upgrade format (bare digits)
    cat = Catalog.load(idx)
    cat.checkpoint = {
        k.rsplit("/", 1)[1]: v
        for k, v in cat.checkpoint.items()
        if k.count("/") == 2
    }
    cat._commit()

    cat2 = build_index(spark, src, idx, config, n_splits=4)  # resume
    assert cat2.total_docs() == len(corpus)          # no duplication
    assert len(cat2.published_splits()) == 4
    assert cat2.checkpoint.get("batch/b0000") == "complete"

    # and a THIRD run (now with the completion marker present) must
    # stay a no-op rather than fall back to the empty path namespace
    cat3 = build_index(spark, src, idx, config, n_splits=4)
    assert cat3.total_docs() == len(corpus)
    assert len(cat3.published_splits()) == 4
