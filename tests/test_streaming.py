"""Streaming ingest tests: incremental split publication, exactly-once
replay, file-source restart resume (the reference's source-checkpoint
semantics — checkpoint.rs:286-330, publisher.rs:140-148)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.oracle import OracleEngine
from quickwit_spark.sources.transcripts import generate_transcripts

CFG = IndexConfig(hot_term_doc_freq=200, salt_docid_range=64)


def _write(pdf, path):
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), path,
        coerce_timestamps="us",
    )


def _match_set(searcher, oracle, query, k=15):
    """Full match set + scores must be identical; at small k only the
    score sequence is compared (split ids differ between streaming
    ingest and the oracle's batch layout, so ties at the k-boundary
    legitimately select different equal-scored docs)."""
    n_o, hits_o = oracle.search(query, k=10_000)
    r = searcher.search(query, k=10_000)
    assert r.num_hits == n_o
    want = sorted((h.conv_id, h.turn_idx, round(h.score, 9)) for h in hits_o)
    got = sorted((h.conv_id, h.turn_idx, round(h.score, 9)) for h in r.hits)
    assert got == want
    small = searcher.search(query, k=k)
    assert [round(h.score, 9) for h in small.hits] == [
        round(h.score, 9) for h in hits_o[:k]
    ]


class TestIngestBatch:
    @pytest.fixture(scope="class")
    def corpus2(self):
        full = generate_transcripts(1200, seed=11)
        convs = sorted(full["conv_id"].unique())
        half = set(convs[: len(convs) // 2])
        return full[full["conv_id"].isin(half)], full[~full["conv_id"].isin(half)], full

    def test_incremental_batches_and_replay(self, spark, corpus2, tmp_path):
        from quickwit_spark.operators.search import Searcher
        from quickwit_spark.plans.catalog import Catalog
        from quickwit_spark.streaming.ingest import ingest_batch

        b1, b2, full = corpus2
        idx = str(tmp_path / "sidx")
        ids1 = ingest_batch(spark, spark.createDataFrame(b1), idx, "b0001", CFG, n_splits=2)
        assert len(ids1) >= 1
        ids2 = ingest_batch(spark, spark.createDataFrame(b2), idx, "b0002", CFG, n_splits=2)
        assert ids2 and set(ids2).isdisjoint(ids1)

        # replay of batch 1 is a no-op (exactly-once)
        replay = ingest_batch(spark, spark.createDataFrame(b1), idx, "b0001", CFG, n_splits=2)
        assert replay == []
        cat = Catalog.load(idx)
        assert cat.total_docs() == len(full)

        oracle = OracleEngine(full.reset_index(drop=True), CFG, n_splits=2)
        se = Searcher(spark, idx)
        for q in ["w00001", "w00002 w00003", '"w00001 w00002"~1']:
            _match_set(se, oracle, q)

    def test_merge_compacts_stream_splits(self, spark, corpus2, tmp_path):
        from quickwit_spark.operators.merge import run_merge_pipeline
        from quickwit_spark.operators.search import Searcher
        from quickwit_spark.plans.catalog import Catalog
        from quickwit_spark.streaming.ingest import ingest_batch

        b1, b2, full = corpus2
        idx = str(tmp_path / "midx")
        cfg = IndexConfig(
            hot_term_doc_freq=200, salt_docid_range=64,
            merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
        )
        ingest_batch(spark, spark.createDataFrame(b1), idx, "b1", cfg, n_splits=2)
        ingest_batch(spark, spark.createDataFrame(b2), idx, "b2", cfg, n_splits=2)
        assert run_merge_pipeline(spark, idx) >= 1
        cat = Catalog.load(idx)
        assert len(cat.published_splits()) == 1
        assert cat.total_docs() == len(full)
        oracle = OracleEngine(full.reset_index(drop=True), cfg, n_splits=2)
        _match_set(Searcher(spark, idx), oracle, "w00001")


class TestStreamBatchIsABatchIngest:
    """A micro-batch runs build_index as the batch ingest
    ``stream-<batch_key>``: one atomic catalog commit, batch split ids
    and lineage, and pre-upgrade ``stream/<key>`` checkpoints still
    make a replay a no-op."""

    @pytest.fixture(scope="class")
    def batches(self):
        full = generate_transcripts(600, seed=17)
        convs = sorted(full["conv_id"].unique())
        half = set(convs[: len(convs) // 2])
        return full[full["conv_id"].isin(half)], full[~full["conv_id"].isin(half)]

    def test_micro_batch_is_one_catalog_commit(self, spark, batches, tmp_path, monkeypatch):
        from quickwit_spark.plans.catalog import Catalog
        from quickwit_spark.streaming.ingest import ingest_batch

        b1, b2 = batches
        idx = str(tmp_path / "cidx")
        ingest_batch(spark, spark.createDataFrame(b1), idx, "b1", CFG, n_splits=2)
        backend = type(Catalog.load(idx))
        commits = []
        commit = backend._commit

        def counting_commit(cat):
            commits.append(cat)
            commit(cat)

        monkeypatch.setattr(backend, "_commit", counting_commit)
        ids = ingest_batch(spark, spark.createDataFrame(b2), idx, "b2", CFG, n_splits=2)
        assert len(ids) == 2
        assert len(commits) == 1  # splits + completion marker together
        assert ingest_batch(spark, spark.createDataFrame(b2), idx, "b2", CFG, n_splits=2) == []
        assert len(commits) == 1  # a replay commits nothing

    def test_split_ids_checkpoint_and_lineage(self, spark, batches, tmp_path):
        import pandas as pd

        from quickwit_spark.plans.catalog import Catalog
        from quickwit_spark.streaming.ingest import ingest_batch

        b1, _ = batches
        idx = str(tmp_path / "lidx")
        ids = ingest_batch(spark, spark.createDataFrame(b1), idx, "b1", CFG, n_splits=2)
        assert ids == ["split-stream-b1-00000", "split-stream-b1-00001"]
        cat = Catalog.load(idx)
        assert cat.checkpoint == {
            "batch/stream-b1/0": "done",
            "batch/stream-b1/1": "done",
            "batch/stream-b1": "complete",
        }
        lineage = pd.concat(
            pd.read_parquet(os.path.join(idx, "lineage", f))
            for f in os.listdir(os.path.join(idx, "lineage"))
        )
        assert sorted(lineage["split_id"]) == ids
        assert set(lineage["op"]) == {"build"}

    def test_pre_upgrade_stream_checkpoint_replay_is_noop(self, spark, batches, tmp_path):
        from quickwit_spark.plans.catalog import Catalog
        from quickwit_spark.streaming.ingest import ingest_batch

        b1, _ = batches
        idx = str(tmp_path / "uidx")
        ingest_batch(spark, spark.createDataFrame(b1), idx, "b1", CFG, n_splits=2)
        cat = Catalog.load(idx)
        n_docs = cat.total_docs()
        # the checkpoint as a pre-upgrade streaming ingest recorded it
        cat.replace_checkpoint({"stream/b1": "done"})
        replay = ingest_batch(spark, spark.createDataFrame(b1), idx, "b1", CFG, n_splits=2)
        assert replay == []
        cat = Catalog.load(idx)
        assert cat.total_docs() == n_docs
        assert cat.checkpoint == {"batch/stream-b1": "complete"}


def test_file_stream_available_now_resume(spark, tmp_path):
    """Two availableNow rounds with a file added in between: the second
    run indexes ONLY the new file (Spark source checkpoint) and the
    catalog publishes each batch exactly once."""
    from quickwit_spark.operators.search import Searcher
    from quickwit_spark.plans.catalog import Catalog
    from quickwit_spark.streaming.ingest import start_stream_build

    full = generate_transcripts(800, seed=13)
    convs = sorted(full["conv_id"].unique())
    half = set(convs[: len(convs) // 2])
    p1, p2 = full[full["conv_id"].isin(half)], full[~full["conv_id"].isin(half)]

    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "fidx")
    _write(p1, str(src / "part1.parquet"))

    schema = spark.read.parquet(str(src / "part1.parquet")).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = start_stream_build(spark, stream, idx, ckpt, CFG, n_splits=2)
    q.awaitTermination(120)

    n_after_1 = Catalog.load(idx).total_docs()
    assert n_after_1 == len(p1)

    _write(p2, str(src / "part2.parquet"))
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = start_stream_build(spark, stream, idx, ckpt, CFG, n_splits=2)
    q.awaitTermination(120)

    cat = Catalog.load(idx)
    assert cat.total_docs() == len(full)  # no dup, no loss

    oracle = OracleEngine(full.reset_index(drop=True), CFG, n_splits=2)
    _match_set(Searcher(spark, idx), oracle, "w00001")


def test_non_file_streaming_source_drives_ingest(spark, tmp_path):
    """A NON-file Structured Streaming source (rate-micro-batch — the
    same readStream contract Kafka/Kinesis use) drives the identical
    foreachBatch ingest path: rows are transformed to the transcript
    shape in-stream and land as searchable splits with exactly-once
    batch checkpoints."""
    from pyspark.sql import functions as F

    from quickwit_spark.operators.search import Searcher
    from quickwit_spark.plans.catalog import Catalog
    from quickwit_spark.streaming.ingest import start_stream_build

    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 200)
        .option("numPartitions", 2)
        .option("startTimestamp", 1735689600000)
        .load()
        .select(
            F.concat(F.lit("rate-"), (F.col("value") / 8).cast("long").cast("string")).alias("conv_id"),
            (F.col("value") % 8).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.concat(F.lit("streamed doc w"), F.col("value").cast("string")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.col("timestamp").alias("ts"),
        )
    )
    idx_dir = str(tmp_path / "rate_idx")
    q = start_stream_build(
        spark, stream, idx_dir, str(tmp_path / "ckpt"), n_splits=2,
        trigger={"processingTime": "1 second"},
    )
    try:
        import time

        deadline = time.time() + 90
        while time.time() < deadline:
            if Catalog.exists(idx_dir) and Catalog.load(idx_dir).total_docs() >= 400:
                break
            time.sleep(2)
    finally:
        q.stop()
    cat = Catalog.load(idx_dir)
    assert cat.total_docs() >= 400  # >= 2 published micro-batches
    # exactly-once: one completion marker per published batch
    batches = [
        k for k, pos in cat.checkpoint.items()
        if k.startswith("batch/stream-") and pos == "complete"
    ]
    assert len(batches) >= 2
    se = Searcher(spark, idx_dir)
    assert se.search("streamed", k=5).num_hits == cat.total_docs()


def test_dedup_at_ingest_composes(spark, tmp_path):
    """exact_dedup_stream composes in FRONT of the foreachBatch index
    build (stateful ops must precede writeStream): duplicate-text turns
    arriving in a later micro-batch never reach the index, and the
    result is searchable."""
    import pandas as pd

    from quickwit_spark.operators.search import Searcher
    from quickwit_spark.pipeline.dedup import exact_dedup_stream
    from quickwit_spark.plans.catalog import Catalog
    from quickwit_spark.streaming.ingest import start_stream_build

    full = generate_transcripts(300, seed=21)
    dup = full.head(50).copy()
    dup["conv_id"] = dup["conv_id"] + "-copy"  # new identity, same text

    src = tmp_path / "in"
    src.mkdir()
    _write(full, str(src / "part1.parquet"))
    _write(dup, str(src / "part2.parquet"))

    schema = spark.read.parquet(str(src / "part1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    idx = str(tmp_path / "didx")
    q = start_stream_build(
        spark, exact_dedup_stream(stream, text_col="text"), idx,
        str(tmp_path / "ckpt"), CFG, n_splits=2,
    )
    q.awaitTermination(120)

    want = int(pd.concat([full, dup])["text"].nunique())
    assert Catalog.load(idx).total_docs() == want

    r = Searcher(spark, idx).search("w00001", k=10)
    assert r.num_hits > 0 and not r.errors
