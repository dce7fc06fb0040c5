"""Streaming index build: ``readStream`` → ``foreachBatch`` →
split build + atomic publish per micro-batch.

Reference mapping:
* KafkaSource / FileSource batching (quickwit-indexing/src/source/
  kafka_source.rs:118, file_source.rs:48) → any Structured Streaming
  source (kafka, file, rate); Spark owns offset tracking exactly as
  the reference's SourceCheckpoint does (checkpoint.rs:34-105).
* exactly-once publish (publisher.rs:140-148: checkpoint delta applied
  atomically WITH split publication) → each micro-batch is the batch
  ingest ``stream-<batch_key>`` of :func:`build_index`, whose
  ``batch/stream-<batch_key>`` completion marker lands in the same
  atomic commit that publishes the batch's splits; a replayed
  micro-batch (foreachBatch can re-run on failure) sees the marker and
  becomes a no-op — no duplicated docs.
* one indexing pipeline for every source (the reference feeds file,
  Kafka, Kinesis and ingest-API sources through the same
  indexer → packager → uploader → publisher chain) → a micro-batch
  takes the batch build's routing, ``applyInArrow`` kernel, chunked
  publish, lineage and term-stats refresh unchanged.
* commit triggers (indexer.rs:392-397: NumDocsLimit / Timeout /
  NoMoreDocs) → the micro-batch trigger (processingTime /
  availableNow) plays the Timeout role; a batch yields one split per
  routing partition, and the ordinary merge pipeline compacts the
  resulting small splits — identical to the reference's
  small-split-then-merge lifecycle.

Scale: each micro-batch is one bounded build job; routing partitions
bound per-task memory; the merge planner keeps the split count
logarithmic.
"""

from __future__ import annotations

from quickwit_spark.config import IndexConfig
from quickwit_spark.operators.build import build_index
from quickwit_spark.plans.catalog import Catalog


def ingest_batch(
    spark,
    batch_df,
    index_dir: str,
    batch_key: str,
    config: IndexConfig | None = None,
    n_splits: int = 4,
) -> list[str]:
    """Index one (micro-)batch as the batch ingest ``stream-<batch_key>``
    (split ids ``split-stream-<batch_key>-NNNNN``); returns the split
    ids it published. Idempotent on ``batch_key`` — a replay publishes
    nothing and returns ``[]``."""
    before = (
        {s.split_id for s in Catalog.load(index_dir).published_splits()}
        if Catalog.exists(index_dir)
        else set()
    )
    catalog = build_index(
        spark, batch_df, index_dir, config, n_splits=n_splits,
        ingest_id=f"stream-{batch_key}",
    )
    return [
        s.split_id for s in catalog.published_splits() if s.split_id not in before
    ]


def start_stream_build(
    spark,
    stream_df,
    index_dir: str,
    checkpoint_dir: str,
    config: IndexConfig | None = None,
    n_splits: int = 4,
    trigger: dict | None = None,
):
    """Wire a streaming DataFrame into the index: one publish per
    micro-batch. ``trigger`` defaults to availableNow (drain + stop) —
    pass {"processingTime": "60 seconds"} for the reference's 60s
    commit-timeout behavior (index_config.rs:168-170)."""
    if config is not None and not Catalog.exists(index_dir):
        Catalog.create(index_dir, config)

    def handle(batch_df, batch_id: int):
        ingest_batch(
            spark, batch_df, index_dir, f"{batch_id:010d}",
            config, n_splits,
        )

    writer = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
    )
    return writer.start()
