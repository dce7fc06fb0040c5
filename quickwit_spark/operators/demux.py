"""Demux: redistribute co-tenant splits into per-tenant splits.

Mirrors ``MergeExecutor::process_demux``
(quickwit-indexing/src/actors/merge_executor.rs:349-500): the reference
counts docs per demux value ("virtual splits",
``demux_virtual_split:708``), Next-Fit bin-packs the values into
``demux_factor`` outputs within doc-count bounds
(``build_demux_mapping:570-627``), then rewrites the docs into the new
splits. Demuxed splits are never demuxed again
(``demux_num_ops`` guard, split_metadata.rs / merge_policy.rs:241-248).

Spark-first: demux IS a shuffle — count per tenant (one aggregation),
drive the Next-Fit packing on the driver over the tiny counts table,
broadcast the value→bin map, and rebuild each bin as a split with the
standard Arrow build kernel. After demux, tenant-scoped queries prune
to one split via the tag pruner (the whole point of the operator —
tenant isolation at 10^12 scale).
"""

from __future__ import annotations

import json
import time

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions import fs as fsio
from quickwit_spark.operators.build import (
    DOCS_FILE,
    build_split,
    limit_worker_threads,
    split_metadata,
)
from quickwit_spark.plans.catalog import Catalog, SplitMetadata


def next_fit_pack(
    value_counts: list[tuple[str, int]], demux_factor: int
) -> dict[str, int]:
    """Next-Fit packing of (value, doc_count) into ~demux_factor bins:
    close the current bin once it reaches total/demux_factor. Values
    are visited in sorted order (deterministic); a single huge tenant
    gets its own bin (bounds are advisory, as in the reference where
    outputs are clamped to [min,max] but a tenant is never split)."""
    total = sum(c for _, c in value_counts)
    capacity = max(total // max(demux_factor, 1), 1)
    bins: dict[str, int] = {}
    bin_id = 0
    filled = 0
    for value, count in sorted(value_counts):
        if filled > 0 and filled + count > capacity and bin_id < demux_factor - 1:
            bin_id += 1
            filled = 0
        bins[value] = bin_id
        filled += count
    return bins


def demux_splits(
    spark,
    catalog: Catalog,
    split_ids: list[str],
    demux_field: str | None = None,
    demux_factor: int | None = None,
) -> list[SplitMetadata]:
    """Rewrite ``split_ids`` into per-tenant splits; atomic cutover.
    Output split ids come from the catalog's persisted allocator
    (globally unique across invocations)."""
    from pyspark.sql import functions as F

    config = catalog.config
    demux_factor = demux_factor or config.demux_factor
    demux_field = demux_field or config.demux_field or (
        config.tag_fields[0] if config.tag_fields else None
    )
    if demux_field is None:
        raise ValueError("no demux field configured")
    inputs = [catalog.splits[s] for s in sorted(split_ids)]
    for s in inputs:
        if s.num_merge_ops > 0:
            # already-demuxed splits are mature for demux
            raise ValueError(f"split {s.split_id} already demuxed/merged")
    paths = [
        fsio.spark_read_path(fsio.join(catalog.split_dir(s.split_id), DOCS_FILE))
        for s in inputs
    ]
    docs = spark.read.parquet(*paths).drop("docid", "ts_us", "doc_len")

    # virtual splits: doc count per demux value (null → its own key)
    key = F.coalesce(F.col(demux_field).cast("string"), F.lit("\0null"))
    counts = [
        (r["k"], r["count"])
        for r in docs.groupBy(key.alias("k")).count().collect()
    ]
    bins = next_fit_pack(counts, demux_factor)
    n_bins = max(bins.values()) + 1 if bins else 0
    bin_ids = catalog.alloc_split_ids(n_bins, prefix="demux")
    mapping = F.create_map(
        *[x for kv in bins.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    with_bin = docs.withColumn("demux_bin", mapping[key].cast("long"))

    index_dir_b = catalog.index_dir
    config_dict = config.to_dict()
    bin_ids_b = bin_ids

    def build_group(bkey, tbl):
        import pyarrow as pa

        limit_worker_threads()
        bin_ord = int(bkey[0].as_py() if hasattr(bkey[0], "as_py") else bkey[0])
        meta = build_split(
            tbl.drop_columns(["demux_bin"]), IndexConfig.from_dict(config_dict),
            index_dir_b, bin_ids_b[bin_ord], bin=bin_ord,
        )
        return pa.table({"bin": [bin_ord], "meta": [json.dumps(meta)]})

    results = (
        with_bin.groupBy("demux_bin")
        .applyInArrow(build_group, schema="bin long, meta string")
        .collect()
    )

    new = []
    lineage = []
    for row in sorted(results, key=lambda r: r.bin):
        m = json.loads(row.meta)
        sm = split_metadata(
            m,
            num_merge_ops=max(s.num_merge_ops for s in inputs) + 1,
            source_partitions=sorted(
                {p for s in inputs for p in s.source_partitions}
            ),
        )
        new.append(sm)
        lineage.append(
            {
                "split_id": sm.split_id, "op": "demux", "partition": m["bin"],
                "num_docs": sm.num_docs, "size_in_bytes": sm.size_in_bytes,
                "term_min": sm.term_range[0] if sm.term_range else None,
                "term_max": sm.term_range[1] if sm.term_range else None,
                "wall_time_sec": m["wall_time_sec"], "ts": time.time(),
            }
        )
    catalog.stage_splits(new)
    catalog.publish_splits(
        [s.split_id for s in new],
        replaced_split_ids=[s.split_id for s in inputs],
    )
    catalog.append_lineage(lineage)
    from quickwit_spark.operators.stats import refresh_term_stats

    refresh_term_stats(spark, catalog)
    return new
