"""Split merge: log-level planner + byte-splice merge executor.

Planner mirrors ``StableMultitenantWithTimestampMergePolicy``
(quickwit-indexing/src/merge_policy.rs):
* maturity: ``num_docs >= split_num_docs_target`` (merge_policy.rs:241-248,
  default 10M — quickwit-config/src/index_config.rs:180-182);
* stable sort young splits most-recent-first:
  ``(Reverse(time_range.end), num_docs)`` with splits lacking a time
  range first (merge_policy.rs:300-306);
* ``build_split_levels``: walk the list, starting a new level whenever
  ``num_docs >= current_level_max_docs``; level cap =
  ``max(3 * first_split_docs, min_level_num_docs)`` then
  ``3 * num_docs`` (merge_policy.rs:415-442);
* per level (reverse order), grow a candidate from the level's end
  backwards until one-more-would-be-too-big
  (len ≥ max_merge_factor or Σdocs ≥ target), discard if too small
  (len ≤ 1 or len < merge_factor) (merge_policy.rs:444-493).

Executor re-expresses ``MergeExecutor::process_merge``
(quickwit-indexing/src/actors/merge_executor.rs:283-347): where the
reference opens K tantivy directories under a UnionDirectory and lets
tantivy merge segments, we merge K *term-sorted Parquet posting files*.
Because every posting row stores exactly ONE absolute docid (its head;
all else deltas) plus its tail docid, renumbering a row under a docid
offset — and re-chaining it onto the previous row when coalescing — is
a single-varint patch (``replace_first_varint``): the merge never
decodes posting bodies. Term-freq and position blobs concatenate as raw
bytes (no cross-row delta chains). This is the property that makes
hierarchical merging cheap at 10^12 turns: merge cost is O(rows), not
O(postings).

Each merge op runs as one Spark task (the reference runs one merge per
node on a CPU pool — merge pipeline in indexing_pipeline.rs:233-337);
the driver loop is the MergePlanner (merge_planner.rs:61-81), and
publish(replaced=...) retires inputs atomically
(publisher.rs:140-148).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions import fs as fsio
from quickwit_spark.functions.codec import splice_first_varints
from quickwit_spark.operators.build import (
    DOCS_FILE,
    POSTINGS_FILE,
    POSTINGS_SCHEMA,
    limit_worker_threads,
)
from quickwit_spark.plans.catalog import Catalog, SplitMetadata

# ---------------------------------------------------------------------------
# planner
# ---------------------------------------------------------------------------

_TOO_SMALL, _VALID, _TOO_BIG = 0, 1, 2


def _candidate_size(cand: list[SplitMetadata], config: IndexConfig) -> int:
    if len(cand) <= 1:
        return _TOO_SMALL
    if len(cand) >= config.max_merge_factor:
        return _TOO_BIG
    if sum(s.num_docs for s in cand) >= config.split_num_docs_target:
        return _TOO_BIG
    if len(cand) < config.merge_factor:
        return _TOO_SMALL
    return _VALID


def build_split_levels(
    splits: list[SplitMetadata], config: IndexConfig
) -> list[range]:
    """merge_policy.rs:415-442 verbatim semantics."""
    if not splits:
        return []
    levels: list[range] = []
    start = 0
    level_max = max(splits[0].num_docs * 3, config.min_level_num_docs)
    for ord_, split in enumerate(splits):
        if split.num_docs >= level_max:
            levels.append(range(start, ord_))
            start = ord_
            level_max = 3 * split.num_docs
    levels.append(range(start, len(splits)))
    return levels


def plan_merge_operations(
    splits: list[SplitMetadata], config: IndexConfig
) -> list[list[SplitMetadata]]:
    """Returns groups of splits to merge (merge_policy.rs:289-331)."""
    young = [s for s in splits if s.num_docs < config.split_num_docs_target]
    # most recent first; None time_range sorts first (Rust Option<Reverse>)
    young.sort(
        key=lambda s: (
            (0,) if s.time_range is None else (1, -s.time_range[1]),
            s.num_docs,
        )
    )
    ops: list[list[SplitMetadata]] = []
    for level in reversed(build_split_levels(young, config)):
        end = level.stop
        start = end
        for ord_ in reversed(range(level.start, level.stop)):
            if _candidate_size(young[start:end], config) == _TOO_BIG:
                break
            start = ord_
        if _candidate_size(young[start:end], config) == _TOO_SMALL:
            continue
        ops.append(young[start:end])
        del young[start:end]
    return ops


# ---------------------------------------------------------------------------
# executor (split-local; runs in a Spark task)
# ---------------------------------------------------------------------------

def merge_split_files(
    split_dirs: list[str], out_dir: str, config: IndexConfig
) -> dict:
    """K-way merge of term-sorted posting files + doc stores into
    ``out_dir``. Inputs must be given in the docid-concatenation order
    (sorted by split_id). Returns the new split's metadata dict."""
    import pyarrow as pa

    # --- doc stores: concat with docid offsets --------------------------
    doc_tables = []
    offsets = []
    off = 0
    for d in split_dirs:
        t = fsio.read_table(fsio.join(d, DOCS_FILE))
        offsets.append(off)
        docid = t.column("docid").to_numpy() + off
        t = t.set_column(0, "docid", pa.array(docid, type=pa.int64()))
        doc_tables.append(t)
        off += len(t)
    docs = pa.concat_tables(doc_tables)
    fsio.makedirs(out_dir)
    fsio.write_table(
        docs, fsio.join(out_dir, DOCS_FILE),
        compression="zstd", row_group_size=8192,
    )

    # --- postings: sort-merge rows, splice varint heads ------------------
    frames = []
    for i, d in enumerate(split_dirs):
        f = fsio.read_table(fsio.join(d, POSTINGS_FILE)).to_pandas()
        f["src"] = i
        f["first_docid"] += offsets[i]
        f["last_docid"] += offsets[i]
        frames.append(f)
    allrows = pd.concat(frames, ignore_index=True)
    allrows.sort_values(
        ["field", "term", "src", "shard"], inplace=True, kind="mergesort"
    )

    fields = allrows["field"].to_numpy()
    terms = allrows["term"].to_numpy()
    firsts = allrows["first_docid"].to_numpy()
    lasts = allrows["last_docid"].to_numpy()
    dfs = allrows["df"].to_numpy()
    max_tfs = allrows["max_tf"].to_numpy()
    min_dls = allrows["min_dl"].to_numpy()
    doc_blobs = allrows["doc_ids"].to_numpy()
    tf_blobs = allrows["tfs"].to_numpy()
    pos_blobs = allrows["positions"].to_numpy()

    n = len(allrows)
    group_start = np.empty(n, dtype=bool)
    if n:
        group_start[0] = True
        group_start[1:] = (fields[1:] != fields[:-1]) | (terms[1:] != terms[:-1])
    starts = np.flatnonzero(group_start)
    bounds = np.append(starts, n)

    # ---- pass 1 (light python): chunk boundaries + shard ordinals ------
    # greedily pack consecutive rows of each (field, term) group up to
    # ~salt_docid_range docs per output row
    pack_cap = max(config.salt_docid_range, 1)
    chunk_start: list[int] = []
    chunk_shard: list[int] = []
    dfs_l = dfs.tolist()  # python ints: ~3x faster inner loop than numpy scalars
    for g in range(starts.size):
        s, e = bounds[g], bounds[g + 1]
        shard_ord = 0
        i = s
        while i < e:
            j = i
            cum = 0
            while j < e and (j == i or cum + dfs_l[j] <= pack_cap):
                cum += dfs_l[j]
                j += 1
            chunk_start.append(i)
            chunk_shard.append(shard_ord)
            shard_ord += 1
            i = j
    cs = np.asarray(chunk_start, dtype=np.int64)

    # ---- pass 2 (vectorized): per-chunk stats via reduceat -------------
    # chunks tile the row range in order, so reduceat over the chunk
    # starts aggregates each chunk exactly
    if cs.size:
        ce = np.append(cs[1:], n)
        out_df = np.add.reduceat(dfs, cs)
        out_max_tf = np.maximum.reduceat(max_tfs, cs)
        out_min_dl = np.minimum.reduceat(min_dls, cs)
    else:
        ce = cs
        out_df = out_max_tf = out_min_dl = np.empty(0, np.int64)

    # ---- pass 3 (bulk byte work): splice heads ---------------------------
    # head row keeps its absolute (already offset) docid; subsequent
    # rows' heads become deltas from the previous row's tail. Bulk
    # splice (splice_first_varints: vectorized head decode/encode, one
    # memcpy per body) + per-chunk buffer slices — ~3x the old per-row
    # replace_first_varint loop (200k-row microbench, warm allocator)
    chunk_first = np.zeros(n, dtype=bool)
    chunk_first[cs] = True
    prev_last = np.empty(n, dtype=np.int64)
    if n:
        prev_last[0] = 0
        prev_last[1:] = lasts[:-1]
    new_heads = np.where(chunk_first, firsts, firsts - prev_last)
    sp_buf, sp_offs = splice_first_varints(doc_blobs.tolist(), new_heads)
    sp_mv = memoryview(sp_buf)
    cs_l = cs.tolist()
    ce_l = ce.tolist()
    doc_out = [
        bytes(sp_mv[sp_offs[i]:sp_offs[j]]) for i, j in zip(cs_l, ce_l)
    ]
    tf_out = [b"".join(tf_blobs[i:j]) for i, j in zip(cs_l, ce_l)]
    pos_out = [
        None if pos_blobs[i] is None else b"".join(pos_blobs[i:j])
        for i, j in zip(cs_l, ce_l)
    ]

    out_fields = fields[cs]
    out_terms = terms[cs]
    postings = pa.table(
        {
            "field": out_fields,
            "term": out_terms,
            "shard": np.asarray(chunk_shard, dtype=np.int64),
            "df": out_df,
            "max_tf": out_max_tf,
            "min_dl": out_min_dl,
            "first_docid": firsts[cs],
            "last_docid": lasts[ce - 1],
            "doc_ids": doc_out,
            "tfs": tf_out,
            "positions": pos_out,
        },
        schema=POSTINGS_SCHEMA,
    )
    fsio.write_table(
        postings,
        fsio.join(out_dir, POSTINGS_FILE),
        compression="zstd",
        row_group_size=2048,
    )

    size = sum(
        fsio.getsize(fsio.join(out_dir, f))
        for f in (POSTINGS_FILE, DOCS_FILE)
    )
    ts_us = docs.column("ts_us").to_numpy()
    text_terms = out_terms[out_fields == config.default_search_field]
    return {
        "num_docs": int(len(docs)),
        "sum_doc_len": int(docs.column("doc_len").to_numpy().sum()),
        "size_in_bytes": int(size),
        "time_range": (int(ts_us.min()), int(ts_us.max())) if len(docs) else None,
        "term_range": (
            (str(text_terms.min()), str(text_terms.max()))
            if len(text_terms)
            else None
        ),
    }


# ---------------------------------------------------------------------------
# driver loop
# ---------------------------------------------------------------------------

def _merge_tags(
    inputs: list[SplitMetadata], config: IndexConfig
) -> tuple[dict, dict]:
    """Union of input tag value sets + OR of the has-null presence
    markers (missing marker reads as True — sound)."""
    tags: dict = {}
    has_null: dict = {}
    for field in config.tag_fields:
        vals: set | None = set()
        for s in inputs:
            v = (s.tags or {}).get(field)
            if v is None:
                vals = None
                break
            vals |= set(v)
        if vals is not None and len(vals) > config.max_tag_values:
            vals = None
        tags[field] = sorted(vals) if vals is not None else None
        has_null[field] = any(
            (s.tag_has_null or {}).get(field, True) for s in inputs
        )
    return tags, has_null


def execute_merge_round(
    spark, catalog: Catalog, ops: list[list[SplitMetadata]]
) -> list[SplitMetadata]:
    """Execute one planner round of merge ops as ONE Spark job with one
    task per op (the reference runs merges concurrently across the merge
    CPU pools of the cluster's indexers — merge pipeline in
    indexing_pipeline.rs:233-337; a round's ops are independent, so at
    10^12 turns a level-0 round of hundreds of ops fans out instead of
    serializing through the driver).

    Split ids come from the catalog's persisted allocator (globally
    unique across invocations); the round publishes atomically: one
    staging commit for all new splits, one publish commit that retires
    every input (publisher.rs:140-148 analog).
    """
    config = catalog.config
    ops = [sorted(inputs, key=lambda s: s.split_id) for inputs in ops]
    new_ids = catalog.alloc_merge_ids(len(ops))
    rows = [
        (
            new_ids[i],
            json.dumps([catalog.split_dir(s.split_id) for s in ops[i]]),
            catalog.split_dir(new_ids[i]),
        )
        for i in range(len(ops))
    ]
    cfg_dict = config.to_dict()

    def kernel(iterator):
        limit_worker_threads()
        for pdf in iterator:
            for new_id, in_dirs, out_dir in zip(
                pdf["new_id"], pdf["in_dirs"], pdf["out_dir"]
            ):
                t0 = time.time()
                meta = merge_split_files(
                    json.loads(in_dirs), out_dir, IndexConfig.from_dict(cfg_dict)
                )
                meta["wall_time_sec"] = time.time() - t0
                yield pd.DataFrame(
                    {"new_id": [new_id], "meta": [json.dumps(meta)]}
                )

    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, len(rows)),
        "new_id string, in_dirs string, out_dir string",
    )
    results = {
        r.new_id: json.loads(r.meta)
        for r in sdf.mapInPandas(kernel, schema="new_id string, meta string").collect()
    }

    sms = []
    lineage = []
    for new_id, inputs in zip(new_ids, ops):
        meta = results[new_id]
        m_tags, m_has_null = _merge_tags(inputs, config)
        sm = SplitMetadata(
            split_id=new_id,
            num_docs=meta["num_docs"],
            sum_doc_len=meta["sum_doc_len"],
            uncompressed_docs_size_in_bytes=sum(
                s.uncompressed_docs_size_in_bytes for s in inputs
            ),
            size_in_bytes=meta["size_in_bytes"],
            time_range=tuple(meta["time_range"]) if meta["time_range"] else None,
            term_range=tuple(meta["term_range"]) if meta["term_range"] else None,
            tags=m_tags,
            tag_has_null=m_has_null,
            num_merge_ops=max(s.num_merge_ops for s in inputs) + 1,
            source_partitions=sorted(
                {p for s in inputs for p in s.source_partitions}
            ),
        )
        sms.append(sm)
        lineage.append(
            {
                "split_id": new_id,
                "op": "merge",
                "partition": None,
                "num_docs": sm.num_docs,
                "size_in_bytes": sm.size_in_bytes,
                "term_min": sm.term_range[0] if sm.term_range else None,
                "term_max": sm.term_range[1] if sm.term_range else None,
                "wall_time_sec": meta["wall_time_sec"],
                "ts": time.time(),
            }
        )
    catalog.stage_splits(sms)
    catalog.publish_splits(
        new_ids,
        replaced_split_ids=[s.split_id for op in ops for s in op],
    )
    catalog.append_lineage(lineage)
    return sms


def execute_merge(
    spark, catalog: Catalog, inputs: list[SplitMetadata]
) -> SplitMetadata:
    """One merge op (merge_executor.rs:283-347 analog) — a one-op round."""
    return execute_merge_round(spark, catalog, [inputs])[0]


def plan_demux_operation(
    splits: list["SplitMetadata"], config: IndexConfig
) -> list["SplitMetadata"]:
    """Demux candidates when ``demux_enabled``: mature (>= docs target)
    splits never touched by merge/demux (num_merge_ops == 0), at most
    ``max_merge_factor`` per op — the reference gates demux behind
    `demux_enabled` and runs it on mature co-tenant splits
    (merge_policy.rs demux planning; merge_executor.rs:349-500)."""
    if not config.demux_enabled:
        return []
    cands = [
        s for s in splits
        if s.num_merge_ops == 0 and s.num_docs >= config.split_num_docs_target
    ]
    return sorted(cands, key=lambda s: s.split_id)[: config.max_merge_factor]


def run_merge_pipeline(spark, index_dir: str, max_rounds: int = 100) -> int:
    """MergePlanner loop (merge_planner.rs:61-81): plan → execute round
    (all ops in one fanned-out Spark job) → re-plan until no candidate
    remains; when ``demux_enabled``, mature un-demuxed splits are then
    demuxed into per-tenant splits. Returns number of maintenance ops
    run."""
    catalog = Catalog.load(index_dir)
    pre_version = catalog.stats_version()
    total = 0
    for _ in range(max_rounds):
        ops = plan_merge_operations(catalog.published_splits(), catalog.config)
        if not ops:
            break
        execute_merge_round(spark, catalog, ops)
        total += len(ops)
    demux_inputs = plan_demux_operation(
        catalog.published_splits(), catalog.config
    )
    if demux_inputs:
        from quickwit_spark.operators.demux import demux_splits

        demux_splits(spark, catalog, [s.split_id for s in demux_inputs])
        total += 1
    if total:
        from quickwit_spark.operators.stats import (
            carry_forward_term_stats,
            refresh_term_stats,
        )

        # global dfs are invariant under merge — reuse the stats artifact
        if not carry_forward_term_stats(catalog, pre_version):
            refresh_term_stats(spark, catalog)
    return total


STAGED_GRACE_PERIOD_SECS = 3600.0


def gc_deleted_splits(
    index_dir: str, grace_period_secs: float = STAGED_GRACE_PERIOD_SECS
) -> list[str]:
    """Garbage collection (garbage_collection.rs analog): physically
    delete marked-for-deletion splits, plus Staged splits older than
    the grace period (orphans from a crashed build that will never be
    published — the reference's staged-grace sweep). An index that
    keeps no history also loses its superseded term-stats artifacts
    (stats.gc_term_stats); with retain_history a time-travel handle
    reads its own version's artifact, so none is deleted."""
    catalog = Catalog.load(index_dir)
    now = time.time()
    # retained time-travel history pins split files: a snapshot that
    # still lists a split as Published may be searched via
    # Searcher(at_seq=...), so its files survive GC until
    # expire_history() trims those manifests (Iceberg's
    # expire_snapshots-before-remove_orphan_files rule, ENFORCED here
    # rather than left to the caller)
    protected: set = set()
    if catalog.retain_history:
        protected = catalog.history_referenced_split_ids()
    doomed = [
        s.split_id
        for s in catalog.splits.values()
        if s.split_id not in protected
        and (
            s.state == "MarkedForDeletion"
            or (
                s.state == "Staged"
                and now - (s.update_timestamp or now) > grace_period_secs
            )
        )
    ]
    catalog.delete_splits(doomed)
    if not catalog.retain_history:
        from quickwit_spark.operators.stats import gc_term_stats

        gc_term_stats(index_dir)
    return doomed
