"""Index build: transcripts table → per-split posting files + catalog.

The Spark-first re-expression of the reference's indexing pipeline
(quickwit-indexing/src/actors/indexing_pipeline.rs:233-439):

* Source → Indexer routing (``RoutingExpr::eval_hash``,
  quickwit-doc-mapper/src/default_doc_mapper/routing_expression/mod.rs:132-151)
  becomes ``groupBy(crc32(conv_id) % n_splits)`` — ONE Spark shuffle, the
  same data movement the actor pipeline does with mailboxes.
* Indexer+Packager (tokenize, build in-RAM index, serialize one segment —
  quickwit-indexing/src/actors/indexer.rs:230-286, packager.rs:168-233)
  become one vectorized kernel per split group (:func:`build_split`):
  Arrow dictionary-encode + numpy argsort posting construction,
  delta+varint encoding in one pass (no per-row Python), written as
  Parquet where it runs.
* A small single-file input (``DRIVER_BUILD_MAX_ROWS``) is routed and
  built in the calling process instead, like the reference's in-process
  ``quickwit index ingest``; both places write byte-identical splits.
* Uploader/Publisher (uploader.rs:240-271, publisher.rs:140-148) become
  ``Catalog.stage_and_publish``: one atomic commit per chunk of splits
  with their checkpoint deltas — killing the driver between chunks and
  re-running resumes at split granularity (the build filters out
  already-published partitions).
* Every source feeds this one pipeline, as in the reference: streaming
  micro-batches (streaming/ingest.py) are batch ingests namespaced
  ``stream-<batch_key>``.

Scale notes (100 TB / 10^12 turns):
* one split group ≈ ``split_num_docs_target`` docs (10M, reference
  default — quickwit-config/src/index_config.rs:180-182); choose
  ``n_splits ≈ total_docs / target`` so each applyInArrow group fits an
  executor (the reference sizes splits the same way).
* hot terms are salted *within* a split: posting lists longer than
  ``hot_term_doc_freq`` docs are sharded into rows of at most
  ``salt_docid_range`` docs, bounding row size and giving the query
  kernel shard-level block-max bounds (max_tf, min_dl per shard) for
  WAND skipping.
* the docs file is the doc store (row-oriented zstd in the reference —
  index_config.rs:172-178; columnar zstd Parquet here, strictly better
  for Spark's fetch-by-column access).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions import fs as fsio
from quickwit_spark.functions.codec import grouped_delta_encode
from quickwit_spark.functions.tokenize import tokenize_encode
from quickwit_spark.plans.catalog import Catalog, SplitMetadata

POSTINGS_FILE = "postings.parquet"
DOCS_FILE = "docs.parquet"

# postings.parquet: one row per (field, term, shard), rows sorted by
# (field order of the config, term, shard)
POSTINGS_SCHEMA = pa.schema([
    ("field", pa.string()),
    ("term", pa.string()),
    ("shard", pa.int64()),
    ("df", pa.int64()),
    ("max_tf", pa.int64()),
    ("min_dl", pa.int64()),
    ("first_docid", pa.int64()),
    ("last_docid", pa.int64()),
    ("doc_ids", pa.binary()),
    ("tfs", pa.binary()),
    ("positions", pa.binary()),  # null for fields without positions
])

# Publish batch size: each atomic catalog commit covers a chunk of
# splits + their checkpoint keys (the reference's PackagedSplitBatch →
# publish unit); a crash between chunks loses at most one chunk of work
# to the resume filter.
PUBLISH_CHUNK = 16

# A single local parquet file of at most this many rows (footer count)
# with a string routing column builds in the calling process, one split
# after another: Spark's fixed cost per build (source read and planning
# ~235 ms, AQE map-stage job ~80 ms, Python-worker round trip ~250 ms)
# outweighs small kernels. Build wall time, 4-core VM, 8 splits, warm
# Python workers, 3 alternating runs:
#   rows   driver      Spark
#   40k    1.2-1.5 s   2.3-3.1 s
#   100k   2.3-3.1 s   2.2-3.1 s
#   200k   4.3-4.6 s   3.0-3.2 s
# (One Spark task per split gained 3-5 % for 25-35 % more peak RSS.)
DRIVER_BUILD_MAX_ROWS = 65_536


def _field_posting_columns(
    lens: np.ndarray,
    codes: np.ndarray,
    uniq_terms: pa.Array,
    doc_len: np.ndarray,
    field_name: str,
    with_positions: bool,
    hot_term_doc_freq: int,
    salt_docid_range: int,
) -> pa.Table | None:
    """Vectorized posting construction for one field of one split.

    Input is the dictionary-encoded flat token stream from
    ``tokenize_encode`` (lens per doc, term codes in doc order, sorted
    term dictionary). One stable sort on the term code → run-length
    boundaries, then ONE varint pass per component sliced at row
    boundaries (grouped_delta_encode). Returns the field's postings
    rows as a ``POSTINGS_SCHEMA`` table, sorted by (term, shard).
    """
    n = lens.size
    total = int(codes.size)
    if total == 0:
        return None
    docids = np.repeat(np.arange(n, dtype=np.int64), lens)
    doc_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pos = np.arange(total, dtype=np.int64) - np.repeat(doc_starts, lens)

    # codes are in (docid, position) order already, so a stable sort on
    # the code alone yields the (term, docid, position) order
    order = np.argsort(codes, kind="stable")
    codes, docids, pos = codes[order], docids[order], pos[order]

    # (term, docid) pair boundaries — token-index space
    pair_mask = np.empty(total, dtype=bool)
    pair_mask[0] = True
    pair_mask[1:] = (codes[1:] != codes[:-1]) | (docids[1:] != docids[:-1])
    pair_tok_starts = np.flatnonzero(pair_mask)
    tf = np.diff(np.append(pair_tok_starts, total)).astype(np.int64)
    p_docid = docids[pair_tok_starts]
    p_code = codes[pair_tok_starts]
    p_dl = doc_len[p_docid]

    # term boundaries — pair-index space
    term_mask = np.empty(p_code.size, dtype=bool)
    term_mask[0] = True
    term_mask[1:] = p_code[1:] != p_code[:-1]
    term_starts = np.flatnonzero(term_mask)
    term_dfs = np.diff(np.append(term_starts, p_code.size))

    # posting rows = terms, with hot terms sharded into salt_docid_range
    # chunks (explicit skew handling — north rule)
    hot = np.flatnonzero(term_dfs > hot_term_doc_freq)
    if hot.size:
        extra = [
            term_starts[i]
            + np.arange(salt_docid_range, term_dfs[i], salt_docid_range)
            for i in hot
        ]
        row_starts = np.sort(np.concatenate([term_starts, *extra]))
    else:
        row_starts = term_starts
    n_rows = row_starts.size
    row_dfs = np.diff(np.append(row_starts, p_code.size)).astype(np.int64)
    row_code = p_code[row_starts]
    # shard ordinal within its term
    first_row_of_term = np.searchsorted(row_starts, term_starts)
    shard = np.arange(n_rows, dtype=np.int64) - np.repeat(
        first_row_of_term, np.diff(np.append(first_row_of_term, n_rows))
    )

    max_tf = np.maximum.reduceat(tf, row_starts)
    min_dl = np.minimum.reduceat(p_dl, row_starts)
    row_ends = np.append(row_starts[1:], p_code.size) - 1

    if with_positions:
        positions = grouped_delta_encode(
            pos,
            reset_starts=pair_tok_starts,
            slice_starts=pair_tok_starts[row_starts],
            delta=True,
        )
    else:
        positions = pa.nulls(n_rows, pa.binary())
    return pa.table(
        [
            pa.repeat(field_name, n_rows),
            uniq_terms.take(row_code),
            shard,
            row_dfs,
            max_tf,
            min_dl,
            p_docid[row_starts],
            p_docid[row_ends],
            grouped_delta_encode(p_docid, row_starts, delta=True),
            grouped_delta_encode(tf, row_starts, delta=False),
            positions,
        ],
        schema=POSTINGS_SCHEMA,
    )


def limit_worker_threads(n: int = 1) -> None:
    """Cap Arrow's per-process thread pools inside task workers — many
    concurrent kernels each defaulting to a cores-wide pool oversubscribe
    the machine (measured ~4x per-kernel slowdown at 32 workers). Call
    it only inside Spark task closures: the cap lasts for the process,
    so a call in the driver would throttle every later driver build and
    search."""
    try:
        if pa.cpu_count() > n:
            pa.set_cpu_count(n)
        if pa.io_thread_count() > 2:
            pa.set_io_thread_count(2)
    except Exception:
        pass


def write_split(postings: pa.Table, docs: pa.Table, split_dir: str) -> int:
    """Write a split's two Parquet files (zstd, like the reference's doc
    store — index_config.rs:172-178) as they are; returns total bytes.
    ``postings`` and ``docs`` are the tables
    :func:`build_split_tables_arrow` returns. ``split_dir`` may be any
    pyarrow-supported URI (functions/fs) — the storage-trait analog."""
    fsio.makedirs(split_dir)
    ppath = fsio.join(split_dir, POSTINGS_FILE)
    dpath = fsio.join(split_dir, DOCS_FILE)
    fsio.write_table(
        postings,
        ppath,
        compression="zstd",
        # small row groups keep stats-pruned term point reads tight
        # (functions/parquet_io.read_pruned touches O(1) groups)
        row_group_size=2048,
    )
    # 8k-doc groups: fetch_docs decompresses ~8k rows per hit group
    # instead of 65k, at a still-tiny footer overhead
    fsio.write_table(docs, dpath, compression="zstd", row_group_size=8192)
    return fsio.getsize(ppath) + fsio.getsize(dpath)


def build_split_tables_arrow(tbl, config: IndexConfig):
    """Pure (no-Spark) split build, the ``applyInArrow`` kernel body:
    one routing partition's docs (a pyarrow Table) → (postings Table
    with ``POSTINGS_SCHEMA``, docs Table, metadata dict). Keeps every
    token, term and blob in Arrow or numpy buffers (sort_by, tokenize,
    dictionary-encode, posting blobs, doc-store assembly) so 32
    concurrent kernels don't fight over Python object allocation.

    Docid assignment is the stable ``(conv_id, turn_idx)`` sort —
    SURVEY.md §7.2 tie-breaking: the reference's
    ``(split_id, segment_ord, doc_id)`` order (quickwit-search/src/lib.rs:100-105)
    is deterministic here because docids are a deterministic function of
    doc identity.
    """
    import pyarrow.compute as pc

    tbl = tbl.sort_by([(k, "ascending") for k in config.doc_key_fields])
    n = len(tbl)
    ts_col = tbl.column(config.timestamp_field)
    if ts_col.type != pa.timestamp("us"):
        ts_col = pc.cast(ts_col, pa.timestamp("us"))
    ts_us = pc.cast(ts_col, pa.int64()).combine_chunks()

    field_tokens: dict[str, tuple] = {}
    for f in config.fields:
        field_tokens[f.name] = tokenize_encode(tbl.column(f.name), f.tokenizer)
    doc_len = field_tokens[config.default_search_field][0]

    parts = []
    term_range = None
    tags: dict[str, list | None] = {}
    tag_has_null: dict[str, bool] = {}
    for f in config.fields:
        f_lens, f_codes, f_uniq = field_tokens[f.name]
        if f.name in config.tag_fields:
            # presence marker: some doc contributed NO tag token
            # (null / empty / dropped) — keeps must_not pruning sound
            tag_has_null[f.name] = bool((f_lens == 0).any())
        part = _field_posting_columns(
            f_lens, f_codes, f_uniq, doc_len, f.name, f.with_positions,
            config.hot_term_doc_freq, config.salt_docid_range,
        )
        if part is None:
            continue
        parts.append(part)
        if f.name == config.default_search_field:
            term_range = (f_uniq[0].as_py(), f_uniq[-1].as_py())
        if f.name in config.tag_fields:
            tags[f.name] = (
                f_uniq.to_pylist()  # sorted already
                if len(f_uniq) <= config.max_tag_values
                else None  # overflow ⇒ uninformative (packager.rs:36-43)
            )
    postings = pa.concat_tables(parts) if parts else POSTINGS_SCHEMA.empty_table()

    docs = pa.table(
        {
            "docid": pa.array(np.arange(n, dtype=np.int64)),
            **{c: tbl.column(c) for c in tbl.column_names},
            "ts_us": ts_us,
            "doc_len": pa.array(doc_len),
        }
    )
    text_len = pc.sum(
        pc.fill_null(
            pc.utf8_length(tbl.column(config.default_search_field)), 0
        )
    ).as_py() or 0
    mm = pc.min_max(ts_us)
    meta = {
        "num_docs": int(n),
        "sum_doc_len": int(doc_len.sum()),
        "uncompressed_docs_size_in_bytes": int(text_len),
        "time_range": (
            (int(mm["min"].as_py()), int(mm["max"].as_py())) if n else None
        ),
        "term_range": term_range,
        "tags": tags,
        "tag_has_null": tag_has_null,
    }
    return postings, docs, meta


def build_split(tbl, config: IndexConfig, index_dir: str, split_id: str,
                **group) -> dict:
    """Build one split group's table and write it as ``split_id`` under
    ``index_dir``; returns the kernel's metadata plus the ``group`` key,
    ``split_id``, ``size_in_bytes`` and ``wall_time_sec``. The one
    per-split body of the build and demux ``applyInArrow`` kernels and
    the driver build."""
    t0 = time.time()
    postings, docs, meta = build_split_tables_arrow(tbl, config)
    size = write_split(postings, docs, fsio.join(index_dir, "splits", split_id))
    meta.update(
        group, split_id=split_id, size_in_bytes=size,
        wall_time_sec=time.time() - t0,
    )
    return meta


def split_metadata(meta: dict, **kw) -> SplitMetadata:
    """The catalog entry of a split :func:`build_split` wrote."""
    return SplitMetadata(
        split_id=meta["split_id"],
        num_docs=meta["num_docs"],
        sum_doc_len=meta["sum_doc_len"],
        uncompressed_docs_size_in_bytes=meta["uncompressed_docs_size_in_bytes"],
        size_in_bytes=meta["size_in_bytes"],
        time_range=tuple(meta["time_range"]) if meta["time_range"] else None,
        term_range=tuple(meta["term_range"]) if meta["term_range"] else None,
        tags=meta["tags"],
        tag_has_null=meta["tag_has_null"],
        **kw,
    )


def split_id_for_partition(ingest_id: str, split_ord: int) -> str:
    return f"split-{ingest_id}-{split_ord:05d}"


def _driver_route(source, config: IndexConfig, n_splits: int):
    """``(table, split ordinal per row)`` when ``source`` builds in the
    calling process (``DRIVER_BUILD_MAX_ROWS``), else None. Its footer is
    read uncached: a source file may be rewritten between appends. A
    non-string routing column goes to Spark, whose cast-to-string is not
    reproduced; rows route by ``oracle.route_split``, once per value."""
    from pyarrow.fs import FileType

    from quickwit_spark.oracle import route_split

    if not isinstance(source, str) or not fsio.is_local(source):
        return None
    fs, p = fsio.resolve_fs(source)
    if fs.get_file_info(p).type != FileType.File:
        return None
    pf = fsio.parquet_file(source)
    i = pf.schema_arrow.get_field_index(config.routing_field)
    if (
        pf.metadata.num_rows > DRIVER_BUILD_MAX_ROWS
        or i < 0
        or pf.schema_arrow.field(i).type != pa.string()
    ):
        return None
    tbl = fsio.read_table(source)
    codes = tbl.column(config.routing_field).combine_chunks().dictionary_encode()
    if codes.null_count:
        raise ValueError(f"routing field {config.routing_field!r} has NULL values")
    per_value = np.array(
        [route_split(v, n_splits) for v in codes.dictionary.to_pylist()],
        dtype=np.int64,
    )
    return tbl, per_value[codes.indices.to_numpy(zero_copy_only=False)]


def _migrate_legacy_checkpoint(catalog: Catalog) -> None:
    """Fold pre-upgrade checkpoint keys into the batch namespaces, so a
    resume or replay on an old index keeps skipping published work
    instead of silently rebuilding and double-publishing it:

    * bare ``"<partition>": "done"`` keys (before per-ingest
      namespacing) → ``batch/b0000/<partition>`` (no completion marker —
      the next resume re-derives it);
    * ``"stream/<batch_key>": "done"`` (before stream batches ran
      :func:`build_index`) → the ``batch/stream-<batch_key>`` completion
      marker."""
    legacy = [
        k for k in catalog.checkpoint if k.isdigit() or k.startswith("stream/")
    ]
    if not legacy:
        return
    new = dict(catalog.checkpoint)
    for k in legacy:
        if k.isdigit():
            new[f"batch/b0000/{k}"] = new.pop(k)
        else:
            del new[k]
            new[f"batch/stream-{k.split('/', 1)[1]}"] = "complete"
    catalog.replace_checkpoint(new)


def _resolve_ingest_id(catalog: Catalog, source, ingest_id: str | None) -> str:
    """Pick the checkpoint namespace for this batch build.

    Each batch ingest gets its own checkpoint namespace
    (``batch/<ingest_id>/<partition>`` keys + a ``batch/<ingest_id>``
    completion marker) and its own split-id prefix, so a SECOND ingest
    with new data is never silently swallowed by the first ingest's
    'done' checkpoints (the reference's SourceCheckpoint is per-source
    for the same reason — checkpoint.rs:34-105).

    Defaults: a path source derives its id from the path (same path →
    resume/no-op, new path → append); a DataFrame source resumes the
    single incomplete namespace if one exists, starts ``b0000`` on a
    fresh index, and otherwise raises — the caller must say whether
    this is a retry (same ingest_id) or an append (new ingest_id).
    """
    if ingest_id is not None:
        if "/" in ingest_id:
            raise ValueError("ingest_id must not contain '/'")
        return ingest_id
    if isinstance(source, str):
        import hashlib

        path_ns = (
            "p" + hashlib.md5(os.path.abspath(source).encode()).hexdigest()[:10]
        )
        if any(
            k == f"batch/{path_ns}" or k.startswith(f"batch/{path_ns}/")
            for k in catalog.checkpoint
        ):
            return path_ns  # this path already has its own namespace
        # pre-namespacing indexes recorded bare '<partition>' checkpoint
        # keys that _migrate_legacy_checkpoint folds into 'b0000'; when
        # THIS index was created from the SAME source path and has a
        # b0000 namespace, that namespace IS the legacy build — resume
        # it (no-op once complete) instead of hashing the path into a
        # fresh empty namespace and double-publishing every document.
        sp = catalog.source_path
        if (
            sp is not None
            and os.path.abspath(sp) == os.path.abspath(source)
            and any(
                k == "batch/b0000" or k.startswith("batch/b0000/")
                for k in catalog.checkpoint
            )
        ):
            return "b0000"
        return path_ns
    namespaces = {
        k.split("/", 2)[1]
        for k in catalog.checkpoint
        if k.startswith("batch/")
    }
    complete = {
        ns for ns in namespaces if catalog.checkpoint.get(f"batch/{ns}") == "complete"
    }
    incomplete = sorted(namespaces - complete)
    if len(incomplete) == 1:
        return incomplete[0]  # crash-resume of the interrupted ingest
    if not namespaces:
        return "b0000"
    raise ValueError(
        "this index already has completed batch ingests "
        f"({sorted(namespaces)}); pass ingest_id=... to build_index/"
        "Index.ingest — reuse an existing id to (idempotently) retry "
        "that ingest, or a new id to append new data"
    )


def build_index(
    spark,
    source,
    index_dir: str,
    config: IndexConfig | None = None,
    n_splits: int = 8,
    resume: bool = True,
    ingest_id: str | None = None,
    retain_history: bool = False,
) -> Catalog:
    """Build (or resume) the index for ``source`` (DataFrame or parquet
    path of transcripts): route rows by hash, build each split in one
    vectorized kernel — in this process for a single small file
    (``DRIVER_BUILD_MAX_ROWS``), else in ONE Spark job — then publish
    the splits in chunked atomic commits. An existing index builds with
    its own ``catalog.config``; ``config`` only configures a new one.

    Resume semantics (publisher.rs:140-148 / checkpoint.rs analog):
    partitions whose checkpoint position is already recorded under THIS
    ingest's namespace are skipped (before the shuffle on Spark), so a
    re-run after a crash only rebuilds missing splits, while a new
    ``ingest_id`` appends a fresh set of splits.
    """
    catalog = (
        Catalog.load(index_dir) if resume and Catalog.exists(index_dir) else None
    )
    config = catalog.config if catalog is not None else config or IndexConfig()
    if config.default_search_field is None:
        # BM25 doc length = default-field token count (locked engine
        # invariant) — a search-only no-default-field config (valid for
        # query parsing per query_builder.rs:45-52) cannot be indexed
        raise ValueError(
            "indexing requires a default_search_field (BM25 doc length "
            "is the default field's token count)"
        )
    source_path = source if isinstance(source, str) else None

    if catalog is not None:
        _migrate_legacy_checkpoint(catalog)
    else:
        # retain_history=True keeps superseded manifests so
        # Searcher(at_seq=...) can time-travel past commits
        catalog = Catalog.create(
            index_dir, config, source_path, retain_history=retain_history,
        )
    ingest_id = _resolve_ingest_id(catalog, source, ingest_id)
    marker_key = f"batch/{ingest_id}"
    if catalog.checkpoint.get(marker_key) == "complete":
        return catalog  # idempotent retry of a finished ingest
    done = {
        int(k.rsplit("/", 1)[1])
        for k, pos in catalog.checkpoint.items()
        if k.startswith(marker_key + "/") and pos == "done"
    }
    todo = [p for p in range(n_splits) if p not in done]
    if not todo:
        # crashed exactly between the last chunk and nothing else —
        # just record completion
        catalog.stage_and_publish([], checkpoint_delta={marker_key: "complete"})
        return catalog

    routed = _driver_route(source, config, n_splits)
    if routed is not None:
        tbl, ords = routed
        metas = []
        for p in todo:
            part = tbl.filter(ords == p)
            if len(part):  # like a Spark group: no rows, no split
                sid = split_id_for_partition(ingest_id, p)
                metas.append(build_split(part, config, index_dir, sid, split_ord=p))
    else:
        from pyspark.sql import functions as F

        df = spark.read.parquet(source) if isinstance(source, str) else source
        df = df.withColumn(
            "split_ord",
            F.pmod(
                F.crc32(F.encode(F.col(config.routing_field).cast("string"), "utf-8")),
                F.lit(n_splits),
            ).cast("long"),
        )
        if done:
            df = df.filter(~F.col("split_ord").isin([int(p) for p in done]))
        config_dict = config.to_dict()

        def build_group(key, tbl):
            limit_worker_threads()
            split_ord = int(
                key[0].as_py() if hasattr(key[0], "as_py") else key[0]
            )
            meta = build_split(
                tbl.drop_columns(["split_ord"]), IndexConfig.from_dict(config_dict),
                index_dir, split_id_for_partition(ingest_id, split_ord),
                split_ord=split_ord,
            )
            return pa.table({"split_ord": [split_ord], "meta": [json.dumps(meta)]})

        metas = [
            json.loads(r.meta)
            for r in df.groupBy("split_ord")
            .applyInArrow(build_group, schema="split_ord long, meta string")
            .collect()
        ]

    lineage = []
    ordered = sorted(metas, key=lambda m: m["split_ord"])
    # adaptive chunking: at least PUBLISH_CHUNK splits per atomic
    # commit, at most ~8 commits per run — catalog rewrites are pure
    # overhead once the run is small relative to the chunk count
    chunk_size = max(PUBLISH_CHUNK, -(-len(ordered) // 8))
    for i in range(0, len(ordered), chunk_size):
        chunk = ordered[i : i + chunk_size]
        sms = [split_metadata(m, source_partitions=[m["split_ord"]]) for m in chunk]
        delta = {f"{marker_key}/{m['split_ord']}": "done" for m in chunk}
        if i + chunk_size >= len(ordered):
            delta[marker_key] = "complete"  # same atomic commit as the last chunk
        catalog.stage_and_publish(sms, checkpoint_delta=delta)
        for sm, m in zip(sms, chunk):
            lineage.append(
                {
                    "split_id": sm.split_id,
                    "op": "build",
                    "partition": m["split_ord"],
                    "num_docs": sm.num_docs,
                    "size_in_bytes": sm.size_in_bytes,
                    "term_min": sm.term_range[0] if sm.term_range else None,
                    "term_max": sm.term_range[1] if sm.term_range else None,
                    "wall_time_sec": m["wall_time_sec"],
                    "ts": time.time(),
                }
            )
    catalog.append_lineage(lineage)
    from quickwit_spark.operators.stats import refresh_term_stats

    refresh_term_stats(spark, catalog)
    return catalog
