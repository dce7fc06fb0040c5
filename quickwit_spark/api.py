"""User-facing Index API — the analog of the reference's CLI + REST
surface (SURVEY.md §2.11: `quickwit index
create/describe/ingest/search/merge/gc`, `GET /api/v1/{index}/search`,
`GET /api/v1/{index}/search/stream` — quickwit-cli/src/index.rs:254-264,
quickwit-serve/src/search_api/rest_handler.rs:83-166).

One object, one index directory; a user of the reference CLI maps each
command onto a method here.
"""

from __future__ import annotations


from quickwit_spark.config import IndexConfig
from quickwit_spark.operators.build import build_index
from quickwit_spark.operators.merge import gc_deleted_splits, run_merge_pipeline
from quickwit_spark.operators.search import (
    Searcher,
    SearchResponse,
    stream_fast_field,
)
from quickwit_spark.plans.catalog import Catalog


class Index:
    """A published inverted index over a transcripts-shaped table."""

    def __init__(self, spark, index_dir: str, at_seq: int | None = None):
        self.spark = spark
        self.index_dir = index_dir
        # pin reads to a historical catalog commit (retained manifest
        # history — Iceberg snapshot-read analog)
        self.at_seq = at_seq
        self._searcher: Searcher | None = None

    # -- lifecycle (CLI `index create` / `index delete`) -----------------

    @staticmethod
    def create(
        spark, index_dir: str, config: IndexConfig | None = None,
        doc_mapping: dict | None = None,
    ) -> "Index":
        if Catalog.exists(index_dir):
            raise ValueError(f"index already exists at {index_dir}")
        Catalog.create(index_dir, config or IndexConfig(), doc_mapping=doc_mapping)
        return Index(spark, index_dir)

    @staticmethod
    def create_from_reference_yaml(
        spark, index_dir: str, yaml_source: str, **overrides
    ) -> "Index":
        """Create an index from a REFERENCE-format index-config YAML
        (docs/configuration/index-config.md): field mappings drive both
        the inverted index and the typed ndjson doc mapper, and the
        YAML's ``sources`` section is registered on the catalog."""
        from quickwit_spark.sources.index_config_yaml import (
            load_reference_index_config,
            mapping_to_dict,
        )

        loaded = load_reference_index_config(yaml_source, **overrides)
        idx = Index.create(
            spark, index_dir, loaded["config"],
            doc_mapping={
                **mapping_to_dict(loaded["doc_mapping"]),
                "mode": loaded["mode"],
                "store_source": loaded["store_source"],
            },
        )
        cat = idx.catalog()
        for src in loaded["sources"]:
            cat.add_source(
                src["source_id"], src.get("source_type", "file"),
                src.get("params"), enabled=bool(src.get("enabled", True)),
            )
        return idx

    @staticmethod
    def open(spark, index_dir: str, at_seq: int | None = None) -> "Index":
        if not Catalog.exists(index_dir):
            raise FileNotFoundError(f"no index at {index_dir}")
        return Index(spark, index_dir, at_seq=at_seq)

    def delete(self) -> None:
        from quickwit_spark.functions import fs as fsio

        fsio.rmtree(self.index_dir)
        self._searcher = None

    # -- ingest (CLI `index ingest`) -------------------------------------

    def ingest(self, source, n_splits: int = 8, ingest_id: str | None = None) -> "Index":
        """Batch ingest a DataFrame or parquet path (resumable at split
        granularity — re-running after a crash skips published work).
        Each ingest is a checkpoint namespace: retry with the SAME
        ``ingest_id`` to resume/no-op, append new data with a NEW one
        (a DataFrame source on an index with completed ingests requires
        an explicit id — appended data is never silently dropped)."""
        build_index(
            self.spark, source, self.index_dir,
            n_splits=n_splits, resume=True, ingest_id=ingest_id,
        )
        self._searcher = None
        return self

    def ingest_stream(self, stream_df, checkpoint_dir: str, n_splits: int = 4,
                      trigger: dict | None = None):
        """Streaming ingest (ingest API / Kafka source analog)."""
        from quickwit_spark.streaming.ingest import start_stream_build

        return start_stream_build(
            self.spark, stream_df, self.index_dir, checkpoint_dir,
            n_splits=n_splits, trigger=trigger,
        )

    # -- source configs (CLI `source add/list/delete/toggle`) -------------

    def add_source(self, source_id: str, source_type: str,
                   params: dict | None = None, enabled: bool = True) -> None:
        """Register a source config on the index (metastore add_source,
        quickwit-metastore/src/metastore/mod.rs)."""
        self.catalog().add_source(source_id, source_type, params, enabled)

    def delete_source(self, source_id: str) -> None:
        self.catalog().delete_source(source_id)

    def toggle_source(self, source_id: str, enable: bool) -> None:
        self.catalog().toggle_source(source_id, enable)

    def sources(self) -> list[dict]:
        return list(self.catalog().sources.values())

    def ingest_source(self, source_id: str, n_splits: int = 8) -> "Index":
        """Run one batch ingest round of a registered ``file`` source.
        The source id doubles as the checkpoint namespace, so repeated
        invocations resume/no-op instead of duplicating documents —
        the reference's per-source checkpoint semantics
        (quickwit-indexing/src/source/file_source.rs)."""
        cfg = self.catalog().sources.get(source_id)
        if cfg is None:
            raise KeyError(f"unknown source {source_id!r}")
        if not cfg["enabled"]:
            raise ValueError(f"source {source_id!r} is disabled")
        if cfg["source_type"] != "file":
            raise ValueError(
                f"source type {cfg['source_type']!r} is not batch-ingestable "
                "here; stream sources attach via ingest_stream"
            )
        path = cfg["params"].get("path")
        if not path:
            raise ValueError(
                f"file source {source_id!r} has no 'path' in its params"
            )
        return self.ingest(
            path, n_splits=n_splits, ingest_id=f"src-{source_id}",
        )

    # -- search (REST `/search`, `/search/stream`) ------------------------

    def searcher(self) -> Searcher:
        if self._searcher is None:
            self._searcher = Searcher(
                self.spark, self.index_dir, at_seq=self.at_seq
            )
        return self._searcher

    def search(self, query: str, **kwargs) -> SearchResponse:
        """REST-equivalent params: k (max_hits, default 20 —
        rest_handler.rs:44-46), offset (start_offset), start_us/end_us
        (start_timestamp/end_timestamp, [incl, excl)), sort_by
        (sort_by_field with the REST '+'/'-' prefix DSL —
        rest_handler.rs:83-114: '-field' = desc (default), '+field' =
        asc), aggs (ES-compatible agg subset)."""
        sort_by = kwargs.get("sort_by")
        if isinstance(sort_by, str) and sort_by[:1] in "+-":
            kwargs["sort_desc"] = sort_by[0] == "-"
            kwargs["sort_by"] = sort_by[1:]
        return self.searcher().search(query, **kwargs)

    def search_json(self, query: str, **kwargs) -> dict:
        """SearchResponse as the REST JSON shape
        (search_api.proto:96-111)."""
        r = self.search(query, **kwargs)
        return {
            "num_hits": r.num_hits,
            "hits": [
                {
                    "score": h.score,
                    "document": h.doc,
                    "split_id": h.split_id,
                    "doc_id": h.docid,
                }
                for h in r.hits
            ],
            "elapsed_time_micros": int(r.elapsed_sec * 1e6),
            "aggregations": r.aggs or None,
            # search_api.proto:105-106 `repeated string errors` —
            # per-split failures the root tolerated (partial results)
            "errors": r.errors,
        }

    def search_stream(self, query: str, fast_field: str, **kwargs):
        """Fast-field export of all matching docs as a DataFrame —
        sink with .write.csv(...) etc."""
        return stream_fast_field(self.searcher(), query, fast_field, **kwargs)

    def search_stream_rowbinary(
        self, query: str, fast_field: str, out_dir: str,
        value_type: str = "i64", **kwargs,
    ) -> list:
        """REST /search/stream with output_format=click_house_row_binary
        (search_stream/leaf.rs:120-284): fixed-width little-endian
        values written as part files straight from the leaf tasks."""
        from quickwit_spark.operators.search import (
            write_stream_clickhouse_rowbinary,
        )

        df = self.search_stream(query, fast_field, **kwargs)
        return write_stream_clickhouse_rowbinary(df, out_dir, value_type)

    def tail(self, n: int = 20) -> SearchResponse:
        """REST /tail analog: the n most recent docs (match-all sorted
        by timestamp desc — rest.rs:67-71)."""
        return self.search("*", k=n, sort_by="-ts")

    def ingest_json_lines(
        self, path: str, n_splits: int = 8, mode: str = "lenient",
        ingest_id: str | None = None,
    ) -> dict:
        """REST /ingest + _bulk analog: newline-delimited JSON docs →
        doc mapper → index build. Returns ingest counters
        (indexer.rs:52-78). ``ingest_id`` defaults to a path-derived
        id (same file → idempotent retry); pass an explicit one to
        append regardless of path (the HTTP route passes a per-request
        nonce so re-POSTing an identical body appends, like ES)."""
        from quickwit_spark.sources.docmapper import (
            map_docs,
            map_json_docs,
            read_json_lines,
            split_valid,
        )

        cat_dm = self.catalog().doc_mapping
        if cat_dm:
            # index created from a reference index-config YAML: its
            # doc_mapping section drives typed parsing (the index
            # config is authoritative for mode, like the reference)
            from quickwit_spark.sources.index_config_yaml import (
                mapping_from_dict,
            )

            mapping = mapping_from_dict(cat_dm)
            mapped = map_docs(
                read_json_lines(self.spark, path), mapping,
                mode=cat_dm.get("mode") or mode,
                store_source=bool(cat_dm.get("store_source", False)),
            )
            cols = [f.name for f in mapping.fields]
        else:
            mapped = map_json_docs(read_json_lines(self.spark, path), mode=mode)
            cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        valid, rejected = split_valid(mapped)
        counters = {
            r["_error"]: r["count"]
            for r in rejected.groupBy("_error").count().collect()
        }
        import hashlib
        self.ingest(
            valid.select(*cols), n_splits=n_splits,
            ingest_id=ingest_id
            or "j" + hashlib.md5(path.encode()).hexdigest()[:10],
        )
        return {
            "num_docs_valid": self.catalog().total_docs(),
            "rejected": counters,
        }

    def ingest_bulk(
        self, path: str, n_splits: int = 8, mode: str = "lenient",
    ) -> dict:
        """ES-compatible `_bulk` shim (quickwit-serve elastic-compat
        `/_elastic/_bulk`): NDJSON of action lines (`{"index": {...}}`
        / `{"create": {...}}` / `{"update": {...}}` / `{"delete":
        {...}}`) each followed by a payload line (except `delete`).

        Pairing is POSITIONAL, like ES itself: a document sitting in
        payload position is ingested even if its only top-level field
        is named `index`; an `update` action's `{"doc": ...}` payload
        is dropped and counted under ``unsupported_action:update``
        (this engine has no partial updates), as is a `delete` action —
        neither pollutes the mapper's rejected counters. Implemented as
        a two-pass partition state handoff over the line RDD (the
        classifier is a 3-state machine: expect-action /
        expect-doc-payload / expect-dropped-payload; pass 1 summarizes
        each partition's transition for every possible entry state,
        the driver composes them, pass 2 classifies with the known
        entry states) — sequential semantics without a single-partition
        bottleneck. This is the ES-compat edge, not the bulk-data path;
        batch/streaming ingest is the 100 TB route."""
        import hashlib
        import json as _json
        import re

        from quickwit_spark.sources.docmapper import map_json_docs, split_valid

        ACTION_RE = re.compile(r'\s*\{\s*"(index|create|update|delete)"\s*:')
        EXPECT_ACTION, EXPECT_DOC, EXPECT_DROP = 0, 1, 2

        def action_kind(line: str):
            """The action verb if `line` is an ES action line (single
            top-level key ∈ verbs with an OBJECT value), else None."""
            if not ACTION_RE.match(line):
                return None
            try:
                obj = _json.loads(line)
            except ValueError:
                return None
            if isinstance(obj, dict) and len(obj) == 1:
                ((k, v),) = obj.items()
                if k in ("index", "create", "update", "delete") and isinstance(v, dict):
                    return k
            return None

        def trans(state: int, k) -> int:
            if state != EXPECT_ACTION:
                return EXPECT_ACTION
            if k in ("index", "create"):
                return EXPECT_DOC
            if k == "update":
                return EXPECT_DROP
            return EXPECT_ACTION  # delete (no payload) or a bare doc

        raw = self.spark.read.text(path)

        def summarize(_idx, it):
            ends = [EXPECT_ACTION, EXPECT_DOC, EXPECT_DROP]
            for row in it:
                k = action_kind(row.value)
                ends = [trans(s, k) for s in ends]
            yield ends

        part_ends = raw.rdd.mapPartitionsWithIndex(summarize).collect()
        starts, s = [], EXPECT_ACTION
        for ends in part_ends:
            starts.append(s)
            s = ends[s]
        starts_b = self.spark.sparkContext.broadcast(starts)

        def classify(idx, it):
            state = starts_b.value[idx]
            for row in it:
                line = row.value
                if state == EXPECT_DOC:
                    state = EXPECT_ACTION
                    yield ("doc", line)
                elif state == EXPECT_DROP:
                    state = EXPECT_ACTION
                    yield ("unsupported_action:update", None)
                else:
                    k = action_kind(line)
                    if k in ("index", "create"):
                        state = EXPECT_DOC
                    elif k == "update":
                        state = EXPECT_DROP
                    elif k == "delete":
                        yield ("unsupported_action:delete", None)
                    else:
                        yield ("doc", line)

        classified = raw.rdd.mapPartitionsWithIndex(classify).persist()
        counters = {
            k: int(v)
            for k, v in classified.filter(lambda t: t[0] != "doc")
            .map(lambda t: t[0])
            .countByValue()
            .items()
        }
        docs = self.spark.createDataFrame(
            classified.filter(lambda t: t[0] == "doc").map(lambda t: (t[1],)),
            schema="value string",
        )
        mapped = map_json_docs(docs, mode=mode)
        valid, rejected = split_valid(mapped)
        for r in rejected.groupBy("_error").count().collect():
            counters[r["_error"]] = counters.get(r["_error"], 0) + r["count"]

        cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        self.ingest(
            valid.select(*cols), n_splits=n_splits,
            ingest_id="bk" + hashlib.md5(path.encode()).hexdigest()[:10],
        )
        classified.unpersist()
        return {
            "num_docs_valid": self.catalog().total_docs(),
            "rejected": counters,
        }

    # -- maintenance (CLI `index merge` / `index gc`) ---------------------

    def merge(self) -> int:
        n = run_merge_pipeline(self.spark, self.index_dir)
        self._searcher = None
        return n

    def gc(self, grace_period_secs: int | None = None) -> list[str]:
        if grace_period_secs is None:
            return gc_deleted_splits(self.index_dir)
        return gc_deleted_splits(self.index_dir,
                                 grace_period_secs=grace_period_secs)

    def demux(self, split_ids: list[str] | None = None,
              demux_field: str | None = None,
              demux_factor: int | None = None) -> list:
        """CLI `index demux` analog: rewrite splits into per-tenant
        splits (defaults to every published, never-demuxed split)."""
        from quickwit_spark.operators.demux import demux_splits

        cat = self.catalog()
        if split_ids is None:
            split_ids = [s.split_id for s in cat.published_splits()
                         if s.num_merge_ops == 0]
        new = demux_splits(self.spark, cat, split_ids,
                           demux_field=demux_field,
                           demux_factor=demux_factor)
        self._searcher = None
        return new

    # -- introspection (CLI `index describe`, `split list`) ---------------

    def catalog(self) -> Catalog:
        return Catalog.load(self.index_dir, at_seq=self.at_seq)

    def describe(self) -> dict:
        """CLI ``index describe`` analog (quickwit-cli/src/index.rs:
        548-640): general info + per-split descriptive stats (mean,
        population std dev, linear-interpolation percentiles — the
        stats.rs:40-59 formula; q25/q99 are the REAL 25th/99th, not
        index.rs:753/756's copy-paste of q50/q75) over split doc
        counts and sizes, plus the timestamp range when present.
        Driver-side over catalog metadata only, like the reference."""
        cat = self.catalog()
        pub = cat.published_splits()
        ts_ranges = [s.time_range for s in pub if s.time_range]
        return {
            "index_dir": self.index_dir,
            "num_published_splits": len(pub),
            "num_docs": cat.total_docs(),
            "size_in_bytes": sum(s.size_in_bytes for s in pub),
            "timestamp_range_us": (
                [min(r[0] for r in ts_ranges), max(r[1] for r in ts_ranges)]
                if ts_ranges
                else None
            ),
            "split_num_docs_stats": _descriptive_stats(
                [s.num_docs for s in pub]
            ),
            "split_size_mb_stats": _descriptive_stats(
                [s.size_in_bytes // 1_000_000 for s in pub]
            ),
            "checkpoint": dict(cat.checkpoint),
            "fields": [f.name for f in cat.config.fields],
        }

    def list_splits(self) -> list[dict]:
        return [s.to_dict() for s in self.catalog().splits.values()]

    def extract_split(self, split_id: str, target_dir: str) -> list[str]:
        """CLI ``split extract`` analog (quickwit-cli/src/split.rs:152):
        copy one split's files out of the index (any storage scheme on
        either side) for offline inspection. Returns the written paths."""
        from pyarrow.fs import FileSelector

        from quickwit_spark.functions import fs as fsio

        cat = self.catalog()
        if split_id not in cat.splits:
            raise ValueError(f"no split {split_id!r} in {self.index_dir}")
        src_dir = cat.split_dir(split_id)
        fsio.makedirs(target_dir)
        out = []
        src_fs, src_base = fsio.resolve_fs(src_dir)
        for info in src_fs.get_file_info(FileSelector(src_base)):
            name = info.path.rsplit("/", 1)[-1]
            dst = fsio.join(target_dir, name)
            fsio.write_bytes(dst, fsio.read_bytes(fsio.join(src_dir, name)))
            out.append(dst)
        return out

    def lineage(self):
        """The per-split lineage/metrics table (north rule) as a
        DataFrame."""
        from quickwit_spark.functions import fs as fsio

        return self.spark.read.parquet(
            fsio.spark_read_path(fsio.join(self.index_dir, "lineage"))
        )


def _descriptive_stats(values: list[int]) -> dict | None:
    """mean / population std dev / linear-interpolation percentiles,
    the quickwit-cli stats.rs:20-59 formulas (percentile: rank =
    p/100 · (n−1), interpolate between floor and ceil neighbors)."""
    if not values:
        return None
    vals = sorted(values)
    n = len(vals)
    mean = sum(vals) / n
    std = (sum((v - mean) ** 2 for v in vals) / n) ** 0.5

    def pct(p: int) -> float:
        if n == 1:
            return float(vals[0])
        if p == 100:
            return float(vals[-1])
        rank = p / 100 * (n - 1)
        lo = int(rank)
        d = rank - lo
        return vals[lo] + (vals[lo + 1] - vals[lo]) * d

    return {
        "mean": round(mean, 2),
        "std": round(std, 2),
        "min": vals[0],
        "max": vals[-1],
        "q1": round(pct(1), 2),
        "q25": round(pct(25), 2),
        "q50": round(pct(50), 2),
        "q75": round(pct(75), 2),
        "q99": round(pct(99), 2),
    }
