"""Command-line interface — the quickwit-cli analog.

Mirrors the reference's command tree (quickwit-cli/src/cli.rs:31-46,
index.rs:59-178, split.rs:40-108): ``index
{create,ingest,describe,search,merge,demux,gc,delete,list}``, ``split
{list,describe,extract,mark-for-deletion}``, and ``run`` (the HTTP
service — quickwit-cli/src/service.rs). Every command prints one JSON
document to stdout, so output is scriptable.

    python -m quickwit_spark index create --index-dir /idx
    python -m quickwit_spark index ingest --index-dir /idx --input t.parquet
    python -m quickwit_spark index search --index-dir /idx --query "a AND b"
    python -m quickwit_spark split extract --index-dir /idx \\
        --split <id> --target-dir /out
    python -m quickwit_spark run --index-dir /idx --port 7280

``--index-dir`` accepts any URI the storage layer supports (s3://,
file://, plain paths). The Spark session comes from
``quickwit_spark.session.get_spark`` (``--cpus`` caps local
parallelism); tests inject their session via ``main(argv, spark=...)``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from quickwit_spark.config import IndexConfig


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="quickwit_spark")
    p.add_argument("--cpus", type=int, default=8,
                   help="local[N] parallelism when no session is injected")
    sub = p.add_subparsers(dest="command", required=True)

    # ---- index ----------------------------------------------------------
    index = sub.add_parser("index").add_subparsers(dest="subcommand",
                                                   required=True)

    def idx_cmd(name: str):
        c = index.add_parser(name)
        c.add_argument("--index-dir", required=True)
        return c

    c = idx_cmd("create")
    c.add_argument("--config", help="IndexConfig overrides as JSON")
    c.add_argument("--index-config",
                   help="reference-format index-config YAML file "
                        "(quickwit `index create --index-config` analog); "
                        "registers the YAML's sources too")
    c.add_argument("--doc-key-fields",
                   help="comma-separated stable-order keys (YAML mode; "
                        "defaults to sort_field then timestamp_field)")

    c = idx_cmd("ingest")
    c.add_argument("--input", required=True,
                   help="parquet path/glob or .json/.ndjson lines file")
    c.add_argument("--n-splits", type=int, default=8)
    c.add_argument("--ingest-id")
    c.add_argument("--format", choices=["parquet", "ndjson"],
                   default=None, help="inferred from the extension if omitted")

    idx_cmd("describe")

    c = idx_cmd("search")
    c.add_argument("--query", required=True)
    c.add_argument("--at-seq", type=int,
                   help="search the historical catalog state after this "
                        "commit (needs an index built with retained history)")
    c.add_argument("--max-hits", type=int, default=20)
    c.add_argument("--start-offset", type=int, default=0)
    c.add_argument("--sort-by-field")
    c.add_argument("--start-timestamp", type=int)
    c.add_argument("--end-timestamp", type=int)
    c.add_argument("--search-field", action="append")
    c.add_argument("--aggs", help="aggregations spec as JSON")

    idx_cmd("merge")

    c = idx_cmd("demux")
    c.add_argument("--demux-field")
    c.add_argument("--demux-factor", type=int)

    c = idx_cmd("gc")
    c.add_argument("--grace-secs", type=int, default=0)

    idx_cmd("delete")
    c = index.add_parser("list")
    c.add_argument("--index-dir", action="append", default=None)
    c.add_argument("--config",
                   help="node-config YAML: list every index under its "
                        "data_dir (quickwit `index list --config` analog)")

    # ---- split ----------------------------------------------------------
    split = sub.add_parser("split").add_subparsers(dest="subcommand",
                                                   required=True)

    def split_cmd(name: str):
        c = split.add_parser(name)
        c.add_argument("--index-dir", required=True)
        return c

    split_cmd("list")
    c = split_cmd("describe")
    c.add_argument("--split", required=True)
    c = split_cmd("extract")
    c.add_argument("--split", required=True)
    c.add_argument("--target-dir", required=True)
    c = split_cmd("mark-for-deletion")
    c.add_argument("--split", required=True, action="append")

    # ---- source (quickwit-cli source add/list/delete + toggle) -----------
    source = sub.add_parser("source").add_subparsers(dest="subcommand",
                                                     required=True)

    def src_cmd(name: str):
        c = source.add_parser(name)
        c.add_argument("--index-dir", required=True)
        return c

    c = src_cmd("add")
    c.add_argument("--source-id")
    c.add_argument("--type", dest="source_type",
                   help='e.g. "file" (batch-ingestable) or a stream kind')
    c.add_argument("--params",
                   help='source params as JSON, e.g. {"path": "..."}')
    c.add_argument("--source-config",
                   help="reference-format source-config YAML file "
                        "(source_id/source_type/params) — alternative "
                        "to the flags above")
    c.add_argument("--disabled", action="store_true")
    src_cmd("list")
    c = src_cmd("describe")
    c.add_argument("--source-id", required=True)
    c = src_cmd("delete")
    c.add_argument("--source-id", required=True)
    c = src_cmd("enable")
    c.add_argument("--source-id", required=True)
    c = src_cmd("disable")
    c.add_argument("--source-id", required=True)
    c = src_cmd("ingest")
    c.add_argument("--source-id", required=True)
    c.add_argument("--n-splits", type=int, default=8)

    # ---- run (HTTP service) ---------------------------------------------
    c = sub.add_parser("run")
    c.add_argument("--index-dir", action="append", default=None,
                   help="repeatable; index name = last path segment")
    c.add_argument("--port", type=int, default=None)
    c.add_argument("--config",
                   help="reference-format node-config YAML "
                        "(quickwit run --config analog): rest_listen_port, "
                        "data_dir index discovery, searcher cache sizes")
    return p


def _spark(args, injected):
    if injected is not None:
        return injected
    from quickwit_spark.session import get_spark

    return get_spark("quickwit_spark_cli", cpus=args.cpus)


def _index(args, spark):
    from quickwit_spark.api import Index

    return Index.open(
        spark, args.index_dir, at_seq=getattr(args, "at_seq", None)
    )


def _discover_index_dirs(data_dir: str | None) -> list[str]:
    """Indexes under a node-config data_dir: data_dir/indexes/* when the
    subdirectory exists (the reference's layout), else data_dir/*."""
    if not data_dir:
        return []
    from quickwit_spark.plans.catalog import Catalog

    base = os.path.join(data_dir, "indexes")
    if not os.path.isdir(base):
        base = data_dir
    return sorted(
        os.path.join(base, name)
        for name in os.listdir(base)
        if Catalog.exists(os.path.join(base, name))
    )


def main(argv=None, spark=None, serve_forever: bool = True) -> dict:
    """Run one CLI command; returns (and prints) its JSON result.
    ``spark`` lets tests inject a session; ``serve_forever=False`` makes
    ``run`` return the bound server instead of blocking."""
    args = _build_parser().parse_args(argv)
    out = _dispatch(args, spark, serve_forever)
    print(json.dumps(out, default=str))
    return out


def _dispatch(args, spark, serve_forever):
    from quickwit_spark.api import Index

    cmd = (args.command, getattr(args, "subcommand", None))

    if cmd == ("index", "create"):
        if args.index_config:
            idx = Index.create_from_reference_yaml(
                _spark(args, spark), args.index_dir, args.index_config,
                doc_key_fields=tuple(args.doc_key_fields.split(","))
                if args.doc_key_fields else None,
            )
            return {
                "index_dir": args.index_dir, "created": True,
                "sources": [s["source_id"] for s in idx.sources()],
            }
        cfg = IndexConfig.from_dict(json.loads(args.config)) if args.config \
            else IndexConfig()
        from quickwit_spark.plans.catalog import Catalog

        Catalog.create(args.index_dir, cfg)
        return {"index_dir": args.index_dir, "created": True}

    if cmd == ("index", "ingest"):
        idx = _index(args, _spark(args, spark))
        fmt = args.format or (
            "ndjson" if args.input.endswith((".json", ".ndjson", ".jsonl"))
            else "parquet"
        )
        if fmt == "ndjson":
            counters = idx.ingest_json_lines(args.input, n_splits=args.n_splits)
            return {"index_dir": args.index_dir, **counters}
        idx.ingest(args.input, n_splits=args.n_splits,
                   ingest_id=args.ingest_id)
        return {"index_dir": args.index_dir,
                "num_docs": idx.describe()["num_docs"]}

    if cmd == ("index", "describe"):
        return _index(args, _spark(args, spark)).describe()

    if cmd == ("index", "search"):
        idx = _index(args, _spark(args, spark))
        kwargs = {"k": args.max_hits, "offset": args.start_offset}
        if args.sort_by_field:
            kwargs["sort_by"] = args.sort_by_field
        if args.start_timestamp is not None:
            kwargs["start_us"] = args.start_timestamp * 1_000_000
        if args.end_timestamp is not None:
            kwargs["end_us"] = args.end_timestamp * 1_000_000
        if args.search_field:
            kwargs["search_fields"] = args.search_field
        if args.aggs:
            kwargs["aggs"] = json.loads(args.aggs)
        return idx.search_json(args.query, **kwargs)

    if cmd == ("index", "merge"):
        n = _index(args, _spark(args, spark)).merge()
        return {"index_dir": args.index_dir, "merge_ops": n}

    if cmd == ("index", "demux"):
        idx = _index(args, _spark(args, spark))
        new = idx.demux(demux_field=args.demux_field,
                        demux_factor=args.demux_factor)
        return {"index_dir": args.index_dir,
                "new_splits": [s.split_id for s in new]}

    if cmd == ("index", "gc"):
        idx = _index(args, _spark(args, spark))
        reaped = idx.gc(grace_period_secs=args.grace_secs)
        return {"index_dir": args.index_dir, "removed_splits": reaped}

    if cmd == ("index", "delete"):
        _index(args, _spark(args, spark)).delete()
        return {"index_dir": args.index_dir, "deleted": True}

    if cmd == ("index", "list"):
        dirs = list(args.index_dir or [])
        if getattr(args, "config", None):
            from quickwit_spark.sources.index_config_yaml import load_node_config

            node = load_node_config(args.config)
            dirs.extend(_discover_index_dirs(node["data_dir"]))
        if not dirs:
            raise SystemExit("index list: pass --index-dir or --config")
        sp = _spark(args, spark)
        return {"indexes": [Index.open(sp, d).describe() for d in dirs]}

    if cmd == ("split", "list"):
        return {"splits": _index(args, _spark(args, spark)).list_splits()}

    if cmd == ("split", "describe"):
        splits = _index(args, _spark(args, spark)).list_splits()
        for s in splits:
            if s["split_id"] == args.split:
                return s
        raise SystemExit(f"no split {args.split!r}")

    if cmd == ("split", "extract"):
        paths = _index(args, _spark(args, spark)).extract_split(
            args.split, args.target_dir
        )
        return {"split_id": args.split, "files": paths}

    if cmd == ("split", "mark-for-deletion"):
        idx = _index(args, _spark(args, spark))
        idx.catalog().mark_for_deletion(args.split)
        return {"marked": args.split}

    if args.command == "source":
        # catalog-only commands skip Spark startup entirely
        if cmd == ("source", "ingest"):
            idx = _index(args, _spark(args, spark))
            idx.ingest_source(args.source_id, n_splits=args.n_splits)
            return {"index_dir": args.index_dir,
                    "source_id": args.source_id,
                    "num_docs": idx.describe()["num_docs"]}
        from quickwit_spark.plans.catalog import Catalog

        cat = Catalog.load(args.index_dir)
        if cmd == ("source", "add"):
            if args.source_config:
                import yaml

                with open(args.source_config) as f:
                    y = yaml.safe_load(f) or {}
                sid = y["source_id"]
                cat.add_source(
                    sid, y.get("source_type", "file"), y.get("params"),
                    enabled=bool(y.get("enabled", True)),
                )
                return {"added": sid}
            if not args.source_id or not args.source_type:
                raise SystemExit(
                    "source add: pass --source-id and --type, "
                    "or --source-config <yaml>"
                )
            cat.add_source(
                args.source_id, args.source_type,
                json.loads(args.params) if args.params else None,
                enabled=not args.disabled,
            )
            return {"added": args.source_id}
        if cmd == ("source", "list"):
            return {"sources": list(cat.sources.values())}
        if cmd == ("source", "describe"):
            src = cat.sources.get(args.source_id)
            if src is None:
                raise SystemExit(f"unknown source {args.source_id!r}")
            ns = f"batch/src-{args.source_id}"
            return {
                "source": src,
                # resume positions recorded under this source's ingest
                # namespace (reference `source describe` shows the
                # source checkpoint the same way)
                "checkpoint": {
                    k: v for k, v in cat.checkpoint.items()
                    if k == ns or k.startswith(ns + "/")
                },
            }
        if cmd == ("source", "delete"):
            cat.delete_source(args.source_id)
            return {"deleted": args.source_id}
        if cmd == ("source", "enable"):
            cat.toggle_source(args.source_id, True)
            return {"enabled": args.source_id}
        if cmd == ("source", "disable"):
            cat.toggle_source(args.source_id, False)
            return {"disabled": args.source_id}

    if cmd == ("run", None):
        from quickwit_spark.serve import serve

        port = args.port
        index_dirs = list(args.index_dir or [])
        if args.config:
            from quickwit_spark.sources.index_config_yaml import load_node_config

            node = load_node_config(args.config)
            if port is None:
                port = node["rest_listen_port"]
            if node["fast_field_cache_bytes"] is not None:
                # searcher.fast_field_cache_capacity -> the process
                # fast-field cache budget (same knob as
                # QS_FASTFIELD_CACHE_BYTES)
                from quickwit_spark.operators import search as _search

                _search._FAST_CACHE_MAX_BYTES = node["fast_field_cache_bytes"]
            if not index_dirs:
                index_dirs = _discover_index_dirs(node["data_dir"])
        if not index_dirs:
            raise SystemExit("run: pass --index-dir or a --config with data_dir")
        sp = _spark(args, spark)
        indexes = {
            d.rstrip("/").rsplit("/", 1)[-1]: Index.open(sp, d)
            for d in index_dirs
        }
        server, thread = serve(indexes, port=port if port is not None else 7280)
        if serve_forever:  # pragma: no cover - blocking path
            try:
                thread.join()
            except KeyboardInterrupt:
                server.shutdown()
            return {"stopped": True}
        server.shutdown()
        return {"port": server.server_address[1],
                "indexes": sorted(indexes)}

    raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":  # pragma: no cover
    main(sys.argv[1:])
