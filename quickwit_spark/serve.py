"""Minimal HTTP server exposing the reference's REST surface over an
:class:`~quickwit_spark.api.Index` — the quickwit-serve analog
(quickwit-serve/src/search_api/rest_handler.rs:83-166,
rest.rs ingest/tail routes), stdlib-only so the sandbox can run it.

Routes (all JSON unless noted; error bodies carry ``error_message``
per docs/reference/rest-api.md "Error handling"):
* ``GET  /api/v1/{index}/search?query=...&max_hits=&start_offset=&
  sort_by_field=&start_timestamp=&end_timestamp=&format=`` —
  rest_handler.rs param names; response = ``Index.search_json`` shape
  (search_api.proto:96-111); ``format`` ∈ {json, prettyjson}
  (default prettyjson, as documented).
* ``GET  /api/v1/{index}/search/stream?query=...&fast_field=...&
  output_format=`` — ``csv`` (default; one value per line) or
  ``clickHouseRowBinary`` (little-endian i64), chunked transfer;
  mid-stream failures surface as an ``X-Stream-Error`` trailer
  (rest-api.md "Search stream").
* ``POST /api/v1/{index}/ingest`` — newline-delimited JSON docs body;
  returns ingest counters + ``num_docs_for_processing``.
* ``POST /api/v1/_bulk`` — ES-compatible bulk NDJSON (action line +
  payload line pairs routed by the action's ``_index``).
* ``GET  /api/v1/{index}/tail?num_hits=`` — most recent docs.
* ``GET  /api/v1/{index}/describe`` — CLI `index describe` shape.
* ``GET  /api/v1/indexes`` / ``/indexes/{id}`` /
  ``/indexes/{id}/splits`` — index-management read surface
  (quickwit-serve/src/index_api/rest_handler.rs:30-87; the reference
  comments out create/delete pending request routing, so only the GET
  trio exists).
* ``GET  /api/v1/cluster`` — cluster state
  (cluster_api/rest_handler.rs:30); membership is delegated to the
  Spark scheduler (SURVEY §2.9), so this reports the Spark
  application's view.
* ``GET  /health/livez`` — liveness
  (health_check_api/handler.rs:43-54).

The server is a thin translation layer: every route delegates to the
library facade, which is the tested surface; concurrency comes from
``ThreadingHTTPServer`` (queries already fan out through Spark).
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from quickwit_spark.api import Index

_ROUTE = re.compile(r"^/api/v1/(?P<index>[\w.-]+)/(?P<verb>search/stream|search|ingest|tail|describe)$")

# flush threshold for chunked /search/stream responses: a chunk holds
# STREAM_CHUNK_BYTES / 8 rows, that many bytes of RowBinary (module-level
# so tests can shrink it to force multi-chunk bodies)
STREAM_CHUNK_BYTES = 64 * 1024


def _search_kwargs(q: dict) -> dict:
    """Translate rest_handler.rs query params to Index.search kwargs."""
    kw: dict = {}
    if "max_hits" in q:
        kw["k"] = int(q["max_hits"][0])
    if "start_offset" in q:
        kw["offset"] = int(q["start_offset"][0])
    if "sort_by_field" in q:
        kw["sort_by"] = q["sort_by_field"][0]
    if "start_timestamp" in q:  # seconds, [start, end) — rest_handler.rs
        kw["start_us"] = int(q["start_timestamp"][0]) * 1_000_000
    if "end_timestamp" in q:
        kw["end_us"] = int(q["end_timestamp"][0]) * 1_000_000
    if "search_field" in q:
        kw["search_fields"] = q["search_field"][0].split(",")
    if "aggs" in q:
        # 'The aggregation JSON string' (rest_handler.rs
        # SearchRequestQueryString.aggs)
        kw["aggs"] = json.loads(q["aggs"][0])
    return kw


class _Handler(BaseHTTPRequestHandler):
    server_version = "quickwit-spark-serve/0.1"
    protocol_version = "HTTP/1.1"  # chunked transfer for /search/stream

    # injected by serve(): {index_name: Index}
    indexes: dict[str, Index] = {}

    def log_message(self, *a):  # keep pytest output clean
        pass

    def _write_chunk(self, data: bytes) -> None:
        """One HTTP/1.1 chunked-transfer frame."""
        self.wfile.write(f"{len(data):x}\r\n".encode() + data + b"\r\n")

    def _json(self, code: int, payload, pretty: bool = False) -> None:
        body = json.dumps(payload, indent=2 if pretty else None).encode()
        self.send_response(code)
        self.send_header("content-type", "application/json; charset=UTF-8")
        self.send_header("content-length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _err(self, code: int, msg: str) -> None:
        # rest-api.md "Error handling": 4xx + {"error_message": ...}
        self._json(code, {"error_message": msg})

    def _route(self):
        u = urlparse(self.path)
        if u.path == "/api/v1/_bulk":
            return None, "_bulk", parse_qs(u.query)
        m = _ROUTE.match(u.path)
        if not m:
            self._err(404, f"no route {u.path}")
            return None
        idx = self.indexes.get(m.group("index"))
        if idx is None:
            self._err(404, f"unknown index {m.group('index')}")
            return None
        return idx, m.group("verb"), parse_qs(u.query)

    def _index_metadata(self, name: str, idx: Index) -> dict:
        """IndexMetadata REST shape analog
        (index_api/rest_handler.rs:52-58)."""
        meta = {"index_id": name, "index_uri": idx.index_dir}
        meta.update(idx.describe())
        return meta

    def _flat_routes(self, path: str) -> bool:
        """Non-per-index routes: health, cluster, index management.
        Returns True when the request was handled."""
        if path == "/health/livez":
            # health_check_api/handler.rs: 200 + the service status
            self._json(200, {"status": "alive"})
            return True
        if path == "/api/v1/cluster":
            # cluster membership is delegated to Spark (SURVEY §2.9):
            # report the application's view of the "cluster"
            members = []
            idx = next(iter(self.indexes.values()), None)
            if idx is not None:
                sc = idx.spark.sparkContext
                members = [{
                    "node_id": sc.applicationId,
                    "master": sc.master,
                    "parallelism": sc.defaultParallelism,
                }]
            self._json(200, {
                "cluster_id": "quickwit-spark",
                "members": members,
                "indexes": sorted(self.indexes),
            })
            return True
        if path == "/api/v1/indexes":
            self._json(200, [
                self._index_metadata(n, i)
                for n, i in sorted(self.indexes.items())
            ])
            return True
        m = re.match(
            r"^/api/v1/indexes/(?P<id>[\w.-]+)(?P<splits>/splits)?$", path
        )
        if m:
            idx = self.indexes.get(m.group("id"))
            if idx is None:
                self._err(404, f"unknown index {m.group('id')}")
            elif m.group("splits"):
                self._json(200, idx.list_splits())
            else:
                self._json(200, self._index_metadata(m.group("id"), idx))
            return True
        return False

    def do_GET(self):  # noqa: N802 - stdlib naming
        if self._flat_routes(urlparse(self.path).path):
            return
        r = self._route()
        if r is None:
            return
        idx, verb, q = r
        try:
            if verb == "search":
                query = q.get("query", ["*"])[0]
                # format=json|prettyjson, default prettyjson
                # (rest-api.md "Get parameters")
                fmt = q.get("format", ["prettyjson"])[0]
                if fmt not in ("json", "prettyjson"):
                    raise ValueError(f"unknown format {fmt!r}")
                self._json(
                    200,
                    idx.search_json(query, **_search_kwargs(q)),
                    pretty=fmt == "prettyjson",
                )
            elif verb == "search/stream":
                query = q.get("query", ["*"])[0]
                fast_field = q["fast_field"][0]
                out_fmt = q.get("output_format", ["csv"])[0]
                if out_fmt == "csv":
                    ctype = "text/csv"

                    def encode(vals) -> bytes:
                        # STREAM_SCHEMA types value as double for any
                        # fast field; i64 fields print as integers,
                        # like the reference's CSV output
                        return "".join(
                            f"{int(v) if isinstance(v, float) and v.is_integer() else v}\n"
                            for v in vals
                        ).encode()
                elif out_fmt == "clickHouseRowBinary":
                    from quickwit_spark.operators.search import rowbinary

                    ctype = "application/octet-stream"
                    # fast fields are i64, the library sink's encoder
                    encode = rowbinary
                else:
                    raise ValueError(f"unknown output_format {out_fmt!r}")
                # stream the export: toLocalIterator pulls one Spark
                # partition at a time into the driver, and chunked
                # transfer forwards it — driver memory stays bounded by
                # one partition + one chunk, never the whole result
                # (the old .collect() + single body string OOMed the
                # driver at real export sizes); each chunk's rows are
                # encoded at once
                it = idx.search_stream(query, fast_field).toLocalIterator()
                self.send_response(200)
                self.send_header("content-type", ctype)
                self.send_header("transfer-encoding", "chunked")
                self.send_header("trailer", "X-Stream-Error")
                self.end_headers()
                rows = max(1, STREAM_CHUNK_BYTES // 8)
                vals: list = []
                try:
                    for row in it:
                        vals.append(row.value)
                        if len(vals) >= rows:
                            self._write_chunk(encode(vals))
                            vals = []
                    if vals:
                        self._write_chunk(encode(vals))
                    self.wfile.write(b"0\r\n\r\n")  # chunked terminator
                except Exception as exc:  # headers already sent — the
                    # error travels as a trailer, like the reference
                    # (rest-api.md: "X-Stream-Error" via trailers)
                    msg = str(exc).replace("\r", " ").replace("\n", " ")
                    self.wfile.write(
                        f"0\r\nX-Stream-Error: {msg[:512]}\r\n\r\n".encode()
                    )
            elif verb == "tail":
                n = int(q.get("num_hits", ["20"])[0])
                resp = idx.tail(n)
                self._json(200, {
                    "num_hits": resp.num_hits,
                    "hits": [h.doc for h in resp.hits],
                })
            elif verb == "describe":
                self._json(200, idx.describe())
            else:
                self._err(405, f"GET not supported for {verb}")
        except (ValueError, KeyError) as exc:
            self._err(400, str(exc))

    def _read_body(self) -> str:
        length = int(self.headers.get("content-length", "0"))
        return self.rfile.read(length).decode()

    def _spool_ingest(
        self, idx: Index, body: str, ingest_id: str, bulk: bool = False
    ) -> dict:
        """Spool an NDJSON body to a temp file and run the library
        ingest path (``ingest_bulk`` when ``bulk`` — the body then
        contains ES action+payload pairs); the file is always
        unlinked."""
        import os
        import tempfile

        fd, tmp = tempfile.mkstemp(prefix="qs_ingest_", suffix=".ndjson")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(body)
            if bulk:
                # ingest_bulk derives its id from the (unique) spool
                # path — mkstemp guarantees a fresh id per request
                return idx.ingest_bulk(tmp, n_splits=2)
            return idx.ingest_json_lines(tmp, n_splits=2, ingest_id=ingest_id)
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def _handle_bulk(self, body: str) -> None:
        """POST /api/v1/_bulk — ES-compatible NDJSON, routed per-action
        by the action metadata's ``_index`` (rest-api.md "Ingest data
        with Elasticsearch compatible API"). Pairing is positional and
        resolved here on the driver (the HTTP body is already in
        memory; the bulk-data path is batch/streaming ingest): each
        routed index gets its own action+payload NDJSON slice fed to
        ``Index.ingest_bulk``. Actions naming an unserved/missing
        ``_index`` are dropped and counted."""
        import uuid

        verbs = ("index", "create", "update", "delete")
        per_index: dict[str, list[str]] = {}
        n_docs = unrouted = 0
        # None = expect an action line; else (target_or_None, counts)
        pending: tuple | None = None
        for line in body.split("\n"):
            if not line.strip():
                continue
            if pending is not None:
                tgt, counts = pending
                pending = None
                if tgt is not None:
                    per_index[tgt].append(line)
                    n_docs += counts
                continue
            kind = tgt = None
            try:
                obj = json.loads(line)
                if isinstance(obj, dict) and len(obj) == 1:
                    ((k, v),) = obj.items()
                    if k in verbs and isinstance(v, dict):
                        kind, tgt = k, v.get("_index")
            except ValueError:
                pass
            if kind is None:  # stray payload with no action — drop
                unrouted += 1
                continue
            routed = tgt if tgt in self.indexes else None
            if routed is None:
                unrouted += 1
            else:
                per_index.setdefault(routed, []).append(line)
            if kind != "delete":
                # index/create payloads count as docs-for-processing;
                # update payloads ride along for ingest_bulk's
                # unsupported_action counters but aren't docs
                pending = (routed, 1 if kind in ("index", "create") else 0)
        nonce = self.headers.get("x-idempotency-key", uuid.uuid4().hex[:12])
        per_index_result = {}
        for name, lines in per_index.items():
            per_index_result[name] = self._spool_ingest(
                self.indexes[name], "\n".join(lines) + "\n",
                f"b{nonce}{name}", bulk=True,
            )
        self._json(200, {
            "num_docs_for_processing": n_docs,
            "num_unrouted_actions": unrouted,
            "per_index": per_index_result,
        })

    def do_POST(self):  # noqa: N802
        r = self._route()
        if r is None:
            return
        idx, verb, _q = r
        try:
            if verb == "_bulk":
                self._handle_bulk(self._read_body())
                return
            if verb == "search":
                # POST /search with a JSON body carrying the same
                # fields as the GET query string (rest_handler.rs
                # search_post_filter: warp::body::json() into
                # SearchRequestQueryString)
                try:
                    body = json.loads(self._read_body() or b"{}")
                except json.JSONDecodeError as exc:
                    self._err(400, f"invalid JSON body: {exc}")
                    return
                if not isinstance(body, dict):
                    self._err(400, "search body must be a JSON object")
                    return
                q2 = {}
                for key, val in body.items():
                    if key == "aggs":
                        q2[key] = [json.dumps(val)]
                    elif isinstance(val, list):
                        q2[key] = [",".join(str(v) for v in val)]
                    else:
                        q2[key] = [str(val)]
                query = q2.get("query", ["*"])[0]
                fmt = q2.get("format", ["prettyjson"])[0]
                if fmt not in ("json", "prettyjson"):
                    raise ValueError(f"unknown format {fmt!r}")
                self._json(
                    200,
                    idx.search_json(query, **_search_kwargs(q2)),
                    pretty=fmt == "prettyjson",
                )
                return
            if verb != "ingest":
                self._err(405, f"POST not supported for {verb}")
                return
            body = self._read_body()
            import uuid

            # The ingest id is a per-request nonce (honoring an optional
            # idempotency key header): ES bulk semantics APPEND on
            # re-POST of an identical body — deriving the id from the
            # body hash made that a silent no-op that still reported
            # counters.
            nonce = self.headers.get("x-idempotency-key", uuid.uuid4().hex[:12])
            result = self._spool_ingest(idx, body, f"r{nonce}")
            # rest-api.md ingest response: docs accepted for processing
            # (they may not have been processed yet; this server indexes
            # synchronously so they always have been)
            result["num_docs_for_processing"] = sum(
                1 for l in body.split("\n") if l.strip()
            )
            self._json(200, result)
        except (ValueError, KeyError) as exc:
            self._err(400, str(exc))


def serve(indexes: dict[str, Index], port: int = 0):
    """Start the REST server on ``port`` (0 = ephemeral) serving the
    given indexes by name. Returns ``(server, thread)``; call
    ``server.shutdown()`` to stop. The actual port is
    ``server.server_address[1]``."""
    handler = type("Handler", (_Handler,), {"indexes": dict(indexes)})
    srv = ThreadingHTTPServer(("127.0.0.1", port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, t
