"""Split catalog — the metastore analog.

Mirrors the reference's split lifecycle and metadata:
* ``SplitMetadata`` fields — quickwit-metastore/src/split_metadata.rs:56-105
  (split_id, num_docs, size bytes, time_range, tags, footer offsets →
  here: parquet paths);
* state machine ``Staged → Published → MarkedForDeletion`` —
  split_metadata.rs:130-139;
* atomic publish + checkpoint — quickwit-indexing/src/actors/publisher.rs:140-148,
  quickwit-metastore/src/checkpoint.rs:286-330: publishing new splits,
  replacing merged-away splits, and advancing the source checkpoint is
  ONE atomic catalog commit (one manifest, then a temp-file + rename
  swap of the manifest head), which is what makes the build
  checkpoint-resumable at split granularity.

Lineage/metrics rows (north rule): one row per split build/merge op with
split id, term range, doc count, bytes, wall time — appended to
``<index>/lineage/*.parquet`` (a metrics table Spark can read).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions import fs as fsio


STAGED = "Staged"
PUBLISHED = "Published"
MARKED_FOR_DELETION = "MarkedForDeletion"


def _atomic_write_text(path: str, body: str) -> None:
    """Atomic publish of a small control file. Local: temp + fsync +
    rename (publisher.rs:140-148 analog). Object stores: one PUT —
    object writes are already all-or-nothing at the object level (the
    reference's S3 file-backed metastore commits the same way)."""
    if fsio.is_local(path):
        local = fsio.strip_local(path)
        tmp = local + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(body)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, local)
    else:
        fsio.write_bytes(path, body.encode())

# Catalog schema version (quickwit-metastore/src/backward_compatibility_tests/
# analog: the reference freezes one serialized fixture per file-format
# version and tests that current code loads every old one). Version 1 =
# any catalog written before the field existed; bump this and extend
# ``Catalog._migrate`` (plus a frozen fixture in tests/fixtures/) on any
# schema change.
CATALOG_VERSION = 2


@dataclass
class SplitMetadata:
    split_id: str
    state: str = STAGED
    num_docs: int = 0
    sum_doc_len: int = 0
    uncompressed_docs_size_in_bytes: int = 0
    size_in_bytes: int = 0
    time_range: tuple | None = None       # (min_epoch_us, max_epoch_us) inclusive
    term_range: tuple | None = None       # (min_term, max_term) on the default field
    tags: dict = field(default_factory=dict)  # tag field -> sorted values or None=overflow
    # tag field -> True when some doc has NO value for it (null/empty/
    # dropped token) — the presence-marker (`field!`) analog that keeps
    # must_not tag pruning sound; missing key reads as True (sound)
    tag_has_null: dict = field(default_factory=dict)
    num_merge_ops: int = 0
    create_timestamp: float = 0.0
    update_timestamp: float = 0.0
    source_partitions: list = field(default_factory=list)  # routing partition ids covered

    def to_dict(self) -> dict:
        d = asdict(self)
        d["time_range"] = list(self.time_range) if self.time_range else None
        d["term_range"] = list(self.term_range) if self.term_range else None
        return d

    @staticmethod
    def from_dict(d: dict) -> "SplitMetadata":
        d = dict(d)
        if d.get("time_range"):
            d["time_range"] = tuple(d["time_range"])
        if d.get("term_range"):
            d["term_range"] = tuple(d["term_range"])
        return SplitMetadata(**d)


class Catalog:
    """The split catalog (the reference's metastore analog). Every
    index persists it as :class:`ManifestCatalog`'s append log; this
    base class holds the state and the transaction-shaped mutators.

    Every mutation funnels through those mutators (stage_splits /
    stage_and_publish / publish_splits / delete_splits / ...), each one
    ``_commit`` (none when it changes nothing), and records WHAT it
    touched in the dirty sets (``_dirty_splits`` / ``_deleted_split_ids``
    / ``_dirty_checkpoint`` / ``_removed_checkpoint`` / ``_dirty_meta``),
    so a commit writes O(splits touched), not O(total splits).

    Indexes written before the manifest log existed keep a
    ``catalog.json`` (full rewrite per commit) or a ``catalog.db``
    (SQLite, one row per split). :meth:`load` imports either read-only;
    the first commit after such a load writes a full snapshot to the
    log, whose head then shadows the legacy file."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.config: IndexConfig | None = None
        self.splits: dict[str, SplitMetadata] = {}
        self.checkpoint: dict[str, str] = {}  # source partition -> position
        self.source_path: str | None = None
        # registered source configs (source_id -> config dict) — the
        # reference metastore's add_source/delete_source/toggle_source
        # surface (quickwit-metastore/src/metastore/mod.rs; SourceConfig
        # in quickwit-config/src/source_config.rs)
        self.sources: dict[str, dict] = {}
        # optional typed DocMapping (serialized dict) for ndjson ingest —
        # the reference stores the doc_mapping section of the index
        # config in index metadata the same way
        self.doc_mapping: dict | None = None
        # monotonically increasing merge-split id allocator; persisted so
        # ids never repeat across run_merge_pipeline invocations (a reused
        # id would silently overwrite a published split's catalog entry)
        self.merge_seq: int = 0
        # the delta the next commit writes
        self._dirty_splits: set[str] = set()
        self._deleted_split_ids: set[str] = set()
        self._dirty_checkpoint: set[str] = set()
        self._removed_checkpoint: set[str] = set()
        self._dirty_meta: bool = False

    # -- persistence ------------------------------------------------------

    @staticmethod
    def create(
        index_dir: str,
        config: IndexConfig,
        source_path: str | None = None,
        doc_mapping: dict | None = None,
        retain_history: bool = False,
    ) -> "ManifestCatalog":
        """Create a fresh catalog. ``retain_history`` keeps superseded
        manifests so ``load(at_seq=...)`` can time-travel."""
        config.validate()
        fsio.resolve_fs(index_dir)  # reject unknown schemes before any I/O
        fsio.makedirs(fsio.join(index_dir, "splits"))
        fsio.makedirs(fsio.join(index_dir, "lineage"))
        cat = ManifestCatalog(index_dir)
        cat.retain_history = retain_history
        cat.config = config
        cat.source_path = source_path
        cat.doc_mapping = doc_mapping
        cat._dirty_meta = True
        cat._commit()
        return cat

    @staticmethod
    def _state_files(index_dir: str) -> tuple:
        """The files a catalog can live in, in load order: the manifest
        head, then the legacy catalog.db, then the legacy catalog.json."""
        return (
            ManifestCatalog._head_path(index_dir),
            fsio.join(index_dir, SqliteCatalog.DB_FILE),
            fsio.join(index_dir, "catalog.json"),
        )

    @staticmethod
    def load(index_dir: str, at_seq: int | None = None) -> "ManifestCatalog":
        """Load the catalog at ``index_dir``: the manifest log when it
        has a head, else a read-only import of a legacy catalog.db or
        catalog.json.

        ``at_seq`` time-travels to the state after commit ``at_seq``
        (Iceberg snapshot-read analog; the returned catalog is
        read-only). A legacy import has no commits to travel to."""
        head, db, js = Catalog._state_files(index_dir)
        if fsio.exists(head):
            return ManifestCatalog._load(index_dir, at_seq=at_seq)
        if fsio.exists(db):
            cat = SqliteCatalog._load(index_dir)
        else:
            cat = ManifestCatalog._from_legacy(
                index_dir, json.loads(fsio.read_bytes(js))
            )
        if at_seq is not None:
            cat._replay_at(at_seq)  # raises: the log has no commits yet
        return cat

    @staticmethod
    def _migrate(d: dict) -> dict:
        """Upgrade an old on-disk payload to CATALOG_VERSION in memory
        (persisted on the next commit). v1 = pre-version catalogs: same
        fields minus "version"; nothing to rewrite."""
        v = int(d.get("version", 1))
        if v > CATALOG_VERSION:
            raise ValueError(
                f"catalog version {v} is newer than this library "
                f"(supports ≤ {CATALOG_VERSION}) — upgrade quickwit_spark"
            )
        return d

    @staticmethod
    def exists(index_dir: str) -> bool:
        return any(fsio.exists(p) for p in Catalog._state_files(index_dir))

    @staticmethod
    def state_token(index_dir: str) -> tuple:
        """A cheap token that changes on every commit (the head is
        swapped per commit; a legacy file's mtime covers an index not
        yet committed to by the log). Searchers poll this to detect a
        republish (the metastore-poll analog)."""
        return tuple(fsio.mtime_ns(p) for p in Catalog._state_files(index_dir))

    def _clear_dirty(self) -> None:
        self._dirty_splits.clear()
        self._deleted_split_ids.clear()
        self._dirty_checkpoint.clear()
        self._removed_checkpoint.clear()
        self._dirty_meta = False

    def replace_checkpoint(self, new: dict) -> None:
        """Swap the whole checkpoint map in one commit (used by the
        legacy-format migration; prefer checkpoint deltas elsewhere)."""
        self._removed_checkpoint.update(set(self.checkpoint) - set(new))
        self._dirty_checkpoint.update(new)
        self.checkpoint = dict(new)
        self._commit()

    # -- source configs -----------------------------------------------------

    def add_source(
        self,
        source_id: str,
        source_type: str,
        params: dict | None = None,
        enabled: bool = True,
    ) -> None:
        """Register a source config on the index — the reference
        metastore's add_source (quickwit-metastore/src/metastore/mod.rs;
        config shape from quickwit-config/src/source_config.rs). Ingest
        checkpoints are tracked separately, keyed per ingest namespace,
        so deleting and re-adding a source keeps resume positions."""
        if source_id in self.sources:
            raise ValueError(f"source {source_id!r} already exists")
        self.sources[source_id] = {
            "source_id": source_id,
            "source_type": source_type,
            "params": dict(params or {}),
            "enabled": bool(enabled),
        }
        self._dirty_meta = True
        self._commit()

    def delete_source(self, source_id: str) -> None:
        if source_id not in self.sources:
            raise KeyError(f"unknown source {source_id!r}")
        del self.sources[source_id]
        self._dirty_meta = True
        self._commit()

    def toggle_source(self, source_id: str, enable: bool) -> None:
        if source_id not in self.sources:
            raise KeyError(f"unknown source {source_id!r}")
        self.sources[source_id]["enabled"] = bool(enable)
        self._dirty_meta = True
        self._commit()

    # -- state machine ----------------------------------------------------

    def stage_split(self, meta: SplitMetadata) -> None:
        self.stage_splits([meta])

    def alloc_split_ids(self, n: int, prefix: str = "merge") -> list[str]:
        """Allocate ``n`` globally-unique maintenance split ids (merge /
        demux). The bumped counter is committed BEFORE the ids are used,
        so a crashed op can never reuse an id (the reference gets this
        from ULIDs — split_metadata.rs new_split_id; a shared sequence
        keeps ids readable and sort-stable here)."""
        start = self.merge_seq
        self.merge_seq += n
        self._dirty_meta = True
        self._commit()
        return [f"{prefix}-{i:06d}" for i in range(start, start + n)]

    def alloc_merge_ids(self, n: int) -> list[str]:
        return self.alloc_split_ids(n, "merge")

    def _check_stageable(self, meta: SplitMetadata, allow_staged: bool) -> None:
        existing = self.splits.get(meta.split_id)
        if existing is None:
            return
        if allow_staged and existing.state == STAGED:
            return  # crash-retry of a staged-but-never-published split
        raise ValueError(
            f"split id {meta.split_id!r} already exists in state "
            f"{existing.state!r} — split ids must be unique; staging it "
            f"again would silently overwrite the existing split"
        )

    def stage_splits(self, metas: list[SplitMetadata]) -> None:
        """Stage a batch in ONE atomic commit (uploader.rs staging).
        Re-staging an id that is Published/MarkedForDeletion raises
        (id collision = silent data loss); re-staging a Staged id is
        allowed (crash-retry idempotence)."""
        if not metas:
            return  # no-op: skip the commit (nothing dirty = full snapshot)
        for meta in metas:
            self._check_stageable(meta, allow_staged=True)
        for meta in metas:
            meta.state = STAGED
            meta.create_timestamp = meta.create_timestamp or time.time()
            meta.update_timestamp = time.time()
            self.splits[meta.split_id] = meta
            self._dirty_splits.add(meta.split_id)
        self._commit()

    def stage_and_publish(
        self,
        metas: list[SplitMetadata],
        checkpoint_delta: dict[str, str] | None = None,
    ) -> None:
        """Register a batch of freshly built splits as Published with
        the checkpoint advance in ONE atomic commit — the batch-build
        fast path (split files are already durable on storage when this
        runs, so the intermediate Staged commit adds no safety; Staged
        remains the state for the merge/demux paths where work
        continues after staging)."""
        for meta in metas:
            self._check_stageable(meta, allow_staged=False)
        if checkpoint_delta:
            for part, pos in checkpoint_delta.items():
                if pos < self.checkpoint.get(part, ""):
                    raise ValueError(f"incompatible checkpoint delta for {part}")
        now = time.time()
        for meta in metas:
            meta.state = PUBLISHED
            meta.create_timestamp = meta.create_timestamp or now
            meta.update_timestamp = now
            self.splits[meta.split_id] = meta
            self._dirty_splits.add(meta.split_id)
        if checkpoint_delta:
            self.checkpoint.update(checkpoint_delta)
            self._dirty_checkpoint.update(checkpoint_delta)
        self._commit()

    def publish_splits(
        self,
        split_ids: list[str],
        replaced_split_ids: list[str] = (),
        checkpoint_delta: dict[str, str] | None = None,
    ) -> None:
        """Atomic publish: new splits become visible, replaced splits are
        marked for deletion, checkpoint advances — all in one commit.
        Backwards checkpoint deltas are rejected (checkpoint.rs:286-330)."""
        if not (split_ids or replaced_split_ids or checkpoint_delta):
            return
        if checkpoint_delta:
            for part, pos in checkpoint_delta.items():
                cur = self.checkpoint.get(part, "")
                if pos < cur:
                    raise ValueError(
                        f"incompatible checkpoint delta for {part}: {pos!r} < {cur!r}"
                    )
        for sid in split_ids:
            meta = self.splits[sid]
            if meta.state not in (STAGED, PUBLISHED):
                raise ValueError(f"cannot publish split {sid} in state {meta.state}")
            meta.state = PUBLISHED
            meta.update_timestamp = time.time()
            self._dirty_splits.add(sid)
        for sid in replaced_split_ids:
            self.splits[sid].state = MARKED_FOR_DELETION
            self.splits[sid].update_timestamp = time.time()
            self._dirty_splits.add(sid)
        if checkpoint_delta:
            self.checkpoint.update(checkpoint_delta)
            self._dirty_checkpoint.update(checkpoint_delta)
        self._commit()

    def mark_for_deletion(self, split_ids: list[str]) -> None:
        if not split_ids:
            return
        for sid in split_ids:
            self.splits[sid].state = MARKED_FOR_DELETION
            self._dirty_splits.add(sid)
        self._commit()

    def delete_splits(self, split_ids: list[str]) -> None:
        """GC: physically removable only once marked (garbage_collection.rs)."""
        if not any(sid in self.splits for sid in split_ids):
            return
        for sid in split_ids:
            meta = self.splits.get(sid)
            if meta is None:
                continue
            if meta.state not in (MARKED_FOR_DELETION, STAGED):
                raise ValueError(f"split {sid} is {meta.state}, not deletable")
            fsio.rmtree(self.split_dir(sid))
            del self.splits[sid]
            self._deleted_split_ids.add(sid)
            self._dirty_splits.discard(sid)
        self._commit()

    # -- queries over the catalog ------------------------------------------

    def published_splits(self) -> list[SplitMetadata]:
        return sorted(
            (s for s in self.splits.values() if s.state == PUBLISHED),
            key=lambda s: s.split_id,
        )

    def split_dir(self, split_id: str) -> str:
        return fsio.join(self.index_dir, "splits", split_id)

    def stats_version(self) -> str:
        """Deterministic version tag of the published split set — names
        the precomputed index-level term-stats artifact."""
        import hashlib

        ids = ",".join(s.split_id for s in self.published_splits())
        return hashlib.md5(ids.encode()).hexdigest()[:16]

    def term_stats_path(self) -> str:
        """Base path of this version's term-stats artifact, which is the
        ``<base>.shards/`` directory (operators/stats.py)."""
        return fsio.join(
            self.index_dir, "term_stats", f"stats-{self.stats_version()}.parquet"
        )

    def total_docs(self) -> int:
        return sum(s.num_docs for s in self.published_splits())

    def total_doc_len(self) -> int:
        return sum(s.sum_doc_len for s in self.published_splits())

    # -- lineage ------------------------------------------------------------

    def append_lineage(self, rows: list[dict]) -> None:
        """Append per-split lineage/metrics rows (split id, term range,
        doc count, bytes, wall time) to the metrics parquet table. Every
        file has one pinned schema (the field types lineage files have
        always had), so the files of build, merge and demux read as one
        table; a null ``partition`` is written as -1."""
        import pyarrow as pa

        if not rows:
            return
        schema = pa.schema([
            ("split_id", pa.string()), ("op", pa.string()),
            ("partition", pa.int64()), ("num_docs", pa.int64()),
            ("size_in_bytes", pa.int64()), ("term_min", pa.string()),
            ("term_max", pa.string()), ("wall_time_sec", pa.float64()),
            ("ts", pa.float64()),
        ])
        table = pa.Table.from_pylist(
            [
                {**r, "partition": -1 if r["partition"] is None else r["partition"]}
                for r in rows
            ],
            schema=schema,
        )
        out = fsio.join(
            self.index_dir, "lineage", f"lineage-{uuid.uuid4().hex}.parquet"
        )
        fsio.write_table(table, out)


class SqliteCatalog:
    """Read-only import of a legacy ``catalog.db``: the SQLite catalog
    (one row per split, a ``meta`` and a ``checkpoint`` table) that
    stood in for the reference's PostgreSQL metastore before the
    manifest log became the only writer. Nothing writes this file any
    more; :meth:`_load` turns it into a :class:`ManifestCatalog`."""

    DB_FILE = "catalog.db"

    @staticmethod
    def _load(index_dir: str) -> "ManifestCatalog":
        import sqlite3
        from urllib.parse import quote

        path = os.path.join(fsio.strip_local(index_dir), SqliteCatalog.DB_FILE)
        # immutable: opens no -wal/-shm side files. A -wal left behind
        # by a crashed writer holds committed rows, so read it in ro mode
        mode = "mode=ro" if os.path.exists(path + "-wal") else "immutable=1"
        db = sqlite3.connect(f"file:{quote(path)}?{mode}", uri=True)
        try:
            # every meta value was stored JSON-encoded (or as a bare int)
            d = {k: json.loads(v) for k, v in db.execute("SELECT key, value FROM meta")}
            d["splits"] = [json.loads(b) for (b,) in db.execute("SELECT json FROM splits")]
            d["checkpoint"] = dict(db.execute("SELECT key, pos FROM checkpoint"))
        finally:
            db.close()
        return ManifestCatalog._from_legacy(index_dir, d)


class ManifestCatalog(Catalog):
    """The catalog's persistence: an Iceberg-manifest-style append log.
    The reference's file-backed metastore rewrites the whole index
    metadata per commit (its production answer is PostgreSQL); the log
    keeps every commit O(delta) on local disks and object stores alike.

    Layout under ``<index_dir>/manifests/``::

        head.json                  {"version", "seq", "manifests": [...]}
        m-<seq:08d>-<uuid8>.json   immutable delta or snapshot

    A commit writes ONE immutable manifest holding exactly the delta the
    mutator marked dirty (splits upserted/deleted, checkpoint keys
    set/removed, meta when changed), then atomically swaps head.json to
    list it — O(delta) manifest bytes + O(#manifests) head names per
    commit, never O(total splits). Loading replays the listed manifests
    in order. A commit writes a full snapshot instead, and resets the
    list, every ``COMPACT_AFTER`` commits, as the first commit after a
    legacy import, and when nothing is marked dirty (a caller mutated
    state out-of-band, so no delta can describe the change). Superseded
    manifests are deleted AFTER the head swap, and a reader that raced
    the compaction (listed manifest already deleted) retries from the
    new head.

    Single-writer by design: all commits happen on the Spark driver
    (kernels only write split files)."""

    DIR = "manifests"
    HEAD = "head.json"
    COMPACT_AFTER = 64

    def __init__(self, index_dir: str):
        super().__init__(index_dir)
        self.path = self._head_path(index_dir)
        self._seq = 0
        self._manifests: list[str] = []
        # snapshot time travel (Iceberg analog): when True, compaction
        # keeps superseded manifests on disk so Catalog.load(at_seq=N)
        # can replay any historical commit until expire_history() GCs
        # it. Off by default — retention is O(total commits) files.
        self.retain_history = False
        # set when loaded with at_seq: this handle is a read-only
        # historical view and must never commit
        self._frozen_at: int | None = None
        # the next commit writes a full snapshot (legacy import,
        # checkpoint_snapshot)
        self._force_snapshot_next = False

    @staticmethod
    def _head_path(index_dir: str) -> str:
        return fsio.join(index_dir, ManifestCatalog.DIR, ManifestCatalog.HEAD)

    def _manifest_path(self, name: str) -> str:
        return fsio.join(self.index_dir, self.DIR, name)

    # -- load ----------------------------------------------------------------

    @staticmethod
    def _load(index_dir: str, at_seq: int | None = None) -> "ManifestCatalog":
        last_err: Exception | None = None
        for _ in range(3):  # retry a compaction race (manifest vanished)
            cat = ManifestCatalog(index_dir)
            head = Catalog._migrate(json.loads(fsio.read_bytes(cat.path)))
            cat._seq = int(head["seq"])
            cat._manifests = list(head["manifests"])
            cat.retain_history = bool(head.get("retain_history", False))
            try:
                if at_seq is not None:
                    # same retry protection: a concurrent compaction /
                    # expire can delete a chain member mid-walk
                    return cat._replay_at(int(at_seq))
                for name in cat._manifests:
                    cat._apply(json.loads(fsio.read_bytes(cat._manifest_path(name))))
            except FileNotFoundError as exc:
                last_err = exc
                continue
            return cat
        raise RuntimeError(
            f"manifest log at {index_dir} kept changing under the reader"
        ) from last_err

    @staticmethod
    def _from_legacy(index_dir: str, d: dict) -> "ManifestCatalog":
        """The state of a legacy catalog (a catalog.json payload, or the
        same fields read from catalog.db) on an empty log. The legacy
        file is never rewritten: the first commit writes a full snapshot,
        and from then on the head shadows the legacy file."""
        cat = ManifestCatalog(index_dir)
        Catalog._migrate(d)
        cat._apply({
            "kind": "snapshot", "meta": d, "splits": d["splits"],
            "checkpoint": d.get("checkpoint", {}),
        })
        cat._force_snapshot_next = True
        return cat

    # -- snapshot time travel (Iceberg snapshot-read analog) ------------------

    @staticmethod
    def _seq_of(name: str) -> int:
        return int(name.split("-")[1])

    def _retained_manifests(self) -> list[str]:
        """All manifest FILES on disk, seq order. Used only to pick
        deletion candidates in expire_history — replay/snapshots walk
        the committed ``prev`` chain instead, because the directory may
        also hold orphans from a crashed commit (written before the
        head swap, possibly half-written, possibly sharing a seq with
        the recommitted real manifest)."""
        d = fsio.join(self.index_dir, self.DIR)
        names = [
            n for n in fsio.listdir(d)
            if n.startswith("m-") and n.endswith(".json")
        ]
        return sorted(names, key=self._seq_of)

    def _read_manifest(self, name: str) -> dict:
        return json.loads(fsio.read_bytes(self._manifest_path(name)))

    def _chain_upto(self, at_seq: int) -> list[dict]:
        """The committed replay prefix for ``at_seq``: walk the ``prev``
        pointers backward from the live head's tail (every committed
        manifest is on this chain; orphans from crashed commits never
        are), skip entries newer than ``at_seq``, stop at the first
        full snapshot at-or-before it (or commit 1). O(head_seq −
        at_seq + window-to-snapshot) reads, not O(total history).
        Returns payloads in ascending replay order."""
        collected: list[dict] = []
        name = self._manifests[-1] if self._manifests else None
        while name is not None:
            try:
                p = self._read_manifest(name)
            except FileNotFoundError:
                head_now = json.loads(fsio.read_bytes(self.path))
                if int(head_now["seq"]) != self._seq:
                    raise  # concurrent writer: _load retries from the new head
                # stable head + missing chain member = the prefix was
                # expired before this walk started
                raise ValueError(
                    f"history before commit {at_seq} has been expired "
                    "(chain member no longer retained) — expire_history "
                    "trimmed the log past this point"
                ) from None
            s = self._seq_of(name)
            if s <= at_seq:
                collected.append(p)
                if p["kind"] == "snapshot" or s == 1:
                    return collected[::-1]
            name = p.get("prev")
        raise ValueError(
            f"history before commit {at_seq} has been expired "
            "(no snapshot at-or-before it remains on the manifest "
            "chain) — expire_history trimmed the log past this point"
        )

    def _replay_at(self, at_seq: int) -> "ManifestCatalog":
        """Rebuild the state as of commit ``at_seq`` by replaying the
        committed chain up to it (see :meth:`_chain_upto`)."""
        if at_seq > self._seq or at_seq < 1:
            raise ValueError(
                f"no commit {at_seq} in the manifest log (head is at "
                f"{self._seq})"
            )
        for p in self._chain_upto(at_seq):
            self._apply(p)
        self._frozen_at = at_seq
        return self

    def snapshots(self) -> list[dict]:
        """The time-travelable commits still on the chain: one dict per
        committed manifest (seq, kind, committed_at unix seconds),
        oldest first. Reachable ``at_seq`` targets are those >= the
        first listed snapshot (or any, when the chain reaches commit
        1). An expired prefix ends the walk cleanly."""
        out = []
        name = self._manifests[-1] if self._manifests else None
        while name is not None:
            try:
                p = self._read_manifest(name)
            except FileNotFoundError:
                break  # expired prefix
            out.append({
                "seq": self._seq_of(name),
                "kind": p["kind"],
                "committed_at": p.get("committed_at"),
            })
            name = p.get("prev")
        return out[::-1]

    def checkpoint_snapshot(self) -> int:
        """Commit a full snapshot NOW (without waiting for the
        COMPACT_AFTER threshold) and return its seq. expire_history
        needs a snapshot at-or-before its cut as the replay base for
        everything after it — on a young or rarely-compacted retained
        log there may be none, which would make history untrimmable;
        `checkpoint_snapshot(); expire_history(that_seq)` trims
        everything older than "now"."""
        self._force_snapshot_next = True
        self._commit()
        return self._seq

    def history_referenced_split_ids(self) -> set:
        """Split ids that any retained committed manifest records as
        Published — the split FILES a time-travel search can still
        read. Split GC (operators/merge.gc_deleted_splits) must skip
        these until expire_history trims the manifests, or a pinned
        Searcher would hit FileNotFoundError on a reaped split (the
        Iceberg rule: expire_snapshots before remove_orphan_files)."""
        out: set = set()
        name = self._manifests[-1] if self._manifests else None
        while name is not None:
            try:
                p = self._read_manifest(name)
            except FileNotFoundError:
                break  # expired prefix
            rows = (
                p["splits"] if p["kind"] == "snapshot"
                else p["splits_upserted"]
            )
            out.update(
                s["split_id"] for s in rows if s.get("state") == PUBLISHED
            )
            name = p.get("prev")
        return out

    def expire_history(self, before_seq: int) -> int:
        """GC retained history older than ``before_seq`` (Iceberg
        expire_snapshots analog). Every commit >= ``before_seq`` stays
        replayable: the cut never crosses the newest full snapshot
        at-or-before ``before_seq`` (its deltas-only suffix needs that
        base), and with no such snapshot nothing is deleted (the chain
        from commit 1 is the only base). Deletes only manifests the
        live head no longer references; returns the count. Run BEFORE
        split-file GC so a reachable snapshot never references a
        reaped split."""
        # newest snapshot seq <= before_seq, found by walking the
        # committed chain backward (orphans can't fool the cut)
        snap_base = None
        name = self._manifests[-1] if self._manifests else None
        while name is not None:
            try:
                p = self._read_manifest(name)
            except FileNotFoundError:
                break  # already-expired prefix
            s = self._seq_of(name)
            if p["kind"] == "snapshot" and s <= before_seq:
                snap_base = s
                break
            name = p.get("prev")
        if snap_base is None:
            return 0
        live = set(self._manifests)
        n = 0
        # deletion candidates come from the directory listing so
        # uncommitted orphans below the cut are reaped too
        for name in self._retained_manifests():
            if name in live or self._seq_of(name) >= min(before_seq, snap_base):
                continue
            try:
                fsio.delete(self._manifest_path(name))
                n += 1
            except FileNotFoundError:
                pass
        return n

    def _apply(self, p: dict) -> None:
        if p["kind"] == "snapshot":
            self.splits = {
                s["split_id"]: SplitMetadata.from_dict(s) for s in p["splits"]
            }
            self.checkpoint = dict(p["checkpoint"])
            self._apply_meta(p["meta"])
            return
        if p.get("meta") is not None:
            self._apply_meta(p["meta"])
        for s in p["splits_upserted"]:
            self.splits[s["split_id"]] = SplitMetadata.from_dict(s)
        for sid in p["splits_deleted"]:
            self.splits.pop(sid, None)
        self.checkpoint.update(p["checkpoint_set"])
        for k in p["checkpoint_removed"]:
            self.checkpoint.pop(k, None)

    def _apply_meta(self, meta: dict) -> None:
        self.config = IndexConfig.from_dict(meta["config"])
        self.source_path = meta.get("source_path")
        self.merge_seq = int(meta.get("merge_seq", 0))
        self.sources = meta.get("sources", {})
        self.doc_mapping = meta.get("doc_mapping")

    # -- O(delta) commit -----------------------------------------------------

    def _meta_payload(self) -> dict:
        return {
            "config": self.config.to_dict(),
            "source_path": self.source_path,
            "merge_seq": self.merge_seq,
            "sources": self.sources,
            "doc_mapping": self.doc_mapping,
        }

    def _commit(self) -> None:
        if self._frozen_at is not None:
            raise RuntimeError(
                f"this catalog is a read-only time-travel view at commit "
                f"{self._frozen_at}; load the head (no at_seq) to mutate"
            )
        dirty = (
            self._dirty_splits or self._deleted_split_ids
            or self._dirty_checkpoint or self._removed_checkpoint
            or self._dirty_meta
        )
        self._seq += 1
        name = f"m-{self._seq:08d}-{uuid.uuid4().hex[:8]}.json"
        # committed-chain pointer: replay/snapshots walk prev links from
        # the head, so an orphan written by a crashed commit (never
        # head-swapped, possibly half-written, possibly seq-colliding
        # with the recommit) is unreachable by construction
        prev_name = self._manifests[-1] if self._manifests else None
        if (
            self._force_snapshot_next
            or not dirty  # out-of-band mutation: only a snapshot records removals
            or len(self._manifests) >= self.COMPACT_AFTER
        ):
            payload = {
                "kind": "snapshot",
                "meta": self._meta_payload(),
                "splits": [s.to_dict() for s in self.splits.values()],
                "checkpoint": self.checkpoint,
            }
            new_list = [name]
            # history retention keeps superseded manifests readable for
            # Catalog.load(at_seq=...) until expire_history() reaps them
            superseded = [] if self.retain_history else list(self._manifests)
        else:
            payload = {
                "kind": "delta",
                "meta": self._meta_payload() if self._dirty_meta else None,
                "splits_upserted": [
                    self.splits[sid].to_dict()
                    for sid in sorted(self._dirty_splits)
                    if sid in self.splits
                ],
                "splits_deleted": sorted(self._deleted_split_ids),
                "checkpoint_set": {
                    k: self.checkpoint[k]
                    for k in sorted(self._dirty_checkpoint)
                    if k in self.checkpoint
                },
                "checkpoint_removed": sorted(self._removed_checkpoint),
            }
            new_list = self._manifests + [name]
            superseded = []
        payload["committed_at"] = int(time.time())
        payload["prev"] = prev_name
        fsio.makedirs(fsio.join(self.index_dir, self.DIR))
        # durable before the head can point at it
        _atomic_write_text(
            self._manifest_path(name), json.dumps(payload, sort_keys=True)
        )
        head = {
            "version": CATALOG_VERSION,
            "seq": self._seq,
            "manifests": new_list,
        }
        if self.retain_history:
            head["retain_history"] = True
        _atomic_write_text(self.path, json.dumps(head))  # the commit point
        self._manifests = new_list
        for old in superseded:  # safe: no head references them anymore
            try:
                fsio.delete(self._manifest_path(old))
            except FileNotFoundError:
                pass
        self._force_snapshot_next = False
        self._clear_dirty()
