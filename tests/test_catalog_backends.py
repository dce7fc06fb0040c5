"""Catalog tests: the manifest append log (the only catalog writer),
O(delta) commit cost, durable commits, snapshot time travel, and
backward compatibility with every earlier on-disk format
(quickwit-metastore/src/backward_compatibility_tests/ analog: frozen
fixtures per format version, including the legacy catalog.json and
catalog.db files, which are imported read-only)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.plans.catalog import (
    CATALOG_VERSION,
    MARKED_FOR_DELETION,
    PUBLISHED,
    STAGED,
    Catalog,
    ManifestCatalog,
    SplitMetadata,
)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")

# frozen legacy catalogs -> the one file each keeps its state in
LEGACY_FIXTURES = {
    "catalog_v1": "catalog.json",
    "catalog_v2": "catalog.json",
    "catalog_sqlite_v2": "catalog.db",
}


def _sm(sid: str, n: int = 10) -> SplitMetadata:
    return SplitMetadata(
        split_id=sid, num_docs=n, sum_doc_len=n * 7,
        time_range=(0, 1000), term_range=("a", "z"),
        tags={"tool": ["bash"]}, tag_has_null={"tool": False},
    )


class TestBackwardCompatibility:
    """Frozen-fixture loads per catalog format version. The legacy
    catalog.json (full rewrite) and catalog.db (SQLite, one row per
    split) files are read into a manifest catalog with an empty log."""

    def _load_fixture(self, name: str, tmp_path) -> Catalog:
        d = str(tmp_path / name)
        shutil.copytree(os.path.join(FIXTURES, name), d)
        return Catalog.load(d)

    @pytest.mark.parametrize("name", sorted(LEGACY_FIXTURES))
    def test_old_catalog_loads(self, name, tmp_path):
        cat = self._load_fixture(name, tmp_path)
        assert len(cat.published_splits()) == 2
        assert cat.total_docs() == 300
        assert cat.checkpoint.get("batch/b0000") == "complete"
        assert cat.config is not None
        # a commit after load writes the CURRENT version
        cat._commit()
        with open(cat.path) as f:
            assert json.load(f)["version"] == CATALOG_VERSION

    @pytest.mark.parametrize("name", sorted(LEGACY_FIXTURES))
    def test_first_commit_after_import_is_a_snapshot(self, name, tmp_path):
        """Publishing one split into an imported legacy catalog leaves
        the legacy file byte-identical and starts the manifest log with
        a full snapshot: a reload sees all 3 splits and the checkpoint
        (a delta would lose the 2 imported splits)."""
        d = str(tmp_path / name)
        shutil.copytree(os.path.join(FIXTURES, name), d)
        legacy = os.path.join(d, LEGACY_FIXTURES[name])
        with open(legacy, "rb") as f:
            before = f.read()
        cat = Catalog.load(d)
        assert isinstance(cat, ManifestCatalog)
        cat.stage_and_publish([_sm("s-new")])
        with open(legacy, "rb") as f:
            assert f.read() == before
        assert os.path.exists(os.path.join(d, "manifests", "head.json"))
        got = Catalog.load(d)
        assert len(got.published_splits()) == 3
        assert got.total_docs() == 310
        assert got.checkpoint["batch/b0000"] == "complete"
        assert got.checkpoint["batch/b0000/1"] == "done"
        assert [s["kind"] for s in got.snapshots()] == ["snapshot"]

    def test_future_version_rejected(self, tmp_path):
        d = str(tmp_path / "future")
        os.makedirs(d)
        with open(os.path.join(FIXTURES, "catalog_v2", "catalog.json")) as f:
            payload = json.load(f)
        payload["version"] = CATALOG_VERSION + 1
        with open(os.path.join(d, "catalog.json"), "w") as f:
            json.dump(payload, f)
        with pytest.raises(ValueError, match="newer than this library"):
            Catalog.load(d)


class TestManifestStateMachine:
    """Split lifecycle against the manifest append log."""

    def test_create_load_roundtrip(self, tmp_path):
        d = str(tmp_path / "idx")
        cat = Catalog.create(d, IndexConfig(), source_path="/x.parquet")
        assert isinstance(cat, ManifestCatalog)
        assert Catalog.exists(d)
        cat.stage_and_publish([_sm("s-0"), _sm("s-1")],
                              checkpoint_delta={"batch/b0000/0": "done"})
        got = Catalog.load(d)
        assert isinstance(got, ManifestCatalog)  # dispatch by head.json
        assert got.source_path == "/x.parquet"
        assert {s.split_id for s in got.published_splits()} == {"s-0", "s-1"}
        assert got.checkpoint == {"batch/b0000/0": "done"}
        assert got.splits["s-0"].tags == {"tool": ["bash"]}
        assert got.splits["s-0"].tag_has_null == {"tool": False}
        assert got.splits["s-0"].time_range == (0, 1000)

    def test_stage_publish_replace_delete(self, tmp_path):
        d = str(tmp_path / "idx")
        cat = Catalog.create(d, IndexConfig())
        cat.stage_and_publish([_sm("a"), _sm("b")])
        cat.stage_splits([_sm("m")])
        assert Catalog.load(d).splits["m"].state == STAGED
        cat.publish_splits(["m"], replaced_split_ids=["a", "b"])
        got = Catalog.load(d)
        assert got.splits["m"].state == PUBLISHED
        assert got.splits["a"].state == MARKED_FOR_DELETION
        cat.delete_splits(["a", "b"])
        got = Catalog.load(d)
        assert set(got.splits) == {"m"}

    def test_id_collision_raises(self, tmp_path):
        cat = Catalog.create(str(tmp_path / "i"), IndexConfig())
        cat.stage_and_publish([_sm("dup")])
        with pytest.raises(ValueError, match="already exists"):
            cat.stage_splits([_sm("dup")])

    def test_backwards_checkpoint_rejected(self, tmp_path):
        cat = Catalog.create(str(tmp_path / "i"), IndexConfig())
        cat.stage_and_publish([_sm("a")], checkpoint_delta={"p": "5"})
        with pytest.raises(ValueError, match="incompatible"):
            cat.stage_and_publish([_sm("b")], checkpoint_delta={"p": "3"})

    def test_replace_checkpoint(self, tmp_path):
        d = str(tmp_path / "i")
        cat = Catalog.create(d, IndexConfig())
        cat.stage_and_publish([_sm("a")], checkpoint_delta={"0": "done", "1": "done"})
        cat.replace_checkpoint({"batch/b0000/0": "done"})
        assert Catalog.load(d).checkpoint == {"batch/b0000/0": "done"}

    def test_out_of_band_removal_survives_reload(self, tmp_path):
        """A caller that edits ``splits``/``checkpoint`` directly and
        then commits marks nothing dirty; the commit must record the
        REMOVED checkpoint key and split too (a full snapshot), not
        upsert what is left and resurrect the rest on reload."""
        d = str(tmp_path / "i")
        cat = Catalog.create(d, IndexConfig())
        cat.stage_and_publish([_sm("a"), _sm("b")],
                              checkpoint_delta={"a": "1", "b": "2"})
        cat.checkpoint = {"a": "1"}
        del cat.splits["b"]
        cat.splits["a"].num_docs = 99
        cat._commit()
        got = Catalog.load(d)
        assert got.checkpoint == {"a": "1"}
        assert set(got.splits) == {"a"}
        assert got.splits["a"].num_docs == 99

    def test_noop_mutators_write_no_manifest(self, tmp_path):
        """gc with nothing doomed, and every split mutator given nothing
        to change, must not commit: a commit with nothing dirty writes a
        full snapshot (334 KB at 1,000 splits)."""
        from quickwit_spark.operators.merge import gc_deleted_splits

        d = str(tmp_path / "i")
        cat = Catalog.create(d, IndexConfig())
        cat.stage_and_publish([_sm("a")], checkpoint_delta={"a": "1"})
        mdir = os.path.join(d, ManifestCatalog.DIR)
        before = sorted(os.listdir(mdir))

        assert gc_deleted_splits(d, grace_period_secs=0) == []
        cat = Catalog.load(d)
        cat.stage_splits([])
        cat.publish_splits([])
        cat.mark_for_deletion([])
        cat.delete_splits([])
        cat.delete_splits(["gone"])
        assert sorted(os.listdir(mdir)) == before
        assert Catalog.load(d)._seq == cat._seq

    def test_manifest_is_durable_before_the_head_swap(self, tmp_path,
                                                      monkeypatch):
        """A crash right after the head swap must not leave the head
        pointing at a torn manifest: the manifest is fsynced and renamed
        into place before head.json is replaced."""
        cat = Catalog.create(str(tmp_path / "i"), IndexConfig())
        events = []
        real_fsync, real_replace = os.fsync, os.replace

        def fsync(fd):
            events.append(("fsync", os.fstat(fd).st_ino))
            real_fsync(fd)

        def replace(src, dst):
            events.append(("replace", dst))
            real_replace(src, dst)

        monkeypatch.setattr(os, "fsync", fsync)
        monkeypatch.setattr(os, "replace", replace)
        cat.stage_and_publish([_sm("a")])
        manifest = os.path.join(cat.index_dir, "manifests", cat._manifests[-1])
        head = ManifestCatalog._head_path(cat.index_dir)
        # a rename keeps the inode: the fsynced temp file IS the final file
        assert events == [
            ("fsync", os.stat(manifest).st_ino),
            ("replace", manifest),
            ("fsync", os.stat(head).st_ino),
            ("replace", head),
        ]

    def test_alloc_ids_persisted(self, tmp_path):
        d = str(tmp_path / "i")
        cat = Catalog.create(d, IndexConfig())
        first = cat.alloc_split_ids(3)
        # a crashed op must not reuse ids: a fresh load continues after
        got = Catalog.load(d)
        second = got.alloc_split_ids(2)
        assert len(set(first) | set(second)) == 5

    def test_future_version_rejected(self, tmp_path):
        d = str(tmp_path / "i")
        Catalog.create(d, IndexConfig())
        head_path = ManifestCatalog._head_path(d)
        with open(head_path) as f:
            head = json.load(f)
        head["version"] = CATALOG_VERSION + 1
        with open(head_path, "w") as f:
            json.dump(head, f)
        with pytest.raises(ValueError, match="newer than this library"):
            Catalog.load(d)

    def test_vanished_manifest_fails_loudly(self, tmp_path):
        d = str(tmp_path / "i")
        cat = Catalog.create(d, IndexConfig())
        cat.stage_and_publish([_sm("a")])
        name = cat._manifests[-1]
        os.unlink(os.path.join(d, "manifests", name))
        with pytest.raises(RuntimeError, match="kept changing"):
            Catalog.load(d)


def test_manifest_commit_cost_is_o_delta(tmp_path):
    """Publishing a 16-split chunk into a catalog already holding 10k
    splits writes ONE manifest containing exactly those 16 splits —
    O(delta) bytes — a full-rewrite catalog would write ~10 MB."""
    d = str(tmp_path / "big")
    cat = Catalog.create(d, IndexConfig())
    for i in range(0, 10_000, 1_000):
        cat.stage_and_publish([_sm(f"s-{j:06d}") for j in range(i, i + 1_000)])
    cat.stage_and_publish(
        [_sm(f"t-{j}") for j in range(16)],
        checkpoint_delta={"batch/bX/0": "done"},
    )
    mdir = os.path.join(d, "manifests")
    last = sorted(n for n in os.listdir(mdir) if n.startswith("m-"))[-1]
    with open(os.path.join(mdir, last)) as f:
        payload = json.load(f)
    assert payload["kind"] == "delta"
    assert len(payload["splits_upserted"]) == 16
    assert payload["checkpoint_set"] == {"batch/bX/0": "done"}
    assert os.path.getsize(os.path.join(mdir, last)) < 20_000
    assert os.path.getsize(ManifestCatalog._head_path(d)) < 4_000
    got = Catalog.load(d)
    assert len(got.splits) == 10_016
    assert got.checkpoint["batch/bX/0"] == "done"


def test_manifest_compaction(tmp_path, monkeypatch):
    """Past COMPACT_AFTER manifests the next commit snapshots, the head
    resets to one entry, superseded manifests are deleted, and a fresh
    load sees identical state."""
    monkeypatch.setattr(ManifestCatalog, "COMPACT_AFTER", 5)
    d = str(tmp_path / "i")
    cat = Catalog.create(d, IndexConfig())
    for i in range(9):
        cat.stage_and_publish([_sm(f"s-{i}")],
                              checkpoint_delta={f"p/{i}": "done"})
    mdir = os.path.join(d, "manifests")
    on_disk = {n for n in os.listdir(mdir) if n.startswith("m-")}
    assert len(cat._manifests) <= 5
    assert on_disk == set(cat._manifests)  # superseded files reaped
    got = Catalog.load(d)
    assert {s.split_id for s in got.published_splits()} == {
        f"s-{i}" for i in range(9)
    }
    assert got.checkpoint == {f"p/{i}": "done" for i in range(9)}
    assert got.merge_seq == cat.merge_seq


def test_manifest_e2e_build_search_merge_gc(spark, corpus, config, oracle,
                                            tmp_path):
    """Full engine e2e with the manifest catalog: build → resume no-op →
    oracle-parity search → merge → gc."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.merge import gc_deleted_splits, run_merge_pipeline
    from quickwit_spark.operators.search import Searcher

    import dataclasses

    config = dataclasses.replace(
        config, merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
    )
    d = str(tmp_path / "idx")
    sdf = spark.createDataFrame(corpus)
    cat = build_index(spark, sdf, d, config, n_splits=4)
    assert isinstance(cat, ManifestCatalog)
    assert cat.total_docs() == len(corpus)
    cat2 = build_index(spark, sdf, d, config, n_splits=4, ingest_id="b0000")
    assert cat2.total_docs() == len(corpus)

    se = Searcher(spark, d)
    for q in ["w00001", "hotterm", '"w00001 w00002"~2', "w00004 -w00001",
              "role:assistant AND w00002"]:
        n_o, hits_o = oracle.search(q, k=20)
        r = se.search(q, k=20)
        assert r.num_hits == n_o
        assert sorted((h.conv_id, h.turn_idx, round(h.score, 9)) for h in r.hits) \
            == sorted((h.conv_id, h.turn_idx, round(h.score, 9)) for h in hits_o)

    assert run_merge_pipeline(spark, d) >= 1
    assert gc_deleted_splits(d, grace_period_secs=0)
    cat = Catalog.load(d)
    assert cat.total_docs() == len(corpus)
    assert all(s.state == PUBLISHED for s in cat.splits.values())
    n_o, hits_o = oracle.search("w00002", k=10)
    r = Searcher(spark, d).search("w00002", k=10)
    assert r.num_hits == n_o
    assert sorted((h.conv_id, h.turn_idx, round(h.score, 9)) for h in r.hits) \
        == sorted((h.conv_id, h.turn_idx, round(h.score, 9)) for h in hits_o)


def test_searcher_on_legacy_json_index_sees_first_append(
    spark, corpus, config, oracle, tmp_path
):
    """A Searcher opened on a legacy catalog.json index notices the
    first append after the upgrade (the head appears, so the state
    token moves) and answers over the imported and the new splits."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import Searcher

    d = str(tmp_path / "legacy")
    convs = sorted(corpus["conv_id"].unique())
    first = corpus["conv_id"].isin(set(convs[: len(convs) // 2]))
    cat = build_index(spark, spark.createDataFrame(corpus[first]), d, config,
                      n_splits=2)
    # the same index in the legacy full-rewrite format: catalog.json only
    with open(os.path.join(d, "catalog.json"), "w") as f:
        json.dump({
            "version": CATALOG_VERSION,
            "config": cat.config.to_dict(),
            "splits": [s.to_dict() for s in cat.splits.values()],
            "checkpoint": cat.checkpoint,
            "source_path": cat.source_path,
            "merge_seq": cat.merge_seq,
            "sources": cat.sources,
            "doc_mapping": cat.doc_mapping,
        }, f)
    shutil.rmtree(os.path.join(d, "manifests"))

    se = Searcher(spark, d)
    assert se.n_docs == int(first.sum())
    build_index(spark, spark.createDataFrame(corpus[~first]), d, config,
                n_splits=2, ingest_id="b0001")
    assert os.path.exists(os.path.join(d, "manifests", "head.json"))
    n_o, hits_o = oracle.search("w00002", k=10)
    r = se.search("w00002", k=10)
    assert se.n_docs == len(corpus)
    assert len(se.catalog.published_splits()) == 4
    assert r.num_hits == n_o
    assert sorted((h.conv_id, h.turn_idx, round(h.score, 9)) for h in r.hits) \
        == sorted((h.conv_id, h.turn_idx, round(h.score, 9)) for h in hits_o)


def test_manifest_fixture_loads(tmp_path):
    """Frozen manifest-log fixture (format v2): future changes to the
    head/delta serialization must keep loading this, or ship a new
    fixture + migration (same rule as the catalog.json fixtures)."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    shutil.copytree(
        os.path.join(FIXTURES, "catalog_manifest_v2", "manifests"),
        os.path.join(d, "manifests"),
    )
    cat = Catalog.load(d)
    assert isinstance(cat, ManifestCatalog)
    assert {s.split_id for s in cat.published_splits()} == {"s-0", "s-1"}
    assert cat.total_docs() == 300
    assert cat.checkpoint == {"batch/b0000": "complete"}
    assert cat.merge_seq == 2
    assert cat.source_path == "/src.parquet"
    assert cat.splits["s-0"].tags == {"tool": ["bash"]}
    # a commit after load appends at the frozen log's tail
    cat.stage_and_publish([_sm("s-new")])
    got = Catalog.load(d)
    assert len(got.published_splits()) == 3


def test_source_configs_roundtrip(tmp_path):
    """Source configs (metastore add_source/toggle/delete —
    quickwit-metastore/src/metastore/mod.rs) persist through the
    catalog and survive a reload."""
    d = str(tmp_path / "src")
    cat = Catalog.create(d, IndexConfig())
    cat.add_source("s1", "file", {"path": "/data/a.parquet"})
    cat.add_source("s2", "kafka", {"topic": "t", "brokers": "b:9092"},
                   enabled=False)
    with pytest.raises(ValueError, match="already exists"):
        cat.add_source("s1", "file")

    cat2 = Catalog.load(d)
    assert type(cat2) is type(cat)
    assert set(cat2.sources) == {"s1", "s2"}
    assert cat2.sources["s1"]["params"]["path"] == "/data/a.parquet"
    assert cat2.sources["s2"]["enabled"] is False

    cat2.toggle_source("s2", True)
    cat2.delete_source("s1")
    with pytest.raises(KeyError):
        cat2.delete_source("nope")
    cat3 = Catalog.load(d)
    assert set(cat3.sources) == {"s2"} and cat3.sources["s2"]["enabled"]


# ---------------------------------------------------------------------------
# snapshot time travel (retain_history + Catalog.load(at_seq=...)) —
# the Iceberg snapshot-read analog over the manifest append log
# ---------------------------------------------------------------------------


def test_manifest_time_travel_across_compaction(tmp_path, monkeypatch):
    """Every historical commit stays loadable when history is retained,
    including commits whose manifests a compaction superseded; the view
    is read-only; snapshots() lists the reachable log."""
    monkeypatch.setattr(ManifestCatalog, "COMPACT_AFTER", 4)
    d = str(tmp_path / "tt")
    cat = Catalog.create(d, IndexConfig(),
                         retain_history=True)
    for i in range(8):  # crosses at least one compaction
        cat.stage_and_publish([_sm(f"s-{i}")])
    assert cat._seq == 9  # create + 8 publishes

    # state after commit k+1 holds splits s-0..s-(k-1)
    for seq, expect in ((1, set()), (3, {"s-0", "s-1"}),
                        (6, {"s-0", "s-1", "s-2", "s-3", "s-4"}),
                        (9, {f"s-{i}" for i in range(8)})):
        got = Catalog.load(d, at_seq=seq)
        assert {s.split_id for s in got.published_splits()} == expect, seq

    frozen = Catalog.load(d, at_seq=3)
    with pytest.raises(RuntimeError, match="read-only time-travel"):
        frozen.stage_and_publish([_sm("nope")])

    snaps = frozen.snapshots()
    assert [s["seq"] for s in snaps] == list(range(1, 10))
    assert any(s["kind"] == "snapshot" for s in snaps)
    assert all(isinstance(s["committed_at"], int) for s in snaps)

    with pytest.raises(ValueError, match="no commit 99"):
        Catalog.load(d, at_seq=99)


def test_manifest_expire_history(tmp_path, monkeypatch):
    """expire_history trims the oldest manifests: earlier seqs become
    unreachable (loud error), later seqs still replay, current load is
    untouched."""
    monkeypatch.setattr(ManifestCatalog, "COMPACT_AFTER", 4)
    d = str(tmp_path / "ex")
    cat = Catalog.create(d, IndexConfig(),
                         retain_history=True)
    for i in range(8):
        cat.stage_and_publish([_sm(f"s-{i}")])
    # compactions happened at seqs 5 (and 9 if reached): find one
    snap_seqs = [s["seq"] for s in cat.snapshots() if s["kind"] == "snapshot"]
    assert snap_seqs
    cut = snap_seqs[-1]
    n = cat.expire_history(before_seq=cut)
    assert n > 0
    with pytest.raises(ValueError, match="expired"):
        Catalog.load(d, at_seq=cut - 1)
    got = Catalog.load(d, at_seq=cut)
    assert len(got.published_splits()) == cut - 1
    assert len(Catalog.load(d).published_splits()) == 8


def test_without_retention_recent_commits_still_reachable(tmp_path):
    """Default (no retention): at_seq works within the live,
    un-compacted manifest window — and fails loudly past it."""
    d = str(tmp_path / "nr")
    cat = Catalog.create(d, IndexConfig())
    for i in range(3):
        cat.stage_and_publish([_sm(f"s-{i}")])
    got = Catalog.load(d, at_seq=2)
    assert {s.split_id for s in got.published_splits()} == {"s-0"}


def test_search_time_travel_pre_merge(spark, corpus, config, tmp_path,
                                      monkeypatch):
    """Search over a historical snapshot: a Searcher pinned to the
    pre-merge commit answers rank-identically to the pre-merge head
    even after the merge rewrote the split set (split files are
    immutable and GC has not run)."""
    import dataclasses

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.merge import run_merge_pipeline
    from quickwit_spark.operators.search import Searcher

    config = dataclasses.replace(
        config, merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
    )
    d = str(tmp_path / "idx")
    cat = build_index(spark, spark.createDataFrame(corpus), d, config,
                      n_splits=4, retain_history=True)
    assert isinstance(cat, ManifestCatalog) and cat.retain_history
    pre_seq = cat._seq
    pre_splits = {s.split_id for s in cat.published_splits()}

    before = Searcher(spark, d).search("w00001 w00002", k=15)

    assert run_merge_pipeline(spark, d) >= 1
    head = Catalog.load(d)
    assert {s.split_id for s in head.published_splits()} != pre_splits

    pinned = Searcher(spark, d, at_seq=pre_seq)
    assert {s.split_id for s in pinned.catalog.published_splits()} \
        == pre_splits
    r = pinned.search("w00001 w00002", k=15)
    assert r.num_hits == before.num_hits
    assert [(h.split_id, h.docid, round(h.score, 9)) for h in r.hits] \
        == [(h.split_id, h.docid, round(h.score, 9)) for h in before.hits]

    # the head searcher reflects the merged state, same ranking by
    # (conv, turn) since merge preserves global stats
    r_head = Searcher(spark, d).search("w00001 w00002", k=15)
    assert [(h.conv_id, h.turn_idx) for h in r_head.hits] \
        == [(h.conv_id, h.turn_idx) for h in before.hits]


def test_index_api_time_travel(spark, corpus, config, tmp_path):
    """Index.open(at_seq=...) pins search + split listing to the
    historical commit (the CLI --at-seq path)."""
    from quickwit_spark.api import Index
    from quickwit_spark.operators.build import build_index

    d = str(tmp_path / "idx")
    cat = build_index(spark, spark.createDataFrame(corpus), d, config,
                      n_splits=2, retain_history=True)
    pinned = Index.open(spark, d, at_seq=1)  # post-create, pre-publish
    assert pinned.list_splits() == []
    head = Index.open(spark, d)
    assert len(head.list_splits()) == len(cat.published_splits())
    r_pin = pinned.search("w00001", k=5)
    r_head = head.search("w00001", k=5)
    assert r_pin.num_hits == 0 and r_head.num_hits > 0


def test_expire_history_never_strands_later_commits(tmp_path, monkeypatch):
    """expire_history's cut clamps to the newest snapshot <= before_seq:
    commits at-or-after before_seq always stay replayable, and with no
    snapshot at-or-before it nothing is deleted at all."""
    monkeypatch.setattr(ManifestCatalog, "COMPACT_AFTER", 3)
    d = str(tmp_path / "sf")
    cat = Catalog.create(d, IndexConfig(),
                         retain_history=True)
    for i in range(9):  # multiple compactions
        cat.stage_and_publish([_sm(f"s-{i}")])
    snap_seqs = [s["seq"] for s in cat.snapshots() if s["kind"] == "snapshot"]
    assert len(snap_seqs) >= 2

    # no snapshot at-or-before the cut (first compaction is later):
    # nothing deleted — deleting commit 1 would strand every replay
    assert min(snap_seqs) > 2
    assert cat.expire_history(before_seq=2) == 0
    assert len(Catalog.load(d, at_seq=1).published_splits()) == 0

    # expire BETWEEN two snapshots: the cut clamps to the earlier
    # snapshot so the (snapshot..before_seq) deltas keep their base
    mid = snap_seqs[-1] - 1
    cat.expire_history(before_seq=mid)
    for seq in range(snap_seqs[-2], cat._seq + 1):
        got = Catalog.load(d, at_seq=seq)  # must not raise
        assert len(got.published_splits()) == seq - 1
    with pytest.raises(ValueError, match="expired"):
        Catalog.load(d, at_seq=snap_seqs[-2] - 1)


def test_gc_skips_history_referenced_splits(spark, corpus, config, tmp_path):
    """With retained history, split GC must NOT reap splits a retained
    snapshot still lists as Published — the pinned searcher keeps
    answering after merge+gc; after expire_history the same GC reaps
    them (Iceberg expire-before-remove rule, enforced in gc)."""
    import dataclasses

    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.merge import (
        gc_deleted_splits,
        run_merge_pipeline,
    )
    from quickwit_spark.operators.search import Searcher

    config = dataclasses.replace(
        config, merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
    )
    d = str(tmp_path / "idx")
    cat = build_index(spark, spark.createDataFrame(corpus), d, config,
                      n_splits=4, retain_history=True)
    pre_seq = cat._seq
    before = Searcher(spark, d).search("w00001 w00002", k=10)

    assert run_merge_pipeline(spark, d) >= 1
    assert gc_deleted_splits(d, grace_period_secs=0) == []  # protected

    pinned = Searcher(spark, d, at_seq=pre_seq)
    r = pinned.search("w00001 w00002", k=10)
    assert [(h.split_id, h.docid) for h in r.hits] == \
        [(h.split_id, h.docid) for h in before.hits]

    # expire the pre-merge history (forcing a snapshot base first —
    # a young log has none), then gc really deletes
    head = Catalog.load(d)
    snap_seq = head.checkpoint_snapshot()
    assert head.expire_history(before_seq=snap_seq) > 0
    reaped = gc_deleted_splits(d, grace_period_secs=0)
    assert reaped
    with pytest.raises(ValueError, match="expired"):
        Catalog.load(d, at_seq=pre_seq)


def test_orphan_manifest_is_unreachable(tmp_path):
    """A manifest written by a crashed commit (never head-swapped) must
    not poison time travel: replay walks the committed prev chain, so
    orphans — even half-written or seq-colliding ones — are ignored."""
    import json as _json
    import os as _os

    d = str(tmp_path / "oi")
    cat = Catalog.create(d, IndexConfig(),
                         retain_history=True)
    for i in range(3):
        cat.stage_and_publish([_sm(f"s-{i}")])
    mdir = _os.path.join(d, "manifests")
    # a seq-colliding orphan claiming a bogus split, and a half-written one
    with open(_os.path.join(mdir, "m-00000003-deadbeef.json"), "w") as f:
        _json.dump({"kind": "delta", "meta": None,
                    "splits_upserted": [_sm("BOGUS").to_dict()],
                    "splits_deleted": [], "checkpoint_set": {},
                    "checkpoint_removed": [], "prev": None}, f)
    with open(_os.path.join(mdir, "m-00000002-cafecafe.json"), "w") as f:
        f.write('{"kind": "del')  # torn write

    for seq, expect in ((2, {"s-0"}), (4, {"s-0", "s-1", "s-2"})):
        got = Catalog.load(d, at_seq=seq)
        assert {s.split_id for s in got.published_splits()} == expect
        assert "BOGUS" not in got.splits
    assert [s["seq"] for s in Catalog.load(d).snapshots()] == [1, 2, 3, 4]
