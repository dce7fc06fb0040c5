"""Merge planner + executor tests (merge_policy.rs invariants,
merge_executor.rs doc conservation; proptest analogs via hypothesis)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from quickwit_spark.config import IndexConfig
from quickwit_spark.operators.merge import (
    build_split_levels,
    plan_merge_operations,
)
from quickwit_spark.plans.catalog import SplitMetadata


def _split(i, num_docs, t_end=None):
    return SplitMetadata(
        split_id=f"split-{i:05d}",
        state="Published",
        num_docs=num_docs,
        time_range=(0, t_end) if t_end is not None else None,
    )


CFG = IndexConfig(
    merge_factor=10, max_merge_factor=12,
    split_num_docs_target=10_000_000, min_level_num_docs=100_000,
)


class TestPlanner:
    def test_ten_small_splits_merge(self):
        splits = [_split(i, 1000, t_end=i) for i in range(10)]
        ops = plan_merge_operations(splits, CFG)
        assert len(ops) == 1
        assert len(ops[0]) == 10

    def test_nine_small_splits_no_merge(self):
        splits = [_split(i, 1000, t_end=i) for i in range(9)]
        assert plan_merge_operations(splits, CFG) == []

    def test_mature_splits_excluded(self):
        splits = [_split(i, 10_000_000, t_end=i) for i in range(20)]
        assert plan_merge_operations(splits, CFG) == []

    def test_max_merge_factor_cap(self):
        splits = [_split(i, 1000, t_end=i) for i in range(25)]
        ops = plan_merge_operations(splits, CFG)
        assert all(len(op) <= CFG.max_merge_factor for op in ops)
        assert sum(len(op) for op in ops) >= 12

    def test_levels_are_log_scale(self):
        sizes = [1_000, 2_000, 3_000, 400_000, 500_000, 5_000_000]
        splits = [_split(i, s) for i, s in enumerate(sizes)]
        levels = build_split_levels(splits, CFG)
        # level 0 holds everything < max(3*1000, 100k)=100k
        assert list(levels[0]) == [0, 1, 2]

    def test_result_stays_under_target(self):
        splits = [_split(i, 4_000_000, t_end=i) for i in range(12)]
        ops = plan_merge_operations(splits, CFG)
        for op in ops:
            assert sum(s.num_docs for s in op) < 2 * CFG.split_num_docs_target

    @given(
        st.lists(
            st.integers(min_value=1, max_value=15_000_000),
            min_size=0, max_size=60,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_planner_invariants(self, sizes):
        splits = [_split(i, s, t_end=i) for i, s in enumerate(sizes)]
        ops = plan_merge_operations(splits, CFG)
        seen = set()
        for op in ops:
            assert CFG.merge_factor // 1 >= 2  # sanity
            assert 2 <= len(op) <= CFG.max_merge_factor
            for s in op:
                assert s.num_docs < CFG.split_num_docs_target  # young only
                assert s.split_id not in seen  # disjoint ops
                seen.add(s.split_id)


@pytest.fixture(scope="module")
def merged_index(spark, corpus, tmp_path_factory):
    """Index built with 4 splits, then fully merged down."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.merge import run_merge_pipeline
    from quickwit_spark.plans.catalog import Catalog

    cfg = IndexConfig(
        hot_term_doc_freq=200, salt_docid_range=64,
        merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
    )
    d = str(tmp_path_factory.mktemp("merge") / "idx")
    build_index(spark, spark.createDataFrame(corpus), d, cfg, n_splits=4)
    n = run_merge_pipeline(spark, d)
    assert n >= 1
    return d


class TestMergeExecution:
    def test_doc_conservation(self, merged_index, corpus):
        from quickwit_spark.plans.catalog import Catalog

        cat = Catalog.load(merged_index)
        pub = cat.published_splits()
        assert len(pub) == 1
        assert cat.total_docs() == len(corpus)
        assert pub[0].num_merge_ops >= 1
        assert sorted(pub[0].source_partitions) == [0, 1, 2, 3]

    def test_docids_unique_and_dense(self, merged_index):
        import os

        import pyarrow.parquet as pq

        from quickwit_spark.plans.catalog import Catalog

        cat = Catalog.load(merged_index)
        s = cat.published_splits()[0]
        docs = pq.read_table(
            os.path.join(cat.split_dir(s.split_id), "docs.parquet"),
            columns=["docid"],
        )
        ids = docs.column("docid").to_numpy()
        assert ids.min() == 0 and ids.max() == len(ids) - 1
        assert np.unique(ids).size == ids.size

    def test_posting_content_matches_rebuild(self, merged_index, corpus, spark, tmp_path):
        """Merged postings must decode to the same (conv_id, turn_idx, tf)
        sets per term as a from-scratch single-split build."""
        import os

        import pyarrow.parquet as pq

        from quickwit_spark.functions.codec import decode_varint, delta_decode
        from quickwit_spark.operators.build import build_index
        from quickwit_spark.plans.catalog import Catalog

        cfg1 = IndexConfig(hot_term_doc_freq=200, salt_docid_range=64)
        d1 = str(tmp_path / "single")
        build_index(spark, spark.createDataFrame(corpus), d1, cfg1, n_splits=1)

        def term_map(index_dir):
            cat = Catalog.load(index_dir)
            out = {}
            for s in cat.published_splits():
                sd = cat.split_dir(s.split_id)
                docs = pq.read_table(
                    os.path.join(sd, "docs.parquet"),
                    columns=["docid", "conv_id", "turn_idx"],
                ).to_pandas().set_index("docid")
                posts = pq.read_table(os.path.join(sd, "postings.parquet")).to_pandas()
                for row in posts.itertuples():
                    ids = delta_decode(row.doc_ids).astype(np.int64)
                    tfs = decode_varint(row.tfs).astype(np.int64)
                    key = (row.field, row.term)
                    for d_, tf in zip(ids, tfs):
                        out.setdefault(key, set()).add(
                            (docs.loc[d_, "conv_id"], int(docs.loc[d_, "turn_idx"]), int(tf))
                        )
            return out

        merged = term_map(merged_index)
        rebuilt = term_map(d1)
        assert merged.keys() == rebuilt.keys()
        import random

        rng = random.Random(0)
        for key in rng.sample(sorted(merged.keys()), min(300, len(merged))):
            assert merged[key] == rebuilt[key], key

    def test_search_scores_survive_merge(self, spark, merged_index, oracle):
        """Scores and match sets are invariant under merge (global stats
        unchanged); only the (split_id, docid) tie encoding changes."""
        from quickwit_spark.operators.search import Searcher

        se = Searcher(spark, merged_index)
        for q in ["w00001", "hotterm", '"w00001 w00002"~2', "w00004 -w00001",
                  "role:assistant AND w00002"]:
            n_o, hits_o = oracle.search(q, k=15)
            r = se.search(q, k=15)
            assert r.num_hits == n_o
            want = sorted(
                ((h.conv_id, h.turn_idx, round(h.score, 9)) for h in hits_o)
            )
            got = sorted(
                ((h.conv_id, h.turn_idx, round(h.score, 9)) for h in r.hits)
            )
            assert got == want

    def test_merge_crash_before_publish_is_recoverable(
        self, spark, corpus, tmp_path
    ):
        """Failpoint analog (quickwit-indexing/failpoints/mod.rs): kill
        the merge between staging and publishing — inputs stay
        Published, queries keep working, the staged orphan is GC'd by
        the grace sweep, and a retry completes."""
        from quickwit_spark.operators.build import build_index
        from quickwit_spark.operators.merge import (
            gc_deleted_splits,
            run_merge_pipeline,
        )
        from quickwit_spark.operators.search import Searcher
        from quickwit_spark.plans.catalog import Catalog

        cfg = IndexConfig(
            merge_factor=2, max_merge_factor=4, min_level_num_docs=10,
        )
        idx = str(tmp_path / "crash")
        build_index(spark, spark.createDataFrame(corpus), idx, cfg, n_splits=4)

        real_publish = Catalog.publish_splits

        def crash_on_replace(self, split_ids, replaced_split_ids=(), **kw):
            if replaced_split_ids:
                raise RuntimeError("crash before merge publish")
            return real_publish(self, split_ids, replaced_split_ids, **kw)

        Catalog.publish_splits = crash_on_replace
        try:
            with pytest.raises(RuntimeError):
                run_merge_pipeline(spark, idx)
        finally:
            Catalog.publish_splits = real_publish

        cat = Catalog.load(idx)
        pub = cat.published_splits()
        assert len(pub) == 4                    # inputs untouched
        assert cat.total_docs() == len(corpus)  # no loss
        staged = [s for s in cat.splits.values() if s.state == "Staged"]
        assert len(staged) == 1                 # orphan from the crash
        # search still healthy on the pre-merge splits
        assert Searcher(spark, idx).search("w00001", k=3).num_hits > 0
        # grace sweep reaps the orphan, retry completes
        for s in staged:
            cat.splits[s.split_id].update_timestamp -= 7200
        cat._commit()
        assert staged[0].split_id in gc_deleted_splits(idx, grace_period_secs=3600)
        assert run_merge_pipeline(spark, idx) >= 1
        cat = Catalog.load(idx)
        assert cat.total_docs() == len(corpus)
        assert len(cat.published_splits()) == 1

    def test_gc_removes_replaced_splits(self, merged_index):
        import os

        from quickwit_spark.operators.merge import gc_deleted_splits
        from quickwit_spark.plans.catalog import Catalog

        doomed = gc_deleted_splits(merged_index)
        assert len(doomed) >= 4
        cat = Catalog.load(merged_index)
        assert all(s.state == "Published" for s in cat.splits.values())
        for sid in doomed:
            assert not os.path.exists(cat.split_dir(sid))


def test_merged_postings_have_the_on_disk_schema(tmp_path):
    """A merged split's postings.parquet carries exactly the schema a
    built split writes: no pandas metadata, and a binary ``positions``
    column even when no field records positions."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from quickwit_spark.config import FieldConfig
    from quickwit_spark.operators.build import (
        POSTINGS_FILE,
        POSTINGS_SCHEMA,
        build_split_tables_arrow,
        write_split,
    )
    from quickwit_spark.operators.merge import merge_split_files
    from quickwit_spark.sources.transcripts import generate_transcripts

    cfg = IndexConfig(fields=(FieldConfig("text", "default", "freq"),))
    src = pa.Table.from_pandas(
        generate_transcripts(400, seed=4), preserve_index=False
    )
    dirs = []
    for i, part in enumerate((src.slice(0, 200), src.slice(200))):
        postings, docs, _ = build_split_tables_arrow(part, cfg)
        dirs.append(str(tmp_path / f"in{i}"))
        write_split(postings, docs, dirs[-1])
    meta = merge_split_files(dirs, str(tmp_path / "out"), cfg)
    path = str(tmp_path / "out" / POSTINGS_FILE)
    assert pq.read_schema(path).equals(POSTINGS_SCHEMA, check_metadata=True)
    merged = pq.read_table(path)
    assert merged.column("positions").null_count == len(merged) > 0
    texts = merged.filter(pc.equal(merged.column("field"), "text"))
    terms = texts.column("term").to_pylist()
    assert meta["term_range"] == (min(terms), max(terms))
    assert meta["num_docs"] == 400


class TestMergeIdsAndFanout:
    def test_alloc_merge_ids_unique_across_invocations(self, tmp_path):
        """Merge split ids must never repeat across run_merge_pipeline
        invocations — a reused id silently overwrites a published
        split's catalog entry (streaming-named inputs repeat per batch,
        so ids derived from input suffixes DO collide)."""
        from quickwit_spark.plans.catalog import Catalog

        d = str(tmp_path / "alloc")
        Catalog.create(d, CFG)
        a = Catalog.load(d).alloc_merge_ids(3)
        b = Catalog.load(d).alloc_merge_ids(3)  # fresh load = new invocation
        assert len(set(a) | set(b)) == 6
        assert Catalog.load(d).merge_seq == 6

    def test_stage_collision_raises(self, tmp_path):
        """Staging an id that is already Published must raise instead of
        silently overwriting the catalog entry."""
        from quickwit_spark.plans.catalog import Catalog, SplitMetadata

        d = str(tmp_path / "coll")
        cat = Catalog.create(d, CFG)
        cat.stage_split(SplitMetadata(split_id="s-1", num_docs=10))
        cat.publish_splits(["s-1"])
        with pytest.raises(ValueError, match="already exists"):
            cat.stage_split(SplitMetadata(split_id="s-1", num_docs=99))
        with pytest.raises(ValueError, match="already exists"):
            cat.stage_and_publish([SplitMetadata(split_id="s-1", num_docs=99)])
        # re-staging a Staged id is allowed (crash-retry idempotence)
        cat.stage_split(SplitMetadata(split_id="s-2", num_docs=5))
        cat.stage_split(SplitMetadata(split_id="s-2", num_docs=5))

    def test_round_executes_as_one_job(self, spark, tmp_path):
        """A planner round of 3 independent merge ops (one per level)
        must fan out as ONE Spark job with one task per op, not one
        job per op."""
        from quickwit_spark.operators.build import build_split_tables_arrow, write_split
        from quickwit_spark.operators.merge import run_merge_pipeline
        from quickwit_spark.plans.catalog import Catalog, SplitMetadata
        from quickwit_spark.sources.transcripts import generate_transcripts

        import os

        cfg = IndexConfig(merge_factor=3, max_merge_factor=3, min_level_num_docs=10)
        d = str(tmp_path / "fan")
        cat = Catalog.create(d, cfg)
        # three size-separated level groups (x3 gaps so build_split_levels
        # puts each trio in its own level => 3 ops in ONE planner round);
        # later slices carry later timestamps, so the small splits sort
        # most-recent-first as the planner expects
        sizes = [660, 660, 660, 200, 200, 200, 30, 30, 30]
        big = generate_transcripts(sum(sizes), seed=23)
        sms = []
        lo = 0
        for i, sz in enumerate(sizes):
            pdf = big.iloc[lo : lo + sz].reset_index(drop=True)
            lo += sz
            postings, docs, meta = build_split_tables_arrow(
                pa.Table.from_pandas(pdf, preserve_index=False), cfg
            )
            sid = f"seed-{i:04d}"
            size = write_split(postings, docs, os.path.join(d, "splits", sid))
            sms.append(SplitMetadata(
                split_id=sid, num_docs=meta["num_docs"],
                sum_doc_len=meta["sum_doc_len"], size_in_bytes=size,
                # synthetic disjoint ascending ranges: small splits sort
                # most-recent-first, keeping each trio in its own level
                time_range=(1000 * i, 1000 * i + 999),
                term_range=tuple(meta["term_range"]), tags=meta["tags"],
            ))
        cat.stage_and_publish(sms)

        sc = spark.sparkContext
        sc.setJobGroup("merge-fanout-test", "merge rounds")
        try:
            n = run_merge_pipeline(spark, d)
        finally:
            sc.setJobGroup(None, None)
        # round 1 = one op per level (3 ops, ONE job); round 2 merges
        # the three results (1 op, one job)
        assert n == 4
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup("merge-fanout-test")
        assert len(jobs) == 2, jobs
        stage_task_counts = sorted(
            tracker.getStageInfo(sid).numTasks
            for j in jobs
            for sid in tracker.getJobInfo(j).stageIds
        )
        # round 1's single job ran its 3 ops as 3 parallel tasks
        assert stage_task_counts == [1, 3], stage_task_counts

        cat = Catalog.load(d)
        assert cat.total_docs() == sum(sizes)
        assert len(cat.published_splits()) == 1
        # lineage records a wall time per merge op
        import pandas as pd

        lin = pd.concat([
            pd.read_parquet(os.path.join(d, "lineage", f))
            for f in os.listdir(os.path.join(d, "lineage"))
        ])
        merges = lin[lin["op"] == "merge"]
        assert len(merges) == 4
        assert merges["split_id"].nunique() == 4
        assert (merges["wall_time_sec"] > 0).all()
