"""Shared fixtures: one SparkSession per test session, plus a built
index + oracle over the same deterministic corpus (the TestSandbox
analog — quickwit-indexing/src/test_utils.rs)."""

from __future__ import annotations

import os

import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.oracle import OracleEngine
from quickwit_spark.sources.transcripts import generate_transcripts

N_TURNS = 2000
N_SPLITS = 4
SEED = 7


@pytest.fixture(scope="session")
def spark():
    from quickwit_spark.session import get_spark

    spark = get_spark("quickwit_spark_tests", cpus=8, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def corpus():
    return generate_transcripts(N_TURNS, seed=SEED, hot_term_frac=0.2)


@pytest.fixture(scope="session")
def config():
    # low salting thresholds so the hot term actually shards in tests
    return IndexConfig(hot_term_doc_freq=200, salt_docid_range=64)


@pytest.fixture(scope="session")
def oracle(corpus, config):
    return OracleEngine(corpus, config, n_splits=N_SPLITS)


@pytest.fixture(scope="session")
def index_dir(spark, corpus, config, tmp_path_factory):
    from quickwit_spark.operators.build import build_index

    d = str(tmp_path_factory.mktemp("index") / "idx")
    build_index(
        spark, spark.createDataFrame(corpus), d, config, n_splits=N_SPLITS
    )
    return d


@pytest.fixture(scope="session")
def searcher(spark, index_dir):
    from quickwit_spark.operators.search import Searcher

    return Searcher(spark, index_dir)


@pytest.fixture
def exhaustive(monkeypatch):
    """``exhaustive(fn, *args, **kwargs)`` calls ``fn`` with every leaf
    answered by the whole-term reference evaluator
    (tests/reference_eval.py) instead of the per-segment one. The patch
    reaches driver-mode leaves only, not Spark workers."""
    from quickwit_spark.operators import search
    from tests.reference_eval import reference_leaf

    def run(fn, *args, **kwargs):
        with monkeypatch.context() as m:
            m.setattr(search, "_wand_bool", reference_leaf)
            return fn(*args, **kwargs)

    return run


def assert_rank_identical(oracle_result, resp, check_scores=True):
    n_o, hits_o = oracle_result
    assert resp.num_hits == n_o
    assert [(h.split_id, h.docid) for h in resp.hits] == [
        (h.split_id, h.docid) for h in hits_o
    ]
    if check_scores:
        for a, b in zip(hits_o, resp.hits):
            assert abs(a.score - b.score) < 1e-9, (a, b)
    # doc identity follows
    assert [(h.conv_id, h.turn_idx) for h in resp.hits] == [
        (h.conv_id, h.turn_idx) for h in hits_o
    ]
