"""Replicates the driver's correctness gate locally: every
``__spark_entry__.queries()`` entry vs its ``oracle_sql()`` DuckDB twin
at sf0.001 — row count, schema (column names), and order-insensitive
values."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

import os

SF_DIR = os.environ.get("ENTRY_TEST_SF", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(int)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


NAMES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    oracles = entry_mod.oracle_sql()
    assert name in oracles, f"{name} has no oracle SQL"
    got = _normalize(q(spark, SF_DIR).toPandas())
    want = _normalize(ddb.execute(oracles[name]).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: schema {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} rows != {len(want)}"
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]):
            assert (
                (got[c] - want[c]).abs().fillna(0) < 1e-6
            ).all(), f"{name}: column {c} differs"
            assert got[c].isna().equals(want[c].isna()), f"{name}: col {c} nulls"
        else:
            assert got[c].equals(want[c]), (
                f"{name}: column {c} differs\n"
                f"got:\n{got[got[c] != want[c]].head()}\n"
                f"want:\n{want[got[c] != want[c]].head()}"
            )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"doc_id", "score"}


def test_driver_window_composition():
    """The driver's CORRECTNESS artifact covers only the FIRST 50 keys
    of queries() — lock the rotation so an innocent dict edit can't
    silently displace a never-attested entry out of the window
    (VERDICT r4 finding #1)."""
    keys = list(entry_mod.queries())
    window = keys[:50]
    assert window[:3] == ["bm25_topk", "bm25_phrase", "agg_terms_stats"]
    # the 7 never-attested variants sit right after the sentinels
    assert window[3:10] == [
        "corpus_curation_spans", "dedup_substring_keepfirst",
        "dedup_substring_scrub", "decontaminate_spans",
        "dedup_paragraph_scrub", "ccnet_buckets_by_lang", "dsir_select",
    ]
    # every window entry has an oracle twin (hash-checked, not
    # rows-only)
    oracles = entry_mod.oracle_sql()
    assert all(k in oracles for k in window)
    assert window[10:12] == ["sessionize_stream_replay", "dedup_stream_replay"]
    # the r5-attested entries the variants displaced head the tail
    assert keys[50:57] == [
        "transcript_dedup", "transcript_context", "transcript_prefix_share",
        "transcript_loops", "transcript_lint", "transcript_divergence",
        "transcript_curation",
    ]
