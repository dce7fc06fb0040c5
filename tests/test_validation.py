"""Config + query validation (default_mapper.rs:140-230 analogs)."""

from __future__ import annotations

import pytest

from quickwit_spark.config import FieldConfig, IndexConfig


def test_tag_field_must_be_raw():
    cfg = IndexConfig(
        fields=(FieldConfig("text", "default", "freq"),),
        tag_fields=("text",),
    )
    with pytest.raises(ValueError, match="raw tokenizer"):
        cfg.validate()


def test_tag_field_must_exist():
    cfg = IndexConfig(tag_fields=("nope",))
    with pytest.raises(ValueError, match="not an indexed field"):
        cfg.validate()


def test_default_search_field_must_exist():
    cfg = IndexConfig(
        fields=(FieldConfig("body", "default", "freq"),),
        default_search_field="text",
        tag_fields=(),
    )
    with pytest.raises(ValueError, match="default_search_field"):
        cfg.validate()


def test_default_config_is_valid():
    IndexConfig().validate()


def test_en_stem_field_end_to_end(spark, tmp_path):
    """en_stem tokenizer through the full engine (Python tokenizer
    fallback path in the Arrow kernel): 'running'/'runs'/'run' unify."""
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import Searcher
    from quickwit_spark.oracle import OracleEngine
    from quickwit_spark.sources.transcripts import fixture_corpus

    rows = [
        ("the dog is running fast",), ("she runs daily",),
        ("a long run in the park",), ("completely unrelated words",),
    ]
    cfg = IndexConfig(
        fields=(
            FieldConfig("text", "en_stem", "position"),
            FieldConfig("tool", "raw", "basic"),
        ),
        tag_fields=("tool",),
    )
    pdf = fixture_corpus(rows)
    idx = str(tmp_path / "stem")
    build_index(spark, spark.createDataFrame(pdf), idx, cfg, n_splits=2)
    se = Searcher(spark, idx)
    oracle = OracleEngine(pdf, cfg, n_splits=2)
    for q in ["running", "runs", "run"]:
        n_o, hits_o = oracle.search(q, k=5)
        r = se.search(q, k=5)
        assert n_o == r.num_hits == 3  # stemming unifies all three
        assert [(h.split_id, h.docid) for h in r.hits] == [
            (h.split_id, h.docid) for h in hits_o
        ]
        for a, b in zip(hits_o, r.hits):
            assert abs(a.score - b.score) < 1e-9


def test_phrase_on_positionless_field_rejected(spark, corpus, tmp_path):
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import Searcher, stream_fast_field

    cfg = IndexConfig(
        fields=(
            FieldConfig("text", "default", "freq"),  # no positions
            FieldConfig("tool", "raw", "basic"),
        ),
        tag_fields=("tool",),
    )
    idx = str(tmp_path / "nopos")
    build_index(spark, spark.createDataFrame(corpus.head(300)), idx, cfg, n_splits=2)
    se = Searcher(spark, idx)
    assert se.search("w00001", k=3).num_hits >= 0  # terms fine
    with pytest.raises(ValueError, match="without positions"):
        se.search('"w00001 w00002"', k=3)
    # a search stream plans through the same validation
    with pytest.raises(ValueError, match="without positions"):
        stream_fast_field(se, '"w00001 w00002"', "doc_len")
