"""Parity of the Arrow-native build-path tokenizer with the pure-Python
reference (the oracle's tokenizer) — tokenizer drift is the #1
rank-identity risk (SURVEY.md §7.2)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from quickwit_spark.functions.tokenize import (
    TOKENIZERS,
    tokenize_encode,
    tokenize_raw,
)


def _reference(values, tokenizer):
    toks = [TOKENIZERS[tokenizer](v) for v in values]
    lens = [len(t) for t in toks]
    flat = [x for t in toks for x in t]
    return lens, flat


def assert_parity(values, tokenizer="default"):
    lens, codes, uniq = tokenize_encode(pd.Series(values, dtype=object), tokenizer)
    want_lens, want_flat = _reference(values, tokenizer)
    assert lens.tolist() == want_lens
    uniq = uniq.to_pylist()
    got_flat = [uniq[c] for c in codes]
    assert got_flat == want_flat
    assert uniq == sorted(set(want_flat))


def test_ascii_basics():
    assert_parity(
        [
            "Hello, World!", "a red bike", "fred's small bike",
            "x86-64 ARM", "foo_bar", "", None, "!!! ---",
            "a" * 41 + " " + "b" * 40, "  spaces  everywhere  ",
        ]
    )


def test_unicode():
    assert_parity(
        [
            "héllo wörld", "日本語テスト ascii mix", "Ünïcode-Mix_9",
            "emoji 😀 test", "кириллица текст", "ελληνικά",
        ]
    )


def test_context_sensitive_lowercase_parity():
    """Python str.lower() is context-sensitive/expanding for U+0130 'İ'
    (→ 'i' + combining dot, which is a split char pre-lowercase) and
    final sigma — the Arrow path must match it exactly (the locked
    order is split → cap → lowercase per token)."""
    assert_parity(
        [
            "İ", "İstanbul VE İZMİR", "ΑΣ ΣΑ Σ", "ΟΔΥΣΣΕΥΣ",
            "İ" * 41, "mixİcase", "ẞ ß Ⅷ ǅungla",
        ]
    )


TEXT_ALPHABET = st.sampled_from(
    list("abc XYZ 09,._-!?'\"\n\t")
    + ["é", "ü", "日", "語", "😀", "ж", "λ", "ß", "İ", "Σ", "ẞ", "̇"]
)


@given(st.lists(st.text(TEXT_ALPHABET, max_size=60), max_size=20))
@settings(max_examples=300, deadline=None)
def test_parity_property(values):
    assert_parity(values)


def test_raw_and_en_stem_paths():
    assert_parity(["UserName", "x" * 101, "", None], tokenizer="raw")
    assert_parity(["running quickly", "caresses ponies"], tokenizer="en_stem")


RAW_CHARS = st.sampled_from(list("aZ9 _-.") + ["é", "日", "😀", "İ", "Σ", "\n"])


def _raw_value():
    """Values around the raw tokenizer's edges: null, empty,
    whitespace-only, and 99-101 code points with multibyte chars."""
    return st.one_of(
        st.none(),
        st.just(""),
        st.text(st.sampled_from(" \t\n\u3000"), min_size=1, max_size=4),
        st.text(RAW_CHARS, max_size=12),
        st.integers(99, 101).flatmap(
            lambda n: st.text(RAW_CHARS, min_size=n, max_size=n)
        ),
    )


@given(
    st.lists(_raw_value(), max_size=12).flatmap(
        # duplicates: repeat a drawn prefix
        lambda vs: st.integers(0, len(vs)).map(lambda j: vs + vs[:j])
    )
)
@settings(max_examples=300, deadline=None)
def test_raw_parity_property(values):
    """The Arrow ``raw`` path equals ``tokenize_raw`` + a sorted
    factorize, on pandas and Arrow input alike."""
    toks = [tokenize_raw(v) for v in values]
    flat = np.array([t for ts in toks for t in ts], dtype=object)
    want_codes, want_uniq = pd.factorize(flat, sort=True)
    for col in (pd.Series(values, dtype=object),
                pa.chunked_array([pa.array(values, pa.string())])):
        lens, codes, uniq = tokenize_encode(col, "raw")
        assert lens.tolist() == [len(t) for t in toks]
        assert codes.dtype == np.int64
        assert codes.tolist() == want_codes.tolist()
        assert uniq.type == pa.string()
        assert uniq.to_pylist() == list(want_uniq)
