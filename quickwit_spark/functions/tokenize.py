"""Tokenizers with the exact semantics of the reference's registry
(quickwit-doc-mapper/src/tokenizers.rs:23-29 + tantivy's
``TokenizerManager::default()``):

* ``raw``      — the whole value is one token; tokens longer than 100
                 chars are dropped (RemoveLongFilter::limit(100)); NOT
                 lowercased.
* ``default``  — tantivy SimpleTokenizer: split on any non-alphanumeric
                 char (unicode alphanumeric, underscore is a separator),
                 drop tokens longer than 40 chars
                 (RemoveLongFilter::limit(40)), then lowercase.
* ``en_stem``  — ``default`` + English Porter stemmer (public algorithm).

Rank-identity of BM25 vs the oracle depends on these semantics being
locked; see tests/test_tokenize.py for char-level cases.

The pure-Python functions are the semantic reference: the oracle
engine, query parsing and the build path's ``en_stem``/``json`` fields
run them per value. The build path tokenizes ``default`` and ``raw``
fields in Arrow instead (:func:`tokenize_encode`), with parity locked by
tests/test_tokenize_arrow.py.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd

# Unicode alphanumeric runs, excluding underscore (tantivy's
# SimpleTokenizer splits on `!char::is_alphanumeric`; Python's \w is
# alphanumeric+underscore, so subtract `_`).
_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)

MAX_TOKEN_LEN_DEFAULT = 40
MAX_TOKEN_LEN_RAW = 100


def tokenize_default(text: str | None) -> list[str]:
    if not text:
        return []
    return [
        t.lower()
        for t in _TOKEN_RE.findall(text)
        if len(t) <= MAX_TOKEN_LEN_DEFAULT
    ]


def tokenize_raw(text: str | None) -> list[str]:
    if text is None:
        return []
    return [text] if 0 < len(text) <= MAX_TOKEN_LEN_RAW else []


# ---------------------------------------------------------------------------
# Porter stemmer (public algorithm, Porter 1980) — only used when a field
# opts into the `en_stem` tokenizer; kept dependency-free.
# ---------------------------------------------------------------------------

_VOWELS = "aeiou"


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    m, prev_vowel = 0, False
    for i in range(len(stem)):
        cons = _is_cons(stem, i)
        if cons and prev_vowel:
            m += 1
        prev_vowel = not cons
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _cvc(word: str) -> bool:
    if len(word) < 3:
        return False
    return (
        _is_cons(word, len(word) - 3)
        and not _is_cons(word, len(word) - 2)
        and _is_cons(word, len(word) - 1)
        and word[-1] not in "wxy"
    )


@lru_cache(maxsize=65536)
def porter_stem(word: str) -> str:  # noqa: C901 - classic algorithm
    if len(word) <= 2:
        return word
    w = word
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif not w.endswith("ss") and w.endswith("s"):
        w = w[:-1]
    # step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        flag = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w, flag = w[:-2], True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w, flag = w[:-3], True
        if flag:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _ends_double_cons(w) and not w.endswith(("l", "s", "z")):
                w = w[:-1]
            elif _measure(w) == 1 and _cvc(w):
                w += "e"
    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    for suf, rep in (
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
        ("anci", "ance"), ("izer", "ize"), ("abli", "able"), ("alli", "al"),
        ("entli", "ent"), ("eli", "e"), ("ousli", "ous"), ("ization", "ize"),
        ("ation", "ate"), ("ator", "ate"), ("alism", "al"), ("iveness", "ive"),
        ("fulness", "ful"), ("ousness", "ous"), ("aliti", "al"),
        ("iviti", "ive"), ("biliti", "ble"),
    ):
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break
    # step 3
    for suf, rep in (
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ):
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break
    # step 4
    for suf in (
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ):
        if w.endswith(suf):
            if _measure(w[: -len(suf)]) > 1:
                w = w[: -len(suf)]
            break
    else:
        if w.endswith("ion") and _measure(w[:-3]) > 1 and w[-4] in "st":
            w = w[:-3]
    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        if _measure(stem) > 1 or (_measure(stem) == 1 and not _cvc(stem)):
            w = stem
    # step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


def tokenize_en_stem(text: str | None) -> list[str]:
    return [porter_stem(t) for t in tokenize_default(text)]


# ---------------------------------------------------------------------------
# JSON field tokenizer — the mapping-tree `json` type
# (quickwit-doc-mapper/src/default_doc_mapper/mapping_tree.rs json leaves;
# query resolution doc_mapper.rs:189-217). A JSON document flattens to
# path-scoped tokens ``"<dotted.path>\x1f<token>"``: string leaves run
# through the default tokenizer (one token each), numbers/bools get ONE
# canonical token, nulls are skipped, and array elements index at their
# parent path (the reference flattens arrays transparently). Unlike the
# reference we UNIFY the string and numeric representations of a value
# (canonical "5" for both 5 and "5"); the query side expands a
# ``field.path:value`` term over both interpretations, so match sets
# agree with the reference's typed-term OR expansion.
# ---------------------------------------------------------------------------

JSON_PATH_SEP = "\x1f"


def canonical_json_number(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    f = float(v)
    return str(int(f)) if f.is_integer() else repr(f)


def _tokenize_json_with(text: str | None, leaf_fn) -> list[str]:
    """Flatten a JSON doc into path-scoped tokens (doc order), string
    leaves tokenized by ``leaf_fn`` (the dynamic_mapping.tokenizer
    knob — field_mapping_entry.rs QuickwitJsonOptions.tokenizer)."""
    if not text:
        return []
    import json as _json

    try:
        obj = _json.loads(text)
    except (ValueError, TypeError):
        return []
    out: list[str] = []

    def walk(prefix: str, v) -> None:
        if v is None:
            return
        if isinstance(v, dict):
            for k, sub in v.items():
                walk(f"{prefix}.{k}" if prefix else k, sub)
        elif isinstance(v, list):
            for sub in v:
                walk(prefix, sub)
        elif isinstance(v, str):
            for t in leaf_fn(v):
                out.append(f"{prefix}{JSON_PATH_SEP}{t}")
        else:  # bool | int | float
            out.append(f"{prefix}{JSON_PATH_SEP}{canonical_json_number(v)}")

    walk("", obj)
    return out


def tokenize_json(text: str | None) -> list[str]:
    """Flatten a JSON doc into path-scoped tokens (doc order)."""
    return _tokenize_json_with(text, tokenize_default)


def tokenize_json_raw(text: str | None) -> list[str]:
    """JSON flattening with RAW string leaves (whole value, ≤100
    chars, no lowercasing) — the reference's ``dynamic_mapping:
    tokenizer: raw`` (tests.rs test_search_dynamic_mode)."""
    return _tokenize_json_with(text, tokenize_raw)


def json_query_tokens(
    path: str, value: str, leaf_tokenizer: str = "default"
) -> tuple[list[str], str | None]:
    """Expand a ``field.path:value`` query literal into its candidate
    index tokens (typed-term OR expansion, doc_mapper.rs:189-217):
    returns ``(string_tokens, numeric_token_or_None)`` — the
    leaf-tokenized string interpretation (a conjunction when
    multi-token; json fields record no positions, so no phrase) and
    the canonical numeric/bool token when the literal parses as one.
    ``leaf_tokenizer`` must match the field's leaf tokenization
    ('default' for json, 'raw' for json_raw)."""
    import json as _json

    leaf_fn = tokenize_raw if leaf_tokenizer == "raw" else tokenize_default
    toks = []
    for t in leaf_fn(value):
        ft = f"{path}{JSON_PATH_SEP}{t}"
        if ft not in toks:
            toks.append(ft)
    try:
        num = _json.loads(value)
    except (ValueError, TypeError):
        num = None
    numeric = None
    if isinstance(num, (bool, int, float)):
        c = f"{path}{JSON_PATH_SEP}{canonical_json_number(num)}"
        if [c] != toks:
            numeric = c
    return toks, numeric


TOKENIZERS = {
    "default": tokenize_default,
    "raw": tokenize_raw,
    "en_stem": tokenize_en_stem,
    "json": tokenize_json,
    "json_raw": tokenize_json_raw,
}


def tokenize_series(texts: pd.Series, tokenizer: str) -> pd.Series:
    """Batch tokenization for Arrow UDFs: Series[str] -> Series[list[str]]."""
    fn = TOKENIZERS[tokenizer]
    return texts.map(fn)


# ---------------------------------------------------------------------------
# Arrow-native flat tokenization — the build-kernel hot path.
#
# The pure-Python tokenizers above are the SEMANTIC REFERENCE (and what
# the oracle uses); building a 10M-doc split through them materializes
# tens of millions of Python string objects, which thrashes the
# allocator/caches badly enough that 32 concurrent build kernels run
# ~3x slower per doc than 8 (measured). The Arrow path keeps every
# token in C++ string buffers end-to-end: utf8_lower →
# split_pattern_regex → length-filter → dictionary_encode. RE2's
# [^\p{L}\p{N}]+ splits exactly like the reference semantics
# ([^\W_]+ per char — tests/test_tokenize_arrow.py locks parity).
# ---------------------------------------------------------------------------

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_ARROW_SPLIT_PATTERN = "[^\\p{L}\\p{N}]+"


def tokenize_encode(values, tokenizer: str):
    """Tokenize a column and dictionary-encode the flat token stream.

    Returns ``(lens, codes, uniq)``:
    * ``lens[i]``  — token count of doc i (int64),
    * ``codes``    — flat per-token term ids in doc order (int64),
    * ``uniq``     — SORTED unique terms (``pa.StringArray``); ``codes``
                     index into it.
    Output is identical to tokenizing with ``TOKENIZERS[tokenizer]``
    and factorizing with sort=True. ``default`` and ``raw`` run in
    Arrow; the other tokenizers run the Python reference per value.
    """
    if tokenizer == "default":
        return _tokenize_encode_arrow(values)
    if tokenizer == "raw":
        return _tokenize_encode_raw_arrow(values)
    from itertools import chain

    if not isinstance(values, (list, pd.Series)):
        values = values.to_pylist()  # pyarrow column (en_stem/json fields)
    fn = TOKENIZERS[tokenizer]
    tok_lists = [fn(v) for v in values]
    n = len(tok_lists)
    lens = np.fromiter((len(t) for t in tok_lists), np.int64, count=n)
    flat = np.empty(int(lens.sum()), dtype=object)
    flat[:] = list(chain.from_iterable(tok_lists))
    codes, uniq = pd.factorize(flat, sort=True)
    return lens, codes.astype(np.int64), pa.array(uniq, type=pa.string())


# Characters whose Python str.lower() is context-sensitive or expanding
# (U+0130 'İ' → 'i' + combining dot; Greek capital sigma's final form):
# Arrow's utf8_lower maps them codepoint-wise, so tokens containing them
# take the exact Python lowercase on a (rare) fallback path.
_PY_LOWER_SPECIAL = "[İΣ]"


def _string_array(values):
    """One contiguous ``pa.string()`` array of a column."""
    if isinstance(values, pa.ChunkedArray):
        arr = values.combine_chunks()
    elif isinstance(values, pa.Array):
        arr = values
    else:
        arr = pa.array(values, type=pa.string(), from_pandas=True)
    return arr if arr.type == pa.string() else arr.cast(pa.string())


def _encode_sorted(flat):
    """``(codes, uniq)`` of a flat non-null token array: dictionary
    encode, then rank the dictionary so codes index the SORTED terms.
    UTF-8 byte order == code-point order, so Arrow's sort matches
    Python string comparison (and ``pd.factorize(sort=True)``)."""
    enc = pc.dictionary_encode(flat)
    indices = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dictionary = enc.dictionary
    sort_idx = pc.array_sort_indices(dictionary)
    rank = np.empty(len(dictionary), dtype=np.int64)
    rank[sort_idx.to_numpy(zero_copy_only=False)] = np.arange(
        len(dictionary), dtype=np.int64
    )
    return rank[indices], dictionary.take(sort_idx)


def _tokenize_encode_raw_arrow(values):
    """``raw`` in Arrow: a value of 1-100 code points (``utf8_length``
    counts code points, as Python ``len``) is one token, as is; null,
    empty and longer values give none."""
    arr = _string_array(values)
    tok_len = pc.utf8_length(arr)
    keep = pc.fill_null(
        pc.and_(
            pc.greater(tok_len, 0),
            pc.less_equal(tok_len, MAX_TOKEN_LEN_RAW),
        ),
        False,
    )
    lens = keep.to_numpy(zero_copy_only=False).astype(np.int64)
    return (lens, *_encode_sorted(pc.filter(arr, keep)))


def _tokenize_encode_arrow(values):
    arr = _string_array(values)
    n = len(arr)
    # mirror the Python reference's order exactly: split the ORIGINAL
    # text, cap on the pre-lowercase token length, then lowercase each
    # token (lowercasing first would move token boundaries for chars
    # whose lowercase adds combining marks, e.g. U+0130)
    lst = pc.split_pattern_regex(arr, _ARROW_SPLIT_PATTERN)
    lens = (
        pc.fill_null(pc.list_value_length(lst), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    flat = pc.list_flatten(lst)
    tok_len = pc.utf8_length(flat)
    keep = pc.and_(
        pc.greater(tok_len, 0),
        pc.less_equal(tok_len, MAX_TOKEN_LEN_DEFAULT),
    )
    keep_np = keep.to_numpy(zero_copy_only=False)
    if not keep_np.all():
        doc_of_tok = np.repeat(np.arange(n, dtype=np.int64), lens)
        dropped = np.bincount(doc_of_tok[~keep_np], minlength=n)
        lens = lens - dropped
        flat = pc.filter(flat, keep)
    lowered = pc.utf8_lower(flat)
    special = pc.match_substring_regex(flat, _PY_LOWER_SPECIAL)
    special_np = special.to_numpy(zero_copy_only=False)
    if special_np.any():
        low_np = lowered.to_numpy(zero_copy_only=False).astype(object)
        orig_np = flat.to_numpy(zero_copy_only=False)
        for i in np.flatnonzero(special_np):
            low_np[i] = orig_np[i].lower()
        flat = pa.array(low_np, type=pa.string())
    else:
        flat = lowered
    return (lens, *_encode_sorted(flat))
