"""Property-based tests (hypothesis) for the masking core — the reference has
no property tests (SURVEY.md §5); these pin the invariants every mask function
must hold for ANY input, using the fast HMAC codec so thousands of examples
run in seconds.
"""

from __future__ import annotations

import datetime as dt
import functools
import re
import string
from decimal import Decimal
from types import SimpleNamespace

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from arc_maskdata_pipeline_plugin_spark.codecs.hmac_sha512 import HmacSHA512
from arc_maskdata_pipeline_plugin_spark.codecs.pbkdf2 import PBKDF2WithHmacSHA512
from arc_maskdata_pipeline_plugin_spark.functions.masking import (
    DEFAULT_ALPHABET,
    apply_format,
    encode_as_string,
    mask_credit_card_value,
    mask_date_value,
    mask_decimal_value,
    mask_string_value,
    mask_timestamp_value,
    register_udfs,
    truncate_string,
)

PASS = b"q7VqMTbj7e5dUWESfc8UjZr2r7pyq5cHP8MVkUEjyv74cHsqUt734vg6qQmHaz7a"
CODEC = HmacSHA512()

text_values = st.text(min_size=0, max_size=200)
alphabets = st.text(
    alphabet=string.ascii_letters + string.digits, min_size=2, max_size=40
).filter(lambda a: len(set(a)) >= 2)


@settings(max_examples=200, deadline=None)
@given(text_values)
def test_mask_string_deterministic_and_stable(value):
    a = mask_string_value(CODEC, PASS, 16, string.ascii_letters, None, True, value)
    b = mask_string_value(CODEC, PASS, 16, string.ascii_letters, None, True, value)
    assert a == b
    assert len(a) == 16
    assert all(c in string.ascii_letters for c in a)


@settings(max_examples=100, deadline=None)
@given(text_values, alphabets, st.integers(min_value=1, max_value=64))
def test_mask_string_alphabet_and_length(value, alphabet, length):
    out = mask_string_value(CODEC, PASS, length, alphabet, None, True, value)
    assert len(out) == length
    assert all(c in alphabet for c in out)


@settings(max_examples=100, deadline=None)
@given(text_values)
def test_mask_string_nondeterministic_ignores_input(value):
    # non-deterministic mode draws SecureRandom bytes (reference
    # MaskDataPlugin.scala:143-146): two calls on the SAME input differ
    a = mask_string_value(CODEC, PASS, 16, string.ascii_letters, None, False, value)
    b = mask_string_value(CODEC, PASS, 16, string.ascii_letters, None, False, value)
    assert len(a) == len(b) == 16
    assert a != b  # 52^16 space — collision probability negligible


@settings(max_examples=200, deadline=None)
@given(
    st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2100, 1, 1)),
    st.integers(min_value=1, max_value=3650),
)
def test_mask_date_shift_bounded(value, range_):
    out = mask_date_value(CODEC, PASS, range_, True, value)
    shift = (out - value).days
    # signed Java remainder: shift ∈ (-(range-1), range-1)
    assert -range_ < shift < range_
    assert mask_date_value(CODEC, PASS, range_, True, value) == out


@settings(max_examples=200, deadline=None)
@given(
    st.decimals(
        min_value=Decimal("-1e12"),
        max_value=Decimal("1e12"),
        allow_nan=False,
        allow_infinity=False,
        places=4,
    ),
    st.decimals(
        min_value=Decimal("0.01"),
        max_value=Decimal("100000"),
        allow_nan=False,
        allow_infinity=False,
        places=2,
    ),
)
def test_mask_decimal_bounded_and_stable(value, range_):
    out = mask_decimal_value(CODEC, PASS, range_, True, value)
    assert out == mask_decimal_value(CODEC, PASS, range_, True, value)
    # remainder sign follows dividend → |perturbation| < range
    assert abs(out - value) < range_


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=64, max_size=64), alphabets)
def test_encode_as_string_total_and_in_alphabet(digest, alphabet):
    out = encode_as_string(digest, alphabet)
    assert len(out) == 64
    assert all(c in alphabet for c in out)
    # the translate table equals the reference's per-byte formula
    n = len(alphabet)
    assert out == "".join(alphabet[abs(b - 256 if b > 127 else b) % n] for b in digest)


def test_nulls_are_null():
    assert mask_string_value(CODEC, PASS, 16, string.ascii_letters, None, True, None) is None
    assert mask_date_value(CODEC, PASS, 10, True, None) is None
    assert mask_decimal_value(CODEC, PASS, Decimal("10"), True, None) is None


# ---------------------------------------------------------------------------
# Registered UDF bodies (one codec call per Arrow batch) vs the per-value
# reference functions, without a Spark round trip
# ---------------------------------------------------------------------------

# HmacSHA512 overrides Codec.hash_batch; PBKDF2 (conftest cost) uses the default.
BATCH_CODECS = [CODEC, PBKDF2WithHmacSHA512()]
codec_param = pytest.mark.parametrize("codec", BATCH_CODECS, ids=lambda c: c.name)


@functools.lru_cache(maxsize=None)
def _udfs(codec) -> dict:
    """Each registered UDF's Python batch function, captured from a stub session."""
    funcs = {}
    register = lambda name, fn: funcs.__setitem__(name, fn.func)  # noqa: E731
    register_udfs(SimpleNamespace(udf=SimpleNamespace(register=register)), codec, PASS)
    return funcs


def _call(codec, name, *params, values):
    """Call a UDF on one batch; literal params arrive as constant Series."""
    n = len(values)
    return _udfs(codec)[name](*(pd.Series([p] * n) for p in params), values)


def _rows(series) -> list:
    return [None if pd.isna(v) else v for v in series]


def _batches(values):
    """1-16 rows drawn from a small pool: duplicates, and NULLs among them."""
    return st.lists(values, min_size=1, max_size=5).flatmap(
        lambda pool: st.lists(
            st.one_of(st.none(), st.sampled_from(pool)), min_size=1, max_size=16
        )
    )


batch_alphabets = st.one_of(
    st.sampled_from([DEFAULT_ALPHABET, "0123456789", "αβγδ", "\x00\xff"]),
    st.text(min_size=1, max_size=8),  # latin-1 table or the join fallback
)
# every UDF is always called with 64 x's or fewer here, so it never raises
batch_formats = st.text(alphabet="x-%{}s ", max_size=24)
timestamp_ns = st.one_of(
    st.integers(min_value=-2_208_988_800, max_value=4_102_444_800).map(lambda s: s * 10**9),
    st.integers(min_value=-2_208_988_800 * 10**9, max_value=4_102_444_800 * 10**9),
)


@codec_param
@settings(max_examples=20, deadline=None)
@given(
    batch=_batches(st.text(max_size=12)),
    length=st.integers(min_value=0, max_value=64),
    alphabet=batch_alphabets,
    fmt=batch_formats,
)
def test_mask_string_udfs_match_per_value(codec, batch, length, alphabet, fmt):
    values = pd.Series(batch, dtype=object)

    def ref(alphabet, fmt):
        return [mask_string_value(codec, PASS, length, alphabet, fmt, True, v) for v in batch]

    out = _call(codec, "mask_string", length, True, values=values)
    assert _rows(out) == ref(DEFAULT_ALPHABET, None)
    out = _call(codec, "mask_string_alphabet", length, alphabet, True, values=values)
    assert _rows(out) == ref(alphabet, None)
    out = _call(codec, "mask_string_alphabet_format", length, alphabet, fmt, True, values=values)
    assert _rows(out) == ref(alphabet, fmt)


@codec_param
@settings(max_examples=20, deadline=None)
@given(
    dates=_batches(st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2100, 1, 1))),
    stamps=_batches(timestamp_ns),
    range_=st.integers(min_value=1, max_value=3650),
)
def test_mask_date_and_timestamp_udfs_match_per_value(codec, dates, stamps, range_):
    out = _call(codec, "mask_date", range_, True, values=pd.Series(dates, dtype=object))
    assert _rows(out) == [mask_date_value(codec, PASS, range_, True, v) for v in dates]

    # sub-second and pre-1970 instants; None → NaT, as Arrow hands them over
    values = pd.Series(stamps, dtype="datetime64[ns]")
    out = _call(codec, "mask_timestamp", range_, True, values=values)
    assert out.dtype == "datetime64[ns]"
    want = [
        None if pd.isna(v) else mask_timestamp_value(codec, PASS, range_, True, v)
        for v in values
    ]
    assert _rows(out) == want


@codec_param
@settings(max_examples=20, deadline=None)
@given(
    unscaled=_batches(st.integers(min_value=-(10**15), max_value=10**15)),
    scale=st.integers(min_value=0, max_value=6),
    range_=st.decimals(min_value=Decimal("0.1"), max_value=Decimal("1000"), places=1),
    cards=_batches(
        st.builds(
            lambda digits, sep: sep.join(digits[i : i + 4] for i in range(0, len(digits), 4)),
            st.text(alphabet="0123456789", min_size=8, max_size=19),
            st.sampled_from(["", "-", " "]),
        )
    ),
)
def test_mask_decimal_and_card_udfs_match_per_value(codec, unscaled, scale, range_, cards):
    # a Spark DecimalType column hands over one scale for every value
    batch = [None if u is None else Decimal(u).scaleb(-scale) for u in unscaled]
    out = _call(codec, "mask_decimal", range_, True, values=pd.Series(batch, dtype=object))
    assert _rows(out) == [mask_decimal_value(codec, PASS, range_, True, v) for v in batch]

    out = _call(codec, "mask_credit_card", True, values=pd.Series(cards, dtype=object))
    assert _rows(out) == [mask_credit_card_value(codec, PASS, True, v) for v in cards]


@codec_param
@settings(max_examples=15, deadline=None)
@given(present=st.lists(st.booleans(), max_size=14).map(lambda p: [True, *p, True]))
def test_nondeterministic_udfs_fill_every_row_and_never_repeat(codec, present):
    """Every non-NULL row gets its own random bytes, duplicates included."""
    n = len(present)

    def batch(value, dtype=object):
        return pd.Series([value if p else None for p in present], dtype=dtype)

    calls = {
        "mask_string": lambda: _call(codec, "mask_string", 16, False, values=batch("v")),
        "mask_date": lambda: _call(
            codec, "mask_date", 30000, False, values=batch(dt.date(2000, 1, 1))
        ),
        "mask_timestamp": lambda: _call(
            codec, "mask_timestamp", 30000, False,
            values=batch(pd.Timestamp("2000-01-01 00:00:00.5"), "datetime64[ns]"),
        ),
        "mask_decimal": lambda: _call(
            codec, "mask_decimal", Decimal("100.0"), False, values=batch(Decimal("1.50"))
        ),
        "mask_credit_card": lambda: _call(
            codec, "mask_credit_card", False, values=batch("4111-1111-1111-1111")
        ),
    }
    for name, call in calls.items():
        a, b = _rows(call()), _rows(call())
        assert len(a) == len(b) == n, name
        assert [v is not None for v in a] == present, name
        assert [v is not None for v in b] == present, name
        assert a != b, name
    strings = [v for v in _rows(calls["mask_string"]()) if v is not None]
    assert len(set(strings)) == len(strings)  # 52^16 space: no repeats


@codec_param
@pytest.mark.parametrize("deterministic", [True, False])
def test_udfs_raise_only_when_a_value_is_masked(codec, deterministic):
    """An over-long length or format fails on the first non-NULL value, with
    the per-value messages; an all-NULL batch still returns NULLs."""
    fmt = "x" * 65
    nulls = pd.Series([None, None], dtype=object)
    assert _rows(_call(codec, "mask_string", 65, deterministic, values=nulls)) == [None] * 2
    out = _call(codec, "mask_string_alphabet_format", 16, "ab", fmt, deterministic, values=nulls)
    assert _rows(out) == [None] * 2

    values = pd.Series([None, "v"], dtype=object)
    with pytest.raises(ValueError) as want:
        truncate_string("a" * 64, 65, codec.name)
    with pytest.raises(ValueError, match=re.escape(str(want.value))):
        _call(codec, "mask_string", 65, deterministic, values=values)
    with pytest.raises(ValueError) as want:
        apply_format("a" * 64, fmt, codec.name)
    with pytest.raises(ValueError, match=re.escape(str(want.value))):
        _call(codec, "mask_string_alphabet_format", 16, "ab", fmt, deterministic, values=values)


# ---------------------------------------------------------------------------
# Text chunking vs a pure-Python reference on random documents
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.lists(
            st.text(alphabet="abcdefg", min_size=1, max_size=5),
            min_size=0,
            max_size=130,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=10, deadline=None)
def test_text_chunking_matches_python_reference(spark, docs_tokens):
    """Spark's sequence/slice chunking (operators/text.py::with_chunks) must
    equal the obvious Python chunker (50-token windows, stride 40) for any
    token count including 0."""
    from arc_maskdata_pipeline_plugin_spark.operators.text import with_chunks

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens)
        for r in with_chunks(df, chunk_size=50, stride=40).collect()
    )

    want = []
    for i, toks in enumerate(docs_tokens):
        # split(trim(x), \s+) on an empty/whitespace string yields [""]
        eff = " ".join(toks).strip().split() or [""]
        n = len(eff)
        for ci, s0 in enumerate(range(0, max(n, 1), 40)):
            window = eff[s0 : s0 + 50]
            want.append((i, ci, " ".join(window), len(window)))
    assert got == sorted(want)
