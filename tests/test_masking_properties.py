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
from typing import NamedTuple

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

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
# Registered UDFs vs the per-value reference functions. Under HmacSHA512 they
# are the JVM UDFs, run on the session with one DataFrame per example; under
# PBKDF2 (conftest cost) they are the pandas UDF bodies (one codec call per
# Arrow batch), called on one batch without a Spark round trip.
# ---------------------------------------------------------------------------

BATCH_CODECS = [CODEC, PBKDF2WithHmacSHA512()]
codec_param = pytest.mark.parametrize("codec", BATCH_CODECS, ids=lambda c: c.name)
JVM_PREFIX = "prop_"


def _on_jvm(codec) -> bool:
    return type(codec) is HmacSHA512


@pytest.fixture(scope="module")
def jvm(spark):
    """The session, with the JVM UDFs registered under ``JVM_PREFIX``."""
    register_udfs(spark, CODEC, PASS, prefix=JVM_PREFIX)
    return spark


@functools.lru_cache(maxsize=None)
def _udfs(codec) -> dict:
    """Each registered pandas UDF's batch function, captured from a stub session."""
    funcs = {}
    register = lambda name, fn: funcs.__setitem__(name, fn.func)  # noqa: E731
    register_udfs(SimpleNamespace(udf=SimpleNamespace(register=register)), codec, PASS)
    return funcs


class Call(NamedTuple):
    """One UDF call over a column: literal params, the values' Spark type
    (``timestamp`` values are epoch nanoseconds) and the values."""

    name: str
    params: tuple
    kind: str
    values: list


def _rows(series) -> list:
    return [None if pd.isna(v) else v for v in series]


def _pandas_call(codec, call: Call) -> list:
    n = len(call.values)
    dtype = "datetime64[ns]" if call.kind == "timestamp" else object
    out = _udfs(codec)[call.name](
        *(pd.Series([p] * n) for p in call.params), pd.Series(call.values, dtype=dtype)
    )
    return [None if pd.isna(v) else v.value for v in out] if call.kind == "timestamp" else _rows(out)


def _mask(spark, codec, calls: list[Call]) -> list[list]:
    """Each call's output rows; timestamps as epoch nanoseconds. On the JVM
    all calls run in one select over one DataFrame, a column per call; the
    shorter columns are padded with NULLs and the padding is dropped."""
    if not _on_jvm(codec):
        return [_pandas_call(codec, c) for c in calls]
    n = max(len(c.values) for c in calls)
    micros = [c.kind == "timestamp" for c in calls]
    columns = {
        f"v{j}": [
            None if v is None else v // 1000 if us else v
            for v in c.values + [None] * (n - len(c.values))
        ]
        for j, (c, us) in enumerate(zip(calls, micros))
    }
    schema = ", ".join(
        f"v{j} {'bigint' if us else c.kind}" for j, (c, us) in enumerate(zip(calls, micros))
    )
    exprs = []
    for j, (c, us) in enumerate(zip(calls, micros)):
        col = F.timestamp_micros(F.col(f"v{j}")) if us else F.col(f"v{j}")
        out = F.call_function(JVM_PREFIX + c.name, *map(F.lit, c.params), col)
        exprs.append(F.unix_micros(out) if us else out)
    # from pandas: a local relation through Arrow, no Python worker job
    frame = pd.DataFrame(columns, dtype=object)
    got = spark.createDataFrame(frame, schema).select(*exprs).collect()
    return [
        [None if r[j] is None else r[j] * 1000 if us else r[j] for r in got[: len(c.values)]]
        for j, (c, us) in enumerate(zip(calls, micros))
    ]


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
    st.integers(min_value=-8_520_336_000, max_value=4_102_444_800).map(lambda s: s * 10**9),
    st.integers(min_value=-8_520_336_000 * 10**9, max_value=4_102_444_800 * 10**9),
)


@codec_param
@settings(max_examples=20, deadline=None)
@given(
    batch=_batches(st.text(max_size=12)),
    length=st.integers(min_value=0, max_value=64),
    alphabet=batch_alphabets,
    fmt=batch_formats,
)
def test_mask_string_udfs_match_per_value(jvm, codec, batch, length, alphabet, fmt):
    def ref(alphabet, fmt):
        return [mask_string_value(codec, PASS, length, alphabet, fmt, True, v) for v in batch]

    got = _mask(jvm, codec, [
        Call("mask_string", (length, True), "string", batch),
        Call("mask_string_alphabet", (length, alphabet, True), "string", batch),
        Call("mask_string_alphabet_format", (length, alphabet, fmt, True), "string", batch),
    ])
    assert got == [ref(DEFAULT_ALPHABET, None), ref(alphabet, None), ref(alphabet, fmt)]


@codec_param
@settings(max_examples=20, deadline=None)
@given(
    # the ten dates 1582-10-05..14 do not survive Spark's java.sql.Date hand-over
    dates=_batches(
        st.dates(min_value=dt.date(100, 1, 1), max_value=dt.date(2100, 1, 1)).filter(
            lambda d: not dt.date(1582, 10, 5) <= d <= dt.date(1582, 10, 14)
        )
    ),
    stamps=_batches(timestamp_ns),
    range_=st.integers(min_value=1, max_value=3650),
)
def test_mask_date_and_timestamp_udfs_match_per_value(jvm, codec, dates, stamps, range_):
    if _on_jvm(codec):  # Spark timestamps hold microseconds
        stamps = [None if s is None else s // 1000 * 1000 for s in stamps]
    # sub-second and pre-1970 instants; None → NaT, as Arrow hands them over
    got = _mask(jvm, codec, [
        Call("mask_date", (range_, True), "date", dates),
        Call("mask_timestamp", (range_, True), "timestamp", stamps),
    ])
    assert got[0] == [mask_date_value(codec, PASS, range_, True, v) for v in dates]
    assert got[1] == [
        None if s is None else mask_timestamp_value(codec, PASS, range_, True, pd.Timestamp(s)).value
        for s in stamps
    ]


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
# Python and the JVM agree on what a card digit is (Unicode Nd): '²' is a
# separator, in the layout or inside the BIN; '٣' (ARABIC-INDIC THREE) is a digit
@example(unscaled=[1], scale=0, range_=Decimal("1.0"), cards=["4111 1111 1111 11²1"])
@example(unscaled=[1], scale=0, range_=Decimal("1.0"), cards=["41²11 1111 1111 1111"])
@example(
    unscaled=[1], scale=0, range_=Decimal("1.0"),
    cards=["٣111 1111 1111 1111", "4111-٣111-1111-111٣"],
)
def test_mask_decimal_and_card_udfs_match_per_value(jvm, codec, unscaled, scale, range_, cards):
    # a Spark DecimalType column hands over one scale for every value
    batch = [None if u is None else Decimal(u).scaleb(-scale) for u in unscaled]
    got = _mask(jvm, codec, [
        Call("mask_decimal", (range_, True), f"decimal(38,{scale})", batch),
        Call("mask_credit_card", (True,), "string", cards),
    ])
    assert got[0] == [mask_decimal_value(codec, PASS, range_, True, v) for v in batch]
    assert got[1] == [mask_credit_card_value(codec, PASS, True, v) for v in cards]


@codec_param
@settings(max_examples=15, deadline=None)
@given(present=st.lists(st.booleans(), max_size=14).map(lambda p: [True, *p, True]))
def test_nondeterministic_udfs_fill_every_row_and_never_repeat(jvm, codec, present):
    """Every non-NULL row gets its own random bytes, duplicates included."""
    n = len(present)

    def batch(value):
        return [value if p else None for p in present]

    calls = [
        Call("mask_string", (16, False), "string", batch("v")),
        Call("mask_date", (30000, False), "date", batch(dt.date(2000, 1, 1))),
        Call("mask_timestamp", (30000, False), "timestamp",
             batch(pd.Timestamp("2000-01-01 00:00:00.5").value)),
        Call("mask_decimal", (Decimal("100.0"), False), "decimal(38,2)", batch(Decimal("1.50"))),
        Call("mask_credit_card", (False,), "string", batch("4111-1111-1111-1111")),
    ]
    got = _mask(jvm, codec, calls * 2)  # each call twice, in one Spark action
    for call, a, b in zip(calls, got, got[len(calls):]):
        assert len(a) == len(b) == n, call.name
        assert [v is not None for v in a] == present, call.name
        assert [v is not None for v in b] == present, call.name
        assert a != b, call.name
    strings = [v for v in got[0] if v is not None]
    assert len(set(strings)) == len(strings)  # 52^16 space: no repeats


@codec_param
@pytest.mark.parametrize("deterministic", [True, False])
def test_udfs_raise_only_when_a_value_is_masked(jvm, codec, deterministic):
    """An over-long length or format fails on the first non-NULL value, with
    the per-value messages (the format's Python repr included); an all-NULL
    batch still returns NULLs."""
    fmt = "x" * 65 + "'\t%{é\x00"
    calls = [
        Call("mask_string", (65, deterministic), "string", [None, None]),
        Call("mask_string_alphabet_format", (16, "ab", fmt, deterministic), "string", [None, None]),
    ]
    assert _mask(jvm, codec, calls) == [[None] * 2] * 2

    with pytest.raises(ValueError) as want:
        truncate_string("a" * 64, 65, codec.name)
    with pytest.raises(Exception, match=re.escape(str(want.value))):
        _mask(jvm, codec, [calls[0]._replace(values=[None, "v"])])
    with pytest.raises(ValueError) as want:
        apply_format("a" * 64, fmt, codec.name)
    with pytest.raises(Exception, match=re.escape(str(want.value))):
        _mask(jvm, codec, [calls[1]._replace(values=[None, "v"])])


def test_jvm_udfs_evaluate_parameters_per_row(jvm):
    """The JVM UDFs take each row's own parameters, as the reference's Scala
    UDFs do (the pandas UDFs accept literals only); a NULL value still masks
    to NULL under an over-long length or format."""
    rows = [
        ("a", 4, "01", "x-x", 10),
        ("b", 16, "αβγδ", "x%{x}", 365),
        ("b", 1, DEFAULT_ALPHABET, "", 1),
        (None, 65, "ab", "x" * 65, 7),
    ]
    frame = pd.DataFrame(rows, columns=["v", "n", "alphabet", "fmt", "r"], dtype=object)
    df = jvm.createDataFrame(frame, "v string, n int, alphabet string, fmt string, r int")
    got = df.selectExpr(
        "prop_mask_string(n, true, v)",
        "prop_mask_string_alphabet(n, alphabet, true, v)",
        "prop_mask_string_alphabet_format(n, alphabet, fmt, true, v)",
        "prop_mask_date(r, true, DATE'2020-02-29')",
    ).collect()
    want = [
        (
            mask_string_value(CODEC, PASS, n, DEFAULT_ALPHABET, None, True, v),
            mask_string_value(CODEC, PASS, n, alphabet, None, True, v),
            mask_string_value(CODEC, PASS, n, alphabet, fmt, True, v),
            mask_date_value(CODEC, PASS, r, True, dt.date(2020, 2, 29)),
        )
        for v, n, alphabet, fmt, r in rows
    ]
    assert [tuple(r) for r in got] == want


def test_jvm_pepper_bytes_above_0x7f(jvm):
    """A pepper byte >= 0x80 enters the HMAC as one latin-1 char, which is
    two UTF-8 bytes (Scala's ``Byte.toChar``)."""
    passphrase = bytes(range(0x80, 0xA0)) + PASS[32:]
    register_udfs(jvm, CODEC, passphrase, prefix="hi_")
    values = ["", "é", "𐍈 astral"]
    frame = pd.DataFrame({"v": values}, dtype=object)
    got = jvm.createDataFrame(frame, "v string").selectExpr("hi_mask_string(64, true, v)")
    want = [mask_string_value(CODEC, passphrase, 64, DEFAULT_ALPHABET, None, True, v) for v in values]
    assert [r[0] for r in got.collect()] == want


def _ns(t) -> int:
    """Epoch nanoseconds of a naive UTC datetime, also outside pandas' range."""
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1) * 1000


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_jvm_masks_ignore_the_jvm_default_zone(jvm, zone):
    """Timestamps are hashed as UTC wall times and dates as proleptic
    Gregorian dates, whatever the JVM's default zone: New York across its DST
    gap and overlap and in its pre-1883 local mean time, sub-second, before
    1970 and around the 1582 Gregorian switch, where Spark hands Java UDFs
    values rebased to the hybrid Julian calendar."""
    stamps = [
        dt.datetime.fromisoformat(s)
        for s in (
            "2021-03-14 02:30:00",  # a New York DST-gap wall time
            "2021-03-14 07:30:00.250000",
            "2021-11-07 01:30:00.000001",  # a New York DST-overlap wall time
            "1969-12-31 23:59:59.999999",
            "1950-06-01 12:00:00",
            "1883-11-18 12:00:00",  # New York's switch from local mean time
            "1800-05-05 05:05:05.000005",
            "1582-10-16 00:00:00",
            "1582-10-04 12:00:00",
            "1000-03-01 12:00:00.123456",
        )
    ] + [None]
    dates = [
        dt.date(2021, 3, 14), dt.date(1969, 12, 31), dt.date(1800, 5, 5),
        dt.date(1582, 10, 4), dt.date(1582, 10, 15), dt.date(100, 3, 1), None,
    ]
    zones = jvm._jvm.java.util.TimeZone
    default = zones.getDefault()
    zones.setDefault(zones.getTimeZone(zone))
    try:
        got = _mask(jvm, CODEC, [
            Call("mask_timestamp", (3650, True), "timestamp",
                 [None if t is None else _ns(t) for t in stamps]),
            Call("mask_date", (3650, True), "date", dates),
        ])
    finally:
        zones.setDefault(default)
    assert got[0] == [
        None if t is None else _ns(mask_timestamp_value(CODEC, PASS, 3650, True, t))
        for t in stamps
    ]
    assert got[1] == [mask_date_value(CODEC, PASS, 3650, True, d) for d in dates]


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
