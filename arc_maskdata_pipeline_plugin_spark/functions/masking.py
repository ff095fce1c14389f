"""The reference masking functions (plus ``mask_credit_card``), as JVM UDFs
under the ``HmacSHA512`` codec and as Arrow-vectorized pandas UDFs under the
per-value KDF codecs.

Reference semantics (src/main/scala/ai/tripl/arc/udf/MaskDataPlugin.scala):

* ``mask_string(length, deterministic, value)`` — KDF-hash the value → 64
  bytes → map each byte to ``alphabet[abs(signed_byte) % len(alphabet)]`` →
  truncate. Default alphabet a-zA-Z. NULL → NULL. (:60, :71-92)
* ``mask_string_alphabet(length, alphabet, deterministic, value)`` — caller
  alphabet. (:61)
* ``mask_string_alphabet_format(length, alphabet, format, deterministic,
  value)`` — credit-card-style template: each ``x`` in the format consumes one
  encoded char, other chars pass through. The reference left this branch as a
  TODO (:84); implemented for real here per SURVEY.md §7.
* ``mask_date(range, deterministic, value)`` — shift by
  ``hashLong(str) % range`` days; Java ``%`` keeps the dividend's sign, so
  dates can move backward (:94-102).
* ``mask_timestamp(range, deterministic, value)`` — shift by whole days
  (ChronoUnit.DAYS; sub-day shift intentionally zero) (:104-112).
* ``mask_decimal(range, deterministic, value)`` —
  ``value + ((Decimal(first-8-hash-bytes) / 10^scale) % range)`` with
  DECIMAL128 (34-digit, half-even) arithmetic and Java remainder sign
  (:114-122).

Documented divergences from the reference (SURVEY.md §7.3):
* ``length`` is honored (the reference hard-codes truncation to 16,
  MaskDataPlugin.scala:85,87 — callers passing 16 get identical output);
* the ``format`` branch actually formats;
* the UDFs are registered ``asNondeterministic`` because the
  ``deterministic=false`` mode returns random bytes — the reference forgot
  this flag and Spark may CSE duplicate calls (SURVEY.md §4).

Scale design: masking is a stateless projection — no shuffle. Under the
``HmacSHA512`` codec, the one meant for 100 TB jobs, ``register_udfs``
registers the seven functions as JVM UDFs compiled from ``MaskUdfs.java``,
as the reference registers Scala UDFs: no Python worker and no Arrow hop,
one PBKDF2 stretch per passphrase and iteration count per JVM, and keyed
``Mac`` state per thread, neither serialized with the UDFs; then one HMAC per
row. Their parameters are evaluated per row.

Under the per-value KDF codecs (PBKDF2, SCrypt, Argon2) the KDF is the
per-row hot cost, so the UDFs are Arrow-batched pandas UDFs and every mask
UDF makes ONE codec call (``Codec.hash_batch``) per Arrow batch: over the
batch's distinct non-null values when deterministic (real data repeats
values), over every non-null row when not (each row draws its own random
bytes). The results are gathered back to the rows by their factorize codes,
so NULL stays NULL. Alphabet encoding (a 256-entry ``bytes.translate`` table
for alphabets within U+00FF), truncation, formatting and the date/decimal
shifts run once per distinct value; timestamps are formatted and shifted as
numpy ``datetime64`` arrays. The per-value ``mask_*_value`` functions are the
reference both paths must equal.
"""

from __future__ import annotations

import datetime as dt
import decimal
import functools
import math
from decimal import Decimal
from functools import partial

import numpy as np
import pandas as pd
from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DateType, DecimalType, StringType, TimestampType

from ..codecs import Codec, MaskDataCodecError, digest_long, get_codec, get_passphrase
from ..codecs.hmac_sha512 import HmacSHA512
from ..session import mask_udfs_jar

DEFAULT_ALPHABET = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"

# DECIMAL128 ≙ java.math.MathContext.DECIMAL128 (Scala BigDecimal default)
_DECIMAL128 = decimal.Context(prec=34, rounding=decimal.ROUND_HALF_EVEN)


def _alphabet_index(b: int, n: int) -> int:
    return abs(b - 256 if b > 127 else b) % n


@functools.lru_cache(maxsize=64)
def _byte_table(alphabet: str) -> bytes | None:
    """``encode_as_string`` as a 256-entry ``bytes.translate`` table, or None
    when the alphabet is empty or has a char beyond U+00FF (latin-1)."""
    if not alphabet or max(map(ord, alphabet)) > 0xFF:
        return None
    n = len(alphabet)
    return "".join(alphabet[_alphabet_index(b, n)] for b in range(256)).encode("latin-1")


def encode_as_string(digest: bytes, alphabet: str) -> str:
    """Byte→char mapping, bit-compatible with the reference
    (``alphabet(Math.abs(byte.toInt) % alphabet.length)``; note
    ``Math.abs(-128) = 128`` on the int-widened value)."""
    table = _byte_table(alphabet)
    if table is not None:
        return digest.translate(table).decode("latin-1")
    n = len(alphabet)
    return "".join(alphabet[_alphabet_index(b, n)] for b in digest)


def truncate_string(value: str, length: int, algorithm: str) -> str:
    if len(value) < length:
        raise ValueError(
            f"'{algorithm}' cannot produce required {length} length output based on the input"
        )
    return value[:length]


def apply_format(encoded: str, fmt: str, algorithm: str) -> str:
    """Substitute each ``x`` in ``fmt`` with the next encoded char."""
    out = []
    i = 0
    for ch in fmt:
        if ch == "x":
            if i >= len(encoded):
                raise ValueError(
                    f"'{algorithm}' cannot produce required {fmt!r} format output based on the input"
                )
            out.append(encoded[i])
            i += 1
        else:
            out.append(ch)
    return "".join(out)


@functools.lru_cache(maxsize=64)
def _format_template(fmt: str) -> tuple[str, int]:
    """``fmt`` as a ``%`` template with one ``%s`` per ``x``, and the number of
    ``x``s: ``template % tuple(encoded[:slots])`` equals ``apply_format``."""
    return fmt.replace("%", "%%").replace("x", "%s"), fmt.count("x")


def java_rem(a: int, b: int) -> int:
    """Java ``%``: truncated-division remainder, sign follows the dividend."""
    r = abs(a) % abs(b)
    return r if a >= 0 else -r


def java_timestamp_str(ts) -> str:
    """``java.sql.Timestamp.toString`` under a UTC JVM: fraction = nanos with
    trailing zeros stripped, minimum one digit ("….0" for whole seconds)."""
    nanos = ts.microsecond * 1000 + getattr(ts, "nanosecond", 0)
    frac = f"{nanos:09d}".rstrip("0") or "0"
    return (
        f"{ts.year:04d}-{ts.month:02d}-{ts.day:02d} "
        f"{ts.hour:02d}:{ts.minute:02d}:{ts.second:02d}.{frac}"
    )


def _java_timestamp_strs(ns: np.ndarray) -> list[str]:
    """``java_timestamp_str`` over int64 epoch nanoseconds. Floor division
    keeps the fraction non-negative before 1970, as ``pd.Timestamp`` does."""
    secs, nanos = np.divmod(ns, 1_000_000_000)
    whole = np.datetime_as_string(secs.astype("datetime64[s]"))  # YYYY-MM-DDTHH:MM:SS
    return [
        f"{w[:10]} {w[11:]}.{f'{n:09d}'.rstrip('0') or '0'}"
        for w, n in zip(whole.tolist(), nanos.tolist())
    ]


def mask_string_value(
    codec: Codec,
    passphrase: bytes,
    length: int,
    alphabet: str,
    fmt: str | None,
    deterministic: bool,
    value: str | None,
) -> str | None:
    if value is None:
        return None
    encoded = encode_as_string(codec.hash(value, deterministic, passphrase), alphabet)
    if fmt is not None:
        return apply_format(encoded, fmt, codec.name)
    return truncate_string(encoded, length, codec.name)


def mask_date_value(codec, passphrase, range_: int, deterministic, value):
    if value is None:
        return None
    num_days = java_rem(codec.hash_long(value.isoformat(), deterministic, passphrase), range_)
    return value + dt.timedelta(days=num_days)


def mask_timestamp_value(codec, passphrase, range_: int, deterministic, value):
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return None
    num_days = java_rem(
        codec.hash_long(java_timestamp_str(value), deterministic, passphrase), range_
    )
    return value + pd.Timedelta(days=num_days)


def luhn_check_digit(digits: str) -> str:
    """Check digit that makes ``digits + d`` Luhn-valid (ISO/IEC 7812).

    Standard doubling walk from the right of the would-be full number: the
    digit immediately left of the check position is doubled."""
    total = 0
    for i, ch in enumerate(reversed(digits)):
        d = int(ch)
        if i % 2 == 0:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return str((10 - total % 10) % 10)


def luhn_valid(number: str) -> bool:
    digits = "".join(c for c in number if c.isdecimal())
    return luhn_check_digit(digits[:-1]) == digits[-1]


def _card_digits(value: str, algorithm: str) -> str:
    digits = "".join(c for c in value if c.isdecimal())
    if len(digits) < 8:
        raise ValueError(
            f"'{algorithm}' mask_credit_card requires >= 8 digits, got {len(digits)}"
        )
    return digits


def _card_layout(value: str, digits: str, digest: bytes, algorithm: str) -> str:
    """Keep the BIN, fill the account digits from ``digest``, recompute the
    Luhn digit, and lay the result out in ``value``'s separators."""
    encoded = encode_as_string(digest, "0123456789")
    body = digits[:6] + truncate_string(encoded, len(digits) - 7, algorithm)
    card = body + luhn_check_digit(body)
    it = iter(card)
    return "".join(next(it) if c.isdecimal() else c for c in value)


def mask_credit_card_value(
    codec: Codec, passphrase: bytes, deterministic: bool, value: str | None
) -> str | None:
    """Format-preserving card masking (the real version of the reference's
    ``mask_string_alphabet_format`` TODO, ``MaskDataPlugin.scala:84``):

    * the issuer BIN (first 6 digits) and the separator layout are preserved,
    * the account digits are replaced with KDF-derived digits (same
      deterministic codec path as every other mask function),
    * the final digit is recomputed so the masked number is Luhn-VALID —
      masked cards pass downstream checksum validation instead of tripping it.

    The KDF input is the raw digit string, so '4111-1111…' and '4111 1111…'
    mask to the same account digits in their respective layouts.
    """
    if value is None:
        return None
    digits = _card_digits(value, codec.name)
    return _card_layout(
        value, digits, codec.hash(digits, deterministic, passphrase), codec.name
    )


@functools.lru_cache(maxsize=64)
def _java_pow10(scale: int) -> Decimal:
    return Decimal(math.pow(10, scale))  # exact binary value, as Java sees it


def _decimal_shift(value: Decimal, range_: Decimal, digest: bytes) -> Decimal:
    scale = max(0, -value.as_tuple().exponent)
    # BigDecimal(long) / BigDecimal(Math.pow(10, scale)) under DECIMAL128
    random_decimal = _DECIMAL128.divide(Decimal(digest_long(digest)), _java_pow10(scale))
    rem = _DECIMAL128.remainder(random_decimal, range_)
    return _DECIMAL128.add(value, rem)


def mask_decimal_value(codec, passphrase, range_: Decimal, deterministic, value):
    if value is None:
        return None
    return _decimal_shift(value, range_, codec.hash(str(value), deterministic, passphrase))


# ---------------------------------------------------------------------------
# Batch kernels: each maps an array of non-null values to their masks with ONE
# codec call and equals its mask_*_value function value by value.
# ---------------------------------------------------------------------------


def _mask_strings(codec, passphrase, length, alphabet, fmt, deterministic, values):
    digests = codec.hash_batch(values, deterministic, passphrase)
    table = _byte_table(alphabet)
    if table is None:
        encoded = [encode_as_string(d, alphabet) for d in digests]
    else:
        encoded = [d.translate(table).decode("latin-1") for d in digests]
    # the shortest encoding fails first, with the per-value path's message
    shortest = min(encoded, key=len)
    if fmt is None:
        truncate_string(shortest, length, codec.name)
        return [e[:length] for e in encoded]
    apply_format(shortest, fmt, codec.name)
    template, slots = _format_template(fmt)
    return [template % tuple(e[:slots]) for e in encoded]


def _mask_dates(codec, passphrase, range_, deterministic, values):
    digests = codec.hash_batch([v.isoformat() for v in values], deterministic, passphrase)
    return [
        v + dt.timedelta(days=java_rem(digest_long(d), range_))
        for v, d in zip(values, digests)
    ]


def _mask_timestamps(codec, passphrase, range_, deterministic, values):
    ts = values.astype("datetime64[ns]")
    digests = codec.hash_batch(_java_timestamp_strs(ts.view("i8")), deterministic, passphrase)
    days = np.array([java_rem(digest_long(d), range_) for d in digests], dtype=np.int64)
    # pandas checks the add for datetime64[ns] overflow; bare numpy would wrap
    return (pd.DatetimeIndex(ts) + pd.to_timedelta(days, unit="D")).to_numpy()


def _mask_decimals(codec, passphrase, range_, deterministic, values):
    digests = codec.hash_batch([str(v) for v in values], deterministic, passphrase)
    return [_decimal_shift(v, range_, d) for v, d in zip(values, digests)]


def _mask_cards(codec, passphrase, deterministic, values):
    digits = [_card_digits(v, codec.name) for v in values]
    digests = codec.hash_batch(digits, deterministic, passphrase)
    return [
        _card_layout(v, n, d, codec.name) for v, n, d in zip(values, digits, digests)
    ]


def _mask_batch(
    values: pd.Series, deterministic: bool, kernel, dtype=object, null=None
) -> pd.Series:
    """Run ``kernel`` once on the batch's non-null values and gather its
    results back to the rows: distinct values when deterministic, every
    non-null row when not (each row gets its own randomness). NULL rows stay
    ``null``; an all-NULL batch never reaches the kernel, so it never raises."""
    if deterministic:
        codes, uniques = pd.factorize(values)  # NULL → code -1
    else:
        present = values.notna().to_numpy()
        codes = np.where(present, np.cumsum(present) - 1, -1)
        uniques = values[present]
    out = np.empty(len(uniques) + 1, dtype=dtype)
    out[-1] = null  # code -1 gathers this slot
    if len(uniques):
        out[:-1] = kernel(np.asarray(uniques))
    return pd.Series(out[codes])


def _const(series: pd.Series):
    """Literal args arrive as constant Series; pull the scalar once.

    The pandas UDFs accept LITERAL arguments only (matching how the reference's
    pipelines call them — treatment params are config constants). A real
    per-row column here would silently apply the first row's value to the
    whole Arrow batch, so a non-constant Series is rejected loudly.
    """
    if not len(series):
        return None
    if series.nunique(dropna=False) > 1:
        raise ValueError(
            "mask_* UDF parameter must be a literal (constant per batch); "
            f"got {series.nunique(dropna=False)} distinct values in one batch"
        )
    return series.iloc[0]


def _register_jvm_udfs(spark, prefix: str, passphrase: bytes, iterations: int) -> None:
    jar = mask_udfs_jar()  # raises, naming the missing compiler, without javac
    mask_udfs = spark._jvm.sparkgraft.MaskUdfs
    if not isinstance(mask_udfs, JavaClass):
        raise MaskDataCodecError(
            f"{jar} is not on this session's classpath: start the session with get_spark"
        )
    mask_udfs.register(spark._jsparkSession, prefix, bytearray(passphrase), iterations)


def register_udfs(
    spark: SparkSession,
    codec: Codec | None = None,
    passphrase: bytes | None = None,
    prefix: str = "",
) -> Codec:
    """Register the six reference mask functions and ``mask_credit_card`` on
    this session (reference registration: MaskDataPlugin.scala:60-65).

    ``prefix`` registers the family under alternate names (e.g.
    ``pbkdf2_mask_string``) so one session can carry several codec bindings
    side by side — re-registering the canonical names would race against
    lazily-evaluated plans built under the previous binding.

    Under the ``HmacSHA512`` codec the functions are JVM UDFs
    (``MaskUdfs.java``, on the classpath of every ``get_spark`` session) with
    per-row parameters; under every other codec they are the pandas UDFs
    below, which take literal parameters only."""
    codec = codec or get_codec()
    passphrase = passphrase or get_passphrase()
    if type(codec) is HmacSHA512:
        _register_jvm_udfs(spark, prefix, passphrase, codec.stretch_iterations)
        return codec

    def _mask_string_batch(length, alphabet, fmt, deterministic, values: pd.Series):
        kernel = partial(_mask_strings, codec, passphrase, length, alphabet, fmt, deterministic)
        return _mask_batch(values, deterministic, kernel)

    @pandas_udf(StringType())
    def mask_string(length, deterministic, value):
        return _mask_string_batch(
            int(_const(length)), DEFAULT_ALPHABET, None, bool(_const(deterministic)), value
        )

    @pandas_udf(StringType())
    def mask_string_alphabet(length, alphabet, deterministic, value):
        return _mask_string_batch(
            int(_const(length)), str(_const(alphabet)), None, bool(_const(deterministic)), value
        )

    @pandas_udf(StringType())
    def mask_string_alphabet_format(length, alphabet, fmt, deterministic, value):
        return _mask_string_batch(
            int(_const(length)),
            str(_const(alphabet)),
            str(_const(fmt)),
            bool(_const(deterministic)),
            value,
        )

    @pandas_udf(DateType())
    def mask_date(range_, deterministic, value):
        r, det = int(_const(range_)), bool(_const(deterministic))
        return _mask_batch(value, det, partial(_mask_dates, codec, passphrase, r, det))

    @pandas_udf(TimestampType())
    def mask_timestamp(range_, deterministic, value):
        r, det = int(_const(range_)), bool(_const(deterministic))
        kernel = partial(_mask_timestamps, codec, passphrase, r, det)
        return _mask_batch(value, det, kernel, "datetime64[ns]", np.datetime64("NaT"))

    @pandas_udf(DecimalType(38, 18))
    def mask_decimal(range_, deterministic, value):
        r, det = _const(range_), bool(_const(deterministic))
        if r is not None and not isinstance(r, Decimal):
            r = Decimal(str(r))
        return _mask_batch(value, det, partial(_mask_decimals, codec, passphrase, r, det))

    @pandas_udf(StringType())
    def mask_credit_card(deterministic, value):
        det = bool(_const(deterministic))
        return _mask_batch(value, det, partial(_mask_cards, codec, passphrase, det))

    # deterministic=false returns SecureRandom bytes → the functions must be
    # nondeterministic or Catalyst may common-subexpression-eliminate calls.
    for name, fn in (
        ("mask_string", mask_string),
        ("mask_string_alphabet", mask_string_alphabet),
        ("mask_string_alphabet_format", mask_string_alphabet_format),
        ("mask_date", mask_date),
        ("mask_timestamp", mask_timestamp),
        ("mask_decimal", mask_decimal),
        ("mask_credit_card", mask_credit_card),
    ):
        spark.udf.register(prefix + name, fn.asNondeterministic())
    return codec
