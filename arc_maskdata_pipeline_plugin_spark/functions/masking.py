"""The six reference masking functions, as Arrow-vectorized pandas UDFs.

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

Scale design: masking is a stateless projection — no shuffle. The KDF is the
per-row hot cost, so the UDFs are Arrow-batched and deterministic digests are
memoized per batch (real data repeats values; non-deterministic mode never
caches). For 100 TB jobs prefer the additive ``HmacSHA512`` codec: one
PBKDF2 stretch per passphrase and iteration count per Python worker process
(a bounded process-wide cache, never pickled with the UDF closures), then
one HMAC per value.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from decimal import Decimal

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DateType, DecimalType, StringType, TimestampType

from ..codecs import Codec, get_codec, get_passphrase

DEFAULT_ALPHABET = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"

# DECIMAL128 ≙ java.math.MathContext.DECIMAL128 (Scala BigDecimal default)
_DECIMAL128 = decimal.Context(prec=34, rounding=decimal.ROUND_HALF_EVEN)


def encode_as_string(digest: bytes, alphabet: str) -> str:
    """Byte→char mapping, bit-compatible with the reference
    (``alphabet(Math.abs(byte.toInt) % alphabet.length)``; note
    ``Math.abs(-128) = 128`` on the int-widened value)."""
    n = len(alphabet)
    return "".join(
        alphabet[abs(b - 256 if b > 127 else b) % n] for b in digest
    )


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
    digits = "".join(c for c in number if c.isdigit())
    return luhn_check_digit(digits[:-1]) == digits[-1]


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
    digits = "".join(c for c in value if c.isdigit())
    if len(digits) < 8:
        raise ValueError(
            f"'{codec.name}' mask_credit_card requires >= 8 digits, got {len(digits)}"
        )
    encoded = encode_as_string(
        codec.hash(digits, deterministic, passphrase), "0123456789"
    )
    body = digits[:6] + truncate_string(encoded, len(digits) - 7, codec.name)
    card = body + luhn_check_digit(body)
    it = iter(card)
    return "".join(next(it) if c.isdigit() else c for c in value)


def mask_decimal_value(codec, passphrase, range_: Decimal, deterministic, value):
    if value is None:
        return None
    scale = max(0, -value.as_tuple().exponent)
    first8 = int.from_bytes(codec.hash(str(value), deterministic, passphrase)[:8], "big", signed=True)
    # BigDecimal(long) / BigDecimal(Math.pow(10, scale)) under DECIMAL128
    pow10 = Decimal(math.pow(10, scale))  # exact binary value, as Java sees it
    random_decimal = _DECIMAL128.divide(Decimal(first8), pow10)
    rem = _DECIMAL128.remainder(random_decimal, range_)
    return _DECIMAL128.add(value, rem)


def _const(series: pd.Series):
    """Literal args arrive as constant Series; pull the scalar once.

    These UDFs accept LITERAL arguments only (matching how the reference's
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


def register_udfs(
    spark: SparkSession,
    codec: Codec | None = None,
    passphrase: bytes | None = None,
    prefix: str = "",
) -> Codec:
    """Register the six reference mask functions on this session
    (reference registration: MaskDataPlugin.scala:60-65).

    ``prefix`` registers the family under alternate names (e.g.
    ``pbkdf2_mask_string``) so one session can carry several codec bindings
    side by side — re-registering the canonical names would race against
    lazily-evaluated plans built under the previous binding."""
    codec = codec or get_codec()
    passphrase = passphrase or get_passphrase()

    def _mask_string_batch(length, alphabet, fmt, deterministic, values: pd.Series):
        cache: dict[str, str] = {}
        out = []
        for v in values:
            if v is None:
                out.append(None)
            elif deterministic and v in cache:
                out.append(cache[v])
            else:
                m = mask_string_value(codec, passphrase, length, alphabet, fmt, deterministic, v)
                if deterministic:
                    cache[v] = m
                out.append(m)
        return pd.Series(out, dtype="object")

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
        cache: dict = {}
        out = []
        for v in value:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                out.append(None)
            elif det and v in cache:
                out.append(cache[v])
            else:
                m = mask_date_value(codec, passphrase, r, det, v)
                if det:
                    cache[v] = m
                out.append(m)
        return pd.Series(out, dtype="object")

    @pandas_udf(TimestampType())
    def mask_timestamp(range_, deterministic, value):
        r, det = int(_const(range_)), bool(_const(deterministic))
        cache: dict = {}
        out = []
        for v in value:
            if v is None or pd.isna(v):
                out.append(None)
            elif det and v in cache:
                out.append(cache[v])
            else:
                m = mask_timestamp_value(codec, passphrase, r, det, v)
                if det:
                    cache[v] = m
                out.append(m)
        return pd.Series(out)

    @pandas_udf(DecimalType(38, 18))
    def mask_decimal(range_, deterministic, value):
        r, det = _const(range_), bool(_const(deterministic))
        if r is not None and not isinstance(r, Decimal):
            r = Decimal(str(r))
        cache: dict = {}
        out = []
        for v in value:
            if v is None:
                out.append(None)
            elif det and v in cache:
                out.append(cache[v])
            else:
                m = mask_decimal_value(codec, passphrase, r, det, v)
                if det:
                    cache[v] = m
                out.append(m)
        return pd.Series(out, dtype="object")

    @pandas_udf(StringType())
    def mask_credit_card(deterministic, value):
        det = bool(_const(deterministic))
        cache: dict = {}
        out = []
        for v in value:
            if v is None:
                out.append(None)
            elif det and v in cache:
                out.append(cache[v])
            else:
                m = mask_credit_card_value(codec, passphrase, det, v)
                if det:
                    cache[v] = m
                out.append(m)
        return pd.Series(out, dtype="object")

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
