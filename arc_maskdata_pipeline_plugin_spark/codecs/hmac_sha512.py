"""HmacSHA512 codec — an ADDITIVE fast codec (not in the reference).

The reference's per-row Argon2id at production cost (64 MiB, t=4) is the
dominant masking cost (SURVEY.md §4). For 100 TB-scale masking where
per-value memory-hard KDFs are economically impossible, this codec stretches
the passphrase ONCE (PBKDF2-SHA512, 262,144 iterations) and then computes a
single HMAC-SHA512 per value. Security model: masking strength degrades from
per-value KDF to keyed-PRF under a KDF-stretched key — appropriate when the
passphrase has adequate entropy, which the 64-256 char requirement enforces.

The registered mask functions under this codec do not run this class: they
are JVM UDFs (``functions/MaskUdfs.java``) that stretch once per JVM per
(salt, iterations) and keep keyed ``Mac`` state per thread. This class is the
per-value reference they are tested against, and it keys the FPE functions.
Here the stretched key is cached per Python process (bounded, keyed on salt
and iterations) next to an HMAC object already keyed with it; each value's
HMAC starts from a copy of that state. Neither is ever a codec attribute, so
a pickled codec carries no key material.
"""

from __future__ import annotations

import functools
import hashlib
import hmac

from . import Codec, DEFAULT_HASH_LENGTH, _env_int, utf8_chars


@functools.lru_cache(maxsize=16)
def _stretch(salt: bytes, iterations: int) -> bytes:
    return hashlib.pbkdf2_hmac("sha512", salt, salt, iterations, DEFAULT_HASH_LENGTH)


@functools.lru_cache(maxsize=16)
def _keyed(salt: bytes, iterations: int) -> hmac.HMAC:
    return hmac.new(_stretch(salt, iterations), digestmod=hashlib.sha512)


class HmacSHA512(Codec):
    name = "HmacSHA512"
    DEFAULT_STRETCH_ITERATIONS = 262144

    def __init__(self):
        self.stretch_iterations = _env_int(
            "ETL_CONF_MASK_DATA_HMAC_STRETCH_ITERATIONS",
            self.DEFAULT_STRETCH_ITERATIONS,
        )

    def params(self) -> str:
        return f"HmacSHA512(stretch={self.stretch_iterations})"

    def encrypt(self, value_chars: str, salt: bytes) -> bytes:
        h = _keyed(salt, self.stretch_iterations).copy()
        h.update(utf8_chars(value_chars))
        return h.digest()
