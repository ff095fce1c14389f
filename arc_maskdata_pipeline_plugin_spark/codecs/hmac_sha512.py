"""HmacSHA512 codec — an ADDITIVE fast codec (not in the reference).

The reference's per-row Argon2id at production cost (64 MiB, t=4) is the
dominant masking cost (SURVEY.md §4). For 100 TB-scale masking where
per-value memory-hard KDFs are economically impossible, this codec stretches
the passphrase ONCE (PBKDF2-SHA512, 262,144 iterations) and then computes a
single HMAC-SHA512 per value. The stretched key is cached per Python process
(bounded, keyed on salt and iterations): a reused Spark Python worker
stretches once for its whole life, however many mask UDF closures (one codec
copy each) its tasks unpickle. Next to each stretched key the process caches
an HMAC object already keyed with it; every value's HMAC starts from a copy
of that state instead of re-keying. Neither the key nor the keyed state is
ever a codec attribute, so a pickled codec carries no key material.
``hash_batch`` also splits the passphrase and encodes the pepper once per
batch, not once per value. Security model: masking strength
degrades from per-value KDF to keyed-PRF under a KDF-stretched key —
appropriate when the passphrase has adequate entropy, which the 64-256 char
requirement enforces.
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

    def hash_batch(self, values, deterministic, passphrase):
        if not deterministic:
            return super().hash_batch(values, deterministic, passphrase)
        half = len(passphrase) // 2
        # utf8(value + pepper chars) == utf8(value) + utf8(pepper chars)
        pepper = utf8_chars(passphrase[:half].decode("latin-1"))
        copy = _keyed(passphrase[half:], self.stretch_iterations).copy
        out = []
        for v in values:
            h = copy()
            h.update(v.encode("utf-8") + pepper)
            out.append(h.digest())
        return out
