"""Key-derivation codecs powering deterministic masking.

Semantics reproduce the reference codec trait exactly
(reference: src/main/scala/ai/tripl/arc/udf/MaskDataPlugin.scala:126-154):

* deterministic: split the passphrase bytes in half → (pepper, salt);
  digest = KDF(value_chars ++ pepper_chars, salt) → 64 bytes.
* non-deterministic: 64 cryptographically random bytes; the input value is
  ignored entirely (MaskDataPlugin.scala:143-146).
* ``hash_long``: first 8 digest bytes as a **signed big-endian** long
  (``ByteBuffer.getLong``, MaskDataPlugin.scala:151-153) — may be negative.

Char→byte conversion per codec mirrors the JVM implementations:
PBKDF2 (JCE PBEKeySpec) and Argon2 (BouncyCastle default converter) encode the
char[] as UTF-8; SCrypt truncates each char to its low byte
(reference: codec/SCrypt.scala:25 ``value.map(_.toByte)``).

Configuration surface (reference: MaskDataPlugin.scala:31-51):
``ETL_CONF_MASK_DATA_PASSPHRASE`` (required, 64-256 chars),
``ETL_CONF_MASK_DATA_CODEC`` (default ``Argon2``), plus per-codec
``ETL_CONF_MASK_DATA_{ARGON2,SCRYPT,PBKDF2}_*`` cost knobs.
"""

from __future__ import annotations

import os
from typing import Iterable

PASSPHRASE_ENV = "ETL_CONF_MASK_DATA_PASSPHRASE"
CODEC_ENV = "ETL_CONF_MASK_DATA_CODEC"
DEFAULT_HASH_LENGTH = 64


class MaskDataCodecError(Exception):
    pass


def _env_int(name: str, default: int) -> int:
    v = os.environ.get(name)
    return int(v) if v is not None else default


class Codec:
    """Base codec. Subclasses define ``name`` and ``encrypt``.

    Instances are plain-attribute objects so they pickle into UDF closures and
    re-initialise cheaply on each executor (the reference notes its codecs are
    re-initialised per executor, MaskDataPlugin.scala:40).

    ``hash_batch(values, deterministic, passphrase)`` is the batch entry the
    pandas mask UDFs (every codec but ``HmacSHA512``, whose mask functions
    run in the JVM) call once per Arrow batch: it returns ``hash`` of each
    value, in order, byte for byte, and in non-deterministic mode draws fresh
    random bytes for every value (duplicates included). The default loops
    over ``hash``; a codec overrides it only to hoist per-call set-up out of
    the loop.
    """

    name: str = "?"

    def params(self) -> str:
        return self.name

    def encrypt(self, value_chars: str, salt: bytes) -> bytes:
        raise NotImplementedError

    def hash(self, value: str, deterministic: bool, passphrase: bytes) -> bytes:
        if deterministic:
            half = len(passphrase) // 2
            pepper, salt = passphrase[:half], passphrase[half:]
            # pepper bytes → chars exactly like Scala's Byte.toChar (0..255 →
            # U+0000..U+00FF), i.e. latin-1.
            return self.encrypt(value + pepper.decode("latin-1"), salt)
        return os.urandom(DEFAULT_HASH_LENGTH)

    def hash_batch(
        self, values: Iterable[str], deterministic: bool, passphrase: bytes
    ) -> list[bytes]:
        return [self.hash(v, deterministic, passphrase) for v in values]

    def hash_long(self, value: str, deterministic: bool, passphrase: bytes) -> int:
        return digest_long(self.hash(value, deterministic, passphrase))


def digest_long(digest: bytes) -> int:
    """First 8 digest bytes as a signed big-endian long (``ByteBuffer.getLong``)."""
    return int.from_bytes(digest[:8], "big", signed=True)


def utf8_chars(value_chars: str) -> bytes:
    """JCE/BouncyCastle convert the password char[] to UTF-8 bytes."""
    return value_chars.encode("utf-8")


def truncated_chars(value_chars: str) -> bytes:
    """Scala ``char.toByte``: keep the low 8 bits of each UTF-16 code unit."""
    return bytes(ord(c) & 0xFF for ch in value_chars for c in _utf16_units(ch))


def _utf16_units(ch: str):
    cp = ord(ch)
    if cp < 0x10000:
        yield ch
    else:  # surrogate pair, as the JVM would see it
        cp -= 0x10000
        yield chr(0xD800 + (cp >> 10))
        yield chr(0xDC00 + (cp & 0x3FF))


def get_passphrase() -> bytes:
    """Validate and return the masking passphrase (MaskDataPlugin.scala:34-38)."""
    msg = (
        f"MaskDataTransform environment variable '{PASSPHRASE_ENV}' must be a "
        "string of between 64 and 256 characters."
    )
    value = os.environ.get(PASSPHRASE_ENV)
    if value is None or not (64 <= len(value) <= 256):
        raise MaskDataCodecError(msg)
    return value.encode("utf-8")


def available_codecs() -> dict[str, type[Codec]]:
    from .argon2 import Argon2
    from .hmac_sha512 import HmacSHA512
    from .pbkdf2 import PBKDF2WithHmacSHA512
    from .scrypt import SCrypt

    return {
        c.name: c
        for c in (Argon2, SCrypt, PBKDF2WithHmacSHA512, HmacSHA512)
    }


def get_codec(name: str | None = None) -> Codec:
    """Resolve a codec by name (env default ``Argon2``, like the reference)."""
    codecs = available_codecs()
    if not codecs:
        raise MaskDataCodecError("No codecs found to perform deterministic data masking.")
    codec_name = name or os.environ.get(CODEC_ENV, "Argon2")
    cls = codecs.get(codec_name)
    if cls is None:
        raise MaskDataCodecError(f"'{CODEC_ENV}' codec '{codec_name}' not found.")
    return cls()
