"""The HmacSHA512 mask functions' JVM side: key hygiene in query plans, and
the mask-UDF jar that ``get_spark`` puts on ``spark.jars`` (built once per
machine with ``javac``, cached, merged with a caller's jars).

Output parity with the per-value reference lives in
``test_masking_properties.py``.
"""

from __future__ import annotations

import base64
import hashlib
import shutil
import subprocess

import pytest

from arc_maskdata_pipeline_plugin_spark import session
from arc_maskdata_pipeline_plugin_spark.codecs import MaskDataCodecError
from arc_maskdata_pipeline_plugin_spark.codecs.hmac_sha512 import HmacSHA512
from arc_maskdata_pipeline_plugin_spark.functions.masking import register_udfs

PASS = b"hygiene-passphrase-0123456789abcdefghijklmnopqrstuvwxyz-ABCDEFGH"


class _Builder:
    """Stands in for ``SparkSession.builder``: records the config it is given."""

    def __init__(self):
        self.conf = {}

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _session_conf(monkeypatch, **kwargs) -> dict:
    class FakeSession:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    return session.get_spark(**kwargs)


def test_masked_query_plan_holds_no_key_material(spark):
    codec = HmacSHA512()
    register_udfs(spark, codec, PASS, prefix="hyg_")
    df = spark.sql(
        """SELECT hyg_mask_string(16, true, v), hyg_mask_string_alphabet(8, '01', true, v),
                  hyg_mask_string_alphabet_format(8, '01', 'xx-xx', true, v),
                  hyg_mask_date(30, true, DATE'2020-01-01'),
                  hyg_mask_timestamp(30, true, TIMESTAMP'2020-01-01 00:00:00'),
                  hyg_mask_decimal(1.5, true, 2.25), hyg_mask_credit_card(true, '4111111111111111')
           FROM VALUES ('a'), ('b') AS t(v)"""
    )
    assert len(df.collect()) == 2
    plan = df._jdf.queryExecution().toString()
    assert "hyg_mask_string" in plan
    salt = PASS[len(PASS) // 2 :]
    key = hashlib.pbkdf2_hmac("sha512", salt, salt, codec.stretch_iterations, 64)
    for secret in (PASS, PASS[: len(PASS) // 2], salt):
        assert secret.decode() not in plan
    for text in (key.hex(), key.hex().upper(), base64.b64encode(key).decode(), key.decode("latin-1")):
        assert text not in plan


def test_second_get_spark_reuses_the_cached_jar_and_keeps_caller_jars(spark, monkeypatch):
    """The session fixture's ``get_spark`` built (or found) the jar: a second
    call runs no subprocess, and appends the jar to the caller's jars."""
    calls = []
    real_run = subprocess.run
    monkeypatch.setattr(subprocess, "run", lambda *a, **k: calls.append(a) or real_run(*a, **k))
    jar = str(session.mask_udfs_jar_path())
    conf = _session_conf(monkeypatch, extra_conf={"spark.jars": "hdfs:///jars/extra.jar"})
    assert conf["spark.jars"] == f"hdfs:///jars/extra.jar,{jar}"
    assert _session_conf(monkeypatch)["spark.jars"] == jar
    assert calls == []


def test_editing_the_source_changes_the_jar_path(tmp_path, monkeypatch):
    before = session.mask_udfs_jar_path()
    edited = tmp_path / session.MASK_UDFS_SOURCE.name
    shutil.copy(session.MASK_UDFS_SOURCE, edited)
    with open(edited, "a") as f:
        f.write("// edited\n")
    monkeypatch.setattr(session, "MASK_UDFS_SOURCE", edited)
    after = session.mask_udfs_jar_path()
    assert after != before and after.parent == before.parent


def test_without_javac_the_session_starts_and_hmac_registration_raises(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))  # no cached jar
    monkeypatch.setenv("PATH", str(tmp_path))  # no javac
    assert "spark.jars" not in _session_conf(monkeypatch)
    with pytest.raises(MaskDataCodecError, match="javac"):
        register_udfs(spark, HmacSHA512(), PASS, prefix="nojavac_")
