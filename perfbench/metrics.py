"""Metric names and units, and the codec probes of the traced run.

``END_TO_END`` and ``PER_LAYER`` must equal the metric lists of
``BENCHMARK.json`` (the benchmark's tests check this).
"""

from __future__ import annotations

import statistics
import time

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_p50_s": "s",
    "rows_per_s": "rows/s",
    "query_p50_s": "s",
}

# summed over a pass's operations, then the median over traced warm passes
PASS_SUMMED = [
    "operators.extract_s",
    "operators.typing_s",
    "operators.mask_s",
    "operators.load_s",
    "spark.python.total_s",
    "spark.python.init_s",
    "spark.python.boot_s",
    "spark.python.bytes_sent",
    "spark.python.bytes_received",
    "spark.write.bytes",
    "spark.write.files",
    "plans.build_s",
    "plans.build_jobs",
    "spark.catalyst.plan_s",
    "spark.exec.jobs",
    "spark.exec.stages",
    "spark.exec.tasks",
    "spark.exec.run_s",
    "spark.exec.cpu_s",
    "spark.exec.gc_s",
    "spark.exec.shuffle_read_bytes",
    "spark.exec.shuffle_write_bytes",
    "spark.exec.spill_bytes",
    "spark.exec.idle_s",
]

PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "codecs.hmac_stretch_ms": "ms",
    "codecs.hmac_hash_us": "us",
    "functions.mask_string_value_us": "us",
    **{
        k: "bytes" if "bytes" in k
        else "count" if k.endswith(("files", "jobs", "stages", "tasks"))
        else "s"
        for k in PASS_SUMMED
    },
    "spark.exec.cpu_util": "ratio",
    "cache.storage_bytes": "bytes",
    "cache.rdd_blocks": "count",
    "cache.persisted": "count",
    "trace.overhead_s": "s",
}

UNITS = {**END_TO_END, **PER_LAYER}


def metric(name: str, value: float) -> dict:
    return {name: {"value": float(value), "unit": UNITS[name]}}


def probe_codecs(rounds: int = 3, values: int = 20_000) -> dict:
    """Direct calls into the codec and function layers on the driver:

    * ``codecs.hmac_stretch_ms``: the first ``HmacSHA512().hash`` on a fresh
      instance (the per-instance key stretch every task pays after
      unpickling the codec);
    * ``codecs.hmac_hash_us``: one warm ``hash`` call;
    * ``functions.mask_string_value_us``: one warm ``mask_string_value``
      call; its gap to ``hmac_hash_us`` is the encode/truncate cost.

    Each is the median of ``rounds`` measurements."""
    from arc_maskdata_pipeline_plugin_spark.codecs import get_passphrase
    from arc_maskdata_pipeline_plugin_spark.codecs.hmac_sha512 import HmacSHA512
    from arc_maskdata_pipeline_plugin_spark.functions.masking import (
        DEFAULT_ALPHABET,
        mask_string_value,
    )

    passphrase = get_passphrase()
    inputs = [f"Customer#{i:09d}" for i in range(values)]
    stretch, hashes, masks = [], [], []
    for _ in range(rounds):
        codec = HmacSHA512()
        t0 = time.perf_counter()
        codec.hash("probe", True, passphrase)
        stretch.append((time.perf_counter() - t0) * 1e3)
        t0 = time.perf_counter()
        for v in inputs:
            codec.hash(v, True, passphrase)
        hashes.append((time.perf_counter() - t0) / values * 1e6)
        t0 = time.perf_counter()
        for v in inputs:
            mask_string_value(codec, passphrase, 16, DEFAULT_ALPHABET, None, True, v)
        masks.append((time.perf_counter() - t0) / values * 1e6)
    return {
        **metric("codecs.hmac_stretch_ms", statistics.median(stretch)),
        **metric("codecs.hmac_hash_us", statistics.median(hashes)),
        **metric("functions.mask_string_value_us", statistics.median(masks)),
    }
