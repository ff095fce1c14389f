"""arc_maskdata_pipeline_plugin_spark — a PySpark-native data-masking / ETL
analytics engine with the capabilities of tripl-ai/arc-maskdata-pipeline-plugin
(reference surveyed in SURVEY.md), rebuilt Spark-first.

Layers (SURVEY.md §7):
  * ``session``   — SparkSession factory tuned for large-scale parquet analytics.
  * ``codecs``    — key-derivation codecs (PBKDF2-HMAC-SHA512, SCrypt, Argon2id,
                    plus a fast HMAC codec) powering deterministic masking.
  * ``functions`` — the reference mask UDFs (JVM UDFs under ``HmacSHA512``,
                    Arrow-vectorized pandas UDFs under the other codecs),
                    plus text-analysis / similarity scalar helpers.
  * ``operators`` — pipeline stages (extract / typing / sql / mask / load) and
                    large-scale data ops (dedup, similarity, text, multimodal).
  * ``plans``     — declarative pipeline config → stage objects → execution.
  * ``streaming`` — Structured Streaming variants (masking is a stateless
                    projection, so batch stages run unchanged on streams).
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
