"""The benchmark's workloads.

Each workload generates its inputs from the seed during set-up, then offers
the operations of one pass. An operation is timed from the call into the
engine until its result is materialized; its correctness check runs
afterwards, outside the timed region.

* ``mask_pipeline``: the paper's Arc pipeline (extract -> typing -> mask ->
  load) over a generated all-string customer CSV, one pipeline run per pass.
* ``iterative_mix``: four registered queries whose time goes to many small
  Spark jobs.

The query mix compares every result with its DuckDB oracle answer; the
masking pipeline checks row count, value formats, null preservation and a
digest that must repeat on every pass and every run with the same seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np

import datagen

MASK_ROWS = 60_000
MASK_PARTS = 4
ITERATIVE_SF = 0.001

# One each of: graph rounds, tokenizer trainer, connected-components star
# rounds, Structured Streaming. The tokenizer trainer and the star rounds
# are unigram training and entity resolution because the DuckDB oracles of
# BPE training and evidence clustering take 14 s and 25 s per run at this
# scale. They run in this fixed order: whichever query runs first pays most
# of the cold pass's start-up, and that share differs by up to 3x between
# these queries.
ITERATIVE_QUERIES = [
    "q_pagerank_suppliers",
    "q_unigram_train_vocab",
    "q_entity_resolution",
    "q_stream_session_window",
]

PACKAGE = "arc_maskdata_pipeline_plugin_spark"


def reset_engine_state() -> None:
    """Drop the engine's cross-query memos before a pass: ``session_reset()``
    when the package offers one, else every loaded ``_TRAIN_MEMO`` dict."""
    import arc_maskdata_pipeline_plugin_spark as pkg

    for mod_name in (PACKAGE, PACKAGE + ".cache", PACKAGE + ".session"):
        reset = getattr(sys.modules.get(mod_name, pkg), "session_reset", None)
        if callable(reset):
            reset()
            return
    for name, mod in list(sys.modules.items()):
        memo = getattr(mod, "_TRAIN_MEMO", None) if name.startswith(PACKAGE + ".plans.") else None
        if isinstance(memo, dict):
            memo.clear()


def release_state(spark) -> None:
    """Release query-persisted frames and the session cache between passes."""
    from arc_maskdata_pipeline_plugin_spark.cache import release_persisted

    release_persisted()
    spark.catalog.clearCache()


class QueryMix:
    """Registered queries over a generated star schema, in list order."""

    # The first warm pass still runs 10-30% slower than the next ones (the
    # JVM is warming up), and whole passes slow down by up to 40% when the
    # machine is busy; with four, the median is that of the two middle ones.
    warm_passes = 4

    def __init__(self, name: str, queries: list[str], sf: float):
        self.name = name
        self.queries = queries
        self.sf = sf
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}

    def setup(self, spark, tmp: str, seed: int) -> None:
        self.sf_dir = os.path.join(tmp, "star")
        self.table_rows = datagen.write_star_schema(self.sf_dir, seed, self.sf)
        self.input_rows = sum(self.table_rows.values())

    def describe(self) -> dict:
        return {"sf": self.sf, "table_rows": self.table_rows, "queries": self.queries}

    def prepare(self) -> None:
        """DuckDB oracle answers, once per process, outside every timing."""
        import __spark_entry__ as entry
        from oracle_check import canonical_rows, duckdb_run

        oracles = entry.oracle_sql()
        self.registry = entry.queries()
        for q in self.queries:
            pdf = duckdb_run(oracles[q], self.sf_dir)
            self.expected[q] = (sorted(pdf.columns), canonical_rows(pdf))

    def pass_ops(self, pass_no: int) -> list[str]:
        return list(self.queries)

    def run_op(self, spark, tracer, name: str):
        with tracer.span("plans.build"):
            df = self.registry[name](spark, self.sf_dir)
        if tracer.active:
            with tracer.span("spark.catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.action"):
            return df.toPandas()

    def check(self, name: str, pdf) -> bool:
        from oracle_check import canonical_rows

        cols, rows = self.expected[name]
        return sorted(pdf.columns) == cols and canonical_rows(pdf) == rows

    def once_per_run_checks(self, spark) -> list[tuple[str, bool]]:
        return []


SCHEMA = [
    {"name": "custkey", "type": "long", "nullable": False},
    {
        "name": "name", "type": "string", "trim": True, "nullableValues": [""],
        "metadata": {"pii": True, "mask": {"treatments": ["mask_string(16, true, ${value})"]}},
    },
    {
        "name": "phone", "type": "string",
        "metadata": {"mask": {"treatments": [
            "mask_string_alphabet_format(16, '0123456789', 'xx-xxx-xxx-xxxx', true, ${value})"
        ]}},
    },
    {
        "name": "signup_date", "type": "date", "formatters": ["uuuu-MM-dd"],
        "metadata": {"mask": {"treatments": ["mask_date(365, true, ${value})"]}},
    },
    {
        "name": "last_login", "type": "timestamp", "timezoneId": "UTC",
        "formatters": ["uuuu-MM-dd HH:mm:ss"],
        "metadata": {"mask": {"treatments": [
            "date_trunc('HOUR', ${value})", "mask_timestamp(30, true, ${value})",
        ]}},
    },
    {
        "name": "acctbal", "type": "decimal", "precision": 12, "scale": 2,
        "nullableValues": [""],
        "metadata": {"mask": {"treatments": [
            "mask_decimal(CAST(100.0 AS DECIMAL(5,1)), true, ${value})"
        ]}},
    },
    {
        "name": "segment", "type": "string",
        "metadata": {"mask": {"treatments": ["mask_string(8, true, ${value})"]}},
    },
]

HOCON = """
stages = [
  {{
    type = DelimitedExtract
    name = "extract customers"
    environments = [production, test]
    inputURI = "{csv_dir}"
    outputView = customer_raw
    header = true
  }}
  {{
    type = TypingTransform
    name = "type customers"
    environments = [production, test]
    schema = "{schema}"
    inputView = customer_raw
    outputView = customer_typed
  }}
  {{
    type = MaskDataTransform
    name = "mask customers"
    environments = [production, test]
    inputView = customer_typed
    outputView = customer_masked
  }}
  {{
    type = ParquetLoad
    name = "load masked customers"
    environments = [production, test]
    inputView = customer_masked
    outputURI = "{out}"
  }}
]
"""

STAGE_SPANS = {
    "DelimitedExtract": "operators.extract",
    "TypingTransform": "operators.typing",
    "MaskDataTransform": "operators.mask",
    "ParquetLoad": "operators.load",
}

FORMATS = {
    "name": r"[a-zA-Z]{16}",
    "phone": r"\d{2}-\d{3}-\d{3}-\d{4}",
    "segment": r"[a-zA-Z]{8}",
}


class MaskPipeline:
    """One Arc pipeline run per pass: CSV -> typed -> masked -> parquet."""

    name = "mask_pipeline"
    # One warm pass spread 24-25% over ten seeds on a shared 4-core machine;
    # the first and second warm pass agree to a few percent.
    warm_passes = 2

    def __init__(self, rows: int = MASK_ROWS, parts: int = MASK_PARTS):
        self.rows = rows
        self.parts = parts
        self.digests: list[str] = []

    def setup(self, spark, tmp: str, seed: int) -> None:
        from arc_maskdata_pipeline_plugin_spark.functions.masking import register_udfs

        register_udfs(spark)
        self.seed = seed
        self.tmp = tmp
        self.csv_dir = os.path.join(tmp, "customer_csv")
        self.summary = datagen.write_customer_csv(self.csv_dir, seed, self.rows, self.parts)
        self.schema_path = os.path.join(tmp, "customer_schema.json")
        with open(self.schema_path, "w") as f:
            json.dump(SCHEMA, f)
        self.input_rows = self.rows

    def describe(self) -> dict:
        return {"parts": self.parts, **self.summary}

    def prepare(self) -> None:
        cols = datagen.customer_csv_columns(self.seed, self.rows)
        order = np.argsort(cols["custkey"].astype(np.int64))
        self.input_cols = {c: v[order] for c, v in cols.items()}

    def pass_ops(self, pass_no: int) -> list[str]:
        return [f"pipeline-{pass_no}"]

    def run_op(self, spark, tracer, name: str):
        from arc_maskdata_pipeline_plugin_spark.operators import PipelineContext
        from arc_maskdata_pipeline_plugin_spark.plans.pipeline import Pipeline

        out = os.path.join(self.tmp, "masked", name)
        pipeline = Pipeline.from_config(
            HOCON.format(csv_dir=self.csv_dir, schema=self.schema_path, out=out)
        )
        ctx = PipelineContext(spark=spark, environment="production")
        if not tracer.active:
            pipeline.run(ctx)
            return out
        for stage in pipeline.stages:
            if stage.stage_type == "ParquetLoad":
                with tracer.span("spark.catalyst.plan"):
                    spark.table(stage.input_view)._jdf.queryExecution().executedPlan()
            with tracer.span(STAGE_SPANS[stage.stage_type]):
                stage.execute(ctx)
        return out

    def check(self, name: str, out: str) -> bool:
        import pandas as pd
        import pyarrow.parquet as pq

        df = pq.read_table(out).to_pandas().sort_values("custkey", ignore_index=True)
        shutil.rmtree(out, ignore_errors=True)
        inp = self.input_cols
        if len(df) != self.rows or not np.array_equal(df["custkey"], inp["custkey"].astype(np.int64)):
            return False
        for col, pattern in FORMATS.items():
            if not df[col].str.fullmatch(pattern).all():
                return False
        date_shift = pd.to_datetime(df["signup_date"]) - pd.to_datetime(inp["signup_date"])
        if date_shift.isna().any() or date_shift.abs().max() > pd.Timedelta(days=365):
            return False
        login, hour = df["last_login"], pd.to_datetime(inp["last_login"]).floor("h")
        if (login.dt.floor("h") != login).any():  # date_trunc('HOUR') ran first
            return False
        if (login - hour).abs().max() > pd.Timedelta(days=30):
            return False
        nulls = df["acctbal"].isna().to_numpy()
        if not np.array_equal(nulls, inp["acctbal"] == ""):
            return False
        masked = df["acctbal"][~nulls].astype(float).to_numpy()
        if np.abs(masked - inp["acctbal"][~nulls].astype(float)).max() > 100.0:
            return False
        df["acctbal"] = df["acctbal"].astype(str)
        df["signup_date"] = pd.to_datetime(df["signup_date"])
        rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
        self.digests.append(hashlib.sha256(rows.tobytes()).hexdigest())
        return self.digests[-1] == self.digests[0]

    def once_per_run_checks(self, spark) -> list[tuple[str, bool]]:
        """``q_mask_customers_pbkdf2`` against its JVM-generated literals."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as entry
        from oracle_check import canonical_rows, duckdb_run

        sf_dir = os.path.join(self.tmp, "pbkdf2_customers")
        os.makedirs(sf_dir, exist_ok=True)
        keys = np.arange(32, dtype=np.int64)
        pq.write_table(
            pa.table({"c_custkey": keys, "c_name": [f"Customer#{k:09d}" for k in keys]}),
            os.path.join(sf_dir, "customer.parquet"),
        )
        name = "q_mask_customers_pbkdf2"
        got = entry.queries()[name](spark, sf_dir).toPandas()
        want = duckdb_run(entry.oracle_sql()[name], sf_dir)
        ok = sorted(got.columns) == sorted(want.columns) and canonical_rows(got) == canonical_rows(want)
        return [(name, ok)]


WORKLOADS = {
    "mask_pipeline": MaskPipeline,
    "iterative_mix": lambda: QueryMix("iterative_mix", ITERATIVE_QUERIES, ITERATIVE_SF),
}
