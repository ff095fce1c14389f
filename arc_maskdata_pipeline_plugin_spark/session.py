"""SparkSession factory.

Defaults are chosen for a large multi-executor cluster reading ~100 TB of
parquet, while remaining correct on ``local[N]``:

* AQE on (runtime coalescing, skew-join splitting, dynamic join strategy) —
  at 100 TB the right shuffle partition count is data-dependent, so we set a
  high static ``spark.sql.shuffle.partitions`` as an upper bound and let AQE
  coalesce down.
* Arrow enabled — every Python-side op in this engine is Arrow-batched
  (pandas UDFs); row-at-a-time Python UDFs are banned in the hot path.
* UTC session timezone — the reference pins UTC for deterministic
  date/timestamp masking (reference: src/test/.../MaskDataTransformSuite.scala:44).
* 128 MB parquet split size — the Spark default; kept explicit because the
  bench harness may override it per scale factor.
* The mask-UDF jar on ``spark.jars`` — the ``HmacSHA512`` mask functions run
  as JVM UDFs compiled from ``functions/MaskUdfs.java``. The jar is built
  with the machine's ``javac`` against ``pyspark/jars/*`` on the first
  ``get_spark`` per machine and cached under
  ``${XDG_CACHE_HOME:-~/.cache}/spark-graft/``, keyed by the source and the
  PySpark version. Without ``javac`` the session still starts; only
  registering the ``HmacSHA512`` mask functions fails.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile
from pathlib import Path

import pyspark
from pyspark.sql import SparkSession

from .codecs import MaskDataCodecError

MASK_UDFS_SOURCE = Path(__file__).parent / "functions" / "MaskUdfs.java"


def mask_udfs_jar_path() -> Path:
    """Where the jar compiled from ``MASK_UDFS_SOURCE`` is cached."""
    key = hashlib.sha256(MASK_UDFS_SOURCE.read_bytes() + pyspark.__version__.encode())
    cache = Path(os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache")
    return cache / "spark-graft" / f"mask-udfs-{key.hexdigest()[:16]}.jar"


def mask_udfs_jar() -> str:
    """The mask-UDF jar, compiled once per machine; raises
    ``MaskDataCodecError`` when it cannot be built."""
    jar = mask_udfs_jar_path()
    if jar.exists():
        return str(jar)
    javac = shutil.which("javac")
    if javac is None:
        raise MaskDataCodecError(
            "the HmacSHA512 mask functions run as JVM UDFs compiled from "
            f"{MASK_UDFS_SOURCE.name}, which needs a Java compiler: no 'javac' on PATH"
        )
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    try:
        jar.parent.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=jar.parent) as tmp:
            classes = Path(tmp, "classes")
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-d", str(classes),
                 "-cp", classpath, str(MASK_UDFS_SOURCE)],
                check=True, capture_output=True, text=True,
            )
            part = Path(tmp, jar.name)
            with zipfile.ZipFile(part, "w") as z:
                for cls in sorted(classes.rglob("*.class")):
                    z.write(cls, cls.relative_to(classes).as_posix())
            os.replace(part, jar)  # concurrent builders each land a whole jar
    except subprocess.CalledProcessError as e:
        raise MaskDataCodecError(f"javac failed on {MASK_UDFS_SOURCE}:\n{e.stderr}") from e
    except OSError as e:
        raise MaskDataCodecError(f"cannot build the mask-UDF jar at {jar}: {e}") from e
    return str(jar)


def get_spark(
    app_name: str = "arc-maskdata-pipeline-plugin-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    On a real cluster, pass ``master=None`` and let spark-submit supply the
    master; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # Upper bound; AQE coalesces small partitions at runtime. On a
        # 1000-executor cluster this should be ~2-3x total cores (set via
        # extra_conf); locally 2x local threads keeps task overhead low.
        try:
            n = int(master.split("[")[1].rstrip("]").replace("*", "32"))
        except (IndexError, ValueError):
            n = 32
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cached plans keep their build-time shuffle partitioning unless AQE
        # is allowed to re-optimize it; without this, every small persisted
        # frame materializes at the static shuffle-partition upper bound and
        # each downstream job pays ~full-task-count scheduling overhead to
        # read a sliver (measured: a count over a 44K-row cached frame fell
        # 1.4s -> 0.3s at c32 once AQE coalesced it to size-appropriate
        # partitions). Scale-adaptive by construction: AQE sizes partitions
        # from actual bytes, so at 100 TB a big cached frame keeps its
        # parallelism while small broadcast-side frames stop fanning out.
        # (env-overridable for A/B: SPARK_GRAFT_CACHED_PLAN_AQE=false)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            os.environ.get("SPARK_GRAFT_CACHED_PLAN_AQE", "true"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Long-session hygiene (guide §5 — the driver should do almost no
        # data work, and that includes not HOARDING it): the app status
        # store retains 1000 SQL executions / job+stage UI rows even with
        # the UI off, and ContextCleaner only nudges a JVM GC every 30 min,
        # so localCheckpoint RDD blocks from completed queries pile up in
        # executor storage for the whole run. In a multi-hundred-query
        # session both grow without bound and late queries pay the GC and
        # eviction bill (measured: a contiguous late-bench cluster inflated
        # 2-4x with no plan change). Bounded retention + a 2-minute
        # periodic-GC floor keeps the session flat; both are pure
        # metadata/cleanup knobs that change no query result.
        # (env-overridable for A/B: SPARK_GRAFT_PERIODIC_GC=30min)
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "2000")
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "2min"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
    )
    conf = dict(extra_conf or {})
    try:
        jar = mask_udfs_jar()
    except MaskDataCodecError:
        pass  # register_udfs raises it when the HmacSHA512 functions are asked for
    else:
        conf["spark.jars"] = ",".join(j for j in (conf.get("spark.jars"), jar) if j)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str, register_views: bool = True):
    """Load the test star schema from ``sf_dir`` and (optionally) register
    each table as a temp view — the engine's fundamental abstraction is the
    named view over a DataFrame (reference: MaskDataTransform.scala:110,156).
    """
    dfs = {}
    for name in _TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            dfs[name] = df
            if register_views:
                df.createOrReplaceTempView(name)
    return dfs
