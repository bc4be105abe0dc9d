"""SparkSession factory tuned for this engine.

local[N] in tests/bench; the same settings are what we'd submit with
spark-submit on a real cluster (AQE, Arrow, UTC, sane shuffle partitions,
and RocksDB as the state store of every stream, tests and benchmarks too).

Two opt-ins, both off by default: SPARK_GRAFT_SCRATCH routes scratch to a
fast local path, and SPARK_GRAFT_WARM=1 makes ``get_spark`` run the one
session warm-up (``_warm_session``, which jobs/run_pipeline.py runs on its
own by default).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_NAME = os.path.basename(_PKG_DIR)
# off-heap state, no worse than the HDFS-backed store on live p50/p99
# (BENCH/engine_sweep_r12.json); a checkpoint's offset log pins its store
STATE_STORE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def package_zip() -> str:
    """Zip this package for shipping to Python workers — the programmatic
    equivalent of ``spark-submit --py-files`` (north_rule requirement).
    Workers unpickle UDFs by module reference, so the package must be
    importable on every worker, not just the driver."""
    out = os.path.join(tempfile.gettempdir(), f"{_PKG_NAME}.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(_PKG_NAME, os.path.relpath(full, _PKG_DIR))
                    zf.write(full, rel)
    return out


def iceberg_conf(warehouse: str, catalog: str = "local") -> dict[str, str]:
    """Spark conf for a local Hadoop-backed Iceberg catalog. Requires the
    iceberg-spark-runtime jar on the classpath (NOT in this sandbox image —
    pass via --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13 on
    a real cluster); the conf itself is inert until an iceberg table is
    touched, so it is safe to set unconditionally."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }


def _fast_scratch() -> str | None:
    """Scratch root for shuffle files, staging parquet and stream
    checkpoints: the path SPARK_GRAFT_SCRATCH names, or None (unset, "",
    "0" or "off") to keep the system defaults. Opt-in only — shuffle data
    never lands in RAM-backed /dev/shm unless the operator asks for it.

    Point it at fast local storage: on a disk-backed /tmp, CPU-heavy stages
    can stall behind dirty-page writeback of the streaming queries'
    staging/checkpoint/state files (the LSH verify stage measured 4-8x
    slower mid-suite than isolated, and tmpfs scratch removed the stall).
    On a real cluster the same knob points spark.local.dir at local NVMe
    (guide §2.1: local disk bandwidth is often the tighter shuffle
    limit)."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    return None if env in (None, "", "0", "off") else env


# Sessions already warmed (keyed by application id) — getOrCreate can hand
# the same JVM back many times; the warm-up must run once per JVM, not once
# per call.
_WARMED: set[str] = set()


def _warm_session(spark: SparkSession, n_threads: int) -> None:
    """Touch every Python worker with the ordered-emit code path once, so
    the first timed query measures steady-state throughput instead of
    ``n_threads`` cold pandas/Arrow worker starts (real clusters run warm,
    long-lived executors). Runs one pandas ``ordered_emit_batch`` pass and
    one ``groupBy`` count over ``n_threads * 4`` synthetic single-turn
    conversations; reads no input table, leaves no view or query behind.

    At most once per application. jobs/run_pipeline.py runs it by default
    (``--no-warmup`` skips it); ``get_spark`` runs it only under
    SPARK_GRAFT_WARM=1."""
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED:
        return
    _WARMED.add(app_id)
    import pandas as pd
    from pyspark.sql import functions as F

    from .operators.ordered_batch import ordered_emit_batch

    pdf = pd.DataFrame(
        {
            "conv_id": [f"warm-{i}" for i in range(n_threads * 4)],
            "turn_idx": [1] * n_threads * 4,
            "role": ["user"] * n_threads * 4,
            "text": ["w"] * n_threads * 4,
            "tool": [None] * n_threads * 4,
            "ts": pd.Timestamp("2026-01-01"),
        }
    )
    df = spark.createDataFrame(pdf).repartition(n_threads, "conv_id")
    ordered_emit_batch(df, impl="pandas").count()
    df.groupBy("conv_id").agg(F.count("*")).count()


def get_spark(
    app_name: str = "ordered-transcripts",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[N] → N executor threads; shuffle width should match, not 200.
    n_threads = cpus if "local[" not in master else int(
        master.split("[")[1].rstrip("]").replace("*", str(os.cpu_count() or 8))
    )
    shuffle_partitions = shuffle_partitions or max(n_threads, 8)

    scratch = _fast_scratch()
    if scratch:
        os.makedirs(scratch, exist_ok=True)
        # spark.local.dir is read once at JVM launch (a no-op on an already
        # running session); tempfile.tempdir routes the engine's staging
        # dirs and temporary stream checkpoints to the same fast scratch.
        tempfile.tempdir = scratch
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
        .config("spark.sql.streaming.stateStore.providerClass", STATE_STORE_PROVIDER)
    )
    if scratch:
        b = b.config("spark.local.dir", os.path.join(scratch, "local"))
    if iceberg_warehouse:
        for k, v in iceberg_conf(iceberg_warehouse).items():
            b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())
    if os.environ.get("SPARK_GRAFT_WARM") == "1":
        _warm_session(spark, n_threads)
    return spark
