"""Session factory (reference parity: I2, SURVEY.md §2.12).

The reference builds sessions with S3A + Iceberg catalog conf and AQE
enabled (``etls_raw/main.py:68-117``,
``spark/conf/spark-defaults-development.conf:31-33``). We keep the AQE
posture, fix its unit-less tuning bugs (``minPartitionSize=32`` →
``32m``, ``skewedPartitionThresholdInBytes=300`` → ``256m``), and pin
the session timezone to UTC so results hash-compare cleanly against
DuckDB oracles.

At cluster scale the same builder works unchanged — only ``master`` and
the memory/shuffle knobs move to ``spark-submit`` conf.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Local-mode defaults. shuffle.partitions=32, the AQE floor (r11) and
# the InferFiltersFromGenerate figure were measured on a 32-core host
# (local[32]); the call-site capture and worker daemon figures on a
# 4-core host, where 32 partitions are 8x the cores (8 vs 32 moved warm
# builds of five queries by 4-12 %, not interleaved: no lever alone).
# On a real cluster these are overridden by spark-submit conf;
# shuffle.partitions should be ~2-3x total executor cores (AQE
# coalesces the excess at runtime).
_LOCAL_DEFAULTS: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalescing floor (r11): 4m made every sub-~128m shuffle
    # collapse to 1-2 post-shuffle tasks, serializing CPU-dense window/
    # aggregate stages onto one core. 256k keeps such stages parallel up
    # to shuffle.partitions; the floor binds ONLY when
    # totalBytes/parallelism < 256k — at production scale shuffle
    # partitions are 100s of MB and the target size term dominates, so
    # this floor is inert there (pass get_spark's extra_conf if a
    # deployment wants the large-floor behavior back). Measured
    # interleaved A/B at sf0.1: headline 1.99 -> 1.52 s, core50
    # ~5.5-6.2 -> ~3.6-4.4 s.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
    "spark.sql.session.timeZone": "UTC",
    # pinned, not inherited: Spark 4 defaults ANSI on, the reference's 3.5 off
    "spark.sql.ansi.enabled": "true",
    # PySpark 4 wraps every Column and functions call in a call-site
    # capture (getActiveSession, conf.get, PySparkCurrentOrigin.set and
    # clear over py4j, plus a Python stack walk). Building one
    # doc_ingest batch's parse plan (24 PDFs, 4 cores) took ~7,000-8,000
    # py4j round-trips with it on and ~2,800-3,800 with it off, and
    # ~0.34 -> ~0.16 s of Python client CPU once warm. Runtime
    # errors keep their SQL context but no longer name the Python line;
    # pass extra_conf to get_spark to turn it back on while debugging
    # (PySpark reads the flag once per process).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Workers start through worker_daemon, which takes pyspark.zip and
    # the Python-free spark-core jar off their path before importing
    # pyspark. Each task's importlib.invalidate_caches() then costs
    # ~1 ms instead of 140-190 ms (4 cores); see worker_daemon.py.
    "spark.python.daemon.module": "fintrack_etl_spark.worker_daemon",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.files.maxRecordsPerFile": "1000000",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # InferFiltersFromGenerate inserts size(e) > 0 below every explode;
    # PushDownPredicate then substitutes computed aliases into that
    # predicate with no cost model, so exploding a COMPUTED array
    # (shingles, n-grams, sub-fingerprints) plants a filter at the scan
    # that re-derives the whole array expression — per element, on the
    # interpreted higher-order path. Measured: x23 decontamination
    # 65.7 s -> 5 s at sf0.1 with the rule off. The rule only ever
    # saves exploding already-empty arrays, which our operators guard
    # structurally (total expressions returning array()).
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    "spark.ui.enabled": "false",
    # The console progress bar floods stderr with \r-frames; under the
    # driver's 2,000-byte tail capture one slow stage erases the bench
    # JSON entirely (BENCH_r04: rc=124, parsed null). Static conf — must
    # be set at session build, not via spark.conf.set.
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
}


def _workers_import_package() -> bool:
    """Whether a local Python worker, started in this process's working
    directory with its ``PYTHONPATH``, can import this package, and so
    start ``worker_daemon``."""
    root = Path(__file__).resolve().parent.parent
    path = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(p and Path(p).resolve() == root for p in path)


def get_spark(
    app_name: str = "fintrack_etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster pass ``None`` with master supplied by spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_LOCAL_DEFAULTS)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        conf["spark.driver.memory"] = mem
    elif master and master.startswith("local"):
        # Spark's local-mode default is a 1 GiB driver JVM — with 32
        # concurrent tasks the unified memory pool cannot hold even one
        # modest shuffle per task (observed UNABLE_TO_ACQUIRE_MEMORY at
        # 6M cached rows). Size it like the executor it actually is.
        conf["spark.driver.memory"] = "8g"
    if not (master and master.startswith("local") and _workers_import_package()):
        # a worker that cannot import the package cannot start its daemon
        del conf["spark.python.daemon.module"]
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
