"""SparkSession construction with scale-aware defaults.

Centralizes the configs every entry point needs:

- AQE on (runtime re-planning, skew-join handling, partition coalescing)
- UTC session timezone (parity with the DuckDB oracle's naive timestamps)
- ``spark.sql.legacy.parquet.nanosAsLong`` so the ``events`` table's
  ``timestamp[ns]`` column is readable at all (Spark 4 otherwise raises
  PARQUET_TYPE_ILLEGAL); the loader converts ns→µs explicitly.
- shuffle partitions sized from the local core count; on a real cluster
  this would be set to ~2-3× total executor cores and AQE coalesces.
- a fork-free local file system. No ``libhadoop`` is installed, so
  Hadoop's stock ``RawLocalFileSystem`` starts one ``chmod`` process per
  file or directory it creates and one ``readlink`` process per
  link-status lookup (every ``FileContext`` rename). A streaming
  micro-batch's offset, commit and state-store files cost ~65 such
  processes. :mod:`parquet_stream_writer_spark.jvm` does the same work
  through ``java.nio``; :func:`get_session` puts its jar on the driver
  classpath and registers it for the ``file`` scheme. File modes,
  ``.crc`` sidecars and rename semantics are unchanged.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from parquet_stream_writer_spark import jvm

#: Configs that are safe to (re)apply on an existing session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The driver harness owns its own SparkSession; query entry points call
    this so reads of ``events`` (ns timestamps) and oracle comparisons
    (UTC) behave identically there. Such a session keeps stock Hadoop
    local-file I/O (see the module docstring): a running JVM cannot take
    a new classpath entry, so only :func:`get_session` installs the
    fork-free file system.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable on this build — keep going; loaders degrade
            # gracefully (see sources.load_events).
            pass
    return spark


def _local_fs_confs() -> dict[str, str]:
    """Confs installing the fork-free ``file://`` file system.

    Empty when this process already runs a JVM that cannot load the
    classes (one started without the jar): the JVM's classpath is fixed
    at launch, and naming a missing class would break every file access.
    """
    running = SparkContext._jvm
    if running is not None and not running.org.apache.spark.util.Utils.classIsLoadable(
        jvm.FILE_SYSTEM_CLASS
    ):
        return {}
    return {
        "spark.driver.extraClassPath": str(jvm.JAR),
        "spark.hadoop.fs.file.impl": jvm.FILE_SYSTEM_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": jvm.ABSTRACT_FILE_SYSTEM_CLASS,
    }


def get_session(app_name: str = "parquet-stream-writer-spark") -> SparkSession:
    """Build (or fetch) a local session sized from the environment.

    ``SPARK_GRAFT_CPUS`` controls parallelism (default: all cores), the
    same knob the benchmark driver uses.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
    )
    for key, value in {**RUNTIME_CONFS, **_local_fs_confs()}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
