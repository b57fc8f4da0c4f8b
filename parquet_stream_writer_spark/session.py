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
- a code-generation class cache sized to the query working set.
  Spark compiles each generated class with Janino (~9-14 ms on the
  driver thread) and keeps it in a cache capped by the static conf
  ``spark.sql.codegen.cache.maxEntries``, default 100. The 7 ``pack``
  benchmark keys use 158 distinct classes and one pass over all 296
  registry keys ~3,900 (sf0.001), so at the default every class is
  evicted before its next use and a warm pass recompiles almost all of
  them (154 of 158 for ``pack``, 6,065 of 6,069 for the registry).
  :data:`CODEGEN_CACHE_MAX_ENTRIES` keeps a full registry pass cached
  with 2x headroom: the cache is split into independent LRU segments,
  so eviction starts before the nominal cap, and AQE re-plans a few
  queries differently from run to run. A session pays only for the
  classes it keeps: after a full registry pass the JVM holds ~190 MB
  (sf0.01) to ~300 MB (sf0.1) more live memory (heap plus non-heap,
  after a full GC) than at the default cap, 50-80 KB per cached class;
  the cap bounds a long session. :func:`codegen_counters` reads the
  compile counters.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from parquet_stream_writer_spark import jvm

#: Entries of Spark's generated-class cache (static conf, set at session
#: build). One full-registry pass compiles ~3,900 distinct classes.
CODEGEN_CACHE_MAX_ENTRIES = 8192

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
    fork-free file system. It also keeps Spark's 100-entry
    generated-class cache: ``spark.sql.codegen.cache.maxEntries`` is a
    static conf, so ``spark.conf.set`` raises for it (swallowed below)
    and only a session built by :func:`get_session` gets
    :data:`CODEGEN_CACHE_MAX_ENTRIES`.
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
    )
    for key, value in {**RUNTIME_CONFS, **_local_fs_confs()}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)


def codegen_counters(spark: SparkSession) -> dict:
    """Code-generation counters of this JVM since it started.

    ``compiles`` is the number of generated classes Janino compiled
    (cache misses of Spark's generated-class cache), ``compile_ms`` their
    total compile time, and ``cache_max_entries`` the session's
    ``spark.sql.codegen.cache.maxEntries``. Spark builds the cache once
    per JVM, at its first code generation, with the conf of the session
    active then. The counters come from Spark's ``CodegenMetrics``
    source and ``CodeGenerator.compileTime``; both are per JVM, so in
    local mode, where the driver JVM generates all code, they see every
    compile, and on a cluster only the driver's (executors compile their
    own classes). Take differences between two reads to measure a span.
    """
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return {
        "compiles": int(compiles),
        "compile_ms": round(nanos / 1e6, 1),
        "cache_max_entries": int(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
    }
