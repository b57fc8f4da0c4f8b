"""Table loaders for the driver's parquet corpus.

All loads are plain ``spark.read.parquet`` scans — declarative, so
Catalyst pushes filters and prunes columns into the vectorized parquet
reader. A table's schema is inferred on its first read in a process
and passed back with ``.schema(...)`` after that (:func:`_read_parquet`),
since inference starts a Spark job per read. The one special case is
``events``: its ``ts`` column is parquet ``TIMESTAMP(NANOS)`` which
Spark cannot represent natively, so we read it as raw nanos
(``spark.sql.legacy.parquet.nanosAsLong``) and project an explicit
ns→µs truncation to ``timestamp_ntz``, matching what DuckDB does when
it reads the same file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from parquet_stream_writer_spark.session import apply_runtime_confs

TABLES = (
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

#: Dimension tables small enough to always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table; ``events`` gets the ns→µs projection."""
    if name == "events":
        return load_events(spark, sf_dir)
    return _read_parquet(spark, sf_dir, name)


#: Confs that change the schema Spark infers from a parquet footer.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

#: _read_parquet's memoized inferred schemas (this process only).
_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``spark.read.parquet`` of one table, inferring its schema only
    on the first read: inference starts a Spark job (~0.1 s) per call,
    a declared schema starts none. The memo key carries the path, the
    table's stat() fingerprint and every conf that changes the
    inferred types, so an in-process rewrite or conf flip re-infers."""
    path = f"{sf_dir}/{name}.parquet"
    confs = tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS)
    key = (path, table_fingerprint(sf_dir, name), confs)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def scan_parallel(spark: SparkSession, sf_dir: str, name: str, *keys: str) -> DataFrame:
    """Scan a table and spread it across all cores before a
    compute-heavy narrow stage (tokenize/explode/hash).

    The driver's test files are single-row-group parquet, so the raw
    scan is one input split no matter what ``maxPartitionBytes`` says
    — row-multiplying work downstream would run on one thread. At
    real scale the scan already has many splits, so the exchange is
    pure overhead — the repartition only fires when the scan's split
    count is below ``defaultParallelism`` (checked from the physical
    scan's partitioning, a file-listing-only operation — no job).
    """
    df = load_table(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    # Memoize the split-count probe: the .rdd conversion costs tens of
    # ms of driver time per call, and iterative queries re-scan the
    # same table many times. The key carries everything the split
    # count depends on — (dir, table, parallelism), the file-split
    # confs, and a cheap stat() fingerprint of the table path — so an
    # in-process conf change or table rewrite (both happen in tests)
    # invalidates the entry instead of reusing a stale decision.
    confs = tuple(
        spark.conf.get(c, None)
        for c in ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    )
    key = (sf_dir, name, n, confs, table_fingerprint(sf_dir, name))
    enough = _SPLITS_ENOUGH.get(key)
    if enough is None:
        enough = df.rdd.getNumPartitions() >= n
        _SPLITS_ENOUGH[key] = enough
    if enough:
        return df
    return df.repartition(n, *keys) if keys else df.repartition(n)


#: scan_parallel's memoized "scan already has enough splits" probe.
_SPLITS_ENOUGH: dict[tuple, bool] = {}


def clear_scan_cache() -> None:
    """Drop all memoized split-count probes (test hook)."""
    _SPLITS_ENOUGH.clear()


def clear_schema_cache() -> None:
    """Drop all memoized inferred schemas (test hook)."""
    _SCHEMAS.clear()


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """Cheap identity fingerprint of a table's parquet path: (name,
    mtime_ns, size) of the file, or of every direct child for a
    directory layout. Pure ``stat()`` — no Spark job, no file reads —
    so it is safe to call on every memo lookup; a rewrite of the
    table in-process changes the fingerprint and invalidates any
    memoized decision keyed on it."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(path):
            entries = []
            with os.scandir(path) as it:
                for e in it:
                    s = e.stat()
                    entries.append((e.name, s.st_mtime_ns, s.st_size))
            return tuple(sorted(entries))
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ("missing",)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with ``ts`` as microsecond ``timestamp_ntz``.

    ``ts div 1000`` is integer division (no double round-trip — ns since
    epoch exceeds double's 53-bit mantissa), then ``timestamp_micros``
    + NTZ cast under the UTC session timezone. Truncation (not
    rounding) matches DuckDB's ns→µs read behavior.
    """
    apply_runtime_confs(spark)
    df = _read_parquet(spark, sf_dir, "events")
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def read_csv(
    spark: SparkSession,
    path: str,
    schema,
    *,
    header: bool = True,
    strict: bool = True,
    **options,
) -> DataFrame:
    """CSV source with a declared schema (never inferred — matching
    the reference's fixed-schema contract, writer.py:119).

    ``strict=True`` uses FAILFAST mode so malformed rows raise (the
    Arrow `ArrowInvalid` analog, reference writer.py:216); otherwise
    PERMISSIVE nulls them. Schema inference is deliberately not
    offered: at 100 TB an inference pass is a full extra scan, and a
    drifting inferred schema breaks downstream casts."""
    reader = (
        spark.read.format("csv")
        .schema(schema)
        .option("header", str(header).lower())
        .option("mode", "FAILFAST" if strict else "PERMISSIVE")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema,
    *,
    strict: bool = True,
    **options,
) -> DataFrame:
    """JSON-lines source with a declared schema (never inferred).

    Same contract as :func:`read_csv`: FAILFAST surfaces corrupt
    records as errors, PERMISSIVE nulls them. One JSON object per
    line is the only splittable JSON layout — multiline JSON forces
    one task per file, which is why training corpora ship as JSONL."""
    reader = (
        spark.read.format("json")
        .schema(schema)
        .option("mode", "FAILFAST" if strict else "PERMISSIVE")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)
