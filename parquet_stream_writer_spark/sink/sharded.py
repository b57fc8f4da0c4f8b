"""Distributed size-bounded Parquet writes — the cluster-scale sink.

The reference's sharded sink (``/root/reference/src/parquet_stream_writer/
writer.py:177-204``) bounds *one sequential writer's* file sizes. At
100 TB that single-writer model is the bottleneck, so this class keeps
the contract users care about — "a directory of parquet files, each
roughly ``shard_size_bytes`` of data, deterministically named
``prefix-N.parquet``, with a manifest" — but produces it with Spark's
fully distributed write path:

1. estimate uncompressed bytes/row from the plan's schema (verified
   against an Arrow sample of the head — cheap, bounded);
2. convert the byte threshold into ``maxRecordsPerFile`` so every
   *task* rolls files at the target size — no coalesce(1), no driver
   data movement, scales linearly with executors;
3. optionally rename the committed ``part-*`` files (and their
   ``.crc`` checksum sidecars) to the deterministic ``prefix-N.parquet``
   sequence (ordered by Spark's part index, so the naming is stable
   run-to-run).

On a real cluster step 3 is a metadata-only operation on the object
store/namenode; the data never moves.
"""

from __future__ import annotations

from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame

#: Fallback per-value width (bytes) for variable-length types when no
#: sample is available.
_VARLEN_DEFAULT = 32

_FIXED_WIDTHS = {
    "boolean": 1,
    "tinyint": 1,
    "smallint": 2,
    "int": 4,
    "integer": 4,
    "float": 4,
    "date": 4,
    "bigint": 8,
    "long": 8,
    "double": 8,
    "timestamp": 8,
    "timestamp_ntz": 8,
}


def estimate_row_bytes(df: DataFrame, sample_rows: int = 2048) -> float:
    """Uncompressed Arrow bytes per row, measured on a bounded head
    sample; falls back to a schema-width estimate for empty inputs."""
    sample = df.limit(sample_rows).toArrow()
    if sample.num_rows > 0:
        return max(1.0, sample.nbytes / sample.num_rows)
    width = 0
    for f in df.schema.fields:
        width += _FIXED_WIDTHS.get(f.dataType.simpleString(), _VARLEN_DEFAULT)
    return float(max(1, width))


class ShardedDatasetWriter:
    """Write a DataFrame as size-bounded, sequentially named shards.

    Example::

        ShardedDatasetWriter("/out/events", shard_size_bytes=256 << 20).write(df)
        # → /out/events/events-0.parquet, events-1.parquet, ...
    """

    def __init__(
        self,
        path: str | Path,
        *,
        shard_size_bytes: int,
        file_prefix: str | None = None,
        overwrite: bool = False,
        compression: str = "snappy",
        deterministic_names: bool = True,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        **writer_options: Any,
    ) -> None:
        if shard_size_bytes <= 0:
            raise ValueError("shard_size_bytes must be positive")
        self.path = Path(path)
        self.shard_size_bytes = shard_size_bytes
        self.file_prefix = file_prefix or self.path.name.removesuffix(".parquet")
        self.overwrite = overwrite
        self.compression = compression
        self.deterministic_names = deterministic_names
        self.partition_by = list(partition_by) if partition_by else []
        self.sort_by = list(sort_by) if sort_by else []
        self.writer_options = writer_options
        self.written_files: list[Path] = []

    def write(self, df: DataFrame) -> list[Path]:
        rows_per_file = max(1, int(self.shard_size_bytes / estimate_row_bytes(df)))
        if self.sort_by:
            # Cluster rows within each task before writing: parquet
            # stores per-row-group min/max stats, so sorted data turns
            # downstream range predicates into row-group skips. A
            # within-partition sort is shuffle-free (unlike orderBy).
            df = df.sortWithinPartitions(*self.sort_by)
        mode = "overwrite" if self.overwrite else "errorifexists"
        writer = (
            df.write.mode(mode)
            .option("maxRecordsPerFile", rows_per_file)
            .option("compression", self.compression)
        )
        if self.partition_by:
            # Hive-style layout: dir-per-key (`col=value/`), the layout
            # partition pruning reads back for free. Shard sizing still
            # applies within each partition directory.
            writer = writer.partitionBy(*self.partition_by)
        for key, value in self.writer_options.items():
            writer = writer.option(key, value)
        writer.parquet(str(self.path))
        self.written_files = self._finalize_names()
        return self.written_files

    def _finalize_names(self) -> list[Path]:
        # With partitionBy the part files live one dir per key; the
        # shard index restarts per partition directory.
        pattern = "*/" * len(self.partition_by) + "part-*.parquet"
        parts = sorted(self.path.glob(pattern))
        if not self.deterministic_names:
            return [p.absolute() for p in parts]
        final: list[Path] = []
        index: dict[Path, int] = {}
        for part in parts:
            i = index.get(part.parent, 0)
            index[part.parent] = i + 1
            target = part.parent / f"{self.file_prefix}-{i}.parquet"
            part.rename(target)
            # Hadoop's checksummed local FS keeps a `.<name>.crc` sidecar;
            # move it along so the shard is still verified on read.
            crc = part.with_name(f".{part.name}.crc")
            if crc.exists():
                crc.rename(target.with_name(f".{target.name}.crc"))
            final.append(target.absolute())
        return final


def compact_dataset(
    spark: Any,
    src: str | Path,
    dest: str | Path,
    *,
    target_bytes: int = 256 << 20,
    compression: str = "snappy",
) -> dict[str, int]:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~``target_bytes`` uncompressed data each.

    The pathological layout at scale is millions of kilobyte files
    (one per streaming micro-batch × partition); every downstream scan
    then pays per-file open/footer costs. Compaction is one
    distributed pass: scan (all splits in parallel) → repartition to
    the target file count → write with ``maxRecordsPerFile`` as the
    per-task guard. Returns before/after file counts.
    """
    src, dest = Path(src), Path(dest)
    df = spark.read.parquet(str(src))
    files_before = len(list(src.rglob("*.parquet")))
    row_bytes = estimate_row_bytes(df)
    total_rows = df.count()
    rows_per_file = max(1, int(target_bytes / row_bytes))
    n_files = max(1, -(-total_rows // rows_per_file))  # ceil
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_file)
        .option("compression", compression)
        .parquet(str(dest))
    )
    files_after = len(list(dest.glob("part-*.parquet")))
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows": total_rows,
        "rows_per_file": rows_per_file,
    }
