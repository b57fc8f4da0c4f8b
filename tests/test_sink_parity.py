"""Sink-layer behavioral parity suite.

One test per reference behavior from SURVEY.md §5's coverage map
(reference tests at /root/reference/tests/tests.py — behaviors
re-verified here against our implementation, not copied code).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_stream_writer_spark import ParquetStreamWriter
from parquet_stream_writer_spark.sink import ShardedDatasetWriter

SCHEMA = pa.schema([("id", pa.int64()), ("value", pa.string())])


def padded_batch(i: int, pad: int = 100) -> dict:
    return {"id": [i], "value": ["x" * pad]}


def batch_nbytes(pad: int = 100) -> int:
    return pa.Table.from_pydict(padded_batch(0, pad), schema=SCHEMA).nbytes


# -- basic write + readback (ref tests.py:34-47) ---------------------------

def test_basic_write(tmp_path):
    out = tmp_path / "out.parquet"
    with ParquetStreamWriter(out, SCHEMA) as w:
        w.write_batch({"id": [1, 2, 3], "value": ["a", "b", "c"]})
    t = pq.read_table(out)
    assert t.column("id").to_pylist() == [1, 2, 3]
    assert t.column("value").to_pylist() == ["a", "b", "c"]


# -- sharding sequence (ref tests.py:50-70) --------------------------------

def test_sharding_sequence(tmp_path):
    out = tmp_path / "shards"
    nb = batch_nbytes()
    with ParquetStreamWriter(out, SCHEMA, shard_size_bytes=nb * 2, buffer_size_bytes=1) as w:
        for i in range(9):
            w.write_batch(padded_batch(i))
    names = sorted(p.name for p in out.glob("*.parquet"))
    assert names == [f"shards-{i}.parquet" for i in range(len(names))]
    assert len(names) >= 2
    total = sum(pq.read_table(p).num_rows for p in out.glob("*.parquet"))
    assert total == 9


def test_custom_file_prefix(tmp_path):
    out = tmp_path / "shards"
    nb = batch_nbytes()
    with ParquetStreamWriter(
        out, SCHEMA, shard_size_bytes=nb, buffer_size_bytes=1, file_prefix="chunk"
    ) as w:
        for i in range(5):
            w.write_batch(padded_batch(i))
    assert all(p.name.startswith("chunk-") for p in out.glob("*.parquet"))


def test_default_prefix_keeps_dir_suffix(tmp_path):
    """Reference parity (writer.py:137-139): the default shard prefix is
    the directory name verbatim, even when it ends in ``.parquet``."""
    out = tmp_path / "out.parquet"
    nb = batch_nbytes()
    with ParquetStreamWriter(out, SCHEMA, shard_size_bytes=nb, buffer_size_bytes=1) as w:
        for i in range(3):
            w.write_batch(padded_batch(i))
    names = sorted(p.name for p in out.glob("*.parquet"))
    assert names and all(n.startswith("out.parquet-") for n in names)


# -- manifest (ref tests.py:73-86) -----------------------------------------

def test_written_files_tracking(tmp_path):
    out = tmp_path / "shards"
    nb = batch_nbytes()
    with ParquetStreamWriter(out, SCHEMA, shard_size_bytes=nb * 2, buffer_size_bytes=1) as w:
        for i in range(9):
            w.write_batch(padded_batch(i))
    assert w.written_files
    assert all(p.is_absolute() for p in w.written_files)
    assert sorted(p.name for p in w.written_files) == sorted(
        p.name for p in out.glob("*.parquet")
    )


# -- schema coercion (ref tests.py:89-108) ---------------------------------

def test_schema_widening_cast(tmp_path):
    out = tmp_path / "out.parquet"
    with ParquetStreamWriter(out, SCHEMA) as w:
        w.write_batch(
            pa.table({"id": pa.array([1, 2], pa.int32()), "value": ["a", "b"]})
        )
    assert pq.read_schema(out).field("id").type == pa.int64()


def test_schema_validation_failure(tmp_path):
    w = ParquetStreamWriter(tmp_path / "out.parquet", SCHEMA)
    with pytest.raises(pa.ArrowInvalid):
        w.write_batch({"id": ["not-an-int"], "value": ["a"]})


def test_unsupported_input_type(tmp_path):
    w = ParquetStreamWriter(tmp_path / "out.parquet", SCHEMA)
    with pytest.raises(TypeError):
        w.write_batch([1, 2, 3])


# -- overwrite semantics (ref tests.py:111-123) ----------------------------

def test_overwrite_file(tmp_path):
    out = tmp_path / "out.parquet"
    with ParquetStreamWriter(out, SCHEMA) as w:
        w.write_batch({"id": [1], "value": ["a"]})
    with pytest.raises(FileExistsError):
        ParquetStreamWriter(out, SCHEMA)
    with ParquetStreamWriter(out, SCHEMA, overwrite=True) as w:
        w.write_batch({"id": [9], "value": ["z"]})
    assert pq.read_table(out).column("id").to_pylist() == [9]


def test_overwrite_shard_dir(tmp_path):
    out = tmp_path / "shards"
    with ParquetStreamWriter(out, SCHEMA, shard_size_bytes=10, buffer_size_bytes=1) as w:
        w.write_batch(padded_batch(1))
    with ParquetStreamWriter(
        out, SCHEMA, shard_size_bytes=10, buffer_size_bytes=1, overwrite=True
    ) as w:
        w.write_batch(padded_batch(2))
    rows = [
        r for p in out.glob("*.parquet") for r in pq.read_table(p).column("id").to_pylist()
    ]
    assert rows == [2]


# -- empty inputs (ref tests.py:126-151) -----------------------------------

def test_empty_batches_create_no_files(tmp_path):
    out = tmp_path / "out.parquet"
    with ParquetStreamWriter(out, SCHEMA) as w:
        w.write_batch({"id": [], "value": []})
    assert not out.exists()


def test_no_writes_no_files(tmp_path):
    out = tmp_path / "out.parquet"
    with ParquetStreamWriter(out, SCHEMA):
        pass
    assert not out.exists()


# -- oversized single batch (ref tests.py:135-144) -------------------------

def test_large_single_batch_one_shard(tmp_path):
    out = tmp_path / "shards"
    with ParquetStreamWriter(out, SCHEMA, shard_size_bytes=64, buffer_size_bytes=1) as w:
        w.write_batch({"id": list(range(10_000)), "value": ["v"] * 10_000})
    files = list(out.glob("*.parquet"))
    assert len(files) == 1
    assert pq.read_table(files[0]).num_rows == 10_000


# -- writer kwargs passthrough (ref tests.py:154-169) ----------------------

def test_writer_kwargs_observable(tmp_path):
    out = tmp_path / "out.parquet"
    with ParquetStreamWriter(out, SCHEMA, write_statistics=False) as w:
        w.write_batch({"id": [1], "value": ["a"]})
    md = pq.read_metadata(out)
    col = md.row_group(0).column(0)
    assert not col.is_stats_set
    out2 = tmp_path / "zstd.parquet"
    with ParquetStreamWriter(out2, SCHEMA, compression="zstd") as w:
        w.write_batch({"id": [1], "value": ["a"]})
    assert pq.read_metadata(out2).row_group(0).column(0).compression == "ZSTD"


# -- directory contracts (ref tests.py:172-198) ----------------------------

def test_parent_dir_must_exist_file_mode(tmp_path):
    with pytest.raises(FileNotFoundError):
        ParquetStreamWriter(tmp_path / "missing" / "out.parquet", SCHEMA)


def test_parent_dir_must_exist_shard_mode(tmp_path):
    with pytest.raises(FileNotFoundError):
        ParquetStreamWriter(tmp_path / "missing" / "shards", SCHEMA, shard_size_bytes=10)


def test_shard_dir_is_created(tmp_path):
    out = tmp_path / "shards"
    ParquetStreamWriter(out, SCHEMA, shard_size_bytes=10)
    assert out.is_dir()


# -- buffering (ref tests.py:201-249) --------------------------------------

def test_buffering_defers_writes(tmp_path):
    out = tmp_path / "out.parquet"
    w = ParquetStreamWriter(out, SCHEMA, buffer_size_bytes=1 << 30)
    w.write_batch({"id": [1], "value": ["a"]})
    assert not out.exists()  # still buffered, no file yet
    w.flush()
    assert out.exists()
    w.close()
    assert pq.read_table(out).num_rows == 1


def test_buffering_consolidates_row_groups(tmp_path):
    out = tmp_path / "out.parquet"
    with ParquetStreamWriter(out, SCHEMA) as w:  # default 16 MiB buffer
        for i in range(100):
            w.write_batch({"id": [i], "value": ["v"]})
    assert pq.read_metadata(out).num_row_groups <= 10


def test_row_group_size_forwarded(tmp_path):
    out = tmp_path / "out.parquet"
    with ParquetStreamWriter(out, SCHEMA, row_group_size=10) as w:
        w.write_batch({"id": list(range(100)), "value": ["v"] * 100})
    assert pq.read_metadata(out).num_row_groups == 10


# -- RecordBatch input (ref tests.py:252-276) ------------------------------

def test_write_record_batch_with_cast(tmp_path):
    out = tmp_path / "out.parquet"
    rb = pa.RecordBatch.from_pydict(
        {"id": pa.array([5], pa.int32()), "value": pa.array(["r"])}
    )
    with ParquetStreamWriter(out, SCHEMA) as w:
        w.write_batch(rb)
    t = pq.read_table(out)
    assert t.schema.field("id").type == pa.int64()
    assert t.column("id").to_pylist() == [5]


# -- buffer < shard interplay (ref tests.py:279-298) -----------------------

def test_buffer_smaller_than_shard(tmp_path):
    """buffer=1 byte (flush every push), shard=3 batches: rollover
    happens on the push *after* flushed bytes exceed the threshold, so
    9 equal batches land 4+4+1 / 3 shards-wise depending on strict >.
    Pin the invariants: >1 shard, all rows present, monotone names."""
    out = tmp_path / "shards"
    nb = batch_nbytes()
    with ParquetStreamWriter(out, SCHEMA, shard_size_bytes=nb * 3, buffer_size_bytes=1) as w:
        for i in range(9):
            w.write_batch(padded_batch(i))
    files = sorted(out.glob("*.parquet"))
    assert len(files) >= 2
    assert sum(pq.read_table(p).num_rows for p in files) == 9
    per_shard = [pq.read_table(p).num_rows for p in files]
    # strict >: first shard holds one batch more than the threshold
    assert per_shard[0] == 4


# -- flushed-bytes accounting: overshoot by one buffer ---------------------

def test_rollover_granularity_is_flush_granularity(tmp_path):
    """Fullness is judged on flushed bytes only: buffer=5 batches with
    shard=2 batches ⇒ each shard holds a whole 5-batch buffer."""
    out = tmp_path / "shards"
    nb = batch_nbytes()
    with ParquetStreamWriter(
        out, SCHEMA, shard_size_bytes=nb * 2, buffer_size_bytes=nb * 5
    ) as w:
        for i in range(10):
            w.write_batch(padded_batch(i))
    files = sorted(out.glob("*.parquet"))
    assert [pq.read_table(p).num_rows for p in files] == [5, 5]


# -- doc-only constraint decision (ref writer.py:68) -----------------------

def test_buffer_larger_than_shard_is_accepted(tmp_path):
    """DECISION (SURVEY §2a-13): the reference's docstring claims
    buffer_size_bytes must not exceed shard_size_bytes but never
    enforces it; we replicate the RUNTIME behavior (identical
    check-order to reference writer.py:255-264): construction
    succeeds; the first flush (one whole buffer) lands in shard 0 and
    overshoots it; from then on the shard-full branch fires on EVERY
    push, so each later shard holds exactly one push's rows."""
    out = tmp_path / "shards"
    # buffer sized in the writer's own accounting units (RecordBatch
    # nbytes) so the first flush triggers exactly at 4 pushes.
    b = pa.RecordBatch.from_pydict(padded_batch(0), schema=SCHEMA).nbytes
    with ParquetStreamWriter(
        out, SCHEMA, shard_size_bytes=1, buffer_size_bytes=b * 4
    ) as w:
        for i in range(11):
            w.write_batch(padded_batch(i))
    files = sorted(out.glob("*.parquet"), key=lambda p: int(p.stem.rsplit("-", 1)[1]))
    assert [pq.read_table(p).num_rows for p in files] == [4] + [1] * 7
    assert [p.name for p in files] == [f"shards-{i}.parquet" for i in range(8)]
    # every shard is a single consolidated flush (one row group)
    for p in files:
        assert pq.ParquetFile(p).metadata.num_row_groups == 1, p.name


# -- validation (ref tests.py:301-310) -------------------------------------

def test_negative_shard_size_rejected(tmp_path):
    with pytest.raises(ValueError):
        ParquetStreamWriter(tmp_path / "o.parquet", SCHEMA, shard_size_bytes=-1)


def test_negative_buffer_size_rejected(tmp_path):
    with pytest.raises(ValueError):
        ParquetStreamWriter(tmp_path / "o.parquet", SCHEMA, buffer_size_bytes=-1)


# -- buffering without sharding (ref tests.py:313-326) ---------------------

def test_buffer_without_sharding(tmp_path):
    out = tmp_path / "out.parquet"
    nb = batch_nbytes()
    with ParquetStreamWriter(out, SCHEMA, buffer_size_bytes=nb * 3) as w:
        for i in range(7):
            w.write_batch(padded_batch(i))
    t = pq.read_table(out)
    assert t.num_rows == 7
    assert len(list(out.parent.glob("*.parquet"))) == 1


# -- distributed sharded writer (scale path, ours) -------------------------

def test_sharded_dataset_writer(tmp_path, spark):
    out = tmp_path / "dist"
    df = spark.range(5000).selectExpr("id", "repeat('y', 40) as value").coalesce(2)
    writer = ShardedDatasetWriter(out, shard_size_bytes=60_000)
    files = writer.write(df)
    assert files and all(p.name.startswith("dist-") for p in files)
    assert sum(pq.read_table(p).num_rows for p in files) == 5000
    # deterministic monotone naming
    assert sorted(p.name for p in files) == [
        f"dist-{i}.parquet" for i in range(len(files))
    ]


def test_sharded_dataset_writer_overwrite(tmp_path, spark):
    out = tmp_path / "dist"
    df = spark.range(10).selectExpr("id", "'a' as value")
    ShardedDatasetWriter(out, shard_size_bytes=1 << 20).write(df)
    with pytest.raises(Exception):
        ShardedDatasetWriter(out, shard_size_bytes=1 << 20).write(df)
    ShardedDatasetWriter(out, shard_size_bytes=1 << 20, overwrite=True).write(df)


def test_sharded_writer_partition_by(tmp_path, spark):
    """Hive-style partition_by: dir-per-key layout, shard naming
    restarting inside each partition directory, pruning on read."""
    out = tmp_path / "bykey"
    df = spark.range(6000).selectExpr(
        "id", "cast(id % 3 as int) as bucket", "repeat('z', 40) as value"
    )
    writer = ShardedDatasetWriter(
        out, shard_size_bytes=40_000, partition_by=["bucket"]
    )
    files = writer.write(df)
    assert files
    # every file sits under a bucket=N dir and restarts at prefix-0
    parents = {p.parent.name for p in files}
    assert parents == {"bucket=0", "bucket=1", "bucket=2"}
    for parent in parents:
        names = sorted(p.name for p in files if p.parent.name == parent)
        assert names[0] == "bykey-0.parquet"
    # read-back through Spark reconstitutes the partition column
    back = spark.read.parquet(str(out))
    assert back.count() == 6000
    assert back.where("bucket = 1").count() == 2000


def assert_crc_sidecars_follow_shards(root, files):
    """Every renamed shard has its ``.<name>.crc`` sidecar, and no
    sidecar of a ``part-*`` file is left behind."""
    assert files
    for p in files:
        assert (p.parent / f".{p.name}.crc").is_file(), p
    assert not list(root.rglob(".part-*.crc"))


def test_sharded_writer_renames_crc_sidecars(tmp_path, spark):
    """The checksum sidecars move with their shards, so a read-back of
    the renamed shards is still checksum-verified: one flipped byte in
    a data page fails the scan instead of passing unnoticed."""
    out = tmp_path / "dist"
    df = spark.range(5000).selectExpr("id", "repeat('y', 40) as value").coalesce(2)
    files = ShardedDatasetWriter(out, shard_size_bytes=60_000).write(df)
    assert_crc_sidecars_follow_shards(out, files)
    bykey = tmp_path / "bykey"
    df = spark.range(600).selectExpr("id", "cast(id % 3 as int) as bucket")
    files = ShardedDatasetWriter(bykey, shard_size_bytes=1 << 20, partition_by=["bucket"]).write(df)
    assert_crc_sidecars_follow_shards(bykey, files)

    shard = sorted(out.glob("dist-*.parquet"))[0]
    chunk = pq.ParquetFile(shard).metadata.row_group(0).column(1)
    offset = chunk.data_page_offset + chunk.total_compressed_size // 2
    data = bytearray(shard.read_bytes())
    data[offset] ^= 0xFF
    shard.write_bytes(bytes(data))
    with pytest.raises(Exception, match="(?i)checksum"):
        spark.read.parquet(str(out)).collect()


def test_compact_dataset(tmp_path, spark):
    from parquet_stream_writer_spark.sink import compact_dataset

    src = tmp_path / "fragmented"
    # 64 tiny files — the streaming-sink pathology
    spark.range(8000).selectExpr("id", "repeat('w', 30) as value").repartition(
        64
    ).write.parquet(str(src))
    assert len(list(src.glob("part-*.parquet"))) == 64
    dest = tmp_path / "compacted"
    stats = compact_dataset(spark, src, dest, target_bytes=1 << 20)
    assert stats["files_before"] == 64
    assert stats["files_after"] < 8
    back = spark.read.parquet(str(dest))
    assert back.count() == 8000
    assert stats["rows"] == 8000


def test_sharded_writer_sort_by_clusters_row_groups(tmp_path, spark):
    """sort_by clusters values within each written file so parquet
    row-group min/max stats support range skipping downstream."""
    out = tmp_path / "clustered"
    df = (
        spark.range(20000)
        .selectExpr("(id * 7919) % 20000 as key", "repeat('c', 24) as value")
        .coalesce(2)
    )
    writer = ShardedDatasetWriter(
        out, shard_size_bytes=200_000, sort_by=["key"]
    )
    files = writer.write(df)
    assert files
    # within every file the key column must be non-decreasing
    for p in files:
        t = pq.read_table(p, columns=["key"])
        keys = t.column("key").to_pylist()
        assert keys == sorted(keys), p


def test_empty_file_prefix_falls_back_to_dir_name(tmp_path):
    """A falsy prefix ("" as well as None) must fall back to the
    directory name — an empty prefix would emit dash-leading
    "-0.parquet" files that "prefix-*" globs miss.

    INTENTIONAL DIVERGENCE from the reference (writer.py:137-139),
    which falls back only on ``None`` and with ``file_prefix=''``
    happily writes "-0.parquet" shards. We treat that as a footgun,
    not a behavior worth reproducing: this test pins the divergence
    so it reads as a decision, not an accident."""
    out = tmp_path / "shards"
    nb = batch_nbytes()
    with ParquetStreamWriter(
        out, SCHEMA, shard_size_bytes=nb, buffer_size_bytes=1, file_prefix=""
    ) as w:
        for i in range(3):
            w.write_batch(padded_batch(i))
    assert all(p.name.startswith("shards-") for p in out.glob("*.parquet"))
