"""Structured Streaming tests: file-source micro-batches over the
events corpus, watermarked windows into memory sinks, foreachBatch →
sink-layer bridging, stateful ops. Streaming results are compared to
the batch-verified equivalents (which the DuckDB oracle covers), so
stream == batch == oracle transitively."""

from __future__ import annotations

import shutil
import uuid

import pyarrow.parquet as pq
import pytest
from pandas import isna as pd_isna

from pyspark.sql import functions as F

from parquet_stream_writer_spark.sources import load_events
from parquet_stream_writer_spark.streaming import (
    StreamingShardSink,
    session_window_agg,
    tumbling_window_agg,
)
from parquet_stream_writer_spark.streaming.stateful import running_user_profile
from parquet_stream_writer_spark.streaming.windows import streaming_dedup


@pytest.fixture()
def events_stream_dir(spark, sf_dir, tmp_path):
    """Events re-materialized as µs timestamps split into 4 files, so
    maxFilesPerTrigger=1 yields four genuine micro-batches."""
    out = tmp_path / "events_stream"
    load_events(spark, sf_dir).repartition(4).write.parquet(str(out))
    return out


def _events_stream(spark, events_stream_dir, files_per_trigger=1):
    schema = spark.read.parquet(str(events_stream_dir)).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(str(events_stream_dir))
    )


def _run_to_memory(spark, df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_streaming_tumbling_matches_batch(spark, sf_dir, events_stream_dir):
    stream = _events_stream(spark, events_stream_dir)
    name = f"tum_{uuid.uuid4().hex[:8]}"
    # complete mode: no watermark eviction, so the memory sink holds
    # every window — exact equality with the batch plan. (In append
    # mode the out-of-time-order micro-batch files would make earlier
    # events late and the final window would stay unemitted.)
    result = _run_to_memory(
        spark, tumbling_window_agg(stream, watermark="0 seconds"), name, "complete"
    )
    batch = (
        load_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # Append mode with availableNow emits all windows once the stream
    # is drained; compare total event counts and window count.
    assert result.agg(F.sum("n_events")).first()[0] == batch.agg(F.sum("n_events")).first()[0]
    assert result.count() == batch.count()


def test_streaming_session_window_runs(spark, events_stream_dir):
    stream = _events_stream(spark, events_stream_dir, files_per_trigger=2)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(
        spark, session_window_agg(stream, watermark="0 seconds"), name, "append"
    )
    assert result.count() > 0
    row = result.first()
    assert row["session_end"] >= row["session_start"]


def test_streaming_dedup_bounded_state(spark, events_stream_dir):
    stream = _events_stream(spark, events_stream_dir)
    deduped = streaming_dedup(stream, ["user_id"], watermark="365 days")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(spark, deduped, name, "append")
    # each user survives exactly once across all micro-batches
    assert result.groupBy("user_id").count().agg(F.max("count")).first()[0] == 1


def test_stateful_running_profile(spark, events_stream_dir):
    stream = _events_stream(spark, events_stream_dir, files_per_trigger=2)
    name = f"prof_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(spark, running_user_profile(stream), name, "update")
    # the last update per user must equal the full batch aggregate
    final = (
        result.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    )
    batch = (
        spark.read.parquet(str(events_stream_dir))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    diff = final.join(batch, "user_id").where(final.n_events != batch.n_events)
    assert diff.count() == 0


def test_foreachbatch_to_stream_writer(spark, events_stream_dir, tmp_path):
    """Micro-batches land in the reference-semantics sharded writer."""
    import pyarrow as pa

    stream = _events_stream(spark, events_stream_dir).select("event_id", "event_type")
    schema = pa.schema([("event_id", pa.int64()), ("event_type", pa.string())])
    writer_path = tmp_path / "shard_out"
    writer = __import__(
        "parquet_stream_writer_spark"
    ).ParquetStreamWriter(writer_path, schema, shard_size_bytes=64 << 10, buffer_size_bytes=1)
    sink = StreamingShardSink(writer=writer)
    q = sink.start(stream, checkpoint=tmp_path / "ckpt")
    q.awaitTermination(120)
    sink.close()
    assert sink.batches_seen >= 4  # one per input file
    files = list(writer_path.glob("*.parquet"))
    assert files
    total = sum(pq.read_table(p).num_rows for p in files)
    assert total == spark.read.parquet(str(events_stream_dir)).count()


def test_foreachbatch_writer_empty_batches_leave_no_file(
    spark, events_stream_dir, tmp_path
):
    """Writer mode has no emptiness probe: micro-batches that a filter
    empties must still leave no shard file and an empty manifest,
    because the writer itself skips zero-row batches and creates its
    file lazily."""
    import pyarrow as pa

    from parquet_stream_writer_spark import ParquetStreamWriter

    stream = (
        _events_stream(spark, events_stream_dir)
        .where(F.col("event_id") < 0)
        .select("event_id", "event_type")
    )
    schema = pa.schema([("event_id", pa.int64()), ("event_type", pa.string())])
    writer_path = tmp_path / "empty_out"
    writer = ParquetStreamWriter(
        writer_path, schema, shard_size_bytes=64 << 10, buffer_size_bytes=1
    )
    sink = StreamingShardSink(writer=writer)
    q = sink.start(stream, checkpoint=tmp_path / "ckpt_empty")
    q.awaitTermination(120)
    sink.close()
    assert sink.batches_seen >= 4  # the empty batches did reach the sink
    assert sink.written_files == []
    assert writer.written_files == []
    assert not list(writer_path.glob("*.parquet"))


def test_foreachbatch_writer_one_job_per_batch(spark, events_stream_dir, tmp_path):
    """Writer mode collects each non-empty micro-batch exactly once:
    ``process_batch`` starts one Spark job (the Arrow collect), not an
    emptiness probe plus a collect.  Jobs are counted by tagging each
    call with its own job group."""
    import pyarrow as pa

    from parquet_stream_writer_spark import ParquetStreamWriter

    stream = _events_stream(spark, events_stream_dir).select("event_id", "event_type")
    schema = pa.schema([("event_id", pa.int64()), ("event_type", pa.string())])
    writer = ParquetStreamWriter(tmp_path / "one_job_out", schema)
    sink = StreamingShardSink(writer=writer)
    sc = spark.sparkContext
    tag = f"one-job-{uuid.uuid4().hex[:8]}"
    jobs: dict[int, int] = {}
    process_batch = sink.process_batch

    def counted(batch_df, epoch_id):
        group = f"{tag}-{epoch_id}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, "StreamingShardSink.process_batch")
        try:
            process_batch(batch_df, epoch_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        jobs[epoch_id] = len(sc.statusTracker().getJobIdsForGroup(group))

    sink.process_batch = counted
    q = sink.start(stream, checkpoint=tmp_path / "ckpt_one_job")
    q.awaitTermination(120)
    sink.close()
    assert len(jobs) >= 4  # one micro-batch per input file, none empty
    assert set(jobs.values()) == {1}, jobs
    total = sum(pq.read_table(p).num_rows for p in writer.written_files)
    assert total == spark.read.parquet(str(events_stream_dir)).count()


def _processes_started() -> int:
    """The kernel's count of processes created since boot."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise AssertionError("no processes line in /proc/stat")


def test_foreachbatch_drain_starts_no_processes(spark, sf_dir, tmp_path):
    """A micro-batch's checkpoint and offset files go through the
    session's fork-free local file system: stock Hadoop without
    libhadoop starts ~65 chmod/readlink processes per micro-batch,
    this drain at most 5. The kernel counter also counts new threads
    (machine-wide), so a first drain warms the JVM's thread pools and
    the second one is measured."""
    import pyarrow as pa

    from parquet_stream_writer_spark import ParquetStreamWriter

    src = tmp_path / "events3"
    load_events(spark, sf_dir).repartition(3).write.parquet(str(src))
    schema = pa.schema([("event_id", pa.int64()), ("event_type", pa.string())])
    for run in ("warm", "measured"):
        stream = _events_stream(spark, src).select("event_id", "event_type")
        sink = StreamingShardSink(writer=ParquetStreamWriter(tmp_path / run, schema))
        before = _processes_started()
        q = sink.start(stream, checkpoint=tmp_path / f"ckpt_{run}")
        q.awaitTermination(120)
        sink.close()
        spawned = _processes_started() - before
    assert sink.batches_seen == 3
    assert spawned <= 5 * sink.batches_seen, spawned


def test_counting_twins_are_native_aggregations(spark, events_stream_dir):
    """The three counting twins plan as native streaming aggregations:
    no ``FlatMapGroupsInPandasWithState`` node (a Python worker per
    micro-batch), while a pandas-fold twin still shows one — the
    positive control that the plan check can see the node."""
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_day_type_mix,
        streaming_hour_error_counts,
        streaming_user_lifetime,
    )

    def plan(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    stream = _events_stream(spark, events_stream_dir)
    for twin in (
        streaming_day_type_mix,
        streaming_hour_error_counts,
        streaming_user_lifetime,
    ):
        p = plan(twin(stream))
        assert "FlatMapGroupsInPandasWithState" not in p, twin.__name__
        assert "Aggregate" in p, twin.__name__
    assert "FlatMapGroupsInPandasWithState" in plan(running_user_profile(stream))


def test_foreachbatch_distributed_sink(spark, events_stream_dir, tmp_path):
    stream = _events_stream(spark, events_stream_dir, files_per_trigger=2)
    sink = StreamingShardSink(path=tmp_path / "dist_out", shard_size_bytes=128 << 10)
    q = sink.start(stream, checkpoint=tmp_path / "ckpt2")
    q.awaitTermination(120)
    assert sink.written_files
    total = sum(pq.read_table(p).num_rows for p in sink.written_files)
    assert total == spark.read.parquet(str(events_stream_dir)).count()


def test_distributed_sink_shards_keep_crc_sidecars(spark, events_stream_dir, tmp_path):
    """Path mode writes through ShardedDatasetWriter: each renamed
    shard keeps its checksum sidecar and no part-file sidecar is left."""
    stream = _events_stream(spark, events_stream_dir, files_per_trigger=2)
    out = tmp_path / "dist_crc"
    sink = StreamingShardSink(path=out, shard_size_bytes=128 << 10)
    sink.start(stream, checkpoint=tmp_path / "ckpt_crc").awaitTermination(120)
    assert sink.written_files
    for p in sink.written_files:
        assert (p.parent / f".{p.name}.crc").is_file(), p
    assert not list(out.rglob(".part-*.crc"))


def test_stream_stream_interval_join(spark, sf_dir, events_stream_dir):
    """Click→purchase attribution: stream-stream inner join with a
    1-hour interval bound; result must equal the batch join."""
    from parquet_stream_writer_spark.streaming.windows import interval_join

    clicks = _events_stream(spark, events_stream_dir, files_per_trigger=2).where(
        F.col("event_type") == "click"
    )
    buys = _events_stream(spark, events_stream_dir, files_per_trigger=2).where(
        F.col("event_type") == "purchase"
    )
    # Large watermark: availableNow delivers files out of event-time
    # order, so a tight watermark would drop genuinely-matching rows.
    joined = interval_join(clicks, buys, watermark="365 days")
    name = f"ij_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(spark, joined, name, "append")

    ev = load_events(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    c = ev.where(F.col("event_type") == "click").alias("l")
    p = ev.where(F.col("event_type") == "purchase").alias("r")
    batch = c.join(
        p,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.expr("l.ts + INTERVAL 1 HOUR")),
    )
    # Exact ROW-SET equality, not just cardinality (r18 strengthening):
    # a wrong-pair + missing-pair cancellation would pass a count
    # compare but cannot pass this.
    got = {
        (r["user_id"], r["left_event_id"], r["right_event_id"])
        for r in result.collect()
    }
    want = {
        (r["user_id"], r["left_event_id"], r["right_event_id"])
        for r in batch.select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("left_event_id"),
            F.col("r.event_id").alias("right_event_id"),
        ).collect()
    }
    assert got == want and len(want) > 0
    assert result.where(F.col("right_ts") < F.col("left_ts")).count() == 0


def test_stateful_streaming_zscore(spark, events_stream_dir):
    """The Welford streaming scorer must (a) score only events with a
    ≥5-event prior baseline, (b) flag exactly the events whose z
    exceeds 3 in magnitude, and (c) agree with a batch recomputation
    of the same expanding baseline."""
    import math

    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_anomaly_zscore,
    )

    # One micro-batch: multi-file triggers deliver files in storage
    # order, not event-time order, so a cross-batch equivalence check
    # would have to model that arrival order; within a single batch
    # the operator itself sorts by (ts, event_id), which the batch
    # recomputation below mirrors. Cross-batch state persistence is
    # covered by test_stateful_running_profile.
    stream = _events_stream(spark, events_stream_dir, files_per_trigger=1000)
    name = f"zs_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(
        spark, streaming_anomaly_zscore(stream), name, "append"
    ).toPandas()
    assert len(result) > 0
    assert bool(result["is_anomaly"].eq(result["z"].abs() > 3.0).all())

    # batch recomputation: expanding mean/std per user, prior-only
    batch = (
        spark.read.parquet(str(events_stream_dir))
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    expected = {}
    for user, grp in batch.groupby("user_id"):
        vals = []
        for eid, v in zip(grp["event_id"], grp["value"]):
            if len(vals) >= 5:
                mu = sum(vals) / len(vals)
                var = sum((x - mu) ** 2 for x in vals) / (len(vals) - 1)
                if var > 0:
                    expected[eid] = (v - mu) / math.sqrt(var)
            vals.append(v)
    got = dict(zip(result["event_id"], result["z"]))
    assert set(got) == set(expected)
    for eid, z in got.items():
        assert math.isclose(z, expected[eid], rel_tol=1e-9), eid


def test_streaming_cms_partial_sketches_merge(spark, sf_dir, events_stream_dir):
    """Sketch mergeability across micro-batches: foreachBatch builds a
    partial count-min sketch per micro-batch; summing the partials on
    (depth, cell) must reproduce the single-pass batch sketch exactly
    — the property that lets a 100 TB stream keep one tiny sketch
    instead of re-reading history."""
    from collections import Counter

    from parquet_stream_writer_spark.operators.streaming_batch import cms_cells

    acc: Counter = Counter()

    def merge(batch_df, _bid):
        for r in cms_cells(batch_df.select("event_type")).collect():
            acc[(r["depth"], r["cell"])] += r["c"]

    stream = _events_stream(spark, events_stream_dir)
    q = stream.writeStream.foreachBatch(merge).trigger(availableNow=True).start()
    q.awaitTermination(120)

    batch = Counter(
        {
            (r["depth"], r["cell"]): r["c"]
            for r in cms_cells(
                load_events(spark, sf_dir).select("event_type")
            ).collect()
        }
    )
    assert acc == batch and len(batch) > 0


def test_streaming_value_histogram_matches_batch(spark, sf_dir, events_stream_dir):
    """Per-(type, bin) counts summed across the stream's windows must
    equal the batch histogram exactly (stream == batch == oracle)."""
    from parquet_stream_writer_spark.operators.streaming_batch import (
        events_value_histogram,
    )
    from parquet_stream_writer_spark.streaming import value_histogram_agg

    stream = _events_stream(spark, events_stream_dir)
    name = f"hist_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(
        spark, value_histogram_agg(stream, watermark="0 seconds"), name, "complete"
    )
    streamed = (
        result.groupBy("event_type", "bin")
        .agg(F.sum("n_events").alias("n_stream"))
    )
    batch = events_value_histogram(spark, sf_dir).select(
        "event_type", "bin", F.col("n_events").alias("n_batch")
    )
    cmp = streamed.join(batch, ["event_type", "bin"], "full_outer")
    assert cmp.where(
        F.col("n_stream").isNull()
        | F.col("n_batch").isNull()
        | (F.col("n_stream") != F.col("n_batch"))
    ).count() == 0


def test_streaming_session_window_matches_batch_and_sessionize(spark, sf_dir, events_stream_dir):
    """Native streaming session_window must (a) exactly equal the same
    session_window aggregation run in batch, and (b) exactly equal the
    oracle-verified gaps-and-islands `events_sessionize` after mapping
    the window end (session_window end = last event + gap).  Complete
    mode + a large watermark: availableNow delivers files out of
    event-time order, and the session operator drops late rows and
    finalizes (stops merging) passed sessions even in complete mode —
    a 365-day watermark keeps every row live, while complete mode
    re-emits all session state at the end."""
    from parquet_stream_writer_spark.operators.streaming_batch import (
        events_sessionize,
    )

    stream = _events_stream(spark, events_stream_dir)
    name = f"sessx_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(
        spark, session_window_agg(stream, watermark="365 days"), name, "complete"
    )

    # (a) batch twin with the identical session_window expression
    ev = spark.read.parquet(str(events_stream_dir)).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("cast(floor(sum(value)*100+0.5) as double)/100.0").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    cols = ["session_start", "session_end", "user_id", "n_events", "sum_value"]
    got = sorted(map(tuple, result.select(*cols).collect()))
    want = sorted(map(tuple, batch.select(*cols).collect()))
    assert got == want and len(got) > 0

    # (b) the oracle-verified sessionize, with end mapped by the gap
    gi = events_sessionize(spark, sf_dir).select(
        "user_id",
        F.col("session_start").cast("timestamp").alias("session_start"),
        F.col("session_end").cast("timestamp").alias("gi_end"),
        "n_events",
        "sum_value",
    )
    mapped = result.select(
        "user_id",
        "session_start",
        F.expr("session_end - INTERVAL 30 MINUTES").alias("gi_end"),
        "n_events",
        "sum_value",
    )
    gcols = ["user_id", "session_start", "gi_end", "n_events", "sum_value"]
    assert sorted(map(tuple, mapped.select(*gcols).collect())) == sorted(
        map(tuple, gi.select(*gcols).collect())
    )


def test_streaming_windowed_dedup_matches_batch(spark, sf_dir, events_stream_dir):
    """dropDuplicatesWithinWatermark on (hour, user, type) must keep
    exactly the batch twin's per-window survivor counts (the surviving
    event identity is arrival-order-dependent; the counts are not),
    and every survivor must be a genuine event row."""
    from parquet_stream_writer_spark.operators.streaming_batch import (
        events_windowed_dedup,
    )
    from parquet_stream_writer_spark.streaming import windowed_dedup

    stream = _events_stream(spark, events_stream_dir)
    name = f"wdd_{uuid.uuid4().hex[:8]}"
    # Watermark far beyond the hour windows: exact batch semantics
    # (nothing evicted while its window is live; availableNow file
    # order would otherwise evict still-active windows).
    result = _run_to_memory(
        spark, windowed_dedup(stream, watermark="365 days"), name, "append"
    )

    got = result.groupBy("w_start").agg(F.count(F.lit(1)).alias("n_kept"))
    want = events_windowed_dedup(spark, sf_dir).select(
        F.col("w_start").cast("timestamp").alias("w_start"), "n_kept"
    )
    cmp = got.join(want, "w_start", "full_outer")
    assert (
        cmp.where(
            got["n_kept"].isNull()
            | want["n_kept"].isNull()
            | (got["n_kept"] != want["n_kept"])
        ).count()
        == 0
    )
    # one survivor per key, and survivors are real rows
    assert (
        result.groupBy("w_start", "user_id", "event_type")
        .count()
        .agg(F.max("count"))
        .first()[0]
        == 1
    )
    ev = spark.read.parquet(str(events_stream_dir))
    orig = ev.select("event_id", "user_id", "event_type").distinct()
    stray = result.select("event_id", "user_id", "event_type").join(
        orig, ["event_id", "user_id", "event_type"], "left_anti"
    )
    assert stray.count() == 0


def test_checkpoint_resume_processes_only_new_files(spark, events_stream_dir, tmp_path):
    """Exactly-once incremental semantics across restarts: a second
    availableNow run over the SAME checkpoint must process only files
    added after the first run — no reprocessing (which would duplicate
    rows in an append sink) and no loss."""
    out = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"

    def run_once():
        stream = _events_stream(spark, events_stream_dir).select(
            "event_id", "user_id", "event_type"
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(str(out)).count()
    n_input = spark.read.parquet(str(events_stream_dir)).count()
    assert n_first == n_input

    # add one new file to the source dir, resume from the checkpoint
    extra = (
        spark.read.parquet(str(events_stream_dir))
        .limit(100)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    extra.coalesce(1).write.mode("append").parquet(str(events_stream_dir))
    run_once()
    after = spark.read.parquet(str(out))
    assert after.count() == n_first + 100  # only the new file, exactly once
    assert after.groupBy("event_id").count().agg(F.max("count")).first()[0] == 1


def test_stateful_streaming_ewma_matches_batch_semantics(spark, events_stream_dir):
    """The bounded-ring streaming EWMA must reproduce the batch twin's
    truncated-frame semantics exactly: same K-window, same
    (1-a)^age weights, same finite-window normalizer, same
    (ts, event_id) fold order.  Verified against an independent pandas
    recomputation over the same single micro-batch (cross-batch state
    persistence is covered by test_stateful_running_profile)."""
    import math

    from parquet_stream_writer_spark.streaming.stateful import (
        _EWMA_ALPHA,
        _EWMA_K,
        streaming_ewma_smooth,
    )

    stream = _events_stream(spark, events_stream_dir, files_per_trigger=1000)
    name = f"ew_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(
        spark, streaming_ewma_smooth(stream), name, "append"
    ).toPandas()
    assert len(result) > 0

    batch = (
        spark.read.parquet(str(events_stream_dir))
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    decay = 1.0 - _EWMA_ALPHA
    expected = {}
    for _user, grp in batch.groupby("user_id"):
        ring = []
        for eid, v in zip(grp["event_id"], grp["value"]):
            ring.append(float(v))
            if len(ring) > _EWMA_K:
                ring.pop(0)
            n = len(ring)
            num = sum(x * decay ** (n - 1 - i) for i, x in enumerate(ring))
            expected[eid] = num / ((1.0 - decay**n) / _EWMA_ALPHA)
    got = dict(zip(result["event_id"], result["ewma"]))
    assert set(got) == set(expected)
    for eid, e in got.items():
        assert math.isclose(e, expected[eid], rel_tol=1e-9), eid

    # The batch twin constants must stay in lockstep — the operators
    # module is the oracle-verified source of truth.
    from parquet_stream_writer_spark.operators import streaming_batch as sb

    assert sb._EWMA_ALPHA == _EWMA_ALPHA and sb._EWMA_K == _EWMA_K


def test_stateful_streaming_funnel_matches_batch_across_batches(
    spark, sf_dir, events_stream_dir
):
    """The first-occurrence funnel state is arrival-order independent
    (flags depend only on per-stage minima), so exact equivalence with
    the batch operator must hold across GENUINE multi-batch delivery:
    four micro-batches in storage order, take each user's last
    emission, roll up, compare to events_funnel's totals."""
    from parquet_stream_writer_spark.operators.streaming_batch import events_funnel
    from parquet_stream_writer_spark.streaming.stateful import streaming_funnel

    stream = _events_stream(spark, events_stream_dir, files_per_trigger=1)
    name = f"fn_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(spark, streaming_funnel(stream), name, "update").toPandas()
    assert len(result) > 0
    # update-mode memory sink appends one refreshed row per (user,
    # batch); the LAST row per user is the converged state.
    last = result.groupby("user_id").tail(1)
    got = (
        int(last["viewed"].sum()),
        int(last["clicked_after_view"].sum()),
        int(last["purchased_after_click"].sum()),
    )
    want_row = events_funnel(spark, sf_dir).collect()[0]
    want = (
        want_row["n_viewed"],
        want_row["n_clicked_after_view"],
        want_row["n_purchased_after_click"],
    )
    assert got == want


def test_streaming_view_maintenance_matches_batch(spark, sf_dir, tmp_path):
    """The streaming twin of pipeline_incremental_agg_refresh: a
    ViewMaintenanceSink fed the orders table as four micro-batches
    must end with EXACTLY the batch (month, status) rollup — counts
    and integer-cents sums merge associatively, so batch boundaries
    cannot perturb the view."""
    from parquet_stream_writer_spark.sources import load_table
    from parquet_stream_writer_spark.streaming import ViewMaintenanceSink

    src = tmp_path / "orders_stream"
    projected = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_orderstatus").alias("status"),
        F.lit(1).cast("long").alias("n"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    projected.repartition(4).write.parquet(str(src))

    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sink = ViewMaintenanceSink(["month", "status"], ["n", "cents"])
    q = sink.start(stream, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert sink.batches_seen >= 4  # one per source file

    got = sink.view()
    want = (
        projected.groupBy("month", "status")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
        .toPandas()
        .sort_values(["month", "status"], ignore_index=True)
    )
    assert got.equals(want)


def test_view_maintenance_state_is_view_sized_replay_safe_and_null_keyed(
    spark, sf_dir
):
    """Three pinned ViewMaintenanceSink invariants, driven through
    process_batch directly (the foreachBatch surface):

    1. **View-sized state** — after EVERY merge, state rows equal the
       number of distinct groups seen so far, never the input row
       count (the documented 100 TB/day claim: only view-sized
       partials cross to the maintained state).
    2. **At-least-once replay safety** — re-delivering an epoch_id
       must not double-merge its partial.
    3. **Null group keys survive** — pandas groupby(dropna=True)
       would silently drop them; the sink must match the batch twin
       on null-keyed rows.
    """
    from parquet_stream_writer_spark.sources import load_table
    from parquet_stream_writer_spark.streaming import ViewMaintenanceSink

    projected = load_table(spark, sf_dir, "orders").select(
        # Null out one month's key to exercise the null-group lane.
        F.when(
            F.date_format("o_orderdate", "yyyy-MM") > F.lit("1998-01"), None
        )
        .otherwise(F.date_format("o_orderdate", "yyyy-MM"))
        .alias("month"),
        F.lit(1).cast("long").alias("n"),
    )
    batches = [projected.where(F.crc32(F.coalesce("month", F.lit("x"))) % 3 == i)
               for i in range(3)]

    sink = ViewMaintenanceSink(["month"], ["n"])
    groups_seen: set = set()
    for epoch, b in enumerate(batches):
        sink.process_batch(b, epoch)
        groups_seen |= {r["month"] for r in b.select("month").distinct().collect()}
        assert len(sink.view()) == len(groups_seen)  # view-sized, incl. null key

    before = sink.view()
    sink.process_batch(batches[-1], len(batches) - 1)  # replayed epoch
    assert sink.view().equals(before), "replayed epoch double-merged"

    want = (
        projected.groupBy("month")
        .agg(F.sum("n").alias("n"))
        .toPandas()
        .sort_values(["month"], ignore_index=True)
    )
    got = sink.view()
    # Align pandas' NaN-vs-None key representation before comparing.
    assert sorted(
        [(None if pd_isna(m) else m, int(n)) for m, n in zip(got["month"], got["n"])]
        , key=lambda t: (t[0] is None, t[0])
    ) == sorted(
        [(None if pd_isna(m) else m, int(n)) for m, n in zip(want["month"], want["n"])]
        , key=lambda t: (t[0] is None, t[0])
    )


def test_view_maintenance_failed_epoch_replays_and_state_cap_enforced(
    spark, sf_dir
):
    """Two ViewMaintenanceSink contracts made code this round:

    1. **Failed epochs are NOT skipped on replay** (ADVICE r7): a
       batch that errors mid-merge (here an ANSI divide-by-zero
       surfacing in ``toPandas``) must leave ``_last_epoch`` untouched
       so Structured Streaming's at-least-once re-delivery of that
       epoch merges it — recording the epoch before the merge turned
       exactly this failure into a silent drop.
    2. **The view-sized-state contract is enforced**: a merge that
       would exceed ``max_state_rows`` raises with nothing committed,
       instead of silently growing an input-sized in-memory view.
    """
    from parquet_stream_writer_spark.sources import load_table
    from parquet_stream_writer_spark.streaming import ViewMaintenanceSink

    projected = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.lit(1).cast("long").alias("n"),
    )
    half = [projected.where(F.crc32("month") % 2 == i) for i in range(2)]

    sink = ViewMaintenanceSink(["month"], ["n"])
    sink.process_batch(half[0], 0)
    poisoned = half[1].withColumn(
        "n", F.expr("CAST(raise_error('poison: merge failure') AS LONG)")
    )
    with pytest.raises(Exception):
        sink.process_batch(poisoned, 1)  # fails inside the merge
    # The failed epoch must replay, and the replay must merge.
    sink.process_batch(half[1], 1)
    want = (
        projected.groupBy("month")
        .agg(F.sum("n").alias("n"))
        .toPandas()
        .sort_values("month", ignore_index=True)
    )
    got = sink.view()
    assert list(got["month"]) == list(want["month"])
    assert [int(x) for x in got["n"]] == [int(x) for x in want["n"]]

    capped = ViewMaintenanceSink(["month"], ["n"], max_state_rows=3)
    with pytest.raises(RuntimeError, match="max_state_rows"):
        capped.process_batch(projected, 0)  # orders spans >3 months
    assert len(capped.view()) == 0 and capped.batches_seen == 0
    # A cap-compliant merge on the same sink still works afterwards.
    capped.process_batch(projected.where(F.col("month") <= "1995-03"), 0)
    assert 0 < len(capped.view()) <= 3


def test_streaming_first_touch_matches_batch_adoption(
    spark, sf_dir, events_stream_dir
):
    """The streaming first-touch relation (update-mode min aggregate)
    must converge to the batch first-touch exactly, regardless of how
    events are split across micro-batches — and therefore reproduce
    the batch adoption curve (events_cumulative_unique_users) when
    rolled up to per-day new-user counts."""
    import pandas as pd

    from parquet_stream_writer_spark.operators.staged3 import (
        events_cumulative_unique_users,
    )
    from parquet_stream_writer_spark.streaming.windows import first_touch_agg

    out = first_touch_agg(_events_stream(spark, events_stream_dir))
    tbl = _run_to_memory(spark, out, "first_touch_adoption", "update")
    # Update mode appends refinements: the LAST row per key is the
    # maintained state.
    pdf = tbl.toPandas()
    state = (
        pdf.groupby(["event_type", "user_id"], as_index=False)
        .agg(first_touch=("first_touch", "min"))
    )
    # 1. State == batch first-touch (exact, arrival-order-proof).
    batch = (
        spark.read.parquet(str(events_stream_dir))
        .groupBy("event_type", "user_id")
        .agg(F.min("ts").alias("first_touch"))
        .toPandas()
    )
    key = ["event_type", "user_id"]
    state = state.sort_values(key, ignore_index=True)
    batch = batch.sort_values(key, ignore_index=True)
    assert state[key].equals(batch[key])
    assert (
        pd.to_datetime(state["first_touch"]).values
        == pd.to_datetime(batch["first_touch"]).values
    ).all()
    # 2. Day rollup == the staged3 batch adoption curve's new_users.
    state["day"] = (
        pd.to_datetime(state["first_touch"]).astype("int64") // 86_400_000_000_000
    )
    rolled = (
        state.groupby(["event_type", "day"])
        .size()
        .reset_index(name="new_users")
        .sort_values(["event_type", "day"], ignore_index=True)
    )
    want = (
        events_cumulative_unique_users(spark, sf_dir)
        .select("event_type", "day", "new_users")
        .toPandas()
        .sort_values(["event_type", "day"], ignore_index=True)
    )
    assert rolled.astype({"day": "int64"}).values.tolist() == want.values.tolist()


def test_streaming_bot_flags_match_batch_census(
    spark, sf_dir, events_stream_dir
):
    """The streaming bot-flag state (per-type counts + distinct-day
    set, both merge-safe) must converge to the batch heuristic exactly
    regardless of micro-batch splits: the LAST emitted row per user is
    the final state, and its 4-column census must equal
    events_bot_detection_heuristic's output on the same events."""
    from parquet_stream_writer_spark.operators.staged4 import (
        events_bot_detection_heuristic,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_bot_flags,
    )

    out = streaming_bot_flags(_events_stream(spark, events_stream_dir))
    tbl = _run_to_memory(spark, out, "bot_flags_stream", "update")
    pdf = tbl.toPandas()
    # Update mode appends refinements; the row with the max n_events
    # per user is the final (monotone) state.
    final = (
        pdf.sort_values(["user_id", "n_events"])
        .groupby("user_id", as_index=False)
        .last()
    )
    got = (
        int(len(final)),
        int(final.rate_flag.sum()),
        int(final.monotony_flag.sum()),
        int((final.rate_flag & final.monotony_flag).sum()),
    )
    want_row = events_bot_detection_heuristic(spark, sf_dir).collect()[0]
    assert got == (
        want_row.n_users,
        want_row.n_rate_flagged,
        want_row.n_monotony_flagged,
        want_row.n_both,
    )
    # And the per-user counts themselves must match the batch grain.
    batch = (
        spark.read.parquet(str(events_stream_dir))
        .groupBy("user_id")
        .count()
        .toPandas()
        .sort_values("user_id", ignore_index=True)
    )
    final = final.sort_values("user_id", ignore_index=True)
    assert final["user_id"].tolist() == batch["user_id"].tolist()
    assert final["n_events"].tolist() == batch["count"].tolist()


def test_streaming_user_lifetime_matches_batch(
    spark, sf_dir, events_stream_dir
):
    """The streaming lifetime state (per-user first/last/count, all
    merge-safe) must converge to the batch per-user grain exactly
    regardless of micro-batch splits, and the nearest-rank rollup of
    the final relation must equal events_user_lifetime's 1-row
    summary on the same events."""
    import math

    from parquet_stream_writer_spark.operators.staged4 import (
        events_user_lifetime,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_user_lifetime,
    )

    out = streaming_user_lifetime(_events_stream(spark, events_stream_dir))
    tbl = _run_to_memory(spark, out, "user_lifetime_stream", "update")
    pdf = tbl.toPandas()
    # Update mode appends refinements; the row with the max n_events
    # per user is the final (monotone) state.
    final = (
        pdf.sort_values(["user_id", "n_events"])
        .groupby("user_id", as_index=False)
        .last()
    )
    # Per-user grain vs a batch recompute on the SAME files.
    batch = (
        spark.read.parquet(str(events_stream_dir))
        .groupBy("user_id")
        .count()
        .toPandas()
        .sort_values("user_id", ignore_index=True)
    )
    final = final.sort_values("user_id", ignore_index=True)
    assert final["user_id"].tolist() == batch["user_id"].tolist()
    assert final["n_events"].tolist() == batch["count"].tolist()
    assert (final["last_us"] >= final["first_us"]).all()
    assert (
        final["span_days"]
        == (final["last_us"] - final["first_us"]) // 86_400_000_000
    ).all()

    # Nearest-rank rollup of the final relation == the batch operator.
    want = events_user_lifetime(spark, sf_dir).collect()[0]
    n = len(final)
    spans = sorted(final["span_days"].tolist())
    assert n == want.n_users
    assert spans[math.ceil(0.5 * n) - 1] == want.p50_span_days
    assert spans[math.ceil(0.9 * n) - 1] == want.p90_span_days
    assert (
        math.floor(sum(spans) / n * 100 + 0.5) / 100.0
        == want.mean_span_days
    )
    assert (
        math.floor(final["n_events"].sum() / n * 100 + 0.5) / 100.0
        == want.mean_events_per_user
    )


@pytest.fixture()
def documents_stream_dir(spark, sf_dir, tmp_path):
    """Documents split into 4 files so maxFilesPerTrigger=1 yields four
    genuine micro-batches (file split is arbitrary — the reservoir
    twin must converge regardless)."""
    out = tmp_path / "documents_stream"
    spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(4).write.parquet(
        str(out)
    )
    return out


def test_streaming_reservoir_matches_batch(spark, sf_dir, documents_stream_dir):
    """The per-lang bottom-k (hash, doc_id) state must converge
    exactly to the batch deterministic reservoir under any micro-batch
    split: same doc_ids, same ranks, same buckets."""
    from parquet_stream_writer_spark.operators.pipeline import (
        sample_reservoir_per_group,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_reservoir_per_group,
    )

    schema = spark.read.parquet(str(documents_stream_dir)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(documents_stream_dir))
    )
    out = streaming_reservoir_per_group(stream)
    tbl = _run_to_memory(spark, out, "reservoir_stream", "update")
    pdf = tbl.toPandas()
    # n_seen is strictly monotone per key, so each lang's final
    # reservoir is the emission with its maximum n_seen.
    last = pdf.groupby("lang")["n_seen"].transform("max")
    final = (
        pdf[pdf["n_seen"] == last]
        .drop(columns=["n_seen"])
        .sort_values(["lang", "rk"], ignore_index=True)
    )
    batch = (
        sample_reservoir_per_group(spark, sf_dir)
        .toPandas()
        .sort_values(["lang", "rk"], ignore_index=True)
    )
    final = final.astype({"rk": "int32", "bucket": "int64"})
    batch = batch.astype({"rk": "int32", "bucket": "int64"})
    assert final.equals(batch[["lang", "rk", "doc_id", "bucket"]])


def test_streaming_reservoir_redelivery_is_idempotent():
    """A doc_id re-delivered in a later micro-batch (at-least-once
    replay or overlapping input) must be a no-op: the set-fold keeps
    one reservoir slot per document, so the state after replay equals
    the state after single delivery (ADVICE r10 — the old list-append
    let one document occupy two slots and evict a legitimate one).
    Drives the updater directly: it is a pure fold over
    (key, micro-batches, state)."""
    import pandas as pd

    from parquet_stream_writer_spark.operators.pipeline import _RESERVOIR_K
    from parquet_stream_writer_spark.streaming.stateful import (
        _update_reservoir,
    )

    class _State:
        exists = False
        _v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    ids = list(range(1, 401))
    once, replay = _State(), _State()
    list(_update_reservoir(("en",), iter([pd.DataFrame({"doc_id": ids})]), once))
    list(_update_reservoir(("en",), iter([pd.DataFrame({"doc_id": ids})]), replay))
    # Re-deliver half the corpus (pooled AND evicted docs) in a later
    # micro-batch; the reservoir must not move.
    out = list(
        _update_reservoir(
            ("en",), iter([pd.DataFrame({"doc_id": ids[:200]})]), replay
        )
    )
    assert replay.get[0] == once.get[0]  # buckets
    assert replay.get[1] == once.get[1]  # doc_ids
    assert len(once.get[1]) == min(_RESERVOIR_K, len(ids))
    assert len(set(replay.get[1])) == len(replay.get[1])  # one slot per doc
    # The emission mirrors the unchanged pool, ranks 1..k; n_seen stays
    # the monotone ARRIVAL counter (counts re-deliveries by design).
    final = out[0]
    assert final["doc_id"].tolist() == once.get[1]
    assert final["rk"].tolist() == list(range(1, len(once.get[1]) + 1))
    assert final["n_seen"].iloc[0] == len(ids) + 200


def test_streaming_active_days_growth_rollup(spark, sf_dir, events_stream_dir):
    """The per-user active-day set state must converge exactly to the
    batch (user, day) distinct under any micro-batch split, and the
    lag-classify rollup of the final relation must equal
    events_growth_accounting's day-grain census on the same events."""
    import pandas as pd

    from parquet_stream_writer_spark.operators.staged2 import (
        _GROWTH_GAP_DAYS,
        events_growth_accounting,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_active_days,
    )

    out = streaming_active_days(_events_stream(spark, events_stream_dir))
    tbl = _run_to_memory(spark, out, "active_days_stream", "update")
    pdf = tbl.toPandas()
    # n_days is monotone non-decreasing per key, so each user's final
    # day set is any emission with the maximum n_days (a batch that
    # touches a user without adding days re-emits an identical set —
    # dedup by user).
    last = pdf.groupby("user_id")["n_days"].transform("max")
    final = pdf[pdf["n_days"] == last].drop_duplicates("user_id")
    ud = (
        final[["user_id", "days"]]
        .explode("days")
        .rename(columns={"days": "day"})
        .astype({"day": "int64"})
        .sort_values(["user_id", "day"], ignore_index=True)
    )
    # Convergence: the exploded relation == the batch distinct.
    batch_ud = (
        spark.read.parquet(str(events_stream_dir))
        .selectExpr(
            "user_id",
            "unix_micros(cast(ts as timestamp)) div 86400000000 AS day",
        )
        .distinct()
        .toPandas()
        .sort_values(["user_id", "day"], ignore_index=True)
    )
    assert ud.equals(batch_ud)

    # Lag-classify rollup == the registered day-grain census.
    ud["prev"] = ud.groupby("user_id")["day"].shift()
    status = pd.Series("returning", index=ud.index)
    status[ud["prev"].isna()] = "new"
    status[(ud["day"] - ud["prev"]) > _GROWTH_GAP_DAYS] = "resurrected"
    ud["status"] = status
    got = (
        ud.groupby("day")
        .agg(
            n_active=("status", "size"),
            n_new=("status", lambda s: int((s == "new").sum())),
            n_returning=("status", lambda s: int((s == "returning").sum())),
            n_resurrected=("status", lambda s: int((s == "resurrected").sum())),
        )
        .reset_index()
        .astype("int64")
        .sort_values("day", ignore_index=True)
    )
    want = (
        events_growth_accounting(spark, sf_dir)
        .toPandas()
        .astype("int64")
        .sort_values("day", ignore_index=True)
    )
    assert got.equals(want)


def test_epoch_days_matches_spark_div_semantics(spark):
    """The streaming twins' day conversion must match the batch
    operators' `unix_micros(ts) div 86400000000` EXACTLY — Spark div
    truncates toward zero while Python // floors, which diverges by
    one day for pre-1970 timestamps with a nonzero remainder."""
    import pandas as pd

    from parquet_stream_writer_spark.streaming.stateful import _epoch_days

    ts = [
        "1969-12-31 12:00:00",  # negative micros, nonzero remainder
        "1969-12-31 23:59:59.999999",
        "1970-01-01 00:00:00",  # exact boundary
        "1970-01-02 12:00:00",
        "1968-02-29 06:00:00",
        "2024-06-15 23:59:59",
    ]
    got = _epoch_days(pd.Series(pd.to_datetime(ts, format="ISO8601"))).tolist()
    want = [
        r.d
        for r in spark.createDataFrame([(t,) for t in ts], "ts string")
        .selectExpr(
            "unix_micros(cast(ts as timestamp)) div 86400000000 AS d"
        )
        .collect()
    ]
    assert got == want


def test_streaming_hour_errors_slo_rollup(spark, sf_dir, events_stream_dir):
    """The per-hour (n, e) count state must converge exactly to the
    batch per-hour aggregate under any micro-batch split, and the
    day-grain rollup of the final relation must equal
    events_error_rate_slo's daily SLO report on the same events."""
    import math

    from parquet_stream_writer_spark.operators.staged5 import (
        _SLO_DEN,
        _SLO_NUM,
        events_error_rate_slo,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_hour_error_counts,
    )

    out = streaming_hour_error_counts(_events_stream(spark, events_stream_dir))
    tbl = _run_to_memory(spark, out, "hour_errors_stream", "update")
    pdf = tbl.toPandas()
    # n is monotone non-decreasing per key, so each hour's final state
    # is its max-n emission (a later batch never shrinks the counts).
    last = pdf.groupby("hr")["n"].transform("max")
    final = (
        pdf[pdf["n"] == last]
        .drop_duplicates("hr")
        .sort_values("hr", ignore_index=True)
    )

    # Convergence: the final per-hour relation == the batch aggregate.
    from pyspark.sql import functions as F

    batch_hours = (
        spark.read.parquet(str(events_stream_dir))
        .selectExpr(
            "date_trunc('hour', ts) AS hr",
            "CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err",
        )
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_err").alias("e"),
        )
        .toPandas()
        .sort_values("hr", ignore_index=True)
    )
    assert final["hr"].tolist() == batch_hours["hr"].tolist()
    assert final["n"].tolist() == batch_hours["n"].tolist()
    assert final["e"].tolist() == batch_hours["e"].tolist()
    assert final["breach"].tolist() == [
        e * _SLO_DEN > n * _SLO_NUM
        for n, e in zip(batch_hours["n"], batch_hours["e"])
    ]

    # Day-grain rollup of the final states == the registered operator.
    final["day"] = final["hr"].dt.floor("D")
    final["share"] = final["e"] / final["n"]
    got = []
    for day, grp in final.groupby("day"):
        worst = grp.sort_values(["share", "hr"], ascending=[False, True]).iloc[0]
        got.append(
            {
                "day": day,
                "n_hours": len(grp),
                "n_breached": int(grp["breach"].sum()),
                "worst_hour": worst["hr"],
                "worst_share": math.floor(worst["share"] * 1e6 + 0.5) / 1e6,
            }
        )
    want = (
        events_error_rate_slo(spark, sf_dir)
        .toPandas()
        .sort_values("day", ignore_index=True)
    )
    assert [g["day"] for g in got] == want["day"].tolist()
    assert [g["n_hours"] for g in got] == want["n_hours"].tolist()
    assert [g["n_breached"] for g in got] == want["n_breached"].tolist()
    assert [g["worst_hour"] for g in got] == want["worst_hour"].tolist()
    assert [g["worst_share"] for g in got] == want["worst_share"].tolist()


def test_streaming_day_mix_entropy_rollup(spark, sf_dir, events_stream_dir):
    """The per-(day, type) count state must converge exactly to the
    batch per-cell aggregate under any micro-batch split, and the
    day-grain rollup of the final relation must equal
    agg_entropy_categorical's daily mix report on the same events —
    including the 1e-6-quantized c·log2(c) entropy arithmetic (the
    round-13 integer-sum convention), so the twin cannot drift from
    the registered operator."""
    import math

    from parquet_stream_writer_spark.operators.staged import (
        agg_entropy_categorical,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_day_type_mix,
    )

    out = streaming_day_type_mix(_events_stream(spark, events_stream_dir))
    tbl = _run_to_memory(spark, out, "day_mix_stream", "update")
    pdf = tbl.toPandas()
    # c is monotone non-decreasing per key, so each cell's final state
    # is its max-c emission (a later batch never shrinks the count).
    last = pdf.groupby(["day", "event_type"])["c"].transform("max")
    final = (
        pdf[pdf["c"] == last]
        .drop_duplicates(["day", "event_type"])
        .sort_values(["day", "event_type"], ignore_index=True)
    )

    # Convergence: the final per-cell relation == the batch aggregate.
    from pyspark.sql import functions as F

    batch_cells = (
        spark.read.parquet(str(events_stream_dir))
        .groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .toPandas()
        .sort_values(["day", "event_type"], ignore_index=True)
    )
    assert final["day"].tolist() == batch_cells["day"].tolist()
    assert final["event_type"].tolist() == batch_cells["event_type"].tolist()
    assert final["c"].tolist() == batch_cells["c"].tolist()

    # Day-grain rollup of the final states == the registered operator,
    # reproducing its exact quantized-entropy arithmetic.
    got = []
    for day, grp in final.groupby("day"):
        t = int(grp["c"].sum())
        clogc6 = sum(
            int(math.floor(c * math.log2(c) * 1e6 + 0.5)) for c in grp["c"]
        )
        entropy = math.log2(t) - clogc6 / (t * 1e6)
        dom = grp.sort_values(
            ["c", "event_type"], ascending=[False, True]
        ).iloc[0]
        got.append(
            {
                "day": day,
                "n_events": t,
                "n_types": len(grp),
                "entropy_bits": math.floor(entropy * 1e6 + 0.5) / 1e6,
                "dominant_type": dom["event_type"],
                "dominant_share": math.floor(
                    int(dom["c"]) / t * 1e6 + 0.5
                )
                / 1e6,
            }
        )
    want = (
        agg_entropy_categorical(spark, sf_dir)
        .toPandas()
        .sort_values("day", ignore_index=True)
    )
    for col in (
        "day",
        "n_events",
        "n_types",
        "entropy_bits",
        "dominant_type",
        "dominant_share",
    ):
        assert [g[col] for g in got] == want[col].tolist(), col


def test_streaming_seasonality_rollup(spark, sf_dir, events_stream_dir):
    """The per-(dow, hod) cell state must converge exactly to the
    batch cell aggregate under any micro-batch split, and the rollup
    of the final relation must equal events_seasonality_profile's full
    load-shape grid on the same events — including the
    rounded-sum-divide mean convention (pround(sum,2)/n re-rounded to
    4 dp), which the integer-cents state reproduces exactly."""
    import math

    from parquet_stream_writer_spark.operators.streaming_batch import (
        events_seasonality_profile,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_seasonality_grid,
    )

    out = streaming_seasonality_grid(_events_stream(spark, events_stream_dir))
    tbl = _run_to_memory(spark, out, "season_stream", "update")
    pdf = tbl.toPandas()
    # n is monotone non-decreasing per key, so each cell's final state
    # is its max-n emission.
    last = pdf.groupby(["dow", "hod"])["n"].transform("max")
    final = (
        pdf[pdf["n"] == last]
        .drop_duplicates(["dow", "hod"])
        .sort_values(["dow", "hod"], ignore_index=True)
    )

    # Convergence: the final cells == the batch aggregate (count,
    # exact cents, distinct users).
    from pyspark.sql import functions as F

    us = "unix_micros(cast(ts as timestamp))"
    batch_cells = (
        spark.read.parquet(str(events_stream_dir))
        .select(
            F.expr(f"({us} div 86400000000 + 3) % 7").alias("dow"),
            F.expr(f"({us} div 3600000000) % 24").alias("hod"),
            "user_id",
            F.expr("cast(floor(value * 100 + 0.5) as long)").alias("cents"),
        )
        .groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .toPandas()
        .sort_values(["dow", "hod"], ignore_index=True)
    )
    for col in ("dow", "hod", "n", "cents", "n_users"):
        assert final[col].tolist() == batch_cells[col].tolist(), col

    # Rollup of the final states == the registered operator's grid.
    got = []
    for _, r in final.iterrows():
        sum_2dp = int(r["cents"]) / 100.0  # == pround(sum(value), 2)
        got.append(
            {
                "dow": int(r["dow"]),
                "hod": int(r["hod"]),
                "n_events": int(r["n"]),
                "n_users": int(r["n_users"]),
                "avg_value": math.floor(sum_2dp / int(r["n"]) * 1e4 + 0.5)
                / 1e4,
            }
        )
    want = (
        events_seasonality_profile(spark, sf_dir)
        .toPandas()
        .sort_values(["dow", "hod"], ignore_index=True)
    )
    for col in ("dow", "hod", "n_events", "n_users", "avg_value"):
        assert [g[col] for g in got] == want[col].tolist(), col


def test_streaming_seasonality_hll(spark, events_stream_dir):
    """The HLL scale-path twin: final per-cell registers must equal a
    batch SplitMix64 fold of the same user ids BIT-FOR-BIT (the
    sketch is a pure function of the user set), n/cents must match
    the exact twin's counting state, and every cell's estimate must
    sit inside the standard ~1.04/sqrt(m) HLL error band (6 sigma
    margin) of the exact distinct count."""
    import numpy as np

    from parquet_stream_writer_spark.streaming.stateful import (
        _HLL_M,
        _hll_fold,
        hll_estimate,
        streaming_seasonality_grid_hll,
    )

    out = streaming_seasonality_grid_hll(
        _events_stream(spark, events_stream_dir, files_per_trigger=2)
    )
    tbl = _run_to_memory(spark, out, f"hll_{uuid.uuid4().hex[:8]}", "update")
    pdf = tbl.toPandas()
    last = pdf.groupby(["dow", "hod"])["n"].transform("max")
    final = (
        pdf[pdf["n"] == last]
        .drop_duplicates(["dow", "hod"])
        .sort_values(["dow", "hod"], ignore_index=True)
    )

    batch = (
        spark.read.parquet(str(events_stream_dir))
        .selectExpr(
            "(unix_micros(cast(ts as timestamp)) div 86400000000 + 3) % 7 AS dow",
            "(unix_micros(cast(ts as timestamp)) div 3600000000) % 24 AS hod",
            "user_id",
            "cast(floor(value * 100 + 0.5) as long) AS cents",
        )
        .toPandas()
    )
    groups = batch.groupby(["dow", "hod"])
    assert len(final) == len(groups)
    rel_err_band = 6 * 1.04 / (_HLL_M ** 0.5)
    for (dow, hod), grp in groups:
        row = final[(final["dow"] == dow) & (final["hod"] == hod)].iloc[0]
        assert int(row["n"]) == len(grp)
        assert int(row["cents"]) == int(grp["cents"].sum())
        # bit-exact register agreement with an order-independent
        # batch fold of the same ids
        regs = _hll_fold(
            np.zeros(_HLL_M, dtype=np.uint8), grp["user_id"].to_numpy()
        )
        assert abs(row["est_users"] - hll_estimate(regs.tobytes())) < 1e-9
        exact = grp["user_id"].nunique()
        assert abs(row["est_users"] - exact) <= rel_err_band * exact + 2.0


def test_streaming_sessionize_matches_batch(spark, sf_dir, events_stream_dir):
    """The interval-merge sessionize twin must converge EXACTLY to the
    batch gaps-and-islands operator on the 4-file OUT-OF-TIME-ORDER
    replay — the order-freeness claim: sessions are the connected
    components of the truncated-second "within 30 min" relation, so
    feeding events in any order across any micro-batch split yields
    the identical session set.  The huge watermark delay admits every
    late row and suppresses eviction, so each user's max-rev snapshot
    is his full session list."""
    from parquet_stream_writer_spark.operators.streaming_batch import (
        events_sessionize,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_sessionize,
    )

    out = streaming_sessionize(
        _events_stream(spark, events_stream_dir), watermark="3650 days"
    )
    name = f"sessz_{uuid.uuid4().hex[:8]}"
    pdf = _run_to_memory(spark, out, name, "update").toPandas()
    assert not pdf["closed"].any()  # nothing evicts under the huge delay
    last = pdf.groupby("user_id")["rev"].transform("max")
    final = pdf[pdf["rev"] == last]
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.cents / 100.0)
        for r in final.itertuples()
    }

    batch = events_sessionize(spark, sf_dir).toPandas()
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in batch.itertuples()
    }
    assert got == want


def test_streaming_sessionize_gap_matches_batch_constant():
    """Drift guard: the twin's truncated-second gap must equal the
    batch operator's _SESSION_GAP_MIN (the twin cannot import it at
    module scope without pulling the whole operators registry, so the
    suite pins the equality instead — self-review r15)."""
    from parquet_stream_writer_spark.operators.streaming_batch import (
        _SESSION_GAP_MIN,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        _SESSIONIZE_GAP_S,
    )

    assert _SESSIONIZE_GAP_S == _SESSION_GAP_MIN * 60


def test_streaming_sessionize_timeout_evicts_closed_sessions(
    spark, sf_dir, events_stream_dir
):
    """With a short watermark delay, the availableNow no-data final
    batch fires the event-time timeouts: sessions whose horizon fell
    below the watermark are emitted CLOSED and leave the state (the
    100 TB state-hygiene path).  Content must still equal the batch
    operator: closure changes WHERE a session is emitted, never what
    it contains."""
    from parquet_stream_writer_spark.operators.streaming_batch import (
        events_sessionize,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_sessionize,
    )

    # One data batch (all 4 files) so nothing is late-dropped; the
    # watermark then advances to max_ts - 1 min and expires every
    # session ending >30 min before it.
    out = streaming_sessionize(
        _events_stream(spark, events_stream_dir, files_per_trigger=4),
        watermark="1 minute",
    )
    name = f"sesst_{uuid.uuid4().hex[:8]}"
    pdf = _run_to_memory(spark, out, name, "update").toPandas()
    closed = pdf[pdf["closed"]]
    assert len(closed) > 0  # the corpus spans days: timeouts must fire
    # Final view: each user's max-rev snapshot plus any closure rows
    # (a closed session leaves state and is never re-emitted).
    last = pdf.groupby("user_id")["rev"].transform("max")
    final = pdf[(pdf["rev"] == last) | pdf["closed"]]
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.cents / 100.0)
        for r in final.itertuples()
    }
    batch = events_sessionize(spark, sf_dir).toPandas()
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in batch.itertuples()
    }
    assert got == want


def test_streaming_sessionize_rev_survives_drain_and_revival():
    """Unit pin for the self-review r15 fix: when every session
    drains (timeout eviction), the state keeps an O(1) tombstone with
    the rev counter instead of being removed, so a revived user's
    emissions keep rev monotone and a max-rev consumer never prefers
    a stale pre-drain snapshot over post-revival sessions."""
    import pandas as pd

    from parquet_stream_writer_spark.streaming.stateful import (
        _update_sessionize,
    )

    class FakeState:
        def __init__(self):
            self._v, self._wm_ms, self.removed = None, 0, False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v, self.removed = None, True

        def getCurrentWatermarkMs(self):
            return self._wm_ms

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

    state = FakeState()
    day = 86_400_000_000  # µs

    def batch(ts_us_list):
        return [
            pd.DataFrame(
                {
                    "ts": pd.to_datetime(ts_us_list, unit="us"),
                    "value": [1.0] * len(ts_us_list),
                }
            )
        ]

    # batch 1: one session on day 1 -> rev 1, live
    out1 = list(_update_sessionize((7,), batch([day]), state))[0]
    assert out1["rev"].tolist() == [1] and not out1["closed"].any()
    # timeout invocation with the watermark far past the horizon:
    # the session closes, the state drains to a tombstone (rev kept)
    state._wm_ms = (day + 10 * day) // 1000
    out2 = list(_update_sessionize((7,), [], state))[0]
    assert out2["closed"].all() and out2["rev"].tolist() == [2]
    assert state.exists and not state.removed  # tombstone, not removal
    assert state.get[:4] == ([], [], [], [])
    # revival: a later event must emit at rev 3 (monotone), so the
    # max-rev selection cannot prefer the rev-2 pre-drain emission
    out3 = list(_update_sessionize((7,), batch([20 * day]), state))[0]
    assert out3["rev"].tolist() == [3] and not out3["closed"].any()


def test_streaming_cms_sketch_constants():
    """The vector-state twin replicates the batch sketch geometry and
    per-depth hash instead of importing the operators registry (the
    sessionize-gap convention) — pin them identical so a batch-side
    change cannot silently desynchronize the twin."""
    from parquet_stream_writer_spark.operators import streaming_batch as sb
    from parquet_stream_writer_spark.streaming import stateful as st

    assert st._CMS_TWIN_DEPTH == sb._CMS_DEPTH
    assert st._CMS_TWIN_WIDTH == sb._CMS_WIDTH
    for d in range(sb._CMS_DEPTH):
        assert st._cms_twin_cell_expr("event_type", d) == sb._cms_cell_expr(
            "event_type", d
        )


def test_streaming_cms_sketch_matches_batch(spark, sf_dir, events_stream_dir):
    """Each depth's final vector state (max-n emission) must equal the
    single-pass batch sketch row EXACTLY — element-wise counter
    addition is commutative, so the 4-file micro-batch split cannot
    change the result."""
    from parquet_stream_writer_spark.operators.streaming_batch import cms_cells
    from parquet_stream_writer_spark.streaming.stateful import (
        _CMS_TWIN_DEPTH,
        streaming_cms_sketch,
    )

    from pyspark.sql import Window

    stream = _events_stream(spark, events_stream_dir)
    name = f"cms_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(spark, streaming_cms_sketch(stream), name, "update")

    # final state per depth = its max-n emission (n is monotone)
    w = Window.partitionBy("depth").orderBy(F.desc("n"))
    final = (
        result.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("depth", "cells", "n")
    )
    rows = final.collect()
    assert len(rows) == _CMS_TWIN_DEPTH

    streamed = {
        (r["depth"], cell): c
        for r in rows
        for cell, c in enumerate(r["cells"])
        if c > 0
    }
    # NON-NULL key domain on the batch side: the twin filters NULL keys
    # (their md5 cell is NULL — see the null-key test below), so if
    # NULLs ever enter the events corpus this pin must keep comparing
    # like-for-like instead of failing confusingly (ADVICE r16).
    keys = load_events(spark, sf_dir).select("event_type").where(
        F.col("event_type").isNotNull()
    )
    batch = {
        (r["depth"], r["cell"]): r["c"] for r in cms_cells(keys).collect()
    }
    assert streamed == batch and len(batch) > 0
    # every depth's row sums to the full (non-NULL-key) event count (no
    # event lost to hashing), and state is the fixed sketch geometry
    n_events = keys.count()
    for r in rows:
        assert sum(r["cells"]) == n_events == r["n"]


def test_streaming_cms_sketch_null_keys(spark, tmp_path):
    """NULL keys must not crash the vector-state kernel (a NULL key's
    md5 cell is NULL — un-indexable into the counter array) and the
    final sketch must equal the batch sketch over the NON-NULL key
    domain, matching the batch operator's estimate semantics (a NULL
    key's NULL cell never joins a probe) — self-review r16."""
    import pandas as pd

    from parquet_stream_writer_spark.operators.streaming_batch import cms_cells
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_cms_sketch,
    )

    rows = pd.DataFrame(
        {
            "event_type": ["view", None, "purchase", "view", None, "click"],
        }
    )
    src = tmp_path / "null_key_stream"
    spark.createDataFrame(rows).repartition(2).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = f"cmsnull_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(spark, streaming_cms_sketch(stream), name, "update")

    from pyspark.sql import Window

    w = Window.partitionBy("depth").orderBy(F.desc("n"))
    final = (
        result.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .collect()
    )
    streamed = {
        (r["depth"], cell): c
        for r in final
        for cell, c in enumerate(r["cells"])
        if c > 0
    }
    batch_df = spark.read.parquet(str(src)).where(F.col("event_type").isNotNull())
    batch = {
        (r["depth"], r["cell"]): r["c"]
        for r in cms_cells(batch_df.select("event_type")).collect()
    }
    assert streamed == batch and len(batch) > 0
    for r in final:
        assert r["n"] == 4  # the two NULL-key rows are excluded


def test_streaming_hourly_ohlc_matches_batch(spark, sf_dir, events_stream_dir):
    """The OHLC twin's final per-hour state must equal the batch
    operator's row EXACTLY under the 4-file out-of-order replay: open/
    close are argmin/argmax under the total order (ts, event_id) with
    the ordering key carried in state, so arrival order cannot matter;
    high/low/count are plain commutative folds."""
    from pyspark.sql import Window

    from parquet_stream_writer_spark.operators.streaming_batch import (
        events_hourly_ohlc,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_hourly_ohlc,
    )

    stream = _events_stream(spark, events_stream_dir)
    name = f"ohlc_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(spark, streaming_hourly_ohlc(stream), name, "update")

    # final state per hour = its max-n emission (n is monotone per key)
    w = Window.partitionBy("hr").orderBy(F.desc("n_events"))
    final = (
        result.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    streamed = {
        r["hr"]: (r["open_v"], r["high_v"], r["low_v"], r["close_v"], r["n_events"])
        for r in final.collect()
    }
    batch = {
        r["hr"]: (r["open_v"], r["high_v"], r["low_v"], r["close_v"], r["n_events"])
        for r in events_hourly_ohlc(spark, sf_dir).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_streaming_hourly_ohlc_carriers_ignore_arrival_order(spark, tmp_path):
    """Deterministic carrier pin: the hour's true open arrives in the
    LAST micro-batch (earlier event-time, later arrival) and a same-
    timestamp tie is broken by event_id — the state's carried ordering
    keys must demote the earlier-arriving rows without any buffering."""
    import pandas as pd

    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_hourly_ohlc,
    )

    src = tmp_path / "ohlc_ooo"
    batches = [
        pd.DataFrame(  # arrives FIRST: the hour's latest event (close)
            {"event_id": [2], "ts": [pd.Timestamp("2024-03-01 10:30:00")],
             "value": [5.0]}
        ),
        pd.DataFrame(  # arrives second: earlier event-time
            {"event_id": [1], "ts": [pd.Timestamp("2024-03-01 10:05:00")],
             "value": [7.0]}
        ),
        pd.DataFrame(  # arrives LAST: same ts as #1, lower event_id -> open
            {"event_id": [0], "ts": [pd.Timestamp("2024-03-01 10:05:00")],
             "value": [9.0]}
        ),
    ]
    for i, b in enumerate(batches):
        b["ts"] = b["ts"].astype("datetime64[us]")
        spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(
            str(src)
        )
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = f"ohlcooo_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(spark, streaming_hourly_ohlc(stream), name, "update")
    final = result.orderBy(F.desc("n_events")).limit(1).collect()[0]
    assert final["n_events"] == 3
    assert final["open_v"] == 9.0   # (10:05, eid 0) wins the argmin
    assert final["close_v"] == 5.0  # (10:30, eid 2) wins the argmax
    assert final["high_v"] == 9.0 and final["low_v"] == 5.0


def test_streaming_hourly_ohlc_null_and_nan_values(spark, tmp_path):
    """NULL / NaN value pin (self-review r17): the batch aggregates
    IGNORE NULLs in min/max but order NaN greater than every double,
    and open/close carry the carrier row's value verbatim (NULL
    included).  A float64 pandas column collapses NULL into NaN, so
    the twin's JVM-side ``vnull`` flag is load-bearing — this replay
    must equal the batch operator row-for-row on a corpus mixing
    NULLs, NaNs, and real doubles across micro-batches."""
    import datetime as dt
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_stream_writer_spark.operators.streaming_batch import (
        events_hourly_ohlc,
    )
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_hourly_ohlc,
    )

    def t(h, m):
        return dt.datetime(2024, 3, 1, h, m)

    nan = float("nan")
    # hour 10: open row NULL, NaN mid-hour -> open NULL, high NaN, low 3.0
    # hour 11: all NULL -> every value column NULL, n=2
    # hour 12: all NaN -> open/close/high/low all NaN
    rows = [
        (1, t(10, 5), None), (2, t(10, 10), 3.0), (3, t(10, 20), nan),
        (4, t(11, 0), None), (5, t(11, 30), None),
        (6, t(12, 0), nan), (7, t(12, 10), nan),
    ]
    ev_dir = tmp_path / "c" / "events.parquet"
    ev_dir.mkdir(parents=True)

    def tbl(chunk):
        return pa.table(
            {
                "event_id": pa.array([r[0] for r in chunk], pa.int64()),
                "ts": pa.array([r[1] for r in chunk], pa.timestamp("us")),
                "value": pa.array([r[2] for r in chunk], pa.float64()),
            }
        )

    # split so hour 10 spans both micro-batches (carrier merge runs)
    pq.write_table(tbl(rows[:2] + rows[3:4]), ev_dir / "part-0.parquet")
    pq.write_table(tbl(rows[2:3] + rows[4:]), ev_dir / "part-1.parquet")

    schema = spark.read.parquet(str(ev_dir)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ev_dir))
    )
    name = f"ohlcnull_{uuid.uuid4().hex[:8]}"
    result = _run_to_memory(spark, streaming_hourly_ohlc(stream), name, "update")
    from pyspark.sql import Window

    w = Window.partitionBy("hr").orderBy(F.desc("n_events"))
    final = {
        r["hr"]: (r["open_v"], r["high_v"], r["low_v"], r["close_v"], r["n_events"])
        for r in result.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .collect()
    }
    batch = {
        r["hr"]: (r["open_v"], r["high_v"], r["low_v"], r["close_v"], r["n_events"])
        for r in events_hourly_ohlc(spark, str(tmp_path / "c")).collect()
    }

    def eq(a, b):
        if a is None or b is None:
            return a is None and b is None
        if isinstance(a, float) and isinstance(b, float):
            if math.isnan(a) or math.isnan(b):
                return math.isnan(a) and math.isnan(b)
        return a == b

    assert set(final) == set(batch) and len(batch) == 3
    for hr in batch:
        assert all(eq(x, y) for x, y in zip(final[hr], batch[hr])), (
            hr, final[hr], batch[hr],
        )
    # spot-pin the intended semantics so the fixture can't rot
    h10 = batch[dt.datetime(2024, 3, 1, 10, 0)]
    assert h10[0] is None and math.isnan(h10[1]) and h10[2] == 3.0


@pytest.fixture()
def orders_stream_dir(spark, sf_dir, tmp_path):
    """Orders re-materialized as 2 files so maxFilesPerTrigger=1
    interleaves dim-version arrivals with the 4 event files."""
    from parquet_stream_writer_spark.sources import load_table

    out = tmp_path / "orders_stream"
    (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
        )
        .repartition(2)
        .write.parquet(str(out))
    )
    return out


def _orders_stream(spark, orders_stream_dir, files_per_trigger=1):
    schema = spark.read.parquet(str(orders_stream_dir)).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(str(orders_stream_dir))
    )


def _asof_row_set(pdf):
    """The one (user_id, event_id, ts, o_orderkey, o_orderdate) tuple
    shape both sides of every equality compare through — a column or
    NULL-normalization change edits ONE place."""
    return {
        (
            r.user_id,
            r.event_id,
            r.ts,
            None if pd_isna(r.o_orderkey) else int(r.o_orderkey),
            None if pd_isna(r.o_orderdate) else r.o_orderdate,
        )
        for r in pdf.itertuples()
    }


def _asof_final_view(pdf):
    """Consumer contract: closed rows plus each user's max-rev
    snapshot (a closing invocation bumps rev, so superseded
    provisional rows are never selected)."""
    last = pdf.groupby("user_id")["rev"].transform("max")
    return _asof_row_set(pdf[(pdf["rev"] == last) | pdf["closed"]])


def test_streaming_asof_enrich_matches_batch(
    spark, sf_dir, events_stream_dir, orders_stream_dir
):
    """The join-shaped twin must converge EXACTLY to the batch
    ``join_asof`` on interleaved out-of-order event and order files:
    the per-user state correlates a fact buffer with a deduped dim
    version list, so arrival interleaving across the 4+2 micro-batch
    files cannot change any event's final match.  The huge watermark
    delay admits every row and suppresses closure, so each user's
    max-rev snapshot is his fully-re-matched event set."""
    from parquet_stream_writer_spark.operators.pipeline import join_asof
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_asof_enrich,
    )

    out = streaming_asof_enrich(
        _events_stream(spark, events_stream_dir),
        _orders_stream(spark, orders_stream_dir),
        watermark="36500 days",
    )
    name = f"asof_{uuid.uuid4().hex[:8]}"
    pdf = _run_to_memory(spark, out, name, "update").toPandas()
    assert not pdf["closed"].any()  # nothing closes under the huge delay
    got = _asof_final_view(pdf)

    want = _asof_row_set(join_asof(spark, sf_dir).toPandas())
    assert got == want and len(want) > 0


def test_streaming_asof_enrich_late_dim_upgrades_match(spark, tmp_path):
    """Deterministic late-arriving-dim pin: the matching order arrives
    a micro-batch AFTER its event, so the event's rev-1 provisional
    match is NULL and the rev-2 re-match upgrades it; the upgrade must
    honor >= semantics (order exactly at the event time is visible)
    and the max-okey tie-break among equal order timestamps."""
    import pandas as pd

    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_asof_enrich,
    )

    ts = pd.Timestamp("2024-03-01 10:00:00")
    ev_dir, ord_dir = tmp_path / "ev", tmp_path / "ord"
    ev = pd.DataFrame(
        {"event_id": [100], "user_id": [7], "ts": [ts]}
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    spark.createDataFrame(ev).coalesce(1).write.parquet(str(ev_dir))
    # File 1 (same trigger as the event): an unrelated user's order.
    # File 2 (NEXT trigger): two orders for user 7 exactly AT the
    # event time — the late dim versions that upgrade the match.
    o1 = pd.DataFrame(
        {"o_orderkey": [1], "o_custkey": [99], "o_orderdate": [ts]}
    )
    o2 = pd.DataFrame(
        {"o_orderkey": [10, 11], "o_custkey": [7, 7], "o_orderdate": [ts, ts]}
    )
    for o in (o1, o2):
        o["o_orderdate"] = o["o_orderdate"].astype("datetime64[us]")
        spark.createDataFrame(o).coalesce(1).write.mode("append").parquet(
            str(ord_dir)
        )
    out = streaming_asof_enrich(
        spark.readStream.schema(spark.read.parquet(str(ev_dir)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ev_dir)),
        spark.readStream.schema(spark.read.parquet(str(ord_dir)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ord_dir)),
        watermark="36500 days",
    )
    name = f"asoflate_{uuid.uuid4().hex[:8]}"
    pdf = _run_to_memory(spark, out, name, "update").toPandas()
    u7 = pdf[pdf["user_id"] == 7].sort_values("rev")
    # rev 1: provisional NULL (no dim version yet); final rev: the
    # equal-timestamp order is visible (>=) and okey 11 wins the tie.
    assert pd_isna(u7.iloc[0]["o_orderkey"])
    assert int(u7.iloc[-1]["o_orderkey"]) == 11
    assert u7.iloc[-1]["o_orderdate"] == ts


def test_streaming_asof_enrich_timeout_closes_events(
    spark, sf_dir, events_stream_dir, orders_stream_dir
):
    """With a short watermark delay, the availableNow no-data final
    batch fires the event-time timeouts: every event whose timestamp
    fell below the watermark is emitted CLOSED with its FINAL match
    and leaves the buffer (the 100 TB state-hygiene path).  Closure
    changes WHERE a row is emitted, never its match: closed rows plus
    max-rev snapshots must still equal the batch operator."""
    from parquet_stream_writer_spark.operators.pipeline import join_asof
    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_asof_enrich,
    )

    # One data batch (all files) so nothing is late-dropped; the
    # watermark then advances to max_t - 1 min and finalizes every
    # earlier event via the timeout path.
    out = streaming_asof_enrich(
        _events_stream(spark, events_stream_dir, files_per_trigger=4),
        _orders_stream(spark, orders_stream_dir, files_per_trigger=2),
        watermark="1 minute",
    )
    name = f"asoft_{uuid.uuid4().hex[:8]}"
    pdf = _run_to_memory(spark, out, name, "update").toPandas()
    assert pdf["closed"].any()  # the corpus spans days: closures must fire
    got = _asof_final_view(pdf)
    want = _asof_row_set(join_asof(spark, sf_dir).toPandas())
    assert got == want


def test_streaming_asof_enrich_closed_match_survives_dim_prune(spark, tmp_path):
    """Interleaved-timeline pin (self-review r18): a CLOSED event's
    correct match can be an order version OLDER than the newest one
    at-or-below the watermark — the exact versions the state prune
    drops — so matches must be computed before the prune.  Timeline:
    order A@09:00 (key 500), event E@10:00, order C@10:15 (key 600),
    and a later event advancing the watermark past E.  E's
    authoritative closed row must carry key 500 — not NULL (the
    prune-before-match failure) and not 600 (as-of is at-or-BEFORE).
    The sf corpus cannot catch this: every order there predates every
    event, so the newest kept version is always the right match."""
    import pandas as pd

    from parquet_stream_writer_spark.streaming.stateful import (
        streaming_asof_enrich,
    )

    ev_dir, ord_dir = tmp_path / "ev", tmp_path / "ord"
    ev = pd.DataFrame(
        {
            "event_id": [1, 2],
            "user_id": [7, 8],
            "ts": [
                pd.Timestamp("2024-03-01 10:00:00"),
                pd.Timestamp("2024-03-01 12:00:00"),  # advances the watermark
            ],
        }
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    spark.createDataFrame(ev).coalesce(1).write.parquet(str(ev_dir))
    orders = pd.DataFrame(
        {
            "o_orderkey": [500, 600],
            "o_custkey": [7, 7],
            "o_orderdate": [
                pd.Timestamp("2024-03-01 09:00:00"),
                pd.Timestamp("2024-03-01 10:15:00"),
            ],
        }
    )
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    spark.createDataFrame(orders).coalesce(1).write.parquet(str(ord_dir))
    out = streaming_asof_enrich(
        spark.readStream.schema(spark.read.parquet(str(ev_dir)).schema)
        .parquet(str(ev_dir)),
        spark.readStream.schema(spark.read.parquet(str(ord_dir)).schema)
        .parquet(str(ord_dir)),
        watermark="1 minute",
    )
    name = f"asofprune_{uuid.uuid4().hex[:8]}"
    pdf = _run_to_memory(spark, out, name, "update").toPandas()
    closed = pdf[(pdf["user_id"] == 7) & pdf["closed"]]
    assert len(closed) == 1  # the no-data final batch closes E via timeout
    assert int(closed.iloc[0]["o_orderkey"]) == 500
    assert closed.iloc[0]["o_orderdate"] == pd.Timestamp("2024-03-01 09:00:00")
    # The full final view agrees with the batch as-of semantics.
    assert _asof_final_view(pdf) == {
        (7, 1, pd.Timestamp("2024-03-01 10:00:00"), 500,
         pd.Timestamp("2024-03-01 09:00:00")),
        (8, 2, pd.Timestamp("2024-03-01 12:00:00"), None, None),
    }
