"""Streaming → sink-layer bridges.

The reference's entire purpose is "push an unbounded stream of batches
into size-bounded parquet shards" (SURVEY.md §0). In Spark terms the
unbounded stream is a streaming DataFrame and the push unit is the
micro-batch: ``foreachBatch`` hands each micro-batch to the sink
layer, which does byte accounting + rollover exactly as in batch mode.

Two modes:

- ``StreamingShardSink(writer=ParquetStreamWriter(...))`` — exact
  reference semantics (driver-side sequential writer). Right for
  modest-rate streams where deterministic ``prefix-N.parquet`` naming
  and byte thresholds matter more than parallel write bandwidth.
  Each micro-batch is collected once (one Spark job): the writer
  itself skips zero-row batches and creates no file until a real
  flush, so an empty micro-batch leaves no file without a separate
  emptiness probe.
- ``StreamingShardSink(path=..., shard_size_bytes=...)`` (no writer) —
  distributed: each micro-batch is written with
  ``ShardedDatasetWriter`` under ``path/batch=N/``. Scales with the
  cluster; naming is deterministic per micro-batch. An ``isEmpty()``
  probe skips empty micro-batches, since a Spark write of an empty
  DataFrame still leaves a schema-only part file.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from parquet_stream_writer_spark.sink.sharded import ShardedDatasetWriter
from parquet_stream_writer_spark.sink.stream_writer import ParquetStreamWriter


class StreamingShardSink:
    """foreachBatch adapter feeding micro-batches into the sink layer."""

    def __init__(
        self,
        *,
        writer: ParquetStreamWriter | None = None,
        path: str | Path | None = None,
        shard_size_bytes: int | None = None,
        file_prefix: str | None = None,
    ) -> None:
        if writer is None and path is None:
            raise ValueError("provide either a ParquetStreamWriter or a path")
        self.writer = writer
        self.path = Path(path) if path is not None else None
        self.shard_size_bytes = shard_size_bytes or (256 << 20)
        self.file_prefix = file_prefix
        self.batches_seen = 0
        self.written_files: list[Path] = []

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.batches_seen += 1
        if self.writer is not None:
            # No emptiness probe: the writer drops zero-row batches and
            # opens no file before a real flush (lazy creation).
            self.writer.write_dataframe(batch_df)
            self.written_files = list(self.writer.written_files)
            return
        if batch_df.isEmpty():  # lazy-creation parity: no files for empty batches
            return
        out = self.path / f"batch={epoch_id}"
        out.parent.mkdir(parents=True, exist_ok=True)
        sharded = ShardedDatasetWriter(
            out,
            shard_size_bytes=self.shard_size_bytes,
            file_prefix=self.file_prefix or self.path.name,
            overwrite=True,
        )
        self.written_files.extend(sharded.write(batch_df))

    def start(self, stream_df: DataFrame, *, checkpoint: str | Path, available_now: bool = True) -> StreamingQuery:
        """Attach to a streaming DataFrame and start the query."""
        ws = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", str(checkpoint))
            .outputMode("append")
        )
        if available_now:
            ws = ws.trigger(availableNow=True)
        return ws.start()

    def close(self) -> None:
        if self.writer is not None:
            self.writer.close()


class ViewMaintenanceSink:
    """foreachBatch adapter maintaining an ADDITIVE materialized view
    incrementally: each micro-batch contributes a distributed partial
    aggregate (count/sum partials are mergeable by plain group-sum),
    and only that view-sized partial crosses to the maintained state —
    the streaming twin of the batch insert-only IVM operator
    (``operators.staged.pipeline_incremental_agg_refresh``), and the
    streaming form of the reference's push-based accumulate loop
    (writer.py buffers bytes; this buffers group partials).

    State is **view-sized** (#distinct groups), never input-sized: at
    100 TB/day the per-batch partial is the only thing that leaves the
    executors, and the merged state here (a driver-side frame for
    test-scale convenience) would live in a keyed store or Delta
    MERGE target — the merge algebra is identical.  Sums must be
    over exact (integer/decimal) columns for restart-order
    insensitivity; the caller pre-projects them (the integer-cents
    discipline).

    Replay safety: ``foreachBatch`` is at-least-once — after a
    failure, Structured Streaming re-delivers the last epoch.  The
    merge is NOT idempotent (it is additive), so the sink records the
    last merged ``epoch_id`` and skips re-deliveries; a production
    keyed-store variant gets the same guarantee by writing the epoch
    watermark transactionally with the merge.  The in-memory analogue
    of that transaction: ``process_batch`` computes the merged state
    into a local, and only commits ``_state``/``_last_epoch`` together
    once every fallible step has succeeded — a batch that fails
    mid-merge (collect error, cap breach) leaves BOTH unset, so the
    replay re-merges exactly once instead of being skipped (ADVICE
    r7: epoch-before-merge silently dropped the failed batch).  Null
    group keys are preserved (``dropna=False``) so the view matches
    its batch twin on null-keyed rows.

    The view-sized-state contract is enforced, not just documented:
    ``max_state_rows`` (default 1e6) caps the number of distinct
    groups; a batch that would push the view past it raises before
    anything is committed.  Group-by a high-cardinality key — the
    misuse that silently turns "view-sized" into "input-sized" — now
    fails fast with the keyed-store recommendation in the message.
    """

    def __init__(
        self,
        group_cols: list[str],
        sum_cols: list[str],
        *,
        max_state_rows: int = 1_000_000,
    ) -> None:
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.max_state_rows = max_state_rows
        self._state = None  # pandas frame: group_cols + sum_cols
        self.batches_seen = 0
        self._last_epoch: int | None = None

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        if self._last_epoch is not None and epoch_id <= self._last_epoch:
            return  # at-least-once re-delivery of an already-merged epoch
        partial = (
            batch_df.groupBy(*self.group_cols)
            .agg(*[F.sum(c).alias(c) for c in self.sum_cols])
            .toPandas()
        )
        if partial.empty:
            new_state = self._state
        elif self._state is None:
            new_state = partial
        else:
            new_state = (
                pd.concat([self._state, partial], ignore_index=True)
                .groupby(self.group_cols, as_index=False, dropna=False)[self.sum_cols]
                .sum()
            )
        if new_state is not None and len(new_state) > self.max_state_rows:
            raise RuntimeError(
                f"ViewMaintenanceSink state would grow to {len(new_state)} rows "
                f"(> max_state_rows={self.max_state_rows}): the group keys "
                f"{self.group_cols} are too high-cardinality for an in-memory "
                "view — use a keyed store / Delta MERGE target instead"
            )
        # Commit point: state + epoch together, after every fallible step.
        self._state = new_state
        self.batches_seen += 1
        self._last_epoch = epoch_id

    def start(
        self,
        stream_df: DataFrame,
        *,
        checkpoint: str | Path,
        available_now: bool = True,
    ) -> StreamingQuery:
        ws = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", str(checkpoint))
            .outputMode("update")
        )
        if available_now:
            ws = ws.trigger(availableNow=True)
        return ws.start()

    def view(self):
        """The maintained view as a pandas frame (group_cols sorted)."""
        if self._state is None:
            import pandas as pd

            return pd.DataFrame(columns=self.group_cols + self.sum_cols)
        return self._state.sort_values(self.group_cols, ignore_index=True)
