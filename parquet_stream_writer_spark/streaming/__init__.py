"""Structured Streaming surface.

- ``sinks``   — foreachBatch adapters bridging streams into the sink
  layer (ParquetStreamWriter shard rollover / ShardedDatasetWriter).
- ``windows`` — watermarked event-time pipelines (tumbling, sliding,
  session) mirroring the batch-verified shapes in
  ``operators.streaming_batch``, plus the bounded-state stream-stream
  interval join.
- ``stateful`` — keyed streaming twins of batch operators: native
  streaming aggregations for the counting twins (user lifetime,
  hour-error counts, day-type mix), ``applyInPandasWithState`` folds
  for the rest (running profiles, sketches, sessions, as-of joins).
"""

from parquet_stream_writer_spark.streaming.sinks import (
    StreamingShardSink,
    ViewMaintenanceSink,
)
from parquet_stream_writer_spark.streaming.windows import (
    interval_join,
    session_window_agg,
    value_histogram_agg,
    windowed_dedup,
    sliding_window_agg,
    tumbling_window_agg,
)

__all__ = [
    "ViewMaintenanceSink",
    "StreamingShardSink",
    "interval_join",
    "session_window_agg",
    "value_histogram_agg",
    "windowed_dedup",
    "sliding_window_agg",
    "tumbling_window_agg",
]
