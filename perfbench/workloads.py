"""The two workloads: ``sink`` and ``pack``.

Each is a closed loop with one caller: the next operation starts only
when the previous one has returned. A workload has four steps, run by
``run.py`` in this order:

- ``stage(dir)``: write the seeded inputs under ``dir`` (repeated in
  set-up, each time into a fresh directory);
- ``warm()``: untimed passes over every code path the timed
  repetitions take;
- ``rep(i, traced)``: one timed repetition in a fresh output directory,
  checked for correctness after its clock stops;
- ``layer_metrics()``: the per-layer numbers of the traced repetitions.

End-to-end metrics have the same names on both workloads (see
``run.py``); what a repetition, an operation and the input bytes are
differs per workload and is stated in each class.
"""

from __future__ import annotations

import math
import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from measure import median, percentile
from tracing import Tracer

MB = 1024 * 1024


@dataclass
class Rep:
    """What one timed repetition measured."""

    wall_s: float  # the whole repetition
    ops_ms: list[float]  # unit-operation latencies
    attempted: int
    failed: int
    traced: bool
    jobs: tuple[int, int] = (0, 0)  # Spark job-id range of the repetition
    extra: dict = field(default_factory=dict)


class Workload:
    name = ""
    #: Nominal seconds one repetition takes on a 4-core host; the
    #: repetition count is ``--seconds`` divided by it, so a run does
    #: the same work every time it is given the same arguments.
    nominal_rep_s = 1.0
    min_reps = 2

    def __init__(self, spark, tracer: Tracer, seed: int, work: Path, smoke: bool) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.smoke = smoke
        self.input_mb = 0.0
        #: CPU seconds used so far by this process, the Spark JVM (less
        #: its JIT compiler threads) and the JVM's Python workers; set
        #: by ``run.py``.
        self.cpu: Callable[[], float] = lambda: 0.0

    def reps(self, seconds: float) -> int:
        return max(self.min_reps, round(seconds / self.nominal_rep_s))

    def install_tracing(self) -> None:
        """Wrap the public layer calls this workload drives."""

    def _fresh(self, i: int) -> Path:
        d = self.work / f"rep{i}"
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        return d

    def _noop(self, df) -> None:
        df.write.mode("overwrite").format("noop").save()


# ---------------------------------------------------------------------------
# sink
# ---------------------------------------------------------------------------


class Sink(Workload):
    """Every sink path of the program, one after another in each
    repetition:

    1. two push streams: seeded Arrow batches pushed into
       ``ParquetStreamWriter`` with shard rollover (``write_batch`` x N,
       ``close``); one column arrives narrower than declared, so the
       writer's cast does real work;
    2. ``ShardedDatasetWriter.write`` of the same rows from a Spark
       DataFrame;
    3. a Spark noop scan of the pushed shards;
    4. two more push streams, then stream pass A: a file backlog of
       seeded ``events`` drained with ``availableNow``, one file per
       micro-batch, through ``StreamingShardSink(writer=ParquetStreamWriter)``;
    5. two more push streams, then stream pass B: the same backlog, six
       files per micro-batch, through
       ``streaming.stateful.streaming_day_type_mix`` (the
       ``applyInPandasWithState`` twin) into a memory sink.

    - ``cpu_s``: median CPU time of a repetition (steps 1-5);
    - ``mb_cpu_s``: push-stream input MB (uncompressed Arrow, declared
      schema) divided by the median CPU time of this process over a
      push stream, over every push stream of the run;
    - ``op_cpu_ms``: CPU time of stream pass A divided by its number
      of micro-batches, median over the repetitions.

    The ``streaming.progress.*`` per-layer numbers are pass A's
    ``StreamingQueryProgress.durationMs`` phases.
    """

    name = "sink"
    nominal_rep_s = 8.0
    min_reps = 3
    warm_reps = 1

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        from parquet_stream_writer_spark import ParquetStreamWriter

        # push streams: ~4 % of pushes flush; 16 shards per stream
        self.push_streams = 6
        self.n_batches = 64 if self.smoke else 1024
        self.rows_per_batch = 320
        self.buffer_bytes = 1 * MB if not self.smoke else 128 * 1024
        self.shard_bytes = 2 * MB if not self.smoke else 256 * 1024
        self.sharded_bytes = 4 * MB if not self.smoke else 512 * 1024
        # stream backlog
        self.sf = 0.002 if self.smoke else 0.01
        self.n_files = 12
        self.twin_files_per_batch = 6
        # Counts flush() calls so each push can be classed as flushing
        # or buffered. Installed for untraced and traced runs alike.
        self.flush_calls = 0
        orig_flush = ParquetStreamWriter.flush

        def counting_flush(writer) -> None:
            self.flush_calls += 1
            orig_flush(writer)

        ParquetStreamWriter.flush = counting_flush
        self._buffered_ms: list[float] = []
        self._flush_ms: list[float] = []
        self._close_s: list[float] = []
        self._twin_ms: list[float] = []
        self._progress: dict[str, list[float]] = {}
        self._state: list[dict] = []

    def stage(self, d: Path) -> None:
        batches = datagen.ingest_batches(self.seed, self.n_batches, self.rows_per_batch)
        expected = pa.Table.from_batches(batches).cast(datagen.INGEST_SCHEMA)
        inp = d / "input"
        inp.mkdir(parents=True)
        n = expected.num_rows
        for i in range(4):
            lo, hi = i * n // 4, (i + 1) * n // 4
            pq.write_table(expected.slice(lo, hi - lo), inp / f"part-{i}.parquet")
        self.batches = batches
        self.expected = expected
        self.input_dir = inp
        self.input_mb = expected.nbytes / MB

        events = datagen.corpus_tables(self.seed, self.sf)["events"].replace_schema_metadata(None)
        backlog = d / "backlog"
        backlog.mkdir(parents=True)
        n = events.num_rows
        for k in range(self.n_files):
            lo, hi = k * n // self.n_files, (k + 1) * n // self.n_files
            pq.write_table(events.slice(lo, hi - lo), backlog / f"part-{k:05d}.parquet")
        self.events = events
        self.backlog = backlog
        day = pc.floor_temporal(events["ts"], unit="day")
        cells = (
            pa.table({"day": day, "event_type": events["event_type"]})
            .group_by(["day", "event_type"])
            .aggregate([([], "count_all")])
        )
        self.expected_cells = {
            (d_.value, e): c
            for d_, e, c in zip(cells["day"], cells["event_type"].to_pylist(), cells["count_all"].to_pylist())
        }

    def install_tracing(self) -> None:
        from parquet_stream_writer_spark import ParquetStreamWriter, ShardedDatasetWriter
        from parquet_stream_writer_spark.sink import sharded
        from parquet_stream_writer_spark.streaming import sinks

        t = self.tracer
        for meth in ("write_batch", "flush", "close"):
            t.patch_attr(
                ParquetStreamWriter,
                meth,
                t.wrap(f"sink.stream_writer.{meth}", getattr(ParquetStreamWriter, meth), jobs=False),
            )
        t.patch_attr(ShardedDatasetWriter, "write", t.wrap("sink.sharded.write", ShardedDatasetWriter.write))
        t.patch_function("parquet_stream_writer_spark", sharded.estimate_row_bytes, "sink.sharded.estimate")
        t.patch_attr(
            sinks.StreamingShardSink,
            "process_batch",
            t.wrap("streaming.sinks.process_batch", sinks.StreamingShardSink.process_batch),
        )

    def warm(self) -> None:
        """Full repetitions, results discarded: they pay the one-time
        costs of the first run of each path (codegen, Python workers,
        the first JIT compilations). The JVM paths keep speeding up a
        little over the next repetitions; the timed ones take the same
        place on that slope in every run."""
        for k in range(self.warm_reps):
            self.rep(-1 - k, traced=False, keep=False)

    def rep(self, i: int, traced: bool, keep: bool = True) -> Rep:
        from parquet_stream_writer_spark import ShardedDatasetWriter

        d = self._fresh(i)
        pushed = [d / f"pushed{r}" for r in range(self.push_streams)]
        push_s: list[float] = []
        push_cpu_s: list[float] = []
        close_s: list[float] = []
        flush_ms: list[float] = []
        buffered_ms: list[float] = []
        push = lambda out: self._push(out, push_s, push_cpu_s, close_s, flush_ms, buffered_ms)  # noqa: E731
        view = f"twin_{i}".replace("-", "m")
        job_lo = self.tracer.job_id()
        # The push streams are spread over the repetition, so that
        # ``mb_cpu_s`` samples the whole run.
        c0 = self.cpu()
        t0 = time.perf_counter()
        push(pushed[0])
        push(pushed[1])
        t1 = time.perf_counter()
        sharded_dir = d / "sharded"
        ShardedDatasetWriter(sharded_dir, shard_size_bytes=self.sharded_bytes).write(
            self.spark.read.parquet(str(self.input_dir))
        )
        t2 = time.perf_counter()
        self._noop(self.spark.read.parquet(str(pushed[0])))
        t3 = time.perf_counter()
        push(pushed[2])
        push(pushed[3])
        t4, c4 = time.perf_counter(), self.cpu()
        qa = self._pass_a(d)
        t5, c5 = time.perf_counter(), self.cpu()
        push(pushed[4])
        push(pushed[5])
        t6 = time.perf_counter()
        qb = self._pass_b(d, view)
        t7 = time.perf_counter()
        c7 = self.cpu()
        job_hi = self.tracer.job_id()

        prog_a = [p for p in qa.recentProgress if p["numInputRows"] > 0]
        prog_b = [p for p in qb.recentProgress if p["numInputRows"] > 0]
        batch_a = [float(p["durationMs"]["triggerExecution"]) for p in prog_a]
        batch_b = [float(p["durationMs"]["triggerExecution"]) for p in prog_b]
        failed = 0
        if keep:  # warm-up repetitions are not checked
            ok_a = self._check_shards(d / "stream_shards") and len(batch_a) == self.n_files
            ok_b = self._check_twin(view) and len(batch_b) == self.n_files // self.twin_files_per_batch
            failed += sum(not self._check_pushed(o) for o in pushed)
            failed += not self._check_sharded(sharded_dir)
            # A wrong drain fails every micro-batch it ran.
            failed += 0 if ok_a else max(1, len(batch_a))
            failed += 0 if ok_b else max(1, len(batch_b))
        self.spark.catalog.dropTempView(view)
        extra = {
            "cpu_s": c7 - c0,
            "pass_a_cpu_ms": (c5 - c4) * 1000.0 / max(1, len(batch_a)),
            "push_s": push_s,
            "push_cpu_s": push_cpu_s,
            "sharded_s": t2 - t1,
            "scan_s": t3 - t2,
            "pass_a_s": t5 - t4,
            "pass_b_s": t7 - t6,
            "rows_s": self.events.num_rows * 2 / (t5 - t4 + t7 - t6),
            "pushes": len(self.batches),
            "flushes": len(flush_ms) / len(pushed),
            "shards": len(list(pushed[0].glob("*.parquet"))),
            "sharded_files": len(list(sharded_dir.glob("*.parquet"))),
            "disk_bytes": sum(p.stat().st_size for p in pushed[0].glob("*.parquet")),
        }
        shutil.rmtree(d, ignore_errors=True)
        if keep:
            self._flush_ms += flush_ms
            self._twin_ms += batch_b
            for p in prog_a:
                for k, v in p["durationMs"].items():
                    self._progress.setdefault(k, []).append(float(v))
            last = prog_b[-1]["stateOperators"][0] if prog_b and prog_b[-1]["stateOperators"] else {}
            self._state.append(
                {
                    "rows": last.get("numRowsTotal", 0),
                    "mb": last.get("memoryUsedBytes", 0) / MB,
                    "commit_ms": [float(p["stateOperators"][0].get("commitTimeMs", 0)) for p in prog_b],
                }
            )
        if traced:
            self._buffered_ms += buffered_ms
            self._close_s += close_s
        attempted = len(pushed) + 1 + len(batch_a) + len(batch_b)
        return Rep(t7 - t0, batch_a, attempted, failed, traced, (job_lo, job_hi), extra)

    def mb_cpu_s(self, reps: list[Rep]) -> float:
        return self.input_mb / median([s for r in reps for s in r.extra["push_cpu_s"]])

    def cpu_s(self, reps: list[Rep]) -> float:
        return median([r.extra["cpu_s"] for r in reps])

    def op_cpu_ms(self, reps: list[Rep]) -> float:
        return median([r.extra["pass_a_cpu_ms"] for r in reps])

    def _push(self, out: Path, push_s, push_cpu_s, close_s, flush_ms, buffered_ms) -> None:
        """One push stream into ``out``: every batch, then ``close``."""
        from parquet_stream_writer_spark import ParquetStreamWriter

        # The push path runs in this process alone, so its CPU time is
        # this process's: exact to the nanosecond, and free of what the
        # JVM does in the background meanwhile.
        c0, t0 = time.process_time(), time.perf_counter()
        writer = ParquetStreamWriter(
            out, datagen.INGEST_SCHEMA, shard_size_bytes=self.shard_bytes, buffer_size_bytes=self.buffer_bytes
        )
        for b in self.batches:
            f0 = self.flush_calls
            t = time.perf_counter()
            writer.write_batch(b)
            dt = (time.perf_counter() - t) * 1000.0
            (flush_ms if self.flush_calls != f0 else buffered_ms).append(dt)
        tc = time.perf_counter()
        writer.close()
        t1 = time.perf_counter()
        push_cpu_s.append(time.process_time() - c0)
        push_s.append(t1 - t0)
        close_s.append(t1 - tc)

    def _source(self, files_per_trigger: int):
        schema = self.spark.read.parquet(str(self.backlog)).schema
        return (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(str(self.backlog))
        )

    def _pass_a(self, d: Path):
        """Drain the backlog into ``d/stream_shards`` through the sink."""
        from parquet_stream_writer_spark import ParquetStreamWriter
        from parquet_stream_writer_spark.streaming.sinks import StreamingShardSink

        with self.tracer.span("stream.pass_a"):
            writer = ParquetStreamWriter(
                d / "stream_shards", self.events.schema, shard_size_bytes=256 * 1024, buffer_size_bytes=128 * 1024
            )
            sink = StreamingShardSink(writer=writer)
            q = sink.start(self._source(1), checkpoint=d / "ckpt_a")
            q.awaitTermination()
            sink.close()
        return q

    def _pass_b(self, d: Path, view: str):
        """Drain the backlog through the stateful twin into the memory
        sink ``view``."""
        from parquet_stream_writer_spark.streaming.stateful import streaming_day_type_mix

        with self.tracer.span("stream.pass_b"):
            q = (
                streaming_day_type_mix(self._source(self.twin_files_per_batch))
                .writeStream.format("memory")
                .queryName(view)
                .outputMode("update")
                .option("checkpointLocation", str(d / "ckpt_b"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return q

    def _check_pushed(self, out: Path) -> bool:
        """Contiguous ``prefix-N.parquet`` names, every shard but the
        last over the threshold, and exactly the input rows in order."""
        names = sorted(p.name for p in out.glob("*.parquet"))
        want = [f"{out.name}-{k}.parquet" for k in range(len(names))]
        if not names or sorted(want) != names:
            return False
        shards = [pq.read_table(out / n) for n in want]
        if any(s.nbytes <= self.shard_bytes for s in shards[:-1]):
            return False
        return pa.concat_tables(shards).equals(self.expected)

    def _check_sharded(self, out: Path) -> bool:
        names = sorted(p.name for p in out.glob("*.parquet"))
        want = sorted(f"{out.name}-{k}.parquet" for k in range(len(names)))
        if not names or want != names:
            return False
        got = pq.read_table(out, schema=datagen.INGEST_SCHEMA)
        return got.sort_by("id").equals(self.expected)

    def _check_shards(self, out: Path) -> bool:
        names = sorted(p.name for p in out.glob("*.parquet"))
        want = sorted(f"{out.name}-{k}.parquet" for k in range(len(names)))
        if not names or names != want:
            return False
        got = pq.read_table(out).sort_by("event_id")
        return got.num_rows == self.events.num_rows and got.equals(self.events)

    def _check_twin(self, view: str) -> bool:
        pdf = self.spark.table(view).toPandas()
        final = pdf.groupby(["day", "event_type"])["c"].max()
        got = {(int(k[0].value // 1000), k[1]): int(c) for k, c in final.items()}
        return got == self.expected_cells

    def layer_metrics(self, reps: list[Rep]) -> dict[str, float]:
        t = self.tracer
        traced = [r for r in reps if r.traced]
        n = len(traced)
        per = lambda k: sum(r.extra[k] for r in traced) / n  # noqa: E731
        est = t.by_name("sink.sharded.estimate")
        writes = t.by_name("sink.sharded.write")
        pb = t.by_name("streaming.sinks.process_batch")
        jobs_a = sum(s.jobs for s in t.by_name("stream.pass_a"))
        jobs_b = sum(s.jobs for s in t.by_name("stream.pass_b"))
        batches_a = sum(len(r.ops_ms) for r in traced)
        batches_b = sum(r.attempted - self.push_streams - 1 - len(r.ops_ms) for r in traced)  # 1 sharded write
        disk = per("disk_bytes") / MB
        out = {
            "sink.stream_writer.pushes": per("pushes"),
            "sink.stream_writer.flushes": per("flushes"),
            "sink.stream_writer.shards": per("shards"),
            "sink.stream_writer.buffered_push_p50_ms": percentile(self._buffered_ms, 50),
            "sink.stream_writer.flush_push_p50_ms": percentile(self._flush_ms, 50),
            "sink.stream_writer.close_s": median(self._close_s),
            "sink.stream_writer.push_mb_s": self.input_mb / median([s for r in reps for s in r.extra["push_s"]]),
            "sink.stream_writer.bytes_in_mb": self.input_mb,
            "sink.stream_writer.bytes_on_disk_mb": disk,
            "sink.stream_writer.disk_bytes_ratio": disk / self.input_mb,
            "sink.stream_writer.scan_mb_s": self.input_mb / median([r.extra["scan_s"] for r in reps]),
            "sink.sharded.estimate_s": sum(s.dur for s in est) / n,
            "sink.sharded.estimate_jobs": sum(s.jobs for s in est) / n,
            "sink.sharded.write_s": (sum(s.dur for s in writes) - sum(s.dur for s in est)) / n,
            "sink.sharded.write_jobs": (sum(s.jobs for s in writes) - sum(s.jobs for s in est)) / n,
            "sink.sharded.files": per("sharded_files"),
            "sink.sharded.write_mb_s": self.input_mb / median([r.extra["sharded_s"] for r in reps]),
            "streaming.sinks.process_batch_p50_ms": percentile([s.dur * 1000 for s in pb], 50),
            "streaming.sinks.jobs_per_batch": sum(s.jobs for s in pb) / len(pb),
            "streaming.sinks.batch_p50_ms": percentile([x for r in reps if not r.traced for x in r.ops_ms], 50),
            "streaming.sinks.pass_jobs_per_batch": jobs_a / batches_a,
            "streaming.stateful.batch_ms": sum(self._twin_ms) / len(self._twin_ms),
            "streaming.stateful.state_rows": median([s["rows"] for s in self._state]),
            "streaming.stateful.state_mb": median([s["mb"] for s in self._state]),
            "streaming.stateful.state_commit_ms": median([c for s in self._state for c in s["commit_ms"]]),
            "streaming.stateful.jobs_per_batch": jobs_b / batches_b,
            "streaming.rows_s": median([r.extra["rows_s"] for r in reps]),
        }
        for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"):
            out[f"streaming.progress.{k}_p50_ms"] = percentile(self._progress.get(k, []), 50)
        return out


# ---------------------------------------------------------------------------
# pack
# ---------------------------------------------------------------------------

#: A fixed subset of the query pack: short fixed-cost relational keys
#: and heavy keys (dedup mining, iterative graph, text, similarity with
#: a Python worker, a streaming-shaped batch key).
PACK_KEYS = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "dedup_minhash_lsh",
    "graph_pagerank_bipartite",
    "text_token_stats",
    "similarity_pair_topk",
    "events_tumbling",
)


class Pack(Workload):
    """A fixed subset of the query pack over a seeded corpus. Each query
    is built and its result collected (``toPandas``); after the clock
    stops the result is compared with the query's DuckDB oracle, so
    every timed query is verified. The dedup memo is cleared before
    every query so each pays its own mining, and the seed permutes the
    key order of every pass.

    - ``cpu_s``: sum over keys of the key's median CPU time (building
      the DataFrame plus collecting it) over the passes;
    - ``mb_cpu_s``: corpus MB (uncompressed Arrow) divided by the sum
      over keys of the key's median execution CPU time (the collect
      alone, without building the DataFrame);
    - ``op_cpu_ms``: geometric mean over keys of the key's median CPU
      time: the typical query cost, with every key weighing the same
      however long it runs.

    The same three by the wall clock are the per-layer metrics
    ``operators.pack_wall_s`` and ``operators.query_p50_s``.
    """

    name = "pack"
    nominal_rep_s = 5.5
    min_reps = 3

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        from parquet_stream_writer_spark.operators import all_queries, dedup

        self.sf = 0.002 if self.smoke else 0.005
        queries = all_queries()  # builds the whole registry: call once
        self.queries = {k: queries[k] for k in PACK_KEYS}
        self.dedup = dedup
        self.rng = random.Random(self.seed)
        self.expected: dict = {}
        self.per_key: dict[str, list[float]] = {k: [] for k in PACK_KEYS}
        self.per_key_cpu: dict[str, list[float]] = {k: [] for k in PACK_KEYS}
        self.per_key_exec_cpu: dict[str, list[float]] = {k: [] for k in PACK_KEYS}
        self.memo_calls = 0

    def stage(self, d: Path) -> None:
        self.corpus = str(d / "corpus")
        self.input_mb = sum(datagen.write_corpus(d / "corpus", self.seed, self.sf).values()) / MB

    def install_tracing(self) -> None:
        from parquet_stream_writer_spark import sources

        t = self.tracer
        for fn in (sources.load_table, sources.load_events, sources.scan_parallel):
            t.patch_function("parquet_stream_writer_spark", fn, "sources.load")
        orig_memo = self.dedup._memo

        def counting_memo(*args, **kwargs):
            self.memo_calls += 1
            return orig_memo(*args, **kwargs)

        t.patch_attr(self.dedup, "_memo", counting_memo)

    def warm(self) -> None:
        """Compute every key's expected result with its DuckDB oracle,
        then run one untimed pass: the first run of a key costs several
        times its later runs."""
        import duckdb

        from parquet_stream_writer_spark.operators import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        for tname in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                      "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{self.corpus}/{tname}.parquet')")
        for key in self.queries:
            try:
                self.expected[key] = con.sql(oracles[key]).df()
            except Exception:  # noqa: BLE001 - every run of the key then fails its check
                self.expected[key] = None
        con.close()
        self._pass(traced=False, keep=False)

    def rep(self, i: int, traced: bool) -> Rep:
        job_lo = self.tracer.job_id()
        t0 = time.perf_counter()
        ops, results = self._pass(traced, keep=not traced)
        t1 = time.perf_counter()
        job_hi = self.tracer.job_id()
        failed = sum(
            got is None or self.expected[key] is None or not _frames_match(got, self.expected[key])
            for key, got in results.items()
        )
        return Rep(t1 - t0, ops, len(self.queries), failed, traced, (job_lo, job_hi))

    def _pass(self, traced: bool, keep: bool):
        """One pass over the keys in a seed-permuted order; returns the
        query latencies (ms) and each key's result (None if it raised)."""
        order = list(self.queries)
        self.rng.shuffle(order)
        ops: list[float] = []
        results: dict = {}
        for key in order:
            fn = self.queries[key]
            self.dedup.clear_dedup_memo()
            c, t = self.cpu(), time.perf_counter()
            try:
                if traced:
                    results[key] = self._traced_query(key, fn)
                    ce = c
                else:
                    df = fn(self.spark, self.corpus)
                    ce = self.cpu()
                    results[key] = df.toPandas()
            except Exception:  # noqa: BLE001 - a failed query counts as failed
                results[key] = None
                continue
            t1 = time.perf_counter()
            c1 = self.cpu()
            ops.append((t1 - t) * 1000.0)
            if keep:
                self.per_key[key].append(t1 - t)
                self.per_key_cpu[key].append(c1 - c)
                self.per_key_exec_cpu[key].append(c1 - ce)
        return ops, results

    def _traced_query(self, key: str, fn):
        t = self.tracer
        with t.span("operators.query", key=key):
            with t.span("operators.build", key=key):
                df = fn(self.spark, self.corpus)
            with t.span("operators.plan", key=key):
                df._jdf.queryExecution().executedPlan()
            with t.span("operators.exec", key=key):
                return df.toPandas()

    def cpu_s(self, reps: list[Rep]) -> float:
        return sum(median(v) for v in self.per_key_cpu.values())

    def op_cpu_ms(self, reps: list[Rep]) -> float:
        logs = [math.log(median(v) * 1000.0) for v in self.per_key_cpu.values()]
        return math.exp(sum(logs) / len(logs))

    def mb_cpu_s(self, reps: list[Rep]) -> float:
        return self.input_mb / sum(median(v) for v in self.per_key_exec_cpu.values())

    def layer_metrics(self, reps: list[Rep]) -> dict[str, float]:
        t = self.tracer
        n = sum(1 for r in reps if r.traced)
        own = t.self_times()
        loads = t.by_name("sources.load")
        top_loads = [s for s in loads if not any(p.name == "sources.load" for p in self._ancestors(s))]
        exec_spans = t.by_name("operators.exec")
        build_spans = t.by_name("operators.build")
        return {
            "sources.load_calls": len(top_loads) / n,
            "sources.load_s": sum(s.dur for s in top_loads) / n,
            "sources.load_jobs": sum(s.jobs for s in top_loads) / n,
            "operators.build_s": own.get("operators.build", 0.0) / n,
            "operators.build_jobs": sum(s.jobs for s in build_spans) / n,
            "operators.plan_s": sum(s.dur for s in t.by_name("operators.plan")) / n,
            "operators.exec_s": sum(s.dur for s in exec_spans) / n,
            "operators.exec_jobs": sum(s.jobs for s in exec_spans) / n,
            "operators.exec_tasks": sum(t.tasks(s.job_lo, s.job_hi) for s in exec_spans) / n,
            "operators.dedup.memo_calls": self.memo_calls / n,
            "operators.pack_wall_s": sum(median(v) for v in self.per_key.values()),
            "operators.query_p50_s": percentile([x for r in reps for x in r.ops_ms], 50) / 1000,
        }

    def _ancestors(self, span):
        by_id = {s.id: s for s in self.tracer.spans}
        p = by_id.get(span.parent)
        while p is not None:
            yield p
            p = by_id.get(p.parent)


def _frames_match(left, right) -> bool:
    """Order-insensitive comparison of a Spark result with its oracle:
    same columns, same rows, floats equal to 1e-9 relative."""
    if sorted(left.columns) != sorted(right.columns) or len(left) != len(right):
        return False
    cols = sorted(left.columns)
    left, right = (
        f[cols].map(lambda v: tuple(v) if hasattr(v, "__len__") and not isinstance(v, str) else v)
        .sort_values(cols, ignore_index=True)
        for f in (left, right)
    )
    for c in cols:
        for a, b in zip(left[c].tolist(), right[c].tolist()):
            a_null = a is None or (isinstance(a, float) and math.isnan(a))
            b_null = b is None or (isinstance(b, float) and math.isnan(b))
            if a_null or b_null:
                if a_null != b_null:
                    return False
            elif isinstance(a, float) or isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


WORKLOADS = {w.name: w for w in (Sink, Pack)}
