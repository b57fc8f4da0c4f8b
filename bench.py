#!/usr/bin/env python
"""Benchmark harness: run the full query pack at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each query is materialized with the ``noop`` sink (full execution, no
write cost). The session is warmed with one tiny action first so JVM
startup isn't billed to the first query.

Cross-query state: the dedup-family queries share the in-session
mining memo, so per-query numbers are RUN-ORDER dependent (the first
family query pays the shared mining cost; the rest ride warm
checkpoint blocks). The payload marks those keys in ``memo_shared``.
``--cold`` (or SPARK_GRAFT_BENCH_COLD=1) clears the memo before every
repetition for standalone per-query timings — the default stays warm
because the driver's headline metric is the total pack wall time,
which the memo legitimately reduces.  The CROSS-RUN disk tier is
disabled unconditionally (``SPARK_GRAFT_MEMO_DIR`` popped below):
every sweep pays the full mining cost inside the timed region of the
first dedup-family key it reaches (VERDICT r18 item 1 — numbers
subsidized by a previous run's persisted tables are result caching,
not performance).  r18-and-earlier artifacts predate this and carry
~0.05 s dedup-family entries that measured warehouse-table reads.

The full payload persists to ``bench_full_r{N}.json``. N is derived
as max(BENCH_r*.json)+1, which assumes bench runs BEFORE the driver
writes this round's BENCH artifact; pass SPARK_GRAFT_BENCH_ROUND=N to
pin it explicitly. A derived N never overwrites an existing file
(collision → warn + skip), so a double run can't clobber the artifact
``tools/bench_compare.py`` pairs with the driver's BENCH_r{N}.json.

``--changed-only`` benches just the keys whose source hash differs
from the attested snapshot (i.e. edited since their last driver
verdict) plus keys with no timing in the latest ``bench_full_r*.json``
— the fast iteration lane for a 267-key pack whose full warm sweep
runs ~3 min (VERDICT r8 item 6). Subset runs print the same JSON-line
shape with a ``"subset": "changed_only"`` marker and persist to
``bench_full_r{N}_changed.json``, never the round artifact the driver
pairs with.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from parquet_stream_writer_spark.operators import all_queries, dedup  # noqa: E402
from parquet_stream_writer_spark.session import codegen_counters, get_session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    # Never let a benchmark read (or write) the cross-run dedup-memo
    # disk tier: timings must cover the declared computation from the
    # parquet inputs, not a previous process's persisted intermediates
    # (VERDICT r18 item 1).  The in-session memo stays — its build cost
    # is inside this sweep's timed region.
    os.environ.pop("SPARK_GRAFT_MEMO_DIR", None)
    sf = float(Path(sf_dir).name.removeprefix("sf") or 0) if "sf" in Path(sf_dir).name else 0.1
    cold = "--cold" in sys.argv[1:] or os.environ.get("SPARK_GRAFT_BENCH_COLD") == "1"
    changed_only = "--changed-only" in sys.argv[1:]

    queries = dict(sorted(all_queries().items()))
    if changed_only:
        from parquet_stream_writer_spark.operators import _source_stale_keys

        here = Path(__file__).resolve().parent
        stale = _source_stale_keys(queries)
        timed: set[str] = set()
        # Sort by parsed round number, not filename — lexicographic
        # order puts r100 before r99 (ADVICE r9).
        fulls = sorted(
            here.glob("bench_full_r[0-9]*.json"),
            key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
        )
        fulls = [p for p in fulls if "_cold" not in p.name and "_changed" not in p.name]
        if fulls:
            try:
                timed = set(json.loads(fulls[-1].read_text()).get("queries", {}))
            except (OSError, ValueError):
                pass
        subset = {k for k in queries if k in stale or k not in timed}
        print(
            f"bench: --changed-only → {len(subset)}/{len(queries)} keys "
            f"({len(stale & set(queries))} source-stale, "
            f"{len(subset) - len(stale & subset)} untimed)",
            file=sys.stderr,
        )
        queries = {k: v for k, v in queries.items() if k in subset}

    # Count memo traffic per query so the payload can mark which keys
    # rode (or populated) the shared dedup mining memo — their
    # per-query numbers are run-order dependent in warm mode.
    memo_calls = {"n": 0}
    _orig_memo = dedup._memo

    def _counting_memo(*args, **kwargs):
        memo_calls["n"] += 1
        return _orig_memo(*args, **kwargs)

    dedup._memo = _counting_memo

    spark = get_session("bench")
    # Warm the JVM + vectorized parquet read path so the first timed
    # query isn't billed for codegen/classloading.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).count()

    # In-sweep host probes (VERDICT r17 item 5): two consecutive
    # rounds discarded a whole bench lane POST-HOC because the q21
    # control only brackets the session — a transient load window in
    # the middle was invisible until adjudication.  The standard
    # 10M-pure-Python-loop probe (the regime yardstick the isolation
    # files already cite: ~0.39 s fast regime, ~1.0-1.3 s middling)
    # now runs every PROBE_EVERY keys during the sweep itself, with
    # its sweep offset recorded, so a load window is localized to the
    # segment of keys it overlapped and only that segment needs a
    # re-sweep.
    def _host_probe() -> float:
        t0 = time.perf_counter()
        x = 0
        for i in range(10_000_000):
            x += i
        return round(time.perf_counter() - t0, 3)

    probe_every = int(os.environ.get("SPARK_GRAFT_BENCH_PROBE_EVERY", "30"))
    host_probes: list[dict] = []

    # Parallel-capacity probe (VERDICT r18 item 2): the single-core
    # Python loop above provably missed a 1.76× Spark-latency
    # elevation twice in r18 — the stall was latency/parallelism
    # shaped, invisible to one busy core.  This one times a fixed
    # N-task JVM-only noop job (N = the session core count, 1M longs
    # per task), so a congested scheduler, JVM, or CPU set shows up as
    # an elevated wall even when a single core reads fast.  Purely
    # additive ``spark_probe_sec`` field next to ``probe_sec``.
    n_probe_tasks = int(os.environ["SPARK_GRAFT_CPUS"])

    def _spark_probe() -> float:
        spark.sparkContext.setJobDescription("bench: parallel-capacity probe")
        t0 = time.perf_counter()
        (
            spark.range(0, n_probe_tasks * 1_000_000, 1, n_probe_tasks)
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        spark.sparkContext.setJobDescription(None)
        return round(time.perf_counter() - t0, 3)

    def _record_probe(after_idx: int, after_key: str | None) -> None:
        host_probes.append(
            {
                "after_idx": after_idx,
                "after_key": after_key,
                "sweep_offset_sec": round(time.perf_counter() - t_start, 1),
                "probe_sec": _host_probe(),
                "spark_probe_sec": _spark_probe(),
            }
        )

    # Median-of-N per query: single-shot wall times on a shared machine
    # jitter by 2-3x; the median is robust to one-off stalls in either
    # direction (round-2 burned attention on ~17 noise "regressions"
    # from n<=2 sampling).
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    # Soft wall-clock budget: a complete single-rep sweep always beats
    # a timed-out multi-rep one, so once the budget is spent the
    # remaining queries run once instead of N times.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "480"))
    t_start = time.perf_counter()
    timings: dict[str, float] = {}
    memo_shared: list[str] = []
    memo_rep1: dict[str, float] = {}
    _record_probe(0, None)  # opening bracket
    codegen_before = codegen_counters(spark)
    for name, fn in queries.items():
        reps = repeats if (time.perf_counter() - t_start) < budget else 1
        runs: list[float] = []
        failed = False
        calls_before = memo_calls["n"]
        for _ in range(reps):
            if cold:
                dedup.clear_dedup_memo()
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                runs.append(time.perf_counter() - t0)
            except Exception as exc:  # keep the bench alive; flag the query
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
                failed = True
                break
        timings[name] = -1.0 if failed or not runs else round(statistics.median(runs), 3)
        if memo_calls["n"] > calls_before:
            memo_shared.append(name)
            # Make the in-session mining cost VISIBLE: the first rep of
            # the first memo-touching key pays the whole mining pass,
            # which a median-of-3 would otherwise silently discard
            # (r19; additive field, the per-key medians are unchanged).
            if runs:
                memo_rep1[name] = round(runs[0], 3)
        if probe_every > 0 and len(timings) % probe_every == 0:
            _record_probe(len(timings), name)

    if not host_probes or host_probes[-1]["after_idx"] != len(timings):
        _record_probe(len(timings), None)  # closing bracket

    codegen_after = codegen_counters(spark)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    payload = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        # Per-query stat is the MEDIAN of N repeats since round 3
        # (rounds 1-2 recorded best-of-N minima — naive cross-round
        # diffs over that transition read as regressions).
        "agg": "median",
        "repeats": repeats,
        # Keys whose lineage touched the shared dedup mining memo:
        # their per-query numbers are run-order dependent unless
        # mode == "cold" (ADVICE r4).
        "memo_shared": sorted(memo_shared),
        # First-rep wall of every memo-touching key (additive, r19):
        # in warm mode the FIRST of them carries the full mining pass
        # in rep 1, which the median discards — this field keeps the
        # honest cost in the artifact.
        "memo_rep1": memo_rep1,
        "mode": "cold" if cold else "warm",
        # In-sweep 10M-loop host probes (offsets + after_idx localize a
        # load window to the key segment it overlapped — r17 item 5).
        "host_probes": host_probes,
        # Generated classes Janino compiled during the sweep and their
        # compile time (additive): near zero after each class's first use
        # while the codegen cache holds the sweep's working set.
        "codegen": {
            k: round(codegen_after[k] - codegen_before[k], 1) for k in ("compiles", "compile_ms")
        },
        "queries": timings,
        "sf": sf,
    }
    if changed_only:
        payload["subset"] = "changed_only"
    print(json.dumps(payload))
    # The driver's BENCH_r{N}.json wrapper captures only a truncated
    # tail of the stdout line, losing the head's per-query times every
    # round — persist the full result in-repo so round-over-round
    # comparison (tools/bench_compare.py) covers all queries from
    # driver artifacts alone.  N = next round after the recorded ones.
    try:
        here = Path(__file__).resolve().parent
        # Cold runs persist to their own artifact: the warm file is the
        # pack-wall-time record the driver's BENCH pairs with; the cold
        # one is the standalone per-query costing (a pinned cold run
        # must never clobber the warm artifact).
        suffix = "_cold" if cold else ""
        if changed_only:
            suffix += "_changed"
        pinned = os.environ.get("SPARK_GRAFT_BENCH_ROUND")
        if pinned is not None:
            n_round = int(pinned)  # explicit round may overwrite
            (here / f"bench_full_r{n_round:02d}{suffix}.json").write_text(
                json.dumps(payload)
            )
        else:
            rounds = [
                int(m.group(1))
                for p in here.glob("BENCH_r*.json")
                if (m := re.search(r"BENCH_r(\d+)\.json$", p.name))
            ]
            n_round = max(rounds, default=0) + 1
            target = here / f"bench_full_r{n_round:02d}{suffix}.json"
            if target.exists():
                # A second run this round (or the driver already wrote
                # BENCH_r{N}) — never clobber the artifact
                # bench_compare.py pairs with the driver's file.
                print(
                    f"bench: {target.name} exists; NOT overwriting "
                    "(pin SPARK_GRAFT_BENCH_ROUND to force)",
                    file=sys.stderr,
                )
            else:
                target.write_text(json.dumps(payload))
    except OSError as exc:
        print(f"bench: could not persist bench_full: {exc}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
