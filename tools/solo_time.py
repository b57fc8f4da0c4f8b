#!/usr/bin/env python
"""Interleaved solo A/B timing for individual query keys.

Times each requested key median-of-N in ONE session, interleaved with
the q21_waiting_supplier control so a host-load window shows up as a
control shift instead of silently polluting the key's number (the
r18 adjudication discipline).  The dedup memo is cleared before every
repetition so each rep pays its own mining cost (standalone costing,
same as ``bench.py --cold``).

Usage::

    python tools/solo_time.py key [key ...]        # median-of-5
    SPARK_GRAFT_SOLO_REPS=7 python tools/solo_time.py key
    SPARK_GRAFT_SF_DIR=... python tools/solo_time.py key

Prints one JSON line: {"control": {...}, "keys": {name: {...}}}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from parquet_stream_writer_spark.operators import all_queries, dedup  # noqa: E402
from parquet_stream_writer_spark.session import get_session  # noqa: E402

_CONTROL = "q21_waiting_supplier"


def _run(spark, fn, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def main() -> None:
    # As in bench.py: never read the cross-run dedup-memo disk tier, or
    # every repetition after the first skips the mining it should time.
    os.environ.pop("SPARK_GRAFT_MEMO_DIR", None)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    reps = int(os.environ.get("SPARK_GRAFT_SOLO_REPS", "5"))
    keys = [k for k in sys.argv[1:] if not k.startswith("-")]
    queries = all_queries()
    unknown = [k for k in keys if k not in queries]
    if unknown or not keys:
        sys.exit(f"unknown/missing keys: {unknown}")

    spark = get_session("solo-time")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).count()
    # Warm one control rep un-recorded (first-query codegen/classload).
    _run(spark, queries[_CONTROL], sf_dir)

    control: list[float] = []
    runs: dict[str, list[float]] = {k: [] for k in keys}
    for _ in range(reps):
        spark.sparkContext.setJobDescription(f"solo control {_CONTROL}")
        control.append(_run(spark, queries[_CONTROL], sf_dir))
        for k in keys:
            dedup.clear_dedup_memo()
            spark.sparkContext.setJobDescription(f"solo {k}")
            runs[k].append(_run(spark, queries[k], sf_dir))

    def stat(xs: list[float]) -> dict:
        return {
            "median": round(statistics.median(xs), 3),
            "min": round(min(xs), 3),
            "max": round(max(xs), 3),
            "runs": [round(x, 3) for x in xs],
        }

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "reps": reps,
                "control": stat(control),
                "keys": {k: stat(v) for k, v in runs.items()},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
