"""Run workloads on several seeds and print each metric's spread.

    python3 perfbench/steady.py --workloads sink pack --seeds 1 2 3 4 5 [--seconds 10]

Runs ``run.py`` once per (seed, workload), one after another, with the
workloads interleaved seed by seed so that a slow spell of the host
falls on every workload alike. For every end-to-end metric of every
workload it prints the median and the spread: the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median. The bound of each metric comes from
``BENCHMARK.json``; a spread at or above a third of it is flagged, one
above the bound is marked as such.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, dict[str, list[float]]] = {w: {} for w in args.workloads}
    for seed in args.seeds:
        for w in args.workloads:
            cmd = [*bench["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(args.trace)]
            t0 = time.perf_counter()
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t0
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            if out.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
                return 1
            res = json.loads(last)
            print(f"{w} seed {seed} ({wall:.0f} s): correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values[w].setdefault(k, []).append(v["value"])
    for w, metrics in values.items():
        for k, vs in metrics.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds.get(k)
            flag = ""
            if bound is not None and spread >= bound:
                flag = "  <-- OVER the bound"
            elif bound is not None and spread >= bound / 3:
                flag = "  <-- over a third of the bound"
            print(f"{w:6s} {k:40s} median={med:.5g} spread={spread:.4f} bound={bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
