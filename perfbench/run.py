"""Benchmark entry point: one workload, one seed, one JSON result line.

Run from the repository root::

    python3 perfbench/run.py --workload sink --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``sink`` (the push-based sink, the
sharded writer, a read-back scan, and Structured Streaming into the
sink and into the stateful twin) and ``pack`` (a subset of the query
pack).

A run has three phases:

1. set-up, timed as ``setup_s``: process start to the first timed
   operation: imports and ``get_session`` (once), input staging (three
   times, each into a fresh directory; only the median counts) and the
   untimed warm-up;
2. the timed repetitions; their number follows from ``--seconds`` and
   the workload's nominal repetition time, so equal arguments mean
   equal work. Each repetition writes to a fresh directory and is
   checked for correctness after its clock stops;
3. host controls (a pure-Python loop and an N-task Spark noop job) are
   taken before and after the repetitions and reported, never gated.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:

- ``setup_s``: set-up time as above;
- ``success_rate``: operations verified correct / operations attempted;
- ``mem_peak_mb``: peak RSS of this (Python) process plus the most
  the Spark JVM held after any timed repetition, measured after a
  full collection (``measure.jvm_live_mb``);
- ``cpu_s``: CPU seconds of one repetition;
- ``mb_cpu_s``: uncompressed input MB / CPU seconds of the workload's
  primary path;
- ``op_cpu_ms``: CPU milliseconds of the workload's unit operation.

Each workload class states exactly what the last three are on it.
They count CPU time (user + system) of this process, the Spark JVM
and the JVM's Python workers, read from ``/proc``, not wall time: the
host's CPUs are shared, and in a busy spell the same repetition took
up to twice as long by the wall clock while its CPU time grew by a
third at most. CPU time excludes the time the hypervisor gives to
other machines, which each repetition's report records as
``host_steal_s``. The CPU time of the JVM's JIT compiler threads is
left out too: in runs this short it is mostly warm-up, and it moved
two- to four-fold with the host's load on the same work. It is
reported on its own as the per-layer ``jvm.jit_cpu_s``. The wall-clock figures are per-layer
metrics of the traced run (``sink.stream_writer.push_mb_s``,
``streaming.sinks.batch_p50_ms``, ``operators.pack_wall_s``,
``operators.query_p50_s``, ...).
The metric names, units and directions are read from
``BENCHMARK.json`` in the current directory.

If a metric cannot be formed (a percentile without enough samples, a
key without two good passes) it is left out and the run reports
``"correct": false``.

With ``--trace 1`` the repetitions (one more if their number is odd)
alternate untraced and traced; the line carries the per-layer metrics
of the traced ones, plus ``trace.overhead_pct`` (traced minus untraced
median repetition time) and the JVM's JIT-compiler and GC CPU time per
untraced repetition (``jvm.jit_cpu_s``, ``jvm.gc_cpu_s``).
Spans are written to ``.perfbench_work/reports/`` at the end.

Everything the run writes stays under ``.perfbench_work/`` in the
current directory; inputs and outputs are deleted when it ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
STAGE_TIMES = 3
DRIVER_MEM = "2g"


def _configure_env(root: Path, work: Path, cores: int) -> None:
    """Pin parallelism and keep every scratch file inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Few malloc arenas: native memory then grows much the same way on
    # every run, in this process and in the JVM.
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # Never read or write the dedup memo's cross-run disk tier.
    os.environ.pop("SPARK_GRAFT_MEMO_DIR", None)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # Python workers run one task each; keep their math libraries at
    # one thread so the run never has more busy threads than cores.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "ARROW_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), str(HERE), os.environ.get("PYTHONPATH", "")) if p
    )
    # JIT compiler threads live as long as the JVM, so that the CPU
    # time they used can be told apart from the rest at any moment
    # (``measure.jvm_thread_cpu_s``).
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads' "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )
    tempfile.tempdir = None  # re-read TMPDIR on next use


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("sink", "pack"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    return ap.parse_args()


def main() -> int:
    args = _parse()
    root = Path.cwd()
    if not (root / "parquet_stream_writer_spark" / "__init__.py").is_file():
        print("perfbench: run from the repository root (parquet_stream_writer_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [str(root), str(HERE)]
    import measure

    cores = measure.cores()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = root / ".perfbench_work" / run_id
    reports = root / ".perfbench_work" / "reports"
    shutil.rmtree(work, ignore_errors=True)
    reports.mkdir(parents=True, exist_ok=True)
    _configure_env(root, work, cores)
    spark = None
    try:
        from parquet_stream_writer_spark.session import get_session

        t = time.perf_counter()
        spark = get_session(f"perfbench-{args.workload}")
        t_session = time.perf_counter() - t
        result, report = _run(args, spark, t_session, work, cores, run_id)
        (reports / f"{run_id}.json").write_text(json.dumps(report, indent=1, default=str))
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, spark, t_session: float, work: Path, cores: int, run_id: str):
    import measure
    from tracing import Tracer
    from workloads import WORKLOADS

    spark.sparkContext.setLogLevel("ERROR")
    boot_s = time.perf_counter() - T_START
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    tracer = Tracer(run_id)
    tracer.attach_spark(spark)
    wl = WORKLOADS[args.workload](spark, tracer, args.seed, work, args.smoke)
    wl.cpu = lambda: measure.tree_cpu_s([os.getpid(), jvm_pid]) - measure.jvm_thread_cpu_s(jvm_pid)["jit"]
    stage_s = []
    for k in range(STAGE_TIMES):
        d = work / f"stage{k}"
        t = time.perf_counter()
        wl.stage(d)
        stage_s.append(time.perf_counter() - t)
        if k:  # keep the latest staging only
            shutil.rmtree(work / f"stage{k - 1}", ignore_errors=True)
    t = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t
    # Everything from process start up to here, with the staging
    # counted once, at its median.
    setup_s = time.perf_counter() - T_START - (sum(stage_s) - statistics.median(stage_s))

    host_before = measure.host_controls(spark, cores)
    n_reps = wl.reps(args.seconds)
    if args.trace:
        n_reps += n_reps % 2  # half of them traced, half untraced
    reps = []
    jvm_mb: list[float] = []
    t_timed = time.perf_counter()
    for i in range(n_reps):
        traced = bool(args.trace) and i % 2 == 1
        tracer.rep = i
        if traced:
            wl.install_tracing()
            tracer.enabled = True
        steal0, jvm0 = measure.host_steal_s(), measure.jvm_thread_cpu_s(jvm_pid)
        try:
            reps.append(wl.rep(i, traced))
            jvm1 = measure.jvm_thread_cpu_s(jvm_pid)
            reps[-1].extra["host_steal_s"] = measure.host_steal_s() - steal0
            reps[-1].extra["jit_cpu_s"] = jvm1["jit"] - jvm0["jit"]
            reps[-1].extra["gc_cpu_s"] = jvm1["gc"] - jvm0["gc"]
        finally:
            tracer.enabled = False
            tracer.unpatch()
        jvm_mb.append(measure.jvm_live_mb(spark))
    timed_s = time.perf_counter() - t_timed
    host_after = measure.host_controls(spark, cores)

    attempted = sum(r.attempted for r in reps)
    failed = sum(r.failed for r in reps)
    plain = [r for r in reps if not r.traced]
    traced = [r for r in reps if r.traced]
    rss = measure.rss_peak_mb(jvm_pid)
    rss_py = measure.rss_peak_mb(None)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "loop": "closed",
        "callers": 1,
        "rss_peak_mb": rss,
        "rss_peak_python_mb": rss_py,
        "jvm_live_mb": jvm_mb,
        "boot_s": boot_s,
        "session_s": t_session,
        "setup_s": setup_s,
        "stage_s": stage_s,
        "warm_s": warm_s,
        "timed_s": timed_s,
        "host_before": host_before,
        "host_after": host_after,
        "reps": [
            {"wall_s": r.wall_s, "traced": r.traced, "attempted": r.attempted,
             "failed": r.failed, "jobs": r.jobs, **r.extra}
            for r in reps
        ],
    }
    print(
        f"perfbench: host controls before {host_before} after {host_after}",
        file=sys.stderr,
    )
    tables = json.loads(Path("BENCHMARK.json").read_text())
    missing: list[str] = []
    if not args.trace:
        e2e = {
            "setup_s": lambda: setup_s,
            "success_rate": lambda: (attempted - failed) / attempted,
            "mem_peak_mb": lambda: rss_py + max(jvm_mb),
            "cpu_s": lambda: wl.cpu_s(plain),
            "mb_cpu_s": lambda: wl.mb_cpu_s(plain),
            "op_cpu_ms": lambda: wl.op_cpu_ms(plain),
        }
        values = {}
        for m in tables["end_to_end"]:
            try:
                values[m["name"]] = (float(e2e[m["name"]]()), m["unit"])
            except (ValueError, ZeroDivisionError) as exc:  # too few good samples
                missing.append(f"{m['name']}: {exc}")
    else:
        try:
            layer = wl.layer_metrics(reps)
        except (ValueError, ZeroDivisionError) as exc:  # too few good samples
            missing.append(f"per-layer: {exc}")
            layer = {}
        jobs = [r.jobs[1] - r.jobs[0] for r in traced]
        layer["session.get_session_s"] = t_session
        layer["spark.jobs"] = statistics.mean(jobs)
        layer["spark.tasks"] = statistics.mean(tracer.tasks(*r.jobs) for r in traced)
        layer["jvm.jit_cpu_s"] = measure.median([r.extra["jit_cpu_s"] for r in plain])
        layer["jvm.gc_cpu_s"] = measure.median([r.extra["gc_cpu_s"] for r in plain])
        layer["host.py_loop_s"] = statistics.mean([host_before["py_loop_s"], host_after["py_loop_s"]])
        layer["host.spark_noop_s"] = statistics.mean([host_before["spark_noop_s"], host_after["spark_noop_s"]])
        untraced_s = measure.median([r.wall_s for r in plain])
        layer["trace.overhead_pct"] = 100.0 * (measure.median([r.wall_s for r in traced]) - untraced_s) / untraced_s
        # A metric of a layer the workload does not drive reads 0.
        values = {m["name"]: (float(layer.get(m["name"], 0.0)), m["unit"]) for m in tables["per_layer"]}
        tracer.write(work.parent / "reports" / f"{run_id}.spans.jsonl")
        report["self_s"] = tracer.self_times()
    report["metrics"] = {k: v for k, (v, _) in values.items()}
    report["missing"] = missing
    for line in missing:
        print(f"perfbench: metric not formed: {line}", file=sys.stderr)
    result = {
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }
    return result, report


def _shutdown(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM (and the
    Python workers it owns) to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
