"""In-memory span recording around the program's public layer calls.

Spans are recorded only from the benchmark's own files: :class:`Tracer`
wraps a public function or method of the program (the way the repo's
``bench.py`` wraps ``dedup._memo``) and records one span per call with
its name, start, end, parent span and run id, plus the Spark job-id
range the call covered. Spans stay in memory and are written out once,
when the run ends. With tracing disabled the wrappers are not
installed at all, so untraced runs execute the program unmodified.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Any, Callable, Iterator


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.job_hi - self.job_lo


class JobCounter:
    """Reads the SparkContext's job-id sequence: the number of jobs
    submitted so far, whichever thread or job group submitted them
    (streaming micro-batches run under their own group)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def next_id(self) -> int:
        return int(self._dag.numTotalJobs())

    def tasks(self, lo: int, hi: int) -> int:
        """Completed tasks of jobs ``lo``..``hi - 1`` (skipped stages
        complete no tasks, so they count zero)."""
        tracker = self._sc.statusTracker()
        stages: set[int] = set()
        for job_id in range(lo, hi):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stages.update(info.stageIds)
        total = 0
        for stage_id in stages:
            st = tracker.getStageInfo(stage_id)
            if st is not None:
                total += st.numCompletedTasks
        return total


class Tracer:
    """Span recorder. ``enabled`` is toggled per repetition, so one
    traced run can alternate traced and untraced repetitions and report
    its own overhead."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._jobs: JobCounter | None = None
        self._patches: list[tuple[Any, str, Any]] = []
        self.rep = 0

    def attach_spark(self, spark) -> None:
        self._jobs = JobCounter(spark)

    def job_id(self) -> int:
        return self._jobs.next_id() if self._jobs is not None else 0

    def tasks(self, lo: int, hi: int) -> int:
        return self._jobs.tasks(lo, hi) if self._jobs is not None else 0

    @contextmanager
    def span(self, name: str, *, jobs: bool = True, **attrs: Any) -> Iterator[Span | None]:
        """Record one span. ``jobs=False`` skips the two JVM round trips
        that read the job-id range, for calls that never start a Spark
        job (the push path of the Arrow writer)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans) + len(self._stack), name, 0.0, parent, self.run_id)
        s.attrs = {"rep": self.rep, **attrs}
        if jobs:
            s.job_lo = self.job_id()
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if jobs:
                s.job_hi = self.job_id()
            self._stack.pop()
            self.spans.append(s)

    def wrap(self, name: str, fn: Callable, *, jobs: bool = True) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, jobs=jobs):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn  # type: ignore[attr-defined]
        return traced

    # -- installing wrappers ---------------------------------------------

    def patch_attr(self, owner: Any, attr: str, wrapper: Callable) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def patch_function(self, package: str, fn: Callable, name: str) -> None:
        """Replace ``fn`` by a traced wrapper in every loaded module of
        ``package`` that holds a reference to it (``from x import f``
        copies the reference, so patching the defining module alone
        would miss most call sites)."""
        wrapper = self.wrap(name, fn)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self.patch_attr(mod, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- derived numbers ---------------------------------------------------

    def _self_by_id(self) -> dict[int, float]:
        """Each span's duration minus the time covered by its direct
        children (children of one span run one after another on the
        caller's thread, so their durations do not overlap)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.dur
        return {s.id: max(0.0, s.dur - child_time[s.id]) for s in self.spans}

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        own = self._self_by_id()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += own[s.id]
        return dict(out)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: Path) -> None:
        own = self._self_by_id()
        with path.open("w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self_s": own[s.id]}) + "\n")
