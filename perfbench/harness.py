"""Session set-up, timing spans and Spark counters for the benchmark.

``Tracer`` records one span per public call the benchmark makes into the
engine: name, start, end, parent and run id. Untraced runs keep only the
spans the end-to-end metrics need; traced runs also tag every call with a
Spark job group (``SparkContext.setJobGroup``) and read its job, stage and
task counts back from ``statusTracker()`` when the span closes. Spans stay
in memory; ``Tracer.dump`` writes them out once the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans may be opened from several threads: each thread nests its own
    spans (and its own Spark job group, which PySpark keeps per thread)."""

    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.sc = None  # set once a session exists
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed call; in traced runs also count its Spark work."""
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(name, time.perf_counter(), stack[-1] if stack else None, attrs=dict(attrs))
        with self._lock:
            idx = len(self.spans)
            self.spans.append(sp)
        stack.append(idx)
        group = f"{self.run_id}:{idx}"
        if self.traced and self.sc is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.traced and self.sc is not None:
                self._count(sp, group)
                parent = stack[-1] if stack else None
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(f"{self.run_id}:{parent}", self.spans[parent].name)

    def _count(self, sp: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for job_id in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job_id)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    sp.stages += 1
                    sp.tasks += stage.numTasks

    def total(self, name: str, what: str = "seconds") -> float:
        """Sum of ``what`` over every span named ``name``, counting the
        jobs of nested spans toward their ancestors."""
        out = 0.0
        for i, sp in enumerate(self.spans):
            if sp.name != name:
                continue
            if what == "seconds":
                out += sp.seconds
            else:
                out += self.subtree_total(i, what)
        return out

    def subtree_total(self, idx: int, what: str) -> int:
        """``what`` (jobs, stages, tasks) of span ``idx`` and its descendants."""
        return sum(getattr(d, what) for d in self._subtree(idx))

    def _subtree(self, idx: int) -> list[Span]:
        out, frontier = [self.spans[idx]], {idx}
        for j in range(idx + 1, len(self.spans)):
            if self.spans[j].parent in frontier:
                frontier.add(j)
                out.append(self.spans[j])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "run": self.run_id, "id": i, "name": sp.name, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "jobs": sp.jobs,
                    "stages": sp.stages, "tasks": sp.tasks, **sp.attrs,
                }) + "\n")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(tracer: Tracer):
    """A session on ``local[<cpus>]`` through the engine's own factory, with
    the benchmark's provider module shipped to the Python workers."""
    from dshackle_archive_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus()}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(os.path.join(HERE, "synth_chain.py"))
    tracer.sc = spark.sparkContext
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def peak_rss_mb(spark) -> float:
    """The driver JVM's peak resident set (VmHWM), in MiB."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]); 0.0 when there are
    no samples (the first stream batch raised)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
