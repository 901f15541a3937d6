"""What every workload shares: its scratch directories, the session,
spans, contention stamps and the run record.

Spans are kept in memory as (name, start, end, parent, run id) and
written with the rest of the run record when the run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import layers
from perfbench.stats import Outcomes

OUT_DIR = ".perfbench_out"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Spans:
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[Span] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), float("nan"), parent, self.run_id))
        self._open.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._open.pop()
            self.spans[idx].end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: Span | None = None) -> None:
        """Record a span whose interval was measured elsewhere (a
        micro-batch, timed by the engine)."""
        pidx = self.spans.index(parent) if parent is not None else (self._open[-1] if self._open else None)
        self.spans.append(Span(name, start, end, pidx, self.run_id))

    def as_records(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"name": s.name, "start": s.start - t0, "end": s.end - t0, "parent": s.parent, "run_id": s.run_id}
            for s in self.spans
        ]


class Run:
    """One benchmark run: arguments, directories, outcomes, record."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = os.getcwd()
        self.dir = os.path.join(self.root, OUT_DIR, f"run-{os.getpid()}")
        self.outcomes = Outcomes()
        self.spans = Spans()
        self.record: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace)}
        self.layers: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def prepare(self) -> None:
        """Keep every file the run writes inside the checkout: Python
        temp files, the JVM's temp dir and Spark's local dirs."""
        shutil.rmtree(self.dir, ignore_errors=True)
        tmp = self.path("tmp", "")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local", "")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        tempfile.tempdir = None  # re-read TMPDIR

    def session(self, app: str, **conf: str):
        from arcon_spark.session import get_spark

        # the heap is the library's own setting (session.get_spark)
        java_opts = [
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "-XX:-UsePerfData",  # no hsperfdata file in the system temp dir
        ]
        extra = {
            "spark.driver.extraJavaOptions": " ".join(java_opts),
            "spark.sql.streaming.checkpointLocation": self.path("checkpoints", ""),
            "spark.sql.warehouse.dir": self.path("warehouse", ""),
        }
        extra.update(conf)
        spark = get_spark(app, extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def cleanup(self) -> None:
        """Stop Spark, wait until the JVM and its Python workers have
        exited, then remove the scratch files."""
        if "pyspark" in sys.modules:
            _stop_spark()
        shutil.rmtree(self.dir, ignore_errors=True)

    def write_record(self) -> str:
        self.record["spans"] = self.spans.as_records()
        self.record["layers"] = self.layers
        self.record["attempted"] = self.outcomes.attempted
        self.record["failed"] = self.outcomes.failed
        self.record["error_rate"] = self.outcomes.error_rate
        self.record["errors"] = self.outcomes.errors[:20]
        out = os.path.join(self.root, OUT_DIR, "records")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.workload}-seed{self.seed}-trace{int(self.trace)}-{self.spans.run_id}.json")
        with open(path, "w") as fh:
            json.dump(self.record, fh, indent=1, default=str)
        return path


class Contention:
    """Steal% and the int-loop anchor before and after the timed phase,
    from bench.py. Context only: never used to drop or repeat a run."""

    def __init__(self) -> None:
        import bench

        self._bench = bench
        self.anchor_before = bench._anchor_sec()
        self._ticks = bench._proc_stat_ticks()

    def finish(self) -> dict:
        steal = self._bench._steal_pct(self._ticks, self._bench._proc_stat_ticks())
        return {"steal_pct": steal, "anchor_sec": [self.anchor_before, self._bench._anchor_sec()]}


class TimedPhase:
    """The measured window: JVM heap peak, CPU split and contention
    stamps around it, and in a traced run the RSS sampler, whose reads
    of ``/proc`` compete with the driver."""

    def __init__(self, spark, trace: bool) -> None:
        self.contention = Contention()
        self.heap = layers.JvmHeap(spark).reset()
        self.rss = layers.RssSampler()
        if trace:
            self.rss.start()
        self.rss_start_mb = layers.tree_rss_mb()
        self.cpu_start = layers.cpu_seconds()
        self.t0 = time.perf_counter()

    def finish(self) -> dict:
        self.wall_s = time.perf_counter() - self.t0
        cpu_end = layers.cpu_seconds()
        rss_end = layers.tree_rss_mb()
        peak = self.rss.stop()
        out = {
            "wall_s": self.wall_s,
            "peak_rss_mb": max(peak, rss_end) if self.rss.samples else None,  # traced runs only
            "rss_samples": self.rss.samples,
            "rss_start_mb": self.rss_start_mb,
            "rss_end_mb": rss_end,
            "jvm_heap_peak_mb": self.heap.peak_mb(),
            "cpu_s": {k: cpu_end.get(k, 0.0) - self.cpu_start.get(k, 0.0) for k in cpu_end},
        }
        out.update(self.contention.finish())
        return out


def _stop_spark(timeout: float = 60.0) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    workers = layers.process_tree()["python_workers"]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while the process runs; an exited one awaiting its reaper
    (state Z) counts as ended."""
    f = layers._stat(pid)
    return f is not None and f[0] != "Z"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
