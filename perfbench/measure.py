"""Measurement plumbing: spans, the Spark event-log reader, the process-tree
memory sampler and the host fingerprint.

Spans are recorded by the benchmark around its calls into the program's
public functions. Jobs, stages, tasks, task time, GC time and shuffle bytes
come from the Spark event log and are attributed to a span when the job
was submitted inside the span's time window. Job counts never come from
``statusTracker``, whose retained-jobs window makes deltas go negative
once more than ``spark.ui.retainedJobs`` jobs have run.
"""

from __future__ import annotations

import json
import os
import platform
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log milliseconds
    end: float
    op: int | None = None

    @property
    def secs(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Collects spans in memory; they are only read after the run."""

    spans: list[Span] = field(default_factory=list)
    op: int | None = None

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.time(), self.op))

    def total(self, name: str) -> float:
        return sum(s.secs for s in self.spans if s.name == name)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class JobStats:
    submit: float  # epoch seconds
    stages: list[int]
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0


def read_event_log(ev_dir: str) -> dict[int, JobStats]:
    """Job id → JobStats for every job in the (finished) event log."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    for path in sorted(Path(ev_dir).rglob("events_*")):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = JobStats(e["Submission Time"] / 1000.0, e["Stage IDs"])
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(e)
    for e in tasks:
        job = jobs.get(stage_job.get(e["Stage ID"]))
        m = e.get("Task Metrics")
        if job is None or m is None:
            continue
        job.tasks += 1
        job.task_s += m.get("Executor Run Time", 0) / 1000.0
        job.gc_s += m.get("JVM GC Time", 0) / 1000.0
        sw = m.get("Shuffle Write Metrics", {})
        sr = m.get("Shuffle Read Metrics", {})
        job.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
        job.shuffle_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    return jobs


@dataclass
class Window:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0


def window(jobs: dict[int, JobStats], spans: list[Span]) -> Window:
    """Sum of the jobs submitted inside any of ``spans``."""
    w = Window()
    for j in jobs.values():
        if any(s.start <= j.submit <= s.end for s in spans):
            w.jobs += 1
            w.stages += len(j.stages)
            w.tasks += j.tasks
            w.task_s += j.task_s
            w.gc_s += j.gc_s
            w.shuffle_mb += j.shuffle_bytes / 2**20
    return w


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes that map it, so forked workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_usage(root: int) -> tuple[int, float]:
    """(PSS bytes, CPU seconds used so far) of process ``root`` and all its
    descendants. The CPU time includes children that have exited and been
    waited for (a Python worker reaped by its daemon), so a delta of two
    readings keeps their share."""
    children: dict[int, list[int]] = {}
    cpu_ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime
        cpu_ticks[pid] = sum(int(x) for x in fields[11:15])
    pss = ticks = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        pss += _pss_bytes(pid)
        ticks += cpu_ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return pss, ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor has taken from this host's vCPUs so far."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class MemSampler:
    """Peak memory (PSS) of this process and all its descendants (the Python
    driver, the JVM it launches and the JVM's Python workers), sampled every
    ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_usage(me)[0])
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_usage(os.getpid())[0])


# ---------------------------------------------------------------------------
# host fingerprint
# ---------------------------------------------------------------------------


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = (out.stderr or out.stdout).splitlines()
    return lines[0].strip() if lines else "unknown"


def _git_sha(root: Path) -> str:
    """The checkout's commit when it is a git work tree, else ``unknown``
    (git is not asked, so it never searches the parent directories)."""
    if not (root / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def source_digest(root: Path) -> str:
    """Hash of the program's and the benchmark's .py files. Names a checkout
    that has no git metadata, and keys caches so that one version never
    reads another's."""
    import hashlib

    h = hashlib.sha256()
    for d in (root / "code_graph_rag_spark", root / "perfbench"):
        for p in sorted(d.rglob("*.py")):
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def host_fingerprint(root: Path, overrides: dict[str, str]) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": _java_version(),
        "git_sha": _git_sha(root),
        "source_digest": source_digest(root),
        "env_overrides": overrides,
    }
