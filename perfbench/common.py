"""Shared pieces of the benchmark: percentiles, memory, spans, the run
record and the process environment the program runs in."""

from __future__ import annotations

import contextlib
import math
import os
import platform
import statistics
import subprocess
import threading
import time

#: a percentile is reported only where at least this many samples lie beyond it
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile ``p`` (0 < p <= 100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p`` percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def can_name(n: int, p: float) -> bool:
    """The reporting rule: name percentile ``p`` only with >= MIN_BEYOND samples beyond it."""
    return samples_beyond(n, p) >= MIN_BEYOND


def summarize(values, percentiles=(50, 75, 95, 99)) -> dict:
    """The sample count plus every listed percentile the reporting rule
    allows; p50 is the median."""
    out = {"n": len(values)}
    for p in percentiles:
        if can_name(len(values), p):
            out[f"p{p}"] = statistics.median(values) if p == 50 else percentile(values, p)
    return out


# -- memory -------------------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (the Spark JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus every live descendant, in MB."""
    pids = [os.getpid(), *descendants(os.getpid())]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def disk_bytes(*paths: str) -> int:
    """Bytes under ``paths``, counting each hard-linked file once."""
    seen, total = set(), 0
    for p in paths:
        for d, _, files in os.walk(p):
            for f in files:
                st = os.stat(os.path.join(d, f))
                if (st.st_dev, st.st_ino) not in seen:
                    seen.add((st.st_dev, st.st_ino))
                    total += st.st_size
    return total


# -- spans --------------------------------------------------------------------


class Spans:
    """In-memory span recorder: (name, start, end, parent, request id,
    attributes). Times are unix seconds so they line up with the Spark
    event log. A disabled recorder records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = iter(range(1, 1 << 62))
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, parent: int | None = None, **attrs):
        """Record ``name`` around the block. The parent is the innermost
        open span of this thread unless given (work another thread does
        on behalf of a span)."""
        if not self.enabled:
            yield attrs
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        attrs["id"] = sid
        if parent is None and stack:
            parent = stack[-1]
        stack.append(sid)
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {**attrs, "name": name, "start": start, "end": end,
                     "parent": parent, "rid": rid}
                )


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in seconds: its duration minus the part of
    its interval covered by its child spans."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- run record and environment -----------------------------------------------


def run_record() -> dict:
    """Host facts kept beside every run for reading drift. No metric is
    ever divided by any of them."""
    import pyarrow
    import pyspark

    from balboa_spark.hostcanary import host_canary

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_kb / 1024),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "host_canary_s": host_canary(),
    }


def prepare_env(work: str, event_log_dir: str | None) -> None:
    """Point every scratch location of Python, Spark and the JVM at
    ``work`` (inside the checkout), size the session to this host as the
    repository's tier-1 command does, and switch on the Spark event log
    for a traced run. No session setting of the program is changed."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{event_log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
