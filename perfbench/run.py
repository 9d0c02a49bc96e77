"""Benchmark entry point.

    python3 perfbench/run.py --workload {lookup,ingest,corpus} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. Builds nothing: the
program is the ``balboa_spark`` package beside this directory. Prints a
human-readable report, then as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits 2 without a result when the program is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time


def process_start() -> float:
    """Unix time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("lookup", "ingest", "corpus")
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "work_per_s": "1/s"}


class Ctx:
    """What a workload gets: its inputs, the session, the span recorder,
    and a place to put its report."""

    def __init__(self, args, work: str, spans):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.work, self.spans = work, spans
        self.spark = self.tracer = self.setup_s = self.session_s = None
        self.lines: list[str] = []
        # filled by the workload for the traced run's layer metrics
        self.batch_span = None  # open ingest batch span, for the stream's callback thread
        self.clients_seen: dict[str, tuple] = {}  # request id -> (kind, latency s, bytes, rows)
        self.input_bytes = 0  # input bytes behind the store writes
        self.store = None  # the store served at the end of the run
        self.ingest = self.corpus = None

    def setup_done(self, workload_setup_s: float) -> None:
        """Set-up is session start (from process start) plus the
        workload's preparation and warm-up."""
        self.setup_s = self.session_s + workload_setup_s

    def note(self, name: str, value, unit: str) -> None:
        self.lines.append(f"{name} {value:.6g} {unit}" if isinstance(value, float) else f"{name} {value} {unit}")

    def report(self, name: str, values, unit: str) -> None:
        """One ``<name>_p<N>_<unit>`` line per percentile the reporting
        rule allows, each with its sample count; just the count when the
        rule allows none."""
        from perfbench.common import summarize

        s = summarize(values)
        if len(s) == 1:
            self.lines.append(f"{name}_n {s['n']} samples (too few for a named percentile)")
        for k, v in s.items():
            if k != "n":
                self.lines.append(f"{name}_{k}_{unit} {v:.6g} {unit} (n={s['n']})")

    def store_class(self, base):
        """``base``, or its traced subclass in a traced run."""
        return self.tracer.store_class(base) if self.tracer else base

    def server(self, store):
        """The program's HTTP server over ``store`` on an ephemeral port
        (with a traced handler in a traced run); not yet serving."""
        if self.tracer:
            return self.tracer.server(store)
        from balboa_spark.serving import serve_http

        return serve_http(store, port=0)


def reference_path(args) -> str:
    """Where an untraced run leaves its ``op_p50_ms`` for a traced run of
    the same workload, seed, seconds and source code in this checkout."""
    code = hashlib.sha256()
    for top in ("balboa_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(x for x in files if x.endswith(".py")):
                with open(os.path.join(d, f), "rb") as fh:
                    code.update(f.encode() + fh.read())
    key = f"{args.workload}-{args.seed}-{args.seconds:g}-{code.hexdigest()[:16]}"
    return os.path.join(ROOT, ".perfbench_work", f"untraced-{key}.json")


def untraced_reference(args) -> float:
    """``op_p50_ms`` of the untraced run that matches this traced one (see
    reference_path); when there is none yet, one is made first in a child
    process. The tracing overhead is one paired difference."""
    path = reference_path(args)
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=170)
    with open(path) as fh:
        return json.load(fh)["op_p50_ms"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "balboa_spark", "session.py")):
        print(f"no balboa_spark package beside {os.path.dirname(__file__)}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import common

    reference = untraced_reference(args) if args.trace else None
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    eventlog = os.path.join(work, "eventlog") if args.trace else None
    common.prepare_env(work, eventlog)
    spans = common.Spans(enabled=bool(args.trace))
    ctx = Ctx(args, work, spans)
    try:
        from balboa_spark.session import get_spark

        with spans.span("session.start"):
            ctx.spark = get_spark("perfbench")
        ctx.session_s = time.time() - T_PROCESS
        ctx.spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            from perfbench.trace import Tracer

            ctx.tracer = Tracer(ctx)
        module = __import__(f"perfbench.{args.workload}", fromlist=["run"])
        out = module.run(ctx)
        ctx.note("peak_rss_mb", common.peak_rss_mb(), "MB")
        common.stop_session(ctx.spark)
        ctx.spark = None
        record = common.run_record()
        if args.trace:
            metrics = ctx.tracer.layer_metrics(out, eventlog, reference)
        else:
            values = {"setup_s": ctx.setup_s, **out}
            metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
            with open(reference_path(args), "w") as fh:
                json.dump({"op_p50_ms": out["op_p50_ms"]}, fh)
    finally:
        if ctx.tracer is not None:
            ctx.tracer.close()
        if ctx.spark is not None:
            common.stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    for line in ctx.lines:
        print(line)
    print("run_record " + json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
