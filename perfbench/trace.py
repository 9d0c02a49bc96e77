"""Traced runs: spans around the program's public calls, and the
per-layer metrics computed from them and from the Spark event log.

Spans are recorded only from the benchmark's own files: a subclass of
``ObservationStore`` (query, append_delta, compact), a subclass of the
handler ``make_handler`` builds (one span and one Spark job group per
request), and wrappers around ``graphql.execute`` and
``serving.ndjson_rows`` installed for the traced run and removed after
it. The program's code is not changed.
"""

from __future__ import annotations

import os
import statistics

from perfbench import eventlog
from perfbench.common import disk_bytes, self_times

#: Spark counters reported per top-level span kind
SPARK_COUNTERS = {
    "jobs": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "driver_gap_ms": "ms",
}
SPARK_KINDS = (
    "point", "alias", "batch", "append_delta", "compact",
    "corpus.pretrain", "lm.kn5", "lm.ccnet", "dedup.near_keep", "fuzzy.pairs",
)

#: every per-layer metric: name -> (unit, better). A traced run prints
#: all of them; a layer the workload leaves idle reads 0.
LAYER_METRICS = {
    "session.start_s": ("s", "lower"),
    "serving.handler_ms": ("ms", "lower"),
    "serving.handler_self_ms": ("ms", "lower"),
    "serving.http_ms": ("ms", "lower"),
    "serving.response_bytes": ("bytes", "lower"),
    "graphql.execute_ms": ("ms", "lower"),
    "layout.query_plan_ms": ("ms", "lower"),
    "layout.query_exec_ms": ("ms", "lower"),
    "layout.rows_read_per_row_returned": ("ratio", "lower"),
    "layout.bytes_read_per_lookup": ("bytes", "lower"),
    "query.alias_exec_ms": ("ms", "lower"),
    "query.alias_shuffle_bytes": ("bytes", "lower"),
    "sources.parse_ms": ("ms", "lower"),
    "sources.rows": ("count", "higher"),
    "ingest.batch_self_ms": ("ms", "lower"),
    "selectors.rows_all": ("count", "higher"),
    "selectors.rows_tagged": ("count", "higher"),
    "ingest.trigger_ms": ("ms", "lower"),
    "ingest.add_batch_ms": ("ms", "lower"),
    "ingest.wal_commit_ms": ("ms", "lower"),
    "ingest.planning_ms": ("ms", "lower"),
    "aggregate.rows_in": ("count", "higher"),
    "aggregate.rows_out": ("count", "lower"),
    "aggregate.fold_ms": ("ms", "lower"),
    "layout.write_ms": ("ms", "lower"),
    "layout.merge_ms": ("ms", "lower"),
    "layout.append_delta_ms": ("ms", "lower"),
    "layout.compact_ms": ("ms", "lower"),
    "layout.compactions": ("count", "lower"),
    "layout.live_deltas_max": ("count", "lower"),
    "layout.bytes_written_per_input_byte": ("ratio", "lower"),
    "layout.store_bytes_per_live_byte": ("ratio", "lower"),
    "corpus.pretrain_s": ("s", "lower"),
    "lm.kn5_s": ("s", "lower"),
    "lm.ccnet_s": ("s", "lower"),
    "dedup.near_keep_s": ("s", "lower"),
    "fuzzy.pairs_s": ("s", "lower"),
    "trace.op_p50_ms": ("ms", "lower"),
    "trace.overhead_pct": ("%", "lower"),
    **{
        f"spark.{kind}.{c}": (unit, "lower")
        for kind in SPARK_KINDS
        for c, unit in SPARK_COUNTERS.items()
    },
}

PROGRESS_KEYS = {
    "ingest.trigger_ms": "triggerExecution",
    "ingest.add_batch_ms": "addBatch",
    "ingest.wal_commit_ms": "walCommit",
    "ingest.planning_ms": "queryPlanning",
}


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1e3


def live_bytes_ratio(store) -> float:
    """Store bytes on disk per byte of its live state (current generation
    plus live deltas); old generations and retired deltas are the rest."""
    man = store._manifest()
    live = [os.path.join(store.path, f"gen-{man['generation']}")]
    live += [os.path.join(store.path, d) for d in man.get("deltas") or []]
    return disk_bytes(store.path) / max(1, disk_bytes(*live))


class Tracer:
    """Installs the traced-run wrappers and turns spans plus the event
    log into LAYER_METRICS."""

    def __init__(self, ctx):
        self.ctx, self.spans = ctx, ctx.spans
        self._restore: list[tuple] = []

    # -- wrappers -------------------------------------------------------------

    def store_class(self, base):
        spans, ctx = self.spans, self.ctx

        class TracedStore(base):
            def query(self, q):
                with spans.span("layout.query_plan"):
                    return super().query(q)

            def append_delta(self, new_obs, *args, **kwargs):
                with spans.span("layout.append_delta", parent=ctx.batch_span,
                                route=os.path.basename(self.path)):
                    super().append_delta(new_obs, *args, **kwargs)

            def compact(self):
                if not (self._manifest() or {}).get("deltas"):
                    return super().compact()
                with spans.span("layout.compact", parent=ctx.batch_span):
                    super().compact()

        return TracedStore

    def _wrap(self, module, attr: str, span_name: str, tag=None) -> None:
        orig = getattr(module, attr)
        spans = self.spans

        def wrapped(*args, **kwargs):
            attrs = tag(*args) if tag else {}
            with spans.span(span_name, **attrs):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapped)
        self._restore.append((module, attr, orig))

    def server(self, store):
        from http.server import ThreadingHTTPServer

        from balboa_spark import graphql, serving

        spans, sc = self.spans, self.ctx.spark.sparkContext

        class Handler(serving.make_handler(store)):
            def _traced(self, method):
                rid = self.headers.get("X-Request-Id")
                sc.setJobGroup(rid, "perfbench request")
                with spans.span("serving.handler", rid=rid):
                    method()

            def do_GET(self):  # noqa: N802
                self._traced(super().do_GET)

            def do_POST(self):  # noqa: N802
                self._traced(super().do_POST)

        self._wrap(serving, "ndjson_rows", "layout.query_exec")
        self._wrap(graphql, "execute", "graphql.execute",
                   lambda store, src, *a: {"alias": "aliases" in src})
        return ThreadingHTTPServer(("127.0.0.1", 0), Handler)

    def close(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    # -- metrics --------------------------------------------------------------

    def layer_metrics(self, out: dict, eventlog_dir: str, untraced_op_p50_ms: float) -> dict:
        ctx, spans = self.ctx, self.spans.spans
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        named = {}
        for s in spans:
            named.setdefault(s["name"], []).append(s)

        def med(name, fn=_ms, where=lambda s: True):
            return _median(fn(s) for s in named.get(name, []) if where(s))

        # attribute every Spark job to the innermost candidate span
        jobs = eventlog.parse_jobs(eventlog.read_events(eventlog_dir))
        by_span = eventlog.attribute(jobs, spans)
        kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)

        def subtree_jobs(s):
            out_jobs = list(by_span.get(s["id"], []))
            for k in kids.get(s["id"], []):
                out_jobs += subtree_jobs(k)
            return out_jobs

        def counters(s):
            return eventlog.counters(s, subtree_jobs(s))

        clients = ctx.clients_seen  # rid -> (kind, latency s, bytes, rows)
        handlers = [s for s in named.get("serving.handler", []) if s["rid"] in clients]

        m["session.start_s"] = med("session.start") / 1e3
        own = self_times(spans)
        m["serving.handler_ms"] = _median(_ms(s) for s in handlers)
        m["serving.handler_self_ms"] = _median(own[s["id"]] * 1e3 for s in handlers)
        m["serving.http_ms"] = _median(clients[s["rid"]][1] * 1e3 - _ms(s) for s in handlers)
        m["serving.response_bytes"] = _median(c[2] for c in clients.values())
        m["graphql.execute_ms"] = med("graphql.execute", where=lambda s: not s["alias"])
        m["query.alias_exec_ms"] = med("graphql.execute", where=lambda s: s["alias"])
        m["layout.query_plan_ms"] = med("layout.query_plan")
        m["layout.query_exec_ms"] = med("layout.query_exec")

        rest = [s for s in handlers if clients[s["rid"]][0] == "rest"]
        rest_c = [(s, counters(s)) for s in rest]
        returned = sum(clients[s["rid"]][3] for s in rest)
        if returned:
            m["layout.rows_read_per_row_returned"] = sum(c["input_records"] for _, c in rest_c) / returned
        m["layout.bytes_read_per_lookup"] = _median(c["input_bytes"] for _, c in rest_c)

        batches = [s for s in named.get("ingest.batch", []) if s["timed"]]
        timed_batch = {s["id"] for s in batches}
        by_kind = {
            "point": [s for s in handlers if clients[s["rid"]][0] != "alias"],
            "alias": [s for s in handlers if clients[s["rid"]][0] == "alias"],
            "batch": batches,
            "append_delta": [s for s in named.get("layout.append_delta", [])
                             if s["parent"] in timed_batch],
            "compact": [s for s in named.get("layout.compact", []) if s["parent"] in timed_batch],
        }
        for kind in SPARK_KINDS[5:]:
            by_kind[kind] = named.get(kind, [])
        for kind, ss in by_kind.items():
            cs = [counters(s) for s in ss]
            for c in SPARK_COUNTERS:
                m[f"spark.{kind}.{c}"] = _median(x[c] for x in cs)
        m["query.alias_shuffle_bytes"] = m["spark.alias.shuffle_write_bytes"]

        m["sources.parse_ms"] = med("sources.parse")
        m["aggregate.fold_ms"] = med("aggregate.fold")
        m["aggregate.rows_in"] = med("aggregate.fold", lambda s: s["rows_in"])
        m["aggregate.rows_out"] = med("aggregate.fold", lambda s: s["rows_out"])
        m["layout.write_ms"] = med("layout.write")
        m["layout.merge_ms"] = med("layout.merge")
        m["layout.append_delta_ms"] = _median(_ms(s) for s in by_kind["append_delta"])
        m["layout.compact_ms"] = _median(_ms(s) for s in by_kind["compact"])
        m["layout.compactions"] = len(by_kind["compact"])

        writes = [s for n in ("layout.write", "layout.merge") for s in named.get(n, [])]
        if ctx.workload == "lookup":
            m["sources.rows"] = med("sources.parse", lambda s: s["rows"])
        if ctx.ingest:
            ing = ctx.ingest
            writes = by_kind["batch"]
            progress = ing["progress"]
            for name, key in PROGRESS_KEYS.items():
                m[name] = _median(p["durationMs"].get(key, 0) for p in progress)
            m["sources.rows"] = _median(p["numInputRows"] for p in progress)
            m["ingest.batch_self_ms"] = _median(own[s["id"]] * 1e3 for s in by_kind["batch"])
            # rows each route's store received per batch, as Spark counted
            # them: an append writes its folded batch twice, once per layout
            for route in ("all", "tagged"):
                m[f"selectors.rows_{route}"] = _median(
                    counters(s)["output_records"] / 2
                    for s in by_kind["append_delta"] if s["route"] == f"store-{route}")
            m["aggregate.rows_out"] = m["selectors.rows_all"]
            m["layout.live_deltas_max"] = max(b["live"] for b in ing["batches"])
        if writes and ctx.input_bytes:
            m["layout.bytes_written_per_input_byte"] = (
                sum(counters(s)["output_bytes"] for s in writes) / ctx.input_bytes)
        if ctx.store is not None:
            m["layout.store_bytes_per_live_byte"] = live_bytes_ratio(ctx.store)
        if ctx.corpus:
            for kind in SPARK_KINDS[5:]:
                m[f"{kind}_s"] = ctx.corpus[kind]

        m["trace.op_p50_ms"] = out["op_p50_ms"]
        m["trace.overhead_pct"] = (out["op_p50_ms"] / untraced_op_p50_ms - 1) * 100
        return {k: (float(v), LAYER_METRICS[k][0]) for k, v in m.items()}
