"""``lookup`` workload: point lookups served over HTTP from a built store.

Set-up generates seeded EVE records and builds an 8-bucket store from
them (normalize, aggregate, ``store.write`` on ~90% of the records, then
``store.merge`` on the rest). Closed-loop clients then send REST and
GraphQL requests: WARMUP_REQUESTS untimed (the JVM is still compiling the
lookup path), then timed until the run's time is up.
Every response is checked afterwards against a DuckDB fold.
"""

from __future__ import annotations

import contextlib
import http.client
import json
import os
import statistics
import threading
import time
import urllib.parse

from perfbench import gen
from perfbench.common import disk_bytes
from perfbench.oracle import LIMIT, REST_FIELDS, Oracle, project

NUM_BUCKETS = 8
N_RECORDS = 60_000
MERGE_SHARE = 0.10
N_REQUESTS = 5_000
#: untimed requests before the timed window, while the JVM compiles the
#: lookup path; a count, not a time, so every run starts timing after the
#: same amount of work whatever the host's speed
WARMUP_REQUESTS = 100
#: closed-loop clients, one per core the session is sized to: with the
#: cores busy, a run's latency and rate hardly depend on how far the JIT
#: has got, which one client's idle cores leave to chance
CLIENTS = len(os.sched_getaffinity(0))


def write_landing(records, land: str) -> None:
    """One NDJSON file per sensor, in the sensor's directory under ``land``."""
    for sid in gen.SENSORS:
        d = os.path.join(land, gen.sensor_dir(sid))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-0.ndjson"), "w") as fh:
            fh.write(gen.ndjson(r for r in records if r.sensor_id == sid))


def parse(spark, land: str):
    """sources: EVE text -> input observations, materialized once. One
    scan of every sensor directory under ``land``; the sensor is the
    directory, as in the program's stream."""
    from pyspark.sql import functions as F

    from balboa_spark.sources.registry import normalize_json_lines
    from balboa_spark.streaming.ingest import SENSOR_PATH_RE

    hex_id = F.regexp_extract(F.input_file_name(), SENSOR_PATH_RE, 1)
    sensor = F.decode(F.unhex(hex_id), "UTF-8")
    lines = spark.read.text(os.path.join(land, "sensor--*"))
    return normalize_json_lines(lines, "suricata_dns", sensor_id=sensor).localCheckpoint(eager=True)


def build_store(ctx, path: str):
    """Generate the records and build the store at ``path``. Returns
    (universe, records, store, phase seconds)."""
    from balboa_spark.operators.aggregate import aggregate
    from balboa_spark.plans.layout import ObservationStore

    phases = {}

    @contextlib.contextmanager
    def phase(name):
        """Time one set-up phase; when tracing, record it as a span too."""
        t0 = time.perf_counter()
        with ctx.spans.span(name) as attrs:
            yield attrs
        phases[name] = time.perf_counter() - t0

    with phase("setup.generate"):
        uni, records = gen.store_records(ctx.seed, N_RECORDS)
        cut = int(len(records) * (1 - MERGE_SHARE))
        land = os.path.join(ctx.work, "land")
        write_landing(records[:cut], os.path.join(land, "main"))
        write_landing(records[cut:], os.path.join(land, "merge"))
    with phase("sources.parse") as a:
        obs = parse(ctx.spark, os.path.join(land, "main"))
        extra = parse(ctx.spark, os.path.join(land, "merge"))
        if ctx.spans.enabled:
            a["rows"] = obs.count() + extra.count()
    with phase("aggregate.fold") as a:
        agg = aggregate(obs).localCheckpoint(eager=True)
        if ctx.spans.enabled:
            a["rows_in"], a["rows_out"] = obs.count(), agg.count()
    store = ctx.store_class(ObservationStore)(ctx.spark, path, num_buckets=NUM_BUCKETS)
    with phase("layout.write"):
        store.write(agg)
    with phase("layout.merge"):
        store.merge(extra)
    return uni, records, store, phases


# -- client side --------------------------------------------------------------


def send(port: int, req: gen.Request, rid: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        headers = {"X-Request-Id": rid}
        if req.kind == "rest":
            path = "/pdns/query/" + urllib.parse.quote(req.arg("subject"), safe="")
            conn.request("GET", path, headers=headers)
        else:
            body = json.dumps({"query": req.graphql()})
            headers["Content-Type"] = "application/json"
            conn.request("POST", "/graphql", body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def drive(port: int, requests: list[gen.Request], clients: int, seconds: float, prefix: str = "r"):
    """Closed loop: each client sends its next request only after the
    previous one returned. Each result's ``done`` is when it completed,
    in seconds from the start."""
    lock = threading.Lock()
    todo = iter(enumerate(requests))
    results: list[dict] = []
    start = time.perf_counter()
    deadline = start + seconds

    def client():
        while time.perf_counter() < deadline:
            with lock:
                item = next(todo, None)
            if item is None:
                return
            i, req = item
            t0 = time.perf_counter()
            try:
                status, body = send(port, req, f"{prefix}{i}")
            except OSError as ex:
                status, body = -1, repr(ex).encode()
            t1 = time.perf_counter()
            with lock:
                results.append({"i": i, "req": req, "status": status, "body": body,
                                "lat": t1 - t0, "done": t1 - start})

    threads = [threading.Thread(target=client, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


# -- correctness --------------------------------------------------------------


def check(oracle: Oracle, req: gen.Request, status: int, body: bytes) -> bool:
    """Does one response equal the oracle's answer?"""
    if req.kind == "rest":
        want = oracle.rest(req.arg("subject"))
        if not want:
            return status == 404
        if status != 200:
            return False
        got = [json.loads(line) for line in body.decode().splitlines() if line]
        return project(got, REST_FIELDS) == project(want, REST_FIELDS)
    if status != 200:
        return False
    doc = json.loads(body)
    if "errors" in doc:
        return False
    got = doc["data"]["entries"]
    preds = {k: v for k, v in req.args}
    want = oracle.entries(**preds)
    fields = (gen.ENTRY_FIELDS if req.kind == "graphql" else gen.ALIAS_FIELDS).split()
    if project(got, fields) != project(want, fields):
        return False
    if req.kind == "alias":
        by_key = {tuple(e[f] for f in fields): e for e in got}
        for w in want:
            g = by_key[tuple(w[f] for f in fields)]
            exp = oracle.aliases(w)
            if exp is None:
                if g["aliases"] is not None:
                    return False
            elif g["aliases"] is None or project(g["aliases"], fields) != project(exp, fields):
                return False
    return True


def rows_of(req: gen.Request, status: int, body: bytes) -> int:
    """Entries in one response: NDJSON lines for REST, ``entries`` for GraphQL."""
    if status != 200:
        return 0
    if req.kind == "rest":
        return body.count(b"\n")
    return len(json.loads(body)["data"]["entries"] or [])


def subject_of(req: gen.Request) -> str:
    return req.arg("subject") or req.arg("rrname") or req.arg("rdata")


def traffic(results: list[dict]) -> dict:
    """The traffic a run actually sent, as shares of its requests: what
    the generator's assumed skew produced, measured from the responses."""
    n = len(results)
    seen, repeats = set(), 0
    for r in sorted(results, key=lambda r: r["i"]):
        s = subject_of(r["req"])
        repeats += s in seen
        seen.add(s)
    rows = [r["rows"] for r in results]
    return {
        "share_capped": sum(x >= LIMIT for x in rows) / n,
        "share_empty": sum(x == 0 for x in rows) / n,
        "share_404": sum(r["status"] == 404 for r in results) / n,
        "share_repeat_subject": repeats / n,
        "rows_per_response_mean": statistics.fmean(rows),
        "rows_per_response_median": float(statistics.median(rows)),
    }


# -- the workload -------------------------------------------------------------


def run(ctx):
    t0 = time.perf_counter()
    uni, records, store, phases = build_store(ctx, os.path.join(ctx.work, "store"))
    requests = gen.lookup_requests(uni, records, ctx.seed, N_REQUESTS + WARMUP_REQUESTS)
    warm, requests = requests[:WARMUP_REQUESTS], requests[WARMUP_REQUESTS:]
    server = ctx.server(store)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        port = server.server_address[1]
        drive(port, warm, CLIENTS, float("inf"), "w")
        ctx.setup_done(time.perf_counter() - t0)
        results = drive(port, requests, CLIENTS, ctx.seconds)
    finally:
        server.shutdown()
        server.server_close()
        thread.join()

    oracle = Oracle(records)
    failed = 0
    for r in results:
        r["ok"] = check(oracle, r["req"], r["status"], r["body"])
        failed += not r["ok"]
        r["rows"] = rows_of(r["req"], r["status"], r["body"]) if r["ok"] else 0
        ctx.clients_seen[f"r{r['i']}"] = (r["req"].kind, r["lat"], len(r["body"]), r["rows"])
    ctx.input_bytes = disk_bytes(os.path.join(ctx.work, "land"))
    ctx.store = store

    plain = [r["lat"] * 1e3 for r in results if r["req"].kind != "alias"]
    alias = [r["lat"] * 1e3 for r in results if r["req"].kind == "alias"]
    ctx.report("lookup", plain, "ms")
    ctx.report("alias", alias, "ms")
    # the rate inside the measuring window: requests still in flight at
    # its end would stretch the wall time by up to one slow request
    qps = sum(r["done"] <= ctx.seconds for r in results) / ctx.seconds
    ctx.note("lookup_qps", qps, "1/s")
    for name, value in traffic(results).items():
        ctx.note(f"traffic.{name}", value, "rows" if name.startswith("rows") else "share")
    ctx.note("store_rows", oracle.con.execute("SELECT count(*) FROM agg").fetchone()[0], "rows")
    live = os.path.join(store.path, f"gen-{store._manifest()['generation']}")
    ctx.note("store_live_bytes", disk_bytes(live), "bytes")
    ctx.note("store_bytes_per_bucket", disk_bytes(live) / (2 * NUM_BUCKETS), "bytes")
    for name, secs in phases.items():
        ctx.note(f"{name}_s", secs, "s")
    return {
        "attempted": len(results),
        "failed": failed,
        "op_p50_ms": statistics.median(plain),
        "work_per_s": qps,
    }
