"""``ingest`` workload: the sensor stream, with writes beside reads.

Set-up starts ``ingest_stream`` in delta mode over an empty landing
directory, with one store per route. One feeder then drops a seeded
NDJSON file per batch (atomic rename into the sensor's sub-directory)
and waits for ``processAllAvailable()`` before the next; the first
compaction cycle is untimed set-up.
About 20% of each batch repeats keys that sensor reported before, and a
selector tags the ~10% of names that start with ``t<digit>``; two routes
are fed: ``all`` and the tagged subset. After every committed batch
FRESH_LOOKUPS REST lookups of keys that batch wrote go one after the
other through ``serve_http`` against the ``all`` store while its deltas
are live.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import threading
import time

from perfbench import gen
from perfbench.lookup import drive, send
from perfbench.oracle import REST_FIELDS, Oracle, project

NUM_BUCKETS = 8
BATCH_ROWS = 2_000
COMPACT_EVERY = 4
#: untimed batches: one whole compaction cycle, so the timed batches meet
#: a JVM that has compiled the append and the compaction path alike
WARMUP_BATCHES = COMPACT_EVERY
#: timed batches at least: two compaction cycles, so a few seconds of a
#: slow host move a run's figures less than they move one cycle's
MIN_TIMED_BATCHES = 2 * COMPACT_EVERY
#: REST lookups after each timed batch: with two cycles of
#: timed batches the run holds enough of them for a named median
FRESH_LOOKUPS = 3
ROUTES = {"all": [], "tagged": ["t"]}
TAGGED = re.compile(gen.TAG_PATTERN)


def selector():
    from balboa_spark.streaming.selectors import SelectorRule, compile_selectors

    return compile_selectors([SelectorRule(name="t-names", tags=["t"], patterns=[gen.TAG_PATTERN])])


def start(ctx):
    """Create the two route stores and start the stream over an empty
    landing directory."""
    from balboa_spark.plans.layout import ObservationStore
    from balboa_spark.streaming.ingest import SENSOR_PATH_RE, ingest_stream

    root = os.path.join(ctx.work, "ingest")
    land = os.path.join(root, "land")
    os.makedirs(land)
    cls = ctx.store_class(ObservationStore)
    stores = {
        name: cls(ctx.spark, os.path.join(root, f"store-{name}"), num_buckets=NUM_BUCKETS)
        for name in ROUTES
    }
    query = ingest_stream(
        ctx.spark,
        land,
        "suricata_dns",
        stores=stores,
        routes=ROUTES,
        selector=selector(),
        checkpoint=os.path.join(root, "checkpoint"),
        sensor_from_path=SENSOR_PATH_RE,
        mode="delta",
        compact_every=COMPACT_EVERY,
    )
    return root, stores, query


def stage(root: str, b: int, records) -> tuple[str, str]:
    """Write batch ``b`` beside the landing directory; returns the staged
    path and its destination in the sensor's sub-directory. Renaming one
    to the other drops the file atomically."""
    staged = os.path.join(root, f"staged-{b:04d}.ndjson")
    with open(staged, "w") as fh:
        fh.write(gen.ndjson(records))
    target = os.path.join(root, "land", gen.sensor_dir(records[0].sensor_id))
    os.makedirs(target, exist_ok=True)
    return staged, os.path.join(target, f"b{b:04d}.ndjson")


def fresh_subjects(seed: int, b: int, records) -> list[str]:
    """rrnames of records batch ``b`` wrote (about a fifth repeat older keys)."""
    rng = random.Random(f"fresh-{seed}-{b}")
    return [rng.choice(records).rrname for _ in range(FRESH_LOOKUPS)]


def run(ctx):
    t0 = time.perf_counter()
    batches = gen.ingest_batches(ctx.seed, BATCH_ROWS)
    root, stores, query = start(ctx)
    store = stores["all"]
    server = ctx.server(store)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    port = server.server_address[1]
    fed, timed, fresh = [], [], []

    def feed(lookups: bool) -> None:
        """Drop the next batch and wait until it is committed; for a timed
        batch, record it and look up keys it wrote."""
        records = next(batches)
        fed.append(records)
        b = len(fed)
        staged, landed = stage(root, b, records)
        with ctx.spans.span("ingest.batch", timed=lookups) as a:
            ctx.batch_span = a.get("id")
            t0 = time.perf_counter()
            os.rename(staged, landed)
            query.processAllAvailable()
            wall = time.perf_counter() - t0
        if not lookups:
            return
        live = len(store._manifest().get("deltas") or [])
        tagged = sum(bool(TAGGED.match(r.rrname)) for r in records)
        timed.append({"b": b, "wall": wall, "live": live, "rows": len(records), "tagged": tagged})
        ctx.input_bytes += os.path.getsize(landed)
        # one client, one lookup after the other
        requests = [gen.Request("rest", (("subject", s),)) for s in fresh_subjects(ctx.seed, b, records)]
        results = drive(port, requests, 1, float("inf"), f"b{b}-")
        for r in results:
            fresh.append({"b": b, "subject": r["req"].arg("subject"), **r})
            rows = r["body"].count(b"\n") if r["status"] == 200 else 0
            ctx.clients_seen[f"b{b}-{r['i']}"] = ("rest", r["lat"], len(r["body"]), rows)

    try:
        # the untimed batches pay the stream's cold start
        for _ in range(WARMUP_BATCHES):
            feed(lookups=False)
        send(port, gen.Request("rest", (("subject", fed[-1][0].rrname),)), "warm")
        ctx.setup_done(time.perf_counter() - t0)
        # timed for at least MIN_TIMED_BATCHES and the run's time, then to
        # the end of that compaction cycle, so every run holds the same
        # share of compactions
        deadline = time.perf_counter() + ctx.seconds
        while (len(timed) < MIN_TIMED_BATCHES or timed[-1]["live"]
               or time.perf_counter() < deadline):
            feed(lookups=True)
        progress = [p for p in query.recentProgress
                    if p["numInputRows"] > 0 and p["batchId"] >= WARMUP_BATCHES]
        if query.exception() is not None:
            raise RuntimeError(f"ingest stream failed: {query.exception()}")
    finally:
        query.stop()
        server.shutdown()
        server.server_close()
        thread.join()

    # -- correctness, outside every timing window --
    from balboa_spark.serving import to_cof

    records, batch_of = [], []
    for b, batch in enumerate(fed, 1):
        records += batch
        batch_of += [b] * len(batch)
    oracle = Oracle(records, batch_of, gen.TAG_PATTERN)
    failed, attempted = 0, len(timed)
    for b in sorted({f["b"] for f in fresh}):
        table = oracle.fold_upto(b)
        for f in (f for f in fresh if f["b"] == b):
            want = oracle.rest(f["subject"], table)
            got = [json.loads(x) for x in f["body"].decode().splitlines() if x] if f["status"] == 200 else []
            f["ok"] = bool(want) and project(got, REST_FIELDS) == project(want, REST_FIELDS)
            failed += not f["ok"]
    attempted += len(fresh)
    for name, table in (("all", oracle.fold_upto(len(fed), "agg_all")), ("tagged", oracle.fold_tagged())):
        got = to_cof(stores[name].forward()).toPandas()
        got_rows = sorted(tuple(r) for r in got[list(REST_FIELDS)].itertuples(index=False))
        want_rows = sorted(oracle.table_rows(table))
        attempted += 1
        if got_rows != want_rows:
            failed += 1
            ctx.note(f"store_mismatch.{name}", f"{len(got_rows)} rows vs {len(want_rows)} expected", "")

    walls = [t["wall"] for t in timed]
    rows_fed = sum(t["rows"] for t in timed)
    seen, repeats = set(), 0
    for b, batch in enumerate(fed, 1):
        keys = [(r.sensor_id, r.rrname, r.rrtype, r.rdata) for r in batch]
        if b > WARMUP_BATCHES:
            repeats += sum(k in seen for k in keys)
        seen.update(keys)
    ctx.note("traffic.share_repeat_key", repeats / rows_fed, "share")
    ctx.note("traffic.share_tagged", sum(t["tagged"] for t in timed) / rows_fed, "share")
    ctx.report("ingest_batch", walls, "s")
    ctx.note("ingest_batch_walls_s", " ".join(f"{w:.3f}" for w in walls), "s")
    ctx.note("ingest_rows_per_s", rows_fed / sum(walls), "1/s")
    ctx.report("fresh_lookup", [f["lat"] * 1e3 for f in fresh], "ms")
    ctx.note("live_deltas_max", max(t["live"] for t in timed), "count")
    ctx.ingest = {"progress": progress, "batches": timed}
    ctx.store = store
    return {
        "attempted": attempted,
        "failed": failed,
        "op_p50_ms": statistics.median(walls) * 1e3,
        "work_per_s": rows_fed / sum(walls),
    }
