"""T1-T5: continuous ingest — the Spark restatement of `balboa serve`
(cmd/balboa/cmds/serve.go:131-150; SURVEY §3.1).

Reference pipeline: feeder -> parse -> channel -> selector engine ->
tag-routed backends -> merge-upsert. Here:

    readStream (text/json landing dir, or Kafka)
      -> format normalizer (sources/registry)
      -> selector tagging stage (streaming/selectors)
      -> foreachBatch: per-route fold into each ObservationStore

Design decisions (SURVEY §2.9):
- T2: the fold is associative+commutative, so late/out-of-order data
  cannot change results — NO watermark and NO stream-state aggregation.
  State lives in the table, not the stream: each micro-batch is folded
  into the store (MERGE-into pattern; plain-Parquet rewrite locally,
  Delta/Iceberg MERGE INTO on a real deployment).
- T4: backpressure via maxFilesPerTrigger (the reference's bounded
  channel, input_observation.go:27-31, is engine-internal here).
- T5: the store's manifest records the last applied epoch_id, and the
  epoch gate flips atomically with the data generation — a replayed
  micro-batch (crash between a route's merge and the checkpoint
  commit, or between the sequential per-route merges) is a no-op, so
  the count-additive fold cannot double-count. This upgrades the
  reference's documented at-least-once caveat (backend/PROTOCOL.md:31)
  to exactly-once per store.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from balboa_spark.plans.layout import ObservationStore
from balboa_spark.sources.registry import normalize_json_lines
from balboa_spark.streaming.selectors import route as route_fn


#: file-path pattern recovering the transport-attached sensor id
#: (HTTPFeeder lands bodies under sensor--<hex id>/ — deliberately NOT
#: key=value form, which Spark would treat as a partition column and
#: reject when the value is empty; hex survives URI re-encoding of
#: input_file_name)
SENSOR_PATH_RE = r"sensor--([0-9a-f]*)/"


def ingest_stream(
    spark: SparkSession,
    input_path: str,
    fmt: str,
    stores: dict[str, ObservationStore],
    routes: dict[str, Sequence[str]] | None = None,
    selector: Callable[[DataFrame], DataFrame] | None = None,
    sensor_id=None,
    checkpoint: str | None = None,
    max_files_per_trigger: int | None = None,
    sensor_from_path: str | None = None,
    stream_id: str | None = None,
    mode: str = "merge",
    compact_every: int = 16,
    max_live_deltas: int | None = None,
):
    """Start a streaming ingest job; returns the StreamingQuery.

    mode: "merge" re-folds touched buckets per micro-batch (per-batch
    cost grows with the store — right for low-frequency folds);
    "delta" appends O(batch) delta generations (layout.py LSM path)
    and compacts each store every ``compact_every`` epochs — right for
    high-frequency micro-batches against a large store.
    ``max_live_deltas`` additionally arms the store's SIZE trigger
    (r11): if a cadence misconfiguration (or a burst of routes) lets
    the committed delta list exceed it, the append compacts inline —
    the bound holds even when the epoch cadence never fires.

    stream_id scopes the stores' epoch replay gate: foreachBatch epoch
    counters are per-StreamingQuery, so every distinct feeder merging
    into a shared store needs its own id (config.serve passes the
    feeder name). Defaults to the checkpoint path, else the input
    path — stable across restarts of the same stream.

    stores: route name -> ObservationStore. With routes=None a single
    route "default" receiving everything is assumed.

    fmt "nmsg_wire" reads BINARY landing files (one NMSG container or
    NewDomain frame per file, as dropped by NmsgUdpFeeder) through the
    wire decoder; every other format reads text lines.

    sensor_from_path: regex with one capture group applied to each
    input file path (default pattern: the transports' sensor--<id>/
    layout) — recovers the per-request X-Sensor-ID that the HTTP
    feeder attached (feeder_http.go:49-50). Micro-batches are split by
    distinct sensor (a handful of files per trigger), so normalizers
    stay unchanged.
    """
    import re as _re

    from pyspark.sql import functions as F

    if mode not in ("merge", "delta"):
        raise ValueError(f"mode must be 'merge' or 'delta', got {mode!r}")
    if stream_id is None:
        stream_id = checkpoint or input_path
    if routes is None:
        routes = {name: [] for name in stores}
    unknown = set(routes) - set(stores)
    if unknown:
        raise ValueError(f"routes without stores: {sorted(unknown)}")

    binary = fmt == "nmsg_wire"
    reader = spark.readStream.format("binaryFile" if binary else "text")
    # transports land files under sensor--<id>/ subdirs; recurse and
    # skip partition-column inference
    reader = reader.option("recursiveFileLookup", "true")
    if binary:
        reader = reader.option("pathGlobFilter", "*.nmsg").schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.load(input_path)

    def normalize(batch_df: DataFrame, sid) -> DataFrame:
        if binary:
            from balboa_spark.sources.nmsg import decode_nmsg_container
            from balboa_spark.sources.nmsg import normalize as nmsg_normalize

            frames = batch_df.select(F.col("content").alias("frame"))
            return nmsg_normalize(decode_nmsg_container(frames), sensor_id=sid)
        return normalize_json_lines(batch_df, fmt, sensor_id=sid)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # Structured Streaming interleaves NO-DATA micro-batches with
        # data batches (noDataMicroBatches, on by default). Measured
        # r14: each one paid a full localCheckpoint + per-route empty
        # append (~1-3s of pure overhead per drop) — at a production
        # trigger cadence that is half the cluster's ingest capacity.
        # Skip the fold entirely; keep the compaction-cadence check so
        # the epoch_id % compact_every rule fires on exactly the same
        # epochs as before (deterministic under replay either way: a
        # skipped empty epoch re-skips, a compact re-run is a no-op).
        if batch_df.isEmpty():
            if mode == "delta" and compact_every and (
                epoch_id % compact_every == compact_every - 1
            ):
                for name in routes:
                    stores[name].compact()
            return
        pat = sensor_from_path
        if pat is not None:
            file_col = F.col("path") if binary else F.input_file_name()
            files = [r["f"] for r in batch_df.select(file_col.alias("f")).distinct().collect()]
            by_sensor: dict[str, list[str]] = {}
            for f in files:
                m = _re.search(pat, f)
                sid = bytes.fromhex(m.group(1)).decode() if m else ""
                by_sensor.setdefault(sid, []).append(f)
            pieces = [
                normalize(batch_df.filter(file_col.isin(fs)), sid)
                for sid, fs in sorted(by_sensor.items())
            ]
            if not pieces:
                return
            obs = pieces[0]
            for p in pieces[1:]:
                obs = obs.unionByName(p)
        else:
            obs = normalize(batch_df, sensor_id)
        if selector is not None:
            obs = selector(obs)
        elif "tags" not in obs.columns:
            obs = obs.withColumn("tags", F.array().cast("array<string>"))
        obs = obs.localCheckpoint(eager=True)  # parse once, not once per route
        for name, tagged in route_fn(obs, routes).items():
            if mode == "delta":
                stores[name].append_delta(
                    tagged,
                    epoch_id=epoch_id,
                    stream_id=stream_id,
                    max_live_deltas=max_live_deltas,
                )
                # compaction cadence rides the epoch counter, so it is
                # deterministic under replay (a replayed epoch re-runs
                # the same compact decision against an already-compacted
                # store, which is a no-op)
                if compact_every and epoch_id % compact_every == compact_every - 1:
                    stores[name].compact()
            else:
                stores[name].merge(tagged, epoch_id=epoch_id, stream_id=stream_id)

    writer = lines.writeStream.foreachBatch(process_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


