"""Common-Crawl-style WARC/WET crawl-archive source.

The 100 TB pretraining corpus the LLM-pipeline operators exist for
ships as WARC (raw crawl) / WET (extracted-text) archives: many
~100-200 MB gzip files, each a concatenation of records

    WARC/1.0\\r\\n
    <Header-Name>: <value>\\r\\n ...          (until a blank line)
    \\r\\n
    <Content-Length bytes of payload>
    \\r\\n\\r\\n

(the WARC 1.0/1.1 record grammar — ISO 28500; WET payloads are the
UTF-8 page text of ``WARC-Type: conversion`` records).

Spark-first design:

- ``spark.read.format("binaryFile")`` gives (path, content) rows —
  one file per row, one task per file. A crawl snapshot is ~80-100k
  WET files, so FILE-level parallelism saturates any executor fleet
  without a record-level split; this matches how the archives are
  meant to be consumed (their gzip members are not block-splittable,
  which is why the corpus is sharded into many moderate files in the
  first place).
- Record parsing runs inside ``mapInPandas`` (Arrow batches of file
  rows in, record rows out) — pure Python over in-memory bytes, no
  driver involvement, no shuffle: the output partitioning is the file
  partitioning, ready for the downstream gate/dedup stages.
- Memory bound per task = one decompressed file (~400 MB for a
  standard WET shard). ``binaryFile`` holds a file in one row, so the
  2 GB Arrow row limit is the hard ceiling — standard crawl shards
  are 10x under it; re-shard anything bigger upstream.
- Malformed trailing bytes / truncated records surface as one row of
  ``record_type='_corrupt'`` per file (with the byte offset in
  ``target_uri`` and the parse error in ``text``) — counted, never a
  crashed task, same contract as semistructured.json_key_profile.
"""

from __future__ import annotations

import gzip
import io
import json
import os
import uuid
import zlib
from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: output schema of read_wet (record_id/target_uri/warc_date are the
#: WARC-Record-ID / WARC-Target-URI / WARC-Date headers, absent -> NULL)
WET_SCHEMA = (
    "path string, record_id string, record_type string, "
    "target_uri string, warc_date timestamp, content_length long, "
    "text string"
)

_CRLF2 = b"\r\n\r\n"


def _parse_warc_bytes(path: str, blob: bytes) -> Iterator[tuple]:
    """Yield one tuple per record in a (decompressed) WARC/WET blob;
    a single trailing '_corrupt' tuple on structural damage."""
    pos, n = 0, len(blob)
    while True:
        # tolerate inter-record padding newlines
        while pos < n and blob[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            return
        if not blob.startswith(b"WARC/", pos):
            yield (path, None, "_corrupt", f"offset={pos}", None, None,
                   "expected WARC/ version line")
            return
        head_end = blob.find(_CRLF2, pos)
        if head_end < 0:
            yield (path, None, "_corrupt", f"offset={pos}", None, None,
                   "unterminated header block")
            return
        headers: dict[str, str] = {}
        for line in blob[pos:head_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().lower().decode("ascii", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            yield (path, None, "_corrupt", f"offset={pos}", None, None,
                   "missing/bad Content-Length")
            return
        body_start = head_end + len(_CRLF2)
        if body_start + length > n:
            yield (path, None, "_corrupt", f"offset={pos}", None, None,
                   "truncated payload")
            return
        payload = blob[body_start : body_start + length]
        warc_date = headers.get("warc-date")
        yield (
            path,
            headers.get("warc-record-id"),
            headers.get("warc-type"),
            headers.get("warc-target-uri"),
            # tz-AWARE UTC (or NaT): Arrow carries the instant, so the
            # stored timestamp is correct under ANY session timezone —
            # a naive value would be reinterpreted as session-local
            pd.to_datetime(warc_date, utc=True, errors="coerce")
            if warc_date
            else None,
            length,
            payload.decode("utf-8", "replace"),
        )
        pos = body_start + length


def _maybe_gunzip(blob: bytes) -> bytes:
    """Decompress when gzip magic is present; multi-member streams
    (one member per record — the canonical .warc.gz layout) read as
    one concatenation via GzipFile."""
    if blob[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=io.BytesIO(blob)).read()
    return blob


def read_wet(
    spark: SparkSession,
    path: str | list[str],
    record_types: Iterable[str] | None = ("conversion",),
) -> DataFrame:
    """WARC/WET archive files -> one row per record.

    ``record_types`` keeps only those WARC-Types ('conversion' — the
    WET text records — by default); pass None for every record
    including warcinfo/_corrupt markers. The filter runs Spark-side on
    the parsed relation so the corrupt accounting survives it only
    when asked for.
    """
    files = (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "content")
        # write_wet_shards stamps its export token in the shard dir;
        # it is bookkeeping, not an archive
        .filter(~F.col("path").endswith("_export.json"))
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "path", "record_id", "record_type", "target_uri",
            "warc_date", "content_length", "text",
        ]
        for pdf in it:
            # one output frame PER FILE: peak task memory stays one
            # decompressed file + its rows, even when Spark packs many
            # small shards into one partition / Arrow batch, and no
            # single output batch aggregates several files' text
            for p, blob in zip(pdf["path"], pdf["content"]):
                try:
                    raw = _maybe_gunzip(bytes(blob))
                except (OSError, EOFError, zlib.error) as ex:
                    # bad magic -> BadGzipFile (OSError); truncated
                    # stream -> EOFError; mid-stream corruption ->
                    # zlib.error. All are _corrupt rows, not crashes.
                    yield pd.DataFrame(
                        [(p, None, "_corrupt", "offset=0", None, None,
                          f"gzip: {ex}")],
                        columns=cols,
                    )
                    continue
                out = pd.DataFrame(
                    list(_parse_warc_bytes(p, raw)), columns=cols
                )
                out["warc_date"] = pd.to_datetime(out["warc_date"], utc=True)
                yield out

    out = files.mapInPandas(batches, WET_SCHEMA)
    if record_types is not None:
        out = out.filter(F.col("record_type").isin(list(record_types)))
    return out


def wet_bytes(records: Iterable[tuple[str, str, str]], version: str = "1.0") -> bytes:
    """Serialize (record_id, target_uri, text) triples as a WET blob —
    the export/round-trip twin of read_wet (also the test fixture
    builder). Text encodes UTF-8; Content-Length is byte length.

    Total over arbitrary Spark string values: Spark string columns can
    carry unpaired surrogates (mis-decoded upstream bytes survive as
    lone ``\\ud800``-class code points), and an export sink must never
    crash the task on one row — so both the payload and the header
    encode with ``errors="replace"`` and the round-trip contract is
    "surrogates become U+FFFD/'?' replacement bytes", pinned by
    tests/test_wet.py::test_parser_roundtrip_random_records."""
    out = io.BytesIO()
    for record_id, uri, text in records:
        # NULL text serializes as an empty payload: WET has no NULL
        # representation, and an export sink crashing on one NULL row
        # (None.encode) is a job-stopper, not a contract
        payload = ("" if text is None else text).encode(
            "utf-8", errors="replace"
        )
        head = (
            f"WARC/{version}\r\n"
            "WARC-Type: conversion\r\n"
            f"WARC-Record-ID: {record_id}\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            "WARC-Date: 2024-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(payload)}\r\n"
            "\r\n"
        )
        # IRIs: header values may be non-ASCII; replace makes lone
        # surrogates (legal in Spark strings) non-fatal
        out.write(head.encode("utf-8", errors="replace"))
        out.write(payload)
        out.write(b"\r\n\r\n")
    return out.getvalue()


def write_wet_shards(
    df: DataFrame,
    out_dir: str,
    *,
    num_shards: int = 16,
    shard_col: str | None = None,
    record_id_col: str = "record_id",
    uri_col: str = "target_uri",
    text_col: str = "text",
    gzip_output: bool = True,
) -> DataFrame:
    """Distributed WET export: (record_id, target_uri, text) rows ->
    ``num_shards`` gzipped WARC/WET archives under ``out_dir`` — the
    export twin of read_wet, written FROM THE EXECUTORS. The naive
    alternative (collect + driver-side wet_bytes) is a corpus-sized
    driver transfer: at 100 TB it is not slow, it is impossible.

    Returns the shard MANIFEST relation (shard, n_records, n_bytes,
    path) — writes happen when the caller runs an action on it
    (``.collect()`` — manifest-sized, num_shards rows).

    Determinism and safety:
    - rows route by ``pmod(xxhash64(record_id), num_shards)`` (or the
      caller's ``shard_col``), records sort by record_id within the
      shard, and gzip is stamped mtime=0 — byte-identical output for
      the same input regardless of partitioning;
    - each shard file lands via write-to-tmp + atomic rename, so a
      task RETRY rewrites the same bytes instead of tearing the file;
    - one shard materializes in one task: size num_shards so a shard
      fits executor memory (the CommonCrawl convention is ~1 GB
      gzipped shards). ``out_dir`` must be visible to the executors
      (shared filesystem) — on a real cluster point it at the DFS.
    """
    os.makedirs(out_dir, exist_ok=True)
    # Refuse a dirty target: a re-export with fewer shards (or a
    # different shard_col) would leave the old shard-*.warc.wet.gz
    # files in place and read_wet would silently union stale records
    # with the new export. Fail fast instead of guessing which files
    # belong to a previous run.
    stale = sorted(n for n in os.listdir(out_dir) if ".warc.wet" in n)
    if stale:
        raise FileExistsError(
            f"write_wet_shards: {out_dir} already contains "
            f"{len(stale)} WET shard file(s) (e.g. {stale[0]}); "
            "export into an empty directory or remove them first"
        )
    # The dirty check above runs at PLAN-BUILD time but shard files
    # land at ACTION time, so two manifests built against the same
    # empty dir (or a stale manifest re-collected after a newer
    # export) would interleave silently. An export TOKEN closes the
    # window: this build stamps its parameters plus a per-build nonce
    # (two builds with IDENTICAL parameters must still invalidate each
    # other), and every executor task re-verifies the stamp before
    # writing — a mismatched or missing token fails the task instead
    # of leaving a mixed-shard directory that read_wet would silently
    # union.
    token = {
        "num_shards": int(num_shards),
        "shard_col": shard_col,
        "gzip": bool(gzip_output),
        "nonce": uuid.uuid4().hex,
    }
    tok_tmp = os.path.join(out_dir, "_export.json.inprogress")
    with open(tok_tmp, "w") as fh:
        json.dump(token, fh)
    os.replace(tok_tmp, os.path.join(out_dir, "_export.json"))
    sh = (
        F.col(shard_col)
        if shard_col
        else F.pmod(F.xxhash64(F.col(record_id_col)), F.lit(num_shards))
    )
    rows = df.select(
        sh.cast("int").alias("_shard"),
        F.col(record_id_col).alias("_rid"),
        F.col(uri_col).alias("_uri"),
        F.col(text_col).alias("_txt"),
    )
    suffix = ".warc.wet.gz" if gzip_output else ".warc.wet"

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        tok_path = os.path.join(out_dir, "_export.json")
        try:
            with open(tok_path) as fh:
                current = json.load(fh)
        except FileNotFoundError:
            current = None
        if current != token:
            raise RuntimeError(
                f"write_wet_shards: export token at {tok_path} is "
                f"{current!r}, this manifest was built with {token!r} — "
                "a newer export owns the directory; re-run the export"
            )
        k = int(pdf["_shard"].iloc[0])
        pdf = pdf.sort_values("_rid", kind="mergesort")
        recs = [
            (r, u, (t if isinstance(t, str) else None))
            for r, u, t in zip(pdf["_rid"], pdf["_uri"], pdf["_txt"])
        ]
        blob = wet_bytes(recs)
        if gzip_output:
            blob = gzip.compress(blob, mtime=0)
        path = os.path.join(out_dir, f"shard-{k:05d}{suffix}")
        tmp = path + ".inprogress"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame(
            {
                "shard": [k],
                "n_records": [len(recs)],
                "n_bytes": [len(blob)],
                "path": [path],
            }
        )

    return rows.groupBy("_shard").applyInPandas(
        write_group, "shard int, n_records long, n_bytes long, path string"
    )


