"""WARC/WET crawl-archive source (sources/wet.py): record grammar,
multi-member gzip, corrupt accounting, and the file-parallel plan."""

from __future__ import annotations

import datetime
import gzip

from pyspark.sql import functions as F

from balboa_spark.sources import wet


def _write(p, blob: bytes):
    p.write_bytes(blob)
    return str(p)


def test_roundtrip_plain_and_gzip(spark, tmp_path):
    recs_a = [("<urn:uuid:1>", "http://a.example/x", "hello world"),
              ("<urn:uuid:2>", "http://a.example/y", "héllo wörld\nline two")]
    recs_b = [("<urn:uuid:3>", "http://b.example/z", "third doc")]
    _write(tmp_path / "a.warc.wet", wet.wet_bytes(recs_a))
    # canonical .gz layout: one gzip MEMBER per record, concatenated
    blob = b"".join(
        gzip.compress(wet.wet_bytes([r])) for r in recs_b
    )
    _write(tmp_path / "b.warc.wet.gz", blob)

    out = wet.read_wet(spark, str(tmp_path)).orderBy("record_id").collect()
    assert [(r["record_id"], r["target_uri"], r["text"]) for r in out] == [
        ("<urn:uuid:1>", "http://a.example/x", "hello world"),
        ("<urn:uuid:2>", "http://a.example/y", "héllo wörld\nline two"),
        ("<urn:uuid:3>", "http://b.example/z", "third doc"),
    ]
    assert all(r["record_type"] == "conversion" for r in out)
    assert out[0]["warc_date"] == datetime.datetime(2024, 1, 1)
    # content_length counts BYTES (the ö/é are 2 bytes each)
    assert out[1]["content_length"] == len(out[1]["text"].encode("utf-8"))


def test_warcinfo_filtered_by_default_kept_on_request(spark, tmp_path):
    head = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
    )
    _write(tmp_path / "c.wet", head + wet.wet_bytes([("<id>", "u", "txt")]))
    only_conv = wet.read_wet(spark, str(tmp_path)).collect()
    assert [r["text"] for r in only_conv] == ["txt"]
    every = wet.read_wet(spark, str(tmp_path), record_types=None).collect()
    assert sorted(r["record_type"] for r in every) == ["conversion", "warcinfo"]


def test_truncated_payload_counts_corrupt_not_crash(spark, tmp_path):
    good = wet.wet_bytes([("<a>", "u1", "ok doc")])
    bad = (
        b"WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: 9999\r\n\r\nshort"
    )
    _write(tmp_path / "d.wet", good + bad)
    rows = wet.read_wet(spark, str(tmp_path), record_types=None).collect()
    by_type = {r["record_type"]: r for r in rows}
    assert by_type["conversion"]["text"] == "ok doc"
    corrupt = by_type["_corrupt"]
    assert "truncated" in corrupt["text"] and corrupt["target_uri"].startswith("offset=")
    # default view (conversion only) still yields the good record
    assert [r["text"] for r in wet.read_wet(spark, str(tmp_path)).collect()] == [
        "ok doc"
    ]


def test_garbage_and_bad_gzip_are_corrupt_rows(spark, tmp_path):
    import gzip

    _write(tmp_path / "e.wet", b"not a warc at all")
    _write(tmp_path / "f.wet.gz", b"\x1f\x8bBADSTREAM")  # BadGzipFile (OSError)
    # truncated stream: valid header, body cut mid-transfer -> EOFError
    whole = gzip.compress(wet.wet_bytes([("<a>", "u", "some text")]))
    _write(tmp_path / "g.wet.gz", whole[:-8])
    rows = wet.read_wet(spark, str(tmp_path), record_types=None).collect()
    assert len(rows) == 3 and all(r["record_type"] == "_corrupt" for r in rows)
    # one good file among the damaged ones still parses (per-file yield)
    _write(tmp_path / "h.wet", wet.wet_bytes([("<ok>", "u", "fine")]))
    rows = wet.read_wet(spark, str(tmp_path)).collect()
    assert [r["text"] for r in rows] == ["fine"]


def test_non_ascii_uri_roundtrip(spark, tmp_path):
    """wet_bytes must write what read_wet can read: IRIs (non-ASCII
    target URIs) encode as UTF-8 in the header block."""
    recs = [("<urn:iri>", "http://exämple.com/påth", "text")]
    _write(tmp_path / "iri.wet", wet.wet_bytes(recs))
    r = wet.read_wet(spark, str(tmp_path)).collect()[0]
    assert r["target_uri"] == "http://exämple.com/påth"


def test_missing_headers_null_not_crash(spark, tmp_path):
    blob = b"WARC/1.0\r\nWARC-Type: conversion\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    _write(tmp_path / "g.wet", blob)
    r = wet.read_wet(spark, str(tmp_path)).collect()[0]
    assert r["text"] == "hi"
    assert r["record_id"] is None and r["target_uri"] is None
    assert r["warc_date"] is None


def test_feeds_corpus_pipeline(spark, tmp_path):
    """The source's whole point: its output drops straight into the
    documents-shaped operators (id, text)."""
    from balboa_spark.operators import dedup

    recs = [(f"<urn:{i}>", f"http://x/{i}", "same text here") for i in range(3)]
    recs.append(("<urn:9>", "http://x/9", "a different page"))
    _write(tmp_path / "h.wet", wet.wet_bytes(recs))
    docs = wet.read_wet(spark, str(tmp_path)).select(
        F.col("record_id").alias("doc_id"), "text"
    )
    kept = dedup.exact_dedup(docs, text_col="text", id_col="doc_id")
    assert kept.count() == 2


def test_no_shuffle_in_read_plan(spark, tmp_path):
    """Parse must stay file-parallel: binaryFile scan -> mapInPandas,
    no Exchange before the records exist."""
    _write(tmp_path / "i.wet", wet.wet_bytes([("<a>", "u", "t")]))
    plan = (
        wet.read_wet(spark, str(tmp_path))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_parser_never_crashes_on_random_bytes():
    """Pure-function fuzz: _parse_warc_bytes must terminate and yield
    well-formed tuples for ARBITRARY byte blobs (the task-level
    never-crash contract, attacked directly)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(blob=st.binary(max_size=400))
    def check(blob):
        rows = list(wet._parse_warc_bytes("p", blob))
        for r in rows:
            assert len(r) == 7 and r[0] == "p"
        # structural damage terminates the file with ONE corrupt row
        assert sum(1 for r in rows if r[2] == "_corrupt") <= 1

    check()


def test_parser_roundtrip_random_records():
    """Fuzz the round-trip: wet_bytes(records) -> parser recovers
    exactly the records, for arbitrary unicode ids/uris/texts (no
    CR/LF in header values — the format's own constraint)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    header_text = st.text(
        alphabet=st.characters(blacklist_characters="\r\n"), min_size=1, max_size=20
    )
    body_text = st.text(max_size=80)

    def bstrip(s: str) -> str:
        # the parser strips header values as BYTES (ASCII whitespace
        # only) — str.strip() would also eat \x1c-\x1f control chars.
        # encode(errors="replace") mirrors wet_bytes' contract: lone
        # surrogates become '?' bytes instead of crashing the export.
        return s.encode("utf-8", "replace").strip().decode("utf-8", "replace")

    def breplace(s: str) -> str:
        # body contract: surrogates -> replacement bytes, then decoded
        return s.encode("utf-8", "replace").decode("utf-8", "replace")

    @settings(max_examples=100, deadline=None)
    @given(recs=st.lists(st.tuples(header_text, header_text, body_text), max_size=4))
    def check(recs):
        blob = wet.wet_bytes(recs)
        rows = list(wet._parse_warc_bytes("p", blob))
        assert [(r[1], r[3], r[6]) for r in rows] == [
            (bstrip(i), bstrip(u), breplace(t)) for i, u, t in recs
        ]
        assert all(r[2] == "conversion" for r in rows)

    check()


def test_write_wet_shards_distributed_roundtrip(spark, tmp_path):
    """The distributed export sink: shards write from executors
    (driver sees only the manifest), read_wet round-trips every
    record including a NULL-text row, and output bytes are
    deterministic (hash routing + in-shard sort + mtime-0 gzip)."""
    import hashlib

    from balboa_spark.sources.wet import read_wet, write_wet_shards

    rows = [(f"urn:r:{i}", f"https://ex/{i}", f"text {i}" * (i % 3 + 1))
            for i in range(37)] + [("urn:r:null", "https://ex/null", None)]
    df = spark.createDataFrame(rows, "record_id string, target_uri string, text string")

    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    man = write_wet_shards(df, out1, num_shards=4).collect()
    assert sorted(m.shard for m in man) == [0, 1, 2, 3]
    assert sum(m.n_records for m in man) == 38

    back = {r.record_id: r.text for r in read_wet(spark, out1).collect()}
    assert len(back) == 38
    assert back["urn:r:5"] == "text 5text 5text 5"
    assert back["urn:r:null"] == ""  # NULL exports as empty payload

    # determinism: a differently-partitioned input writes identical bytes
    write_wet_shards(df.repartition(7), out2, num_shards=4).collect()

    def digest(d):
        import os
        # shard ARCHIVES only: the _export.json token intentionally
        # differs per build (r15 nonce — identical-parameter builds
        # must invalidate each other); the byte-determinism contract
        # is about the data a reader consumes
        return {
            f: hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))
            if ".warc.wet" in f
        }

    d1, d2 = digest(out1), digest(out2)
    assert d1 == d2 and len(d1) == 4


def test_write_wet_shards_refuses_dirty_dir(spark, tmp_path):
    """Re-exporting into a dir that already holds WET shards must fail
    fast: a narrower re-shard would otherwise leave stale shard files
    that read_wet silently unions with the new export."""
    import pytest

    from balboa_spark.sources.wet import write_wet_shards

    df = spark.createDataFrame(
        [("urn:r:0", "https://ex/0", "t")],
        "record_id string, target_uri string, text string",
    )
    out = str(tmp_path / "dirty")
    write_wet_shards(df, out, num_shards=1).collect()
    with pytest.raises(FileExistsError, match="already contains"):
        write_wet_shards(df, out, num_shards=1).collect()


def test_wet_export_token_blocks_interleaved_exports(spark, tmp_path):
    """The dirty-target check runs at plan-build time but shards land
    at action time; the export token closes that window (r14
    self-review find): a manifest built BEFORE a newer export stamped
    the directory must fail at collect, not silently interleave
    stale shard files into the newer export."""
    import pytest

    from balboa_spark.sources import wet

    df = spark.createDataFrame(
        [(f"<urn:r{i}>", f"http://x/{i}", f"text {i}") for i in range(8)],
        "record_id string, target_uri string, text string",
    )
    out = str(tmp_path / "shards")
    m16 = wet.write_wet_shards(df, out, num_shards=16)  # built, not run
    m8 = wet.write_wet_shards(df, out, num_shards=8)    # re-stamps token
    with pytest.raises(Exception, match="export token|newer export"):
        m16.collect()
    rows = m8.collect()  # the token owner writes fine
    assert sum(r.n_records for r in rows) == 8
    # re-collecting the OWNING manifest is a harmless same-bytes rewrite
    assert sum(r.n_records for r in m8.collect()) == 8
    # and the reader unions only archives, never the token
    got = wet.read_wet(spark, out)
    assert got.filter("record_type = 'conversion'").count() == 8


def test_wet_export_token_nonce_blocks_identical_params(spark, tmp_path):
    """r15 ADVICE fix: two builds with IDENTICAL parameters against
    the same directory must still invalidate each other — the token
    carries a per-build nonce, not just the parameters, so the older
    manifest fails at collect instead of silently interleaving."""
    import pytest

    from balboa_spark.sources import wet

    df = spark.createDataFrame(
        [(f"<urn:s{i}>", f"http://y/{i}", f"body {i}") for i in range(6)],
        "record_id string, target_uri string, text string",
    )
    out = str(tmp_path / "same_params")
    m_first = wet.write_wet_shards(df, out, num_shards=4)   # built, not run
    m_second = wet.write_wet_shards(df, out, num_shards=4)  # SAME params
    with pytest.raises(Exception, match="export token|newer export"):
        m_first.collect()
    assert sum(r.n_records for r in m_second.collect()) == 6
