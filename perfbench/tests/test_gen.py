"""The generator is a pure function of its seed."""

from __future__ import annotations

import itertools
import re
from collections import Counter

from perfbench import gen


def test_store_records_are_byte_identical_for_a_seed():
    a = gen.ndjson(gen.store_records(7, 3_000)[1])
    b = gen.ndjson(gen.store_records(7, 3_000)[1])
    assert a == b
    assert a != gen.ndjson(gen.store_records(8, 3_000)[1])


def test_eve_line_shape():
    r = gen.Record("sensor-a", "h1.z2.example.net", "A", "10.0.0.1", gen.BASE_EPOCH + 61, 42)
    assert r.line() == (
        '{"timestamp": "2019-01-01T00:01:01.000042+0000", "event_type": "dns", "dns": '
        '{"type": "answer", "rcode": "NOERROR", "rrname": "h1.z2.example.net", "rrtype": "A",'
        ' "ttl": 300, "rdata": "10.0.0.1"}}'
    )
    assert gen.sensor_dir("sensor-a") == "sensor--73656e736f722d61"


def test_lookup_requests_mix_is_seeded_and_holds_in_short_prefixes():
    uni, records = gen.store_records(3, 5_000)
    reqs = gen.lookup_requests(uni, records, 3, 2_000)
    assert reqs == gen.lookup_requests(uni, records, 3, 2_000)
    for n in (100, 2_000):
        kinds = Counter(r.kind for r in reqs[:n])
        assert abs(kinds["rest"] / n - 0.70) < 0.03
        assert abs(kinds["graphql"] / n - 0.25) < 0.03
        assert abs(kinds["alias"] / n - 0.05) < 0.02
    stored = {r.rrname for r in records} | {r.rdata for r in records}
    subjects = [dict(r.args).get("subject") or dict(r.args).get("rrname") or dict(r.args)["rdata"]
                for r in reqs]
    misses = sum(s not in stored for s in subjects) / len(subjects)
    assert 0.08 < misses < 0.12


def test_ingest_batches_repeat_share():
    a = list(itertools.islice(gen.ingest_batches(5, 1_000), 6))
    assert a == list(itertools.islice(gen.ingest_batches(5, 1_000), 6))
    assert [batch[0].sensor_id for batch in a] == [gen.SENSORS[b % 3] for b in range(1, 7)]
    seen = set()
    for b, batch in enumerate(a, 1):
        keys = [(r.sensor_id, r.rrname, r.rrtype, r.rdata) for r in batch]
        repeated = sum(k in seen for k in keys) / len(keys)
        # a sensor's first batch has nothing to repeat
        assert repeated == 0 if b <= 3 else 0.15 < repeated < 0.25
        seen.update(keys)


def test_tagged_share_is_about_a_tenth():
    _, records = gen.store_records(4, 5_000)
    tagged = sum(bool(re.match(gen.TAG_PATTERN, r.rrname)) for r in records) / len(records)
    assert 0.04 < tagged < 0.2


def test_corpus_tables_are_fixed():
    assert gen.corpus_tables(0, 50, 20) == gen.corpus_tables(0, 50, 20)
    docs, customers = gen.corpus_tables(0, 50, 20)
    assert len(docs) == 50 and len(customers) == 20
    assert customers[3] == (3, "Customer#000000003")
