"""The DuckDB oracle restates the program's fold and lookup semantics."""

from __future__ import annotations

from perfbench.gen import BASE_EPOCH, Record
from perfbench.oracle import Oracle


def rec(name, rdata, ts, sensor="s", rrtype="A"):
    return Record(sensor, name, rrtype, rdata, BASE_EPOCH + ts, 0)


def test_fold_counts_first_and_last_seen():
    o = Oracle([rec("a", "1", 5), rec("a", "1", 2), rec("a", "1", 9), rec("b", "1", 1)])
    (row,) = o.entries(rrname="a")
    assert (row["count"], row["time_first"], row["time_last"]) == (3, BASE_EPOCH + 2, BASE_EPOCH + 9)
    assert [r["rrname"] for r in o.rest("1")] == ["a", "b"]
    assert o.rest("nothing") == []


def test_limit_and_key_order():
    o = Oracle([rec(f"n{i:02d}", "x", i) for i in range(30)])
    rows = o.entries(limit=5, rdata="x")
    assert [r["rrname"] for r in rows] == [f"n{i:02d}" for i in range(5)]


def test_alias_cap_applies_before_excluding_the_entry():
    records = [rec(f"n{i}", "ip", i) for i in range(3)] + [rec("m", "ip", 1, rrtype="CNAME")]
    o = Oracle(records)
    entry = o.entries(rrname="n0")[0]
    assert [r["rrname"] for r in o.aliases(entry)] == ["m", "n1", "n2"]
    assert [r["rrname"] for r in o.aliases(entry, limit=2)] == ["m"]
    assert o.aliases(o.entries(rrname="m")[0]) is None


def test_folds_up_to_a_batch_and_of_tagged_names():
    o = Oracle([rec("t1", "1", 1), rec("h1", "1", 2), rec("t1", "1", 3)], [1, 1, 2], r"^t[0-9]")
    t = o.fold_upto(1)
    assert o.entries(t, rrname="t1")[0]["count"] == 1
    assert [r[4] for r in o.table_rows(o.fold_tagged())] == ["t1"]
