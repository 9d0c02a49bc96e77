"""Independent expected results: a DuckDB fold of the generated records.

The program folds observations into ``(rrname, sensor_id, rrtype,
rdata)`` aggregates with SUM(count), MIN(first seen), MAX(last seen)
and answers point lookups in that key order with a per-search limit.
This module restates those semantics in SQL over the records exactly as
generated, sharing no code with the program.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

KEY = ("rrname", "sensor_id", "rrtype", "rdata")
REST_FIELDS = ("count", "time_first", "time_last", "rrtype", "rrname", "rdata", "sensor_id")
LIMIT = 1000


class Oracle:
    """``records`` are gen.Record; ``batch_of`` optionally tags each with
    the stream batch it arrived in, so folds can stop at a batch."""

    def __init__(self, records, batch_of=None, tag_pattern: str | None = None):
        self.con = duckdb.connect()
        table = pa.table(
            {
                "rrname": [r.rrname for r in records],
                "sensor_id": [r.sensor_id for r in records],
                "rrtype": [r.rrtype for r in records],
                "rdata": [r.rdata for r in records],
                "ts": pa.array([r.ts for r in records], pa.int64()),
                "batch": pa.array(batch_of or [0] * len(records), pa.int64()),
            }
        )
        self.con.register("obs_arrow", table)
        self.con.execute("CREATE TABLE obs AS SELECT * FROM obs_arrow")
        self.con.unregister("obs_arrow")
        self._create_agg("agg", "TRUE")
        self.tag_pattern = tag_pattern
        self._cache: dict = {}

    def _create_agg(self, name: str, where: str, params=()) -> None:
        self.con.execute(
            f"CREATE OR REPLACE TABLE {name} AS SELECT rrname, sensor_id, rrtype, rdata,"
            " count(*)::BIGINT AS count, min(ts) AS time_first, max(ts) AS time_last"
            f" FROM obs WHERE {where} GROUP BY ALL",
            list(params),
        )

    def _rows(self, sql: str, params) -> list[dict]:
        cur = self.con.execute(sql, list(params))
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def entries(self, table: str = "agg", limit: int = LIMIT, **preds) -> list[dict]:
        """Point lookup: equality on every given column, key order, limit."""
        key = (table, limit, tuple(sorted(preds.items())))
        if key not in self._cache:
            where = " AND ".join(f"{c} = ?" for c in preds) or "TRUE"
            self._cache[key] = self._rows(
                f"SELECT * FROM {table} WHERE {where} ORDER BY {', '.join(KEY)} LIMIT {limit}",
                preds.values(),
            )
        return self._cache[key]

    def rest(self, subject: str, table: str = "agg") -> list[dict]:
        """REST search: subject as rrname, then as rdata, each limited."""
        return self.entries(table, rrname=subject) + self.entries(table, rdata=subject)

    def aliases(self, entry: dict, limit: int = LIMIT) -> list[dict] | None:
        """Other rrnames seen with the entry's (rdata, sensor_id); the cap
        applies before the entry's own rrname is excluded."""
        if entry["rrtype"] not in ("A", "AAAA"):
            return None
        rows = self.entries("agg", limit, rdata=entry["rdata"], sensor_id=entry["sensor_id"])
        return [r for r in rows if r["rrname"] != entry["rrname"]]

    def fold_upto(self, batch: int, name: str = "agg_upto") -> str:
        """Materialize the fold of every record of batches <= ``batch``."""
        self._create_agg(name, "batch <= ?", (batch,))
        self._cache = {k: v for k, v in self._cache.items() if k[0] != name}
        return name

    def fold_tagged(self, name: str = "agg_tagged") -> str:
        """Materialize the fold of the records the selector tags."""
        self._create_agg(name, "regexp_matches(rrname, ?)", (self.tag_pattern,))
        return name

    def table_rows(self, table: str) -> list[tuple]:
        cols = ", ".join(REST_FIELDS)
        return self.con.execute(f"SELECT {cols} FROM {table} ORDER BY {', '.join(KEY)}").fetchall()


def project(rows, fields) -> list[tuple]:
    """Rows (dicts) -> sorted tuples of ``fields``, for order-free compares."""
    return sorted(tuple(r[f] for f in fields) for r in rows)
