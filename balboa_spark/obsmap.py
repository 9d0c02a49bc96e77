"""Deterministic mapping of the driver's `events` table onto the
engine's input-observation stream (FIXTURES.md §5: "driver's `events`
mapped onto table 1 with column renames").

The mapping is written once as ANSI SQL that parses identically in
Spark SQL and DuckDB, so the engine query and the oracle share the
exact text — any divergence the correctness gate finds is then a real
semantic difference, not dialect noise.

Shape notes (sf0.01): 150 users × 5 event types × 1,625 distinct rdata
values over 10k rows → a real multi-row fold per group (reference
semantics: rocksdb-impl.c:117-121). rdata is deliberately independent
of rrname so the alias self-join (J1) has genuine cross-rrname
same-rdata matches.
"""

from __future__ import annotations

#: events -> input_observations view. Pure ANSI subset of both dialects:
#: concat, cast(x as string), %, CASE. No division (dialects disagree),
#: no engine-specific functions.
OBS_SQL = """
SELECT
  concat('host', cast(user_id % 40 as string), '.dom',
         cast(user_id % 7 as string), '.example') AS rrname,
  concat('sensor', cast(user_id % 10 as string)) AS sensor_id,
  CASE event_type
    WHEN 'click' THEN 'A'
    WHEN 'view' THEN 'AAAA'
    WHEN 'purchase' THEN 'CNAME'
    WHEN 'signup' THEN 'TXT'
    ELSE 'MX'
  END AS rrtype,
  concat('10.', cast(user_id % 5 as string), '.',
         cast(event_id % 25 as string), '.',
         cast(event_id % 13 as string)) AS rdata,
  1 + event_id % 5 AS count,
  CASE WHEN event_id % 11 = 0 THEN 'NXDOMAIN' ELSE 'NOERROR' END AS rcode,
  ts AS ts_start,
  ts AS ts_end,
  event_id
FROM events
"""


def with_obs_cte(body_sql: str) -> str:
    """Wrap a query body in a CTE exposing `input_observations`.

    Usable verbatim by both Spark SQL and DuckDB — this is how every
    oracle pair is built.
    """
    return f"WITH input_observations AS ({OBS_SQL}) {body_sql}"


#: The aggregation body shared by the Spark query and the oracle —
#: the one-line semantic spec of the engine (mirrors the reference's
#: SQLite upsert, backend/balboa-sqlite/sqlite-impl.c:175-184).
AGG_BODY = """
SELECT rrname, sensor_id, rrtype, rdata,
       cast(sum(count) AS BIGINT) AS count,
       min(ts_start) AS first_seen,
       max(ts_end) AS last_seen
FROM input_observations
GROUP BY rrname, sensor_id, rrtype, rdata
"""


def with_agg_cte(body_sql: str) -> str:
    """CTE chain exposing both `input_observations` and `observations`."""
    return (
        f"WITH input_observations AS ({OBS_SQL}), "
        f"observations AS ({AGG_BODY}) {body_sql}"
    )
