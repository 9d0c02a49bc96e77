"""Seeded input generators for the benchmark workloads.

Every function here is a pure function of its seed: the same seed gives
byte-identical EVE NDJSON, the same request list and the same corpus
tables. The program under test only ever sees what these return.

Record shape: Suricata EVE v1 dns answers, one JSON object per line, in
the line shape ``scripts/streaming_latency_probe.py`` feeds. EVE lines
carry no sensor id; the sensor is the landing directory the line is
dropped in (``sensor--<hex>/``), which is how the program's HTTP
transport attaches it.
"""

from __future__ import annotations

import bisect
import itertools
import random
import time
from dataclasses import dataclass

SENSORS = ("sensor-a", "sensor-b", "sensor-c")
#: 2019-01-01T00:00:00Z; every generated timestamp lies in the 30 days after it
BASE_EPOCH = 1546300800
SPAN_S = 30 * 86400

# The traffic shape. DNS name popularity is Zipf-like (Jung, Sit,
# Balakrishnan and Morris, "DNS Performance and the Effectiveness of
# Caching", IEEE/ACM ToN 10(5), 2002); the exponents and shares below
# are assumptions, not fitted to any trace. Each run reports the shares
# they produce (capped results, misses, repeated subjects, rows per
# response), so the traffic is measured, not only asserted.
#: distinct rrnames in the lookup store's namespace
N_NAMES = 60_000
#: Zipf exponent of how often each name is observed
NAME_ZIPF_S = 0.9
#: Zipf exponent of request subjects over names/rdatas ranked by observations
SUBJECT_ZIPF_S = 1.0
#: share of A answers that point at one of a few shared CDN addresses
HOT_IP_SHARE = 0.15
#: share of each ingest batch that repeats a key its sensor sent before
REPEAT_SHARE = 0.20
#: names starting with "t<digit>" are the ~10% the benchmark's selector tags
TAG_PATTERN = r"^t[0-9]"
TAG_SHARE = 0.10

EVE = (
    '{"timestamp": "%s.%06d+0000", "event_type": "dns", "dns": {"type": "answer",'
    ' "rcode": "NOERROR", "rrname": "%s", "rrtype": "%s", "ttl": 300, "rdata": "%s"}}'
)


@dataclass(frozen=True)
class Record:
    """One observation as generated: the oracle folds these directly."""

    sensor_id: str
    rrname: str
    rrtype: str
    rdata: str
    ts: int  # unix seconds
    micros: int

    def line(self) -> str:
        stamp = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(self.ts))
        return EVE % (stamp, self.micros, self.rrname, self.rrtype, self.rdata)


def sensor_dir(sensor_id: str) -> str:
    """Landing sub-directory the program's path pattern maps to ``sensor_id``."""
    return "sensor--" + sensor_id.encode().hex()


def ndjson(records) -> str:
    return "".join(r.line() + "\n" for r in records)


class Zipf:
    """Draws ranks 0..n-1 with P(rank r) proportional to 1/(r+1)**s."""

    def __init__(self, n: int, s: float):
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))

    def draw(self, rng: random.Random) -> int:
        return self.at(rng.random())

    def at(self, u: float) -> int:
        """The rank at quantile ``u`` in [0, 1)."""
        return bisect.bisect_left(self.cum, u * self.cum[-1])


class Kronecker:
    """Low-discrepancy stream in [0, 1): ``x_i = frac(x_0 + i * alpha)``
    with an irrational ``alpha`` and a seeded start. Every prefix covers
    [0, 1) almost evenly, so a short run of requests already has the mix
    the shares describe, whatever the seed."""

    #: frac(sqrt(p)) for the first primes; streams with distinct steps
    #: do not move in lockstep
    STEPS = tuple((p ** 0.5) % 1.0 for p in (2, 3, 5, 7, 11, 13, 17, 19))

    def __init__(self, rng: random.Random, k: int):
        self.x, self.step = rng.random(), self.STEPS[k]

    def __call__(self) -> float:
        self.x = (self.x + self.step) % 1.0
        return self.x


def _name(rng: random.Random, tag: str) -> str:
    prefix = "t" if rng.random() < TAG_SHARE else "h"
    return f"{prefix}{tag}.z{rng.randrange(200)}.example.net"


class Universe:
    """A seeded DNS namespace: rrnames with their answer sets, ranked by
    popularity. A few hot CDN addresses are shared by many names and two
    fast-flux names answer with a fresh address each time, so point
    lookups range from one row to results capped at the 1000-row limit."""

    HOT_IPS = tuple(f"198.51.100.{i}" for i in range(1, 9))
    FLUX_RANKS = (2, 50)

    def __init__(self, seed: int):
        rng = random.Random(f"universe-{seed}")
        hot = Zipf(len(self.HOT_IPS), 1.0)
        self.names = [_name(rng, str(i)) for i in range(N_NAMES)]
        rng.shuffle(self.names)  # popularity rank = list position
        self.answers: list[list[tuple[str, str]]] = []
        for i, _ in enumerate(self.names):
            roll = rng.random()
            if roll < 0.80:
                ans = []
                for j in range(1 + rng.randrange(3)):
                    if rng.random() < HOT_IP_SHARE:
                        ip = self.HOT_IPS[hot.draw(rng)]
                    else:
                        ip = f"10.{(i >> 8) & 255}.{i & 255}.{j + 1}"
                    ans.append(("A", ip))
            elif roll < 0.88:
                ans = [("AAAA", f"2001:db8::{i:x}:{j}") for j in range(1 + rng.randrange(2))]
            elif roll < 0.95:
                ans = [("CNAME", self.names[rng.randrange(min(i + 1, 500))])]
            else:
                ans = [("MX", f"mx{rng.randrange(40)}.example.org")]
            self.answers.append(ans)
        self.popularity = Zipf(N_NAMES, NAME_ZIPF_S)

    def draw(self, rng: random.Random) -> Record:
        rank = self.popularity.draw(rng)
        name = self.names[rank]
        if rank in self.FLUX_RANKS:
            rrtype, rdata = "A", f"172.{16 + rng.randrange(16)}.{rng.randrange(256)}.{rng.randrange(256)}"
        else:
            rrtype, rdata = rng.choice(self.answers[rank])
        return Record(
            rng.choice(SENSORS),
            name,
            rrtype,
            rdata,
            BASE_EPOCH + rng.randrange(SPAN_S),
            rng.randrange(1_000_000),
        )


def store_records(seed: int, n: int) -> tuple[Universe, list[Record]]:
    """The lookup workload's store contents."""
    uni = Universe(seed)
    rng = random.Random(f"records-{seed}")
    return uni, [uni.draw(rng) for _ in range(n)]


# -- lookup requests ----------------------------------------------------------

ENTRY_FIELDS = "rrname rdata rrtype sensor_id count time_first time_last"
ALIAS_FIELDS = "rrname rdata rrtype sensor_id count"


@dataclass(frozen=True)
class Request:
    """One client request. ``kind`` is ``rest``, ``graphql`` or ``alias``;
    ``args`` are the entries() arguments (``subject`` for REST)."""

    kind: str
    args: tuple[tuple[str, str], ...]

    def arg(self, key: str) -> str | None:
        return dict(self.args).get(key)

    def graphql(self) -> str:
        """The GraphQL document for graphql/alias requests."""
        parts = []
        for k, v in self.args:
            parts.append(f"{k}: {v}" if k == "rrtype" else f'{k}: "{v}"')
        sel = ENTRY_FIELDS
        if self.kind == "alias":
            sel = f"{ALIAS_FIELDS} aliases {{ {ALIAS_FIELDS} }}"
        return f"{{ entries({', '.join(parts)}) {{ {sel} }} }}"


def lookup_requests(uni: Universe, records: list[Record], seed: int, n: int) -> list[Request]:
    """~70% REST, ~25% GraphQL with residual filters, ~5% GraphQL with
    aliases. Subjects are Zipf-skewed over stored rrnames and rdatas
    (ranked by how often they were observed); ~10% are misses. Every
    choice draws from its own low-discrepancy stream, so the mix of any
    run's prefix of the list hardly depends on the seed."""
    from collections import Counter

    rng = random.Random(f"requests-{seed}")
    kind, miss, by_name, name_q, rdata_q, rrtype, sensor, filt = (
        Kronecker(rng, k) for k in range(8)
    )
    names = [k for k, _ in Counter(r.rrname for r in records).most_common()]
    rdatas = [k for k, _ in Counter(r.rdata for r in records).most_common()]
    zn, zd = Zipf(len(names), SUBJECT_ZIPF_S), Zipf(len(rdatas), SUBJECT_ZIPF_S)
    out = []
    for i in range(n):
        roll, is_miss, is_name = kind(), miss() < 0.10, by_name() < 0.5
        if is_miss:
            subject = f"nx{i}.invalid" if is_name else f"192.0.2.{i % 250}.{i}"
        else:
            subject = names[zn.at(name_q())] if is_name else rdatas[zd.at(rdata_q())]
        if roll < 0.70:
            out.append(Request("rest", (("subject", subject),)))
        elif roll < 0.95:
            args = [("rrname" if is_name else "rdata", subject)]
            f = filt()
            if f < 0.6:
                args.append(("rrtype", ("A", "A", "A", "AAAA", "CNAME")[int(rrtype() * 5)]))
            if f >= 0.4:
                args.append(("sensor_id", SENSORS[int(sensor() * len(SENSORS))]))
            out.append(Request("graphql", tuple(args)))
        else:
            name = f"nx{i}.invalid" if is_miss else names[zn.at(name_q())]
            out.append(Request("alias", (("rrname", name),)))
    return out


# -- ingest batches -----------------------------------------------------------


def ingest_batches(seed: int, rows: int):
    """An endless stream of batches. Batch ``b`` (from 1) comes from one
    sensor (``SENSORS[b % 3]``); REPEAT_SHARE of its records repeat a
    key that sensor reported in an earlier batch, the rest are new names."""
    rng = random.Random(f"ingest-{seed}")
    seen: dict[str, list[Record]] = {s: [] for s in SENSORS}
    for b in itertools.count(1):
        sid = SENSORS[b % len(SENSORS)]
        batch = []
        for i in range(rows):
            ts, us = BASE_EPOCH + b * 60 + rng.randrange(60), rng.randrange(1_000_000)
            if seen[sid] and rng.random() < REPEAT_SHARE:
                old = rng.choice(seen[sid])
                batch.append(Record(sid, old.rrname, old.rrtype, old.rdata, ts, us))
            else:
                name = _name(rng, f"{b}x{i}")
                batch.append(Record(sid, name, "A", f"10.{b & 255}.{i >> 8 & 255}.{i & 255}", ts, us))
        seen[sid].extend(batch)
        yield batch


# -- corpus tables ------------------------------------------------------------

_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash slow group agg "
    "query big filter key window row table stream merge data vector plan join shuffle "
    "bucket index page cache disk node task stage job driver worker memory spill tree "
    "log file read write commit epoch delta base store fold count min max sum rank"
).split()


def corpus_tables(seed: int, n_docs: int, n_customers: int):
    """Documents ``(doc_id, text, lang, source, n_chars)`` and customers
    ``(c_custkey, c_name)`` in the shape of the program's corpus tables.
    Every tenth document is a near-copy of an earlier one, so the
    near-dedup operators find real pairs."""
    rng = random.Random(f"corpus-{seed}")
    docs = []
    for i in range(n_docs):
        if i >= 10 and i % 10 == 0:
            words = docs[rng.randrange(i)][1].split()
            words[rng.randrange(len(words))] = rng.choice(_VOCAB)
        else:
            words = [rng.choice(_VOCAB) for _ in range(20 + rng.randrange(60))]
        text = " ".join(words)
        docs.append((i, text, rng.choice(("en", "de", "fr", "zh")), f"src{i % 20}", len(text)))
    customers = [(k, f"Customer#{k:09d}") for k in range(n_customers)]
    return docs, customers
