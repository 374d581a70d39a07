"""Seeded document generator for the dump workload.

The same seed always yields the same index, mapping, documents and 429
schedule. Next to each document the generator keeps the typed row the
dump must write and the warning counts the pipeline must report, worked
out from how each value was generated — never by calling the engine's
own coercion code.

Warning counts follow the pipeline's report (``coerce.warning_aggregates``):
top-level fields only, so every irregular value below sits at the top level.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
from dataclasses import dataclass, field

#: 2026-01-01T00:00:00Z in epoch millis
BASE_MS = 1_767_225_600_000
DAY_MS = 86_400_000

BULK_INDEX = "weblogs-bulk"

#: Documents in the ``dump_bulk`` index.
BULK_DOCS = 12_000

BULK_MAPPING = {
    "@timestamp": {"type": "date"},
    "doc_id": {"type": "long"},
    "service": {"type": "keyword"},
    "tags": {"type": "keyword"},
    "status": {"type": "integer"},
    "bytes": {"type": "long"},
    "latency_ms": {"type": "double"},
    "message": {"type": "text"},
    "host": {
        "properties": {
            "name": {"type": "keyword"},
            "ip": {"type": "ip"},
            "geo": {
                "properties": {
                    "region": {"type": "keyword"},
                    "lat": {"type": "double"},
                    "lon": {"type": "double"},
                }
            },
        }
    },
    "event": {
        "properties": {
            "created": {"type": "date"},
            "kind": {"type": "keyword"},
        }
    },
}

#: Output column order of a typed dump, with nested fields dotted.
BULK_COLUMNS = (
    "@timestamp", "doc_id", "service", "tags", "status", "bytes",
    "latency_ms", "message", "host.name", "host.ip", "host.geo.region",
    "host.geo.lat", "host.geo.lon", "event.created", "event.kind",
)

SERVICES = ("api", "auth", "billing", "search", "web", "worker")
TAGS = ("prod", "canary", "eu", "us", "blue", "green", "edge", "batch")
REGIONS = ("eu-west", "eu-north", "us-east", "us-west", "ap-south")
KINDS = ("request", "job", "probe")
WORDS = (
    "GET", "POST", "user", "cache", "miss", "hit", "timeout", "ok",
    "retry", "shard", "index", "query", "slow", "fast", "token", "page",
)
UNKNOWN_KEYS = ("trace_id", "span_id", "debug")


@dataclass
class Index:
    """One generated index: what the server holds and what a dump of
    it must produce."""

    name: str
    mapping: dict
    columns: tuple[str, ...]
    sources: list[str] = field(default_factory=list)  # rendered _source JSON
    sort_ms: list[int] = field(default_factory=list)  # @timestamp sort value
    rows: list[tuple] = field(default_factory=list)  # expected typed rows
    warnings: dict[str, int] = field(default_factory=dict)
    #: (slice id, page number) of each search page answered once with a 429
    throttled_pages: set[tuple[int, int]] = field(default_factory=set)

    @property
    def src_bytes(self) -> int:
        return sum(len(s) for s in self.sources)


def iso_ms(ms: int) -> str:
    t = dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def _date_wire(rng: random.Random, ms: int):
    """Dates arrive either as ISO strings or as epoch millis."""
    return iso_ms(ms) if rng.random() < 0.5 else ms


def _num_wire(rng: random.Random, v, as_string_p: float = 0.2):
    """Numbers sometimes arrive as JSON strings."""
    return str(v) if rng.random() < as_string_p else v


def _render(doc: dict) -> str:
    return json.dumps(doc, separators=(",", ":"))


def _throttle(rng: random.Random, n_docs: int, slices: int, size: int) -> set[tuple[int, int]]:
    """One seeded page per slice: every slice pays exactly one retry."""
    out = set()
    for s in range(slices):
        pages = max(1, -(-len(range(s, n_docs, slices)) // size))
        out.add((s, rng.randrange(pages)))
    return out


def bulk_index(seed: int, n_docs: int = BULK_DOCS, slices: int = 4,
               size: int = 500) -> Index:
    """``dump_bulk``: one index of nested documents with every wire
    irregularity the coercion layer handles."""
    rng = random.Random(f"bulk-{seed}")
    ix = Index(BULK_INDEX, BULK_MAPPING, BULK_COLUMNS)
    unknown = multivalue = status_fail = 0
    for i in range(n_docs):
        ts = BASE_MS + rng.randrange(30 * DAY_MS)
        created = ts - rng.randrange(60_000)
        service = rng.choice(SERVICES)
        n_tags = rng.choice((0, 1, 1, 1, 2, 3)) if rng.random() < 0.4 else -1
        if n_tags == -1:  # plain scalar keyword
            tag_wire = rng.choice(TAGS)
            tag = tag_wire
        else:  # multi-valued: the dump keeps the first value
            tag_wire = rng.sample(TAGS, n_tags)
            tag = tag_wire[0] if tag_wire else None
            multivalue += 1
        status = rng.choice((200, 200, 200, 201, 204, 301, 404, 500, 503))
        if rng.random() < 0.01:
            status_wire, status_v = "n/a", None
            status_fail += 1
        else:
            status_wire, status_v = _num_wire(rng, status), status
        nbytes = rng.randrange(100, 5_000_000)
        latency = round(rng.uniform(0.1, 2500.0), 3)
        message = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(3, 12)))
        hname = f"{service}-{rng.randrange(40):02d}"
        ip = f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
        region = rng.choice(REGIONS)
        lat = round(rng.uniform(-60.0, 70.0), 4)
        lon = round(rng.uniform(-180.0, 180.0), 4)
        kind = rng.choice(KINDS)
        doc = {
            "@timestamp": _date_wire(rng, ts),
            "doc_id": i,
            "service": service,
            "tags": tag_wire,
            "status": status_wire,
            "bytes": _num_wire(rng, nbytes),
            "latency_ms": _num_wire(rng, latency),
            "message": message,
            "host": {
                "name": hname,
                "ip": ip,
                "geo": {"region": region, "lat": lat, "lon": lon},
            },
            "event": {"created": _date_wire(rng, created), "kind": kind},
        }
        if rng.random() < 0.03:  # fields the mapping does not know
            for k in rng.sample(UNKNOWN_KEYS, rng.randrange(1, 3)):
                doc[k] = f"{k}-{rng.randrange(1 << 30):x}"
                unknown += 1
        ix.sources.append(_render(doc))
        ix.sort_ms.append(ts)
        ix.rows.append((
            ts * 1000, i, service, tag, status_v, nbytes, latency, message,
            hname, ip, region, lat, lon, created * 1000, kind,
        ))
    ix.warnings = {
        "docs": n_docs,
        "unknown_field_values": unknown,
        "multivalue_collapsed": multivalue,
        "@timestamp_cast_failures": 0,
        "doc_id_cast_failures": 0,
        "status_cast_failures": status_fail,
        "bytes_cast_failures": 0,
        "latency_ms_cast_failures": 0,
    }
    ix.throttled_pages = _throttle(rng, n_docs, slices, size)
    return ix


# ---------------------------------------------------------------------------
# order-insensitive row digest
# ---------------------------------------------------------------------------


def canon_value(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def row_hash(row) -> int:
    s = "\x1f".join(canon_value(v) for v in row)
    return int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "little")


def digest(rows) -> tuple[int, int]:
    """(row count, sum of 64-bit row hashes mod 2**64): equal for equal
    row multisets in any order."""
    n = total = 0
    for r in rows:
        n += 1
        total = (total + row_hash(r)) & 0xFFFF_FFFF_FFFF_FFFF
    return n, total
