"""Anomali API stand-in, plugged into the unmodified sink through ``api_factory``.

It answers like the real API: ``400 "Data exceeds maximum allowed size"``
for a payload above ``MAX_PAYLOAD_BYTES`` and ``202`` otherwise, and it
charges a fixed ``SERVICE_S`` of wall time per request (a sleep, so the
core is free meanwhile, as it is while a real request is in flight).

Neither the real API's payload limit nor its latency is documented in the
repository or the reference connector, so both values are the
benchmark's own choice:

- ``MAX_PAYLOAD_BYTES`` (64 KiB) lets one saved query's objects pass in
  one request, as in the sizing probe of the IOC feed (about 125 objects
  per request, one request per query, no size rejects): a query returns
  at most 199 rows, and its request measured at most 35 KB over 59 seeds.
  A request of the sink's default 1000-object target (about 200 KB) would
  be bisected, so a change that packs more objects per request pays for
  it in ``sinks.intelligence.size_rejects`` and ``run_s``.
- ``SERVICE_S`` (0.2 ms, every endpoint) is arbitrary.  It makes the
  bulletin upsert's one-request-per-advisory cost visible (about 0.6 s
  for 2250 serial requests, a fifth to a quarter of a ``connector``
  pass) while the Spark work still dominates ``run_s``; the sink's share
  is reported as ``sinks.<endpoint>.service_s``.

Every outcome is counted through Spark accumulators, which Spark applies
once per successful task, so the counts survive task retries.  Accepted
content is summarised as an order-insensitive digest: the sum, modulo
2**64, of a 64-bit hash of each object's canonical JSON.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass, field

MAX_PAYLOAD_BYTES = 65_536
SERVICE_S = 0.0002
SIZE_REJECT = (400, {"message": "Data exceeds maximum allowed size"})
ACCEPTED = (202, {})
MASK = (1 << 64) - 1


def _drop_nulls(v):
    if isinstance(v, dict):
        return {k: _drop_nulls(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_drop_nulls(x) for x in v]
    return v


def canonical_hash(obj) -> int:
    """64-bit hash of ``obj``'s canonical JSON (sorted keys, no nulls)."""
    text = json.dumps(_drop_nulls(obj), sort_keys=True, separators=(",", ":"))
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


def upsert_hash(action: str, tipreport_id, body: dict) -> int:
    return canonical_hash({"action": action, "id": tipreport_id, "body": body})


def advisory_html(advisory_id: int) -> str:
    """Deterministic detail page for one advisory (the N+1 fetch)."""
    tag = hashlib.blake2b(str(advisory_id).encode(), digest_size=6).hexdigest()
    return f"<html><body><h1>Advisory {advisory_id}</h1><p>{tag}</p></body></html>"


class Counters:
    """Driver-side accumulators for one pass through the sink."""

    NAMES = (
        "sessions",
        "requests",
        "ok_requests",
        "size_rejects",
        "bytes",
        "accepted",
        "inserts",
        "updates",
        "digest",
    )

    def __init__(self, sc):
        for name in self.NAMES:
            setattr(self, name, sc.accumulator(0))
        self.service_s = sc.accumulator(0.0)

    def snapshot(self) -> dict:
        out = {name: getattr(self, name).value for name in self.NAMES}
        out["digest"] &= MASK
        out["service_s"] = self.service_s.value
        return out


@dataclass
class StandInApi:
    """One sink session (the sink builds one per partition)."""

    counters: Counters
    drop_one: bool = False  # self-test: silently lose one accepted object
    _dropped: bool = field(default=False, init=False)

    def __post_init__(self):
        self.counters.sessions.add(1)

    def _oversized(self, payload) -> bool:
        """Charge one request; True if the payload is above the cap."""
        n = len(json.dumps(payload).encode())
        t0 = time.perf_counter()
        time.sleep(SERVICE_S)
        self.counters.service_s.add(time.perf_counter() - t0)
        self.counters.requests.add(1)
        self.counters.bytes.add(n)
        if n > MAX_PAYLOAD_BYTES:
            self.counters.size_rejects.add(1)
            return True
        return False

    def _accept(self, digest: int):
        self.counters.ok_requests.add(1)
        self.counters.digest.add(digest & MASK)
        return ACCEPTED

    def patch_intelligence(self, payload: dict):
        if self._oversized(payload):
            return SIZE_REJECT
        objects = payload["objects"]
        if self.drop_one and not self._dropped and objects:
            objects, self._dropped = objects[1:], True
        self.counters.accepted.add(len(objects))
        return self._accept(sum(canonical_hash(o) for o in objects))

    def post_tipreport(self, payload: dict):
        if self._oversized(payload):
            return SIZE_REJECT
        if self.drop_one and not self._dropped:
            self._dropped = True
            return ACCEPTED
        self.counters.inserts.add(1)
        return self._accept(upsert_hash("insert", None, payload))

    def patch_tipreport(self, tipreport_id: int, payload: dict):
        if self._oversized(payload):
            return SIZE_REJECT
        self.counters.updates.add(1)
        return self._accept(upsert_hash("update", tipreport_id, payload))


def sink_metrics(endpoint: str, snap: dict, useful: int) -> dict:
    """Per-layer sink metrics from one pass's stand-in counters."""
    p = f"sinks.{endpoint}."
    return {
        p + "requests": snap["requests"],
        p + "size_rejects": snap["size_rejects"],
        p + "objects_per_request": useful / max(1, snap["ok_requests"]),
        p + "useful_request_ratio": snap["ok_requests"] / max(1, snap["requests"]),
        p + "bytes_sent": snap["bytes"],
        p + "service_s": snap["service_s"],
        p + "partitions": snap["sessions"],
    }
