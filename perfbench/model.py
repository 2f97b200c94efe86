"""Pure-Python model of what the ingest job must land.

Built from the generator's logical rows and configs only; it never
parses the XML and never reads the program's output. It states the
rules the package declares:

- surrogate ids: md5-uuid of ``prefix:business key`` with NULL parts
  skipped (``pipelines/dimension_refresh.surrogate_uuid``); refreshes
  upsert, so the dims after day 2 are the union of both days' keys;
- service resolution: route-scoped (route tag, dirTag) first, where a
  missing dirTag matches the route's NULL-tag sentinel service; then
  agency-wide by dirTag with ``min(service_id)`` per tag
  (``pipelines/app.py`` ``dims_provider``); else the row is dropped;
- event second: ``lastTime`` rounded half-up to whole seconds, minus
  ``secsSinceReport`` (``functions/scalar.epoch_ms_to_ts``). The
  reference rounds half to even, so a ``lastTime`` ending in exactly
  500 ms on an even second lands one second later here than there;
  ``half_second_ties`` counts those documents;
- dedup: within one micro-batch only, on (service_id, vehicle_tag,
  location_timestamp).
"""

from __future__ import annotations

import datetime as dt
import hashlib
from collections import Counter

from perfbench.gen import AGENCY, Document, Network


def surrogate_uuid(prefix: str, *parts: str | None) -> str:
    h = hashlib.md5(
        ":".join([prefix, *(p for p in parts if p is not None)]).encode()
    ).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def route_id(tag: str) -> str:
    return surrogate_uuid("route", AGENCY, tag)


class Dims:
    """Route and service dims after refreshing with ``networks`` in
    order (names from the latest day that has the key)."""

    def __init__(self, *networks: Network):
        self.routes: dict[str, tuple] = {}     # tag -> (route_id, name)
        self.services: dict[tuple, tuple] = {}  # (route_tag, tag) -> row
        for net in networks:
            for r in net.routes.values():
                rid = route_id(r.tag)
                self.routes[r.tag] = (rid, r.title)
                self.services[(r.tag, None)] = (
                    surrogate_uuid("service", rid, None), rid, None,
                    "No service", None, False,
                )
                for d in r.directions:
                    self.services[(r.tag, d.tag)] = (
                        surrogate_uuid("service", rid, d.tag), rid, d.tag,
                        d.title, d.name, d.use_for_ui,
                    )
        self.primary = {
            (rt, tag or ""): row[0] for (rt, tag), row in self.services.items()
        }
        self.secondary: dict[str, str] = {}
        for (_rt, tag), row in self.services.items():
            if tag is not None:
                best = self.secondary.get(tag)
                self.secondary[tag] = row[0] if best is None else min(best, row[0])

    def route_rows(self) -> set[tuple]:
        return {(rid, AGENCY, tag, name) for tag, (rid, name) in self.routes.items()}

    def service_rows(self) -> set[tuple]:
        return set(self.services.values())

    def resolve(self, route: str, dir_tag: str | None) -> str | None:
        sid = self.primary.get((route, dir_tag or ""))
        if sid is None and dir_tag is not None:
            sid = self.secondary.get(dir_tag)
        return sid


def request_second(time_ms: int) -> int:
    return (time_ms + 500) // 1000  # half-up


def is_half_second_tie(time_ms: int) -> bool:
    return time_ms % 1000 == 500


def landed_row(dims: Dims, doc: Document, v: tuple) -> tuple | None:
    """(service_id, vehicle_tag, lon, lat, location_timestamp,
    is_predictable) for one listed vehicle, or None if unresolved."""
    dir_tag, vid, lon, lat, secs, pred = v
    sid = dims.resolve(doc.route, dir_tag)
    if sid is None:
        return None
    ts = dt.datetime(1970, 1, 1) + dt.timedelta(
        seconds=request_second(doc.time_ms) - float(secs)
    )
    return (sid, vid, float(lon), float(lat), ts, pred == "true")


class Expected:
    """Expected landed multiset plus the counts a run reports."""

    def __init__(self) -> None:
        self.rows: Counter = Counter()
        self.read = 0
        self.unresolved = 0
        self.dedup_dropped = 0
        self.docs = 0
        self.half_second_ties = 0

    def add_batch(self, dims: Dims, docs: list[Document]) -> int:
        """Add one micro-batch; returns the rows it lands."""
        keys: dict[tuple, tuple] = {}
        for doc in docs:
            self.docs += 1
            self.half_second_ties += is_half_second_tie(doc.time_ms)
            for v in doc.vehicles:
                self.read += 1
                row = landed_row(dims, doc, v)
                if row is None:
                    self.unresolved += 1
                    continue
                key = (row[0], row[1], row[4])
                if key in keys:
                    if keys[key] != row:
                        raise ValueError(f"generator wrote two payloads for {key}")
                    self.dedup_dropped += 1
                    continue
                keys[key] = row
        self.rows.update(keys.values())
        return len(keys)

    @property
    def landed(self) -> int:
        return sum(self.rows.values())


def batch_docs(
    offsets: list[dict[str, int]], docs: list[Document]
) -> list[list[Document]]:
    """Split documents into micro-batches by the end offsets the stream
    committed, in order: batch ``b`` holds a route's documents with
    ``end[b-1] < time_ms <= end[b]``."""
    out: list[list[Document]] = [[] for _ in offsets]
    for doc in docs:
        lo = 0
        for b, end in enumerate(offsets):
            hi = int(end.get(doc.route, lo))
            if lo < doc.time_ms <= hi:
                out[b].append(doc)
                break
            lo = max(lo, hi)
    return out


def diff(expected: Counter, actual: Counter, limit: int = 3) -> str:
    """Empty when the multisets agree; else a short description."""
    if expected == actual:
        return ""
    missing = expected - actual
    extra = actual - expected
    return (
        f"{sum(missing.values())} rows missing (e.g. {list(missing)[:limit]}), "
        f"{sum(extra.values())} unexpected (e.g. {list(extra)[:limit]})"
    )
