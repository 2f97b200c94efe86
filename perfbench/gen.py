"""Seeded generator for the ingest benchmark's inputs.

Writes exactly what a NextBus fetcher leaves on disk for the app:

- config snapshots: ``agencyList.xml``, ``routeList.xml`` and one
  ``routeConfig__<tag>.xml`` per route (FIXTURES.md §A shapes);
- the vehicleLocations spool: ``<route>__<time_ms>.xml`` documents.

Alongside the files it keeps the *logical* rows it wrote (document
time, vehicle fields as strings), which is all the correctness model
in ``model.py`` reads. The package under test receives only files.

Shapes exercised (FIXTURES.md §A generation guidance):

- some vehicles repeat within a document (exact copies);
- vehicles that have not reported since the last sweep keep their
  report time, so the same (service, vehicle, time) key recurs across
  sweeps; within one micro-batch those collapse, across batches they
  do not;
- some dirTags resolve only agency-wide (another route's direction),
  some resolve nowhere, and some vehicles carry no dirTag (they land
  on the route's NULL-tag sentinel service);
- one direction tag is shared by several routes, so route-scoped
  resolution matters;
- day 2 renames routes, moves stops, adds routes and adds stops.

``lastTime`` is drawn uniformly at millisecond resolution, so a
document's time can end in exactly 500 ms; nothing steers away from
those ties.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

AGENCY = "bench-muni"
N_ROUTES = 20
VEHICLES_PER_ROUTE = 40
#: Direction tag present on several routes (route-scoped resolution).
SHARED_DIR = "EXP"
#: Jan 2 2024 00:00:00 UTC: sweep 0 of day 1.
DAY1_START_MS = 1_704_153_600_000


@dataclass(frozen=True)
class Direction:
    tag: str
    title: str
    name: str
    use_for_ui: bool
    stops: tuple[str, ...]


@dataclass(frozen=True)
class Route:
    tag: str
    title: str
    stops: tuple[tuple[str, str, str, str], ...]  # (tag, title, lon, lat)
    directions: tuple[Direction, ...]


@dataclass(frozen=True)
class Vehicle:
    vid: str
    route: str
    dir_tag: str | None
    period_s: int  # seconds between position reports
    phase_s: int
    predictable: str
    lon0: float
    lat0: float


@dataclass
class Document:
    route: str
    time_ms: int
    # (dir_tag|None, vehicle_id, lon, lat, secs_since_report, predictable)
    vehicles: list[tuple]

    @property
    def name(self) -> str:
        return f"{self.route}__{self.time_ms}.xml"


@dataclass
class Network:
    """One day's agency config: routes by tag, in routeList order."""

    routes: dict[str, Route] = field(default_factory=dict)


def _coord(rng: random.Random, base: float) -> str:
    return f"{base + rng.uniform(-0.05, 0.05):.6f}"


def _route(rng: random.Random, i: int, shared: bool) -> Route:
    tag = f"R{i:02d}"
    stops = tuple(
        (f"s{i:02d}_{j:02d}", f"Stop {i}-{j}", _coord(rng, -122.42),
         _coord(rng, 37.77))
        for j in range(30)
    )
    tags = [s[0] for s in stops]
    dirs = [
        Direction(f"{tag}_OB", f"{tag} Outbound", "Outbound", True,
                  tuple(tags[:20])),
        Direction(f"{tag}_IB", f"{tag} Inbound", "Inbound", True,
                  tuple(reversed(tags[10:]))),
    ]
    if shared:
        # references one stop the body does not declare (missing-stop
        # repair in the refresh)
        dirs.append(Direction(SHARED_DIR, f"{tag} Express", "Express", False,
                              (tags[0], f"x{i:02d}", tags[-1])))
    return Route(tag, f"Route {tag}", stops, tuple(dirs))


def make_networks(seed: int) -> tuple[Network, Network]:
    """Day-1 and day-2 configs. Day 2 renames routes 0-2, moves three
    stops on each of routes 3-5, adds two stops to routes 6-7 and adds
    routes R20 and R21."""
    rng = random.Random(f"net-{seed}")
    day1 = Network()
    for i in range(N_ROUTES):
        r = _route(rng, i, shared=i % 5 == 0)
        day1.routes[r.tag] = r
    day2 = Network(dict(day1.routes))
    for i in range(3):
        r = day2.routes[f"R{i:02d}"]
        day2.routes[r.tag] = Route(r.tag, r.title + " (renamed)", r.stops,
                                   r.directions)
    for i in range(3, 6):
        r = day2.routes[f"R{i:02d}"]
        stops = tuple(
            (t, title, _coord(rng, -122.42), _coord(rng, 37.77))
            if j < 3 else (t, title, lon, lat)
            for j, (t, title, lon, lat) in enumerate(r.stops)
        )
        day2.routes[r.tag] = Route(r.tag, r.title, stops, r.directions)
    for i in (6, 7):
        r = day2.routes[f"R{i:02d}"]
        new = tuple(
            (f"s{i:02d}_n{k}", f"New stop {i}-{k}", _coord(rng, -122.42),
             _coord(rng, 37.77))
            for k in range(2)
        )
        ob = r.directions[0]
        dirs = (Direction(ob.tag, ob.title, ob.name, ob.use_for_ui,
                          ob.stops + tuple(s[0] for s in new)),
                *r.directions[1:])
        day2.routes[r.tag] = Route(r.tag, r.title, r.stops + new, dirs)
    for i in (N_ROUTES, N_ROUTES + 1):
        r = _route(rng, i, shared=False)
        day2.routes[r.tag] = r
    return day1, day2


def make_vehicles(seed: int, net: Network) -> list[Vehicle]:
    """VEHICLES_PER_ROUTE vehicles per route with a fixed dirTag class:
    own direction (93%), another route's direction, so agency-wide only
    (3%), a tag no route has (1%), or no dirTag at all (3%)."""
    rng = random.Random(f"veh-{seed}")
    all_dirs = sorted(
        (d.tag, r.tag) for r in net.routes.values() for d in r.directions
    )
    out = []
    for r in net.routes.values():
        own = [d.tag for d in r.directions]
        foreign = [t for t, rt in all_dirs if t not in own and rt != r.tag]
        for k in range(VEHICLES_PER_ROUTE):
            u = rng.random()
            if u < 0.93:
                dt = rng.choice(own)
            elif u < 0.96:
                dt = rng.choice(foreign)
            elif u < 0.97:
                dt = f"GHOST{rng.randrange(5)}"
            else:
                dt = None
            out.append(Vehicle(
                vid=f"{r.tag}-v{k:02d}", route=r.tag, dir_tag=dt,
                period_s=rng.randrange(2, 12), phase_s=rng.randrange(12),
                predictable=rng.choice(("true", "true", "false")),
                lon0=-122.42 + rng.uniform(-0.05, 0.05),
                lat0=37.77 + rng.uniform(-0.05, 0.05),
            ))
    return out


def sweep(
    seed: int, vehicles: list[Vehicle], k: int, start_ms: int
) -> list[Document]:
    """Sweep ``k``: one document per route, ``lastTime`` uniform in
    [start + k s, start + k s + 1 s). Each listed vehicle reports its
    latest position report at or before the document's request second
    (the package's half-up rounding of lastTime); about 10% of vehicles
    are absent from a given document and 5% of documents list one
    vehicle twice."""
    rng = random.Random(f"sweep-{seed}-{start_ms}-{k}")
    by_route: dict[str, list[Vehicle]] = {}
    for v in vehicles:
        by_route.setdefault(v.route, []).append(v)
    docs = []
    for route, vs in by_route.items():
        time_ms = start_ms + k * 1000 + rng.randrange(1000)
        request_s = (time_ms + 500) // 1000
        rows = []
        for v in vs:
            if rng.random() < 0.1:
                continue
            n = (request_s - v.phase_s) // v.period_s
            report_s = v.phase_s + n * v.period_s
            lon = f"{v.lon0 + 0.0001 * (n % 500):.6f}"
            lat = f"{v.lat0 + 0.0001 * (n % 300):.6f}"
            rows.append((v.dir_tag, v.vid, lon, lat,
                         str(request_s - report_s), v.predictable))
        if rows and rng.random() < 0.05:
            rows.insert(rng.randrange(len(rows)), rng.choice(rows))
        docs.append(Document(route, time_ms, rows))
    return docs


def _attr(v: str) -> str:
    return (v.replace("&", "&amp;").replace('"', "&quot;")
            .replace("<", "&lt;"))


def document_xml(doc: Document) -> str:
    parts = ['<?xml version="1.0" encoding="utf-8" ?>\n<body copyright="bench">']
    for dir_tag, vid, lon, lat, secs, pred in doc.vehicles:
        d = "" if dir_tag is None else f' dirTag="{_attr(dir_tag)}"'
        parts.append(
            f'<vehicle id="{vid}" routeTag="{doc.route}"{d} lat="{lat}" '
            f'lon="{lon}" secsSinceReport="{secs}" predictable="{pred}" '
            f'heading="90" speedKmHr="12"/>'
        )
    parts.append(f'<lastTime time="{doc.time_ms}"/>\n</body>\n')
    return "\n".join(parts)


def publish(spool: str, docs: list[Document]) -> None:
    publish_rendered(spool, [(d, document_xml(d)) for d in docs])


def publish_rendered(spool: str, rendered: list[tuple[Document, str]]) -> None:
    """Atomic publish (the feed source's fetcher contract): write to a
    name the source ignores, then rename into place."""
    for doc, text in rendered:
        final = os.path.join(spool, doc.name)
        tmp = final + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(text)
        os.replace(tmp, final)


def write_config(config_dir: str, net: Network) -> None:
    os.makedirs(config_dir, exist_ok=True)
    files = {
        "agencyList.xml": (
            f'<body><agency tag="{AGENCY}" title="Bench Muni" '
            'regionTitle="California-Northern"/></body>'
        ),
        "routeList.xml": "<body>" + "".join(
            f'<route tag="{r.tag}" title="{_attr(r.title)}"/>'
            for r in net.routes.values()
        ) + "</body>",
    }
    for r in net.routes.values():
        body = [f'<body><route tag="{r.tag}" title="{_attr(r.title)}">']
        body += [
            f'<stop tag="{t}" title="{_attr(title)}" lon="{lon}" lat="{lat}"/>'
            for t, title, lon, lat in r.stops
        ]
        for d in r.directions:
            body.append(
                f'<direction tag="{d.tag}" title="{_attr(d.title)}" '
                f'name="{d.name}" useForUI="{str(d.use_for_ui).lower()}">'
            )
            body += [f'<stop tag="{s}"/>' for s in d.stops]
            body.append("</direction>")
        body.append("</route></body>")
        files[f"routeConfig__{r.tag}.xml"] = "\n".join(body)
    for name, text in files.items():
        with open(os.path.join(config_dir, name), "w", encoding="utf-8") as f:
            f.write(text)
