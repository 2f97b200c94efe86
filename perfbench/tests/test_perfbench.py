"""Tests of the benchmark's own parts: the seeded generators, the
correctness model, the batch split and the query-oracle normalization.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from perfbench import gen, model, queries, tables
from perfbench.common import percentile


def _snapshot(tmp_path, seed: int) -> dict[str, str]:
    day1, day2 = gen.make_networks(seed)
    out = {}
    for day, net in (("d1", day1), ("d2", day2)):
        d = tmp_path / f"{seed}-{day}"
        gen.write_config(str(d), net)
        for name in sorted(os.listdir(d)):
            out[f"{day}/{name}"] = (d / name).read_text()
        vehicles = gen.make_vehicles(seed, net)
        for k in range(3):
            for doc in gen.sweep(seed, vehicles, k, gen.DAY1_START_MS):
                out[f"{day}/spool/{doc.name}"] = gen.document_xml(doc)
    return out


def test_generator_is_deterministic_in_its_seed(tmp_path):
    a, b = _snapshot(tmp_path / "a", 7), _snapshot(tmp_path / "b", 7)
    assert a == b
    assert _snapshot(tmp_path / "c", 8) != a


def test_tables_are_deterministic_in_their_seed(tmp_path):
    import pyarrow.parquet as pq

    def read(seed, sub):
        tables.write_tables(str(tmp_path / sub), seed)
        return {n: pq.read_table(tmp_path / sub / f"{n}.parquet")
                for n in tables.SIZES}

    a, b, c = read(4, "a"), read(4, "b"), read(5, "c")
    assert all(a[n].equals(b[n]) for n in tables.SIZES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {n: t.num_rows for n, t in a.items()} == tables.SIZES


def test_query_normalization_matches_the_oracle_parity_test():
    from tests.test_oracle_parity import _normalize

    cols = ["b", "a", "c", "d"]
    rows = [
        (-0.0, dt.datetime(2024, 1, 2, 3, 4, 5, 6), True, None),
        (float("nan"), dt.date(2024, 1, 2), False, "x"),
        (1.25, dt.datetime(1998, 9, 2), 1, 7),
        (0.1 + 0.2, None, 0, -3),
    ]
    assert queries.normalize(rows, cols) == _normalize(rows, cols)
    assert queries.normalize(rows[::-1], cols) == _normalize(rows, cols)


def test_generator_plants_the_documented_shapes():
    day1, day2 = gen.make_networks(3)
    assert set(day1.routes) < set(day2.routes)  # day 2 adds routes
    assert any(day2.routes[t].title != r.title for t, r in day1.routes.items())
    assert any(day2.routes[t].stops != r.stops for t, r in day1.routes.items())
    vehicles = gen.make_vehicles(3, day1)
    dims = model.Dims(day1)
    own = {(r.tag, d.tag) for r in day1.routes.values() for d in r.directions}
    kinds = set()
    for v in vehicles:
        if v.dir_tag is None:
            kinds.add("no dirTag")
        elif (v.route, v.dir_tag) in own:
            kinds.add("route-scoped")
        elif dims.resolve(v.route, v.dir_tag) is not None:
            kinds.add("agency-wide")
        else:
            kinds.add("unresolved")
    assert kinds == {"no dirTag", "route-scoped", "agency-wide", "unresolved"}
    docs = [d for k in range(40) for d in gen.sweep(3, vehicles, k, gen.DAY1_START_MS)]
    assert any(len({v[1] for v in d.vehicles}) < len(d.vehicles) for d in docs)


def test_model_rounds_half_up_and_dedups_within_a_batch_only():
    day1, _ = gen.make_networks(1)
    dims = model.Dims(day1)
    route = "R01"
    tag = day1.routes[route].directions[0].tag
    row = (tag, "R01-v00", "-122.4", "37.7", "9", "true")
    tie = gen.Document(route, 1_700_000_002_500, [row, row])
    later = gen.Document(route, 1_700_000_003_600, [row[:4] + ("10", "true")])
    exp = model.Expected()
    assert exp.add_batch(dims, [tie, later]) == 1  # same key: one row
    assert exp.half_second_ties == 1 and exp.dedup_dropped == 2
    (landed,) = exp.rows
    # 2.5 s rounds half-up to :03, minus 9 s
    assert landed[4] == dt.datetime(2023, 11, 14, 22, 13, 14)
    split = model.Expected()
    for batch in ([tie], [later]):
        split.add_batch(dims, batch)
    assert split.landed == 2  # across batches the duplicate stays


def test_batch_docs_follows_committed_offsets():
    a1, a2, b1 = (gen.Document("A", 10, []), gen.Document("A", 20, []),
                  gen.Document("B", 15, []))
    assert model.batch_docs([{"A": 10}, {"A": 20, "B": 15}], [a1, a2, b1]) == [
        [a1], [a2, b1],
    ]


def test_percentile_interpolates():
    assert percentile([1.0], 90) == 1.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile(list(map(float, range(11))), 90) == pytest.approx(9.0)


@pytest.fixture(scope="module")
def spark():
    from nextbus2pg_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


def test_model_agrees_with_vehicle_pipeline(spark, tmp_path):
    """The package's batch reader + ``vehicle_pipeline`` + within-batch
    dedup land exactly the model's rows on a small spool that includes
    a document whose lastTime ends in exactly 500 ms."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.sources.feed_stream import VehicleFeedDataSource
    from nextbus2pg_spark.streaming.ingest import DEDUP_KEYS, vehicle_pipeline

    day1, _ = gen.make_networks(5)
    vehicles = gen.make_vehicles(5, day1)
    docs = [d for k in range(4) for d in gen.sweep(5, vehicles, k, gen.DAY1_START_MS)]
    tie_s = (gen.DAY1_START_MS // 1000 + 100) // 2 * 2  # an even second
    docs.append(gen.Document("R02", tie_s * 1000 + 500, docs[2].vehicles))
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    gen.publish(spool, docs)

    dims = model.Dims(day1)
    primary = spark.createDataFrame(
        [(rt, tag, row[0]) for (rt, tag), row in dims.services.items()],
        "route_tag string, tag string, service_id string",
    )
    secondary = spark.createDataFrame(
        [(row[2], row[0]) for row in dims.services.values()],
        "tag string, service_id string",
    ).groupBy("tag").agg(F.min("service_id").alias("service_id"))
    spark.dataSource.register(VehicleFeedDataSource)
    raw = spark.read.format("nextbus_feed").option("path", spool).load()
    out = vehicle_pipeline(raw, primary, secondary).dropDuplicates(list(DEDUP_KEYS))
    landed = model.Counter(
        (r.service_id, r.vehicle_tag, r.vehicle_location.lon,
         r.vehicle_location.lat, r.location_timestamp, r.is_predictable)
        for r in out.collect()
    )

    expected = model.Expected()
    expected.add_batch(dims, docs)
    assert expected.half_second_ties >= 1
    assert expected.unresolved > 0 and expected.dedup_dropped > 0
    assert model.diff(expected.rows, landed) == ""
