"""``ingest_sweep_pg``: the live app in the reference's deployment shape.

Set-up starts a throwaway Postgres and loads the day-1 route and
service dims into ``PostgresDimensionStore``'s tables (the refresh
that would produce them is timed on ``catchup_store``). The stream is
``start_ingest(trigger_seconds=1)`` over the ``nextbus_feed`` spool;
every batch re-reads the route and service dims from Postgres, as the
reference re-reads them every sweep, and lands rows with
``jdbc_upsert_writer(append_only=True)`` over ``psql_dbapi``.

Load is an open loop like the reference's fetcher: one generator
thread publishes one sweep (one document per route) per second at a
fixed phase of the trigger clock, whether or not the app keeps up. A
sweep's latency runs from when it was due until the batch holding it
has returned from the sink, i.e. its rows are committed in Postgres.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
import time
from collections import Counter

from perfbench import gen, layers, model, queries, spans
from perfbench.common import log, percentile, read_offsets, result

#: Publish each sweep this far into the trigger's one-second period;
#: ``processingTime`` triggers fire on whole wall-clock seconds.
PHASE_S = 0.5
#: How long the last sweep may take to land before it counts as failed.
DRAIN_TIMEOUT_S = 60.0
PROGRESS_TIMEOUT_S = 5.0
VEHICLE_DDL = (
    "CREATE TABLE vehicle_location (service_id TEXT, vehicle_tag TEXT,"
    " lon DOUBLE PRECISION, lat DOUBLE PRECISION,"
    " location_timestamp TIMESTAMP, is_predictable BOOLEAN)"
)  # the reference DDL's shape (sql/create_tables.sql:113-125), no key


def dims_provider_for(store):
    """Per-batch dims exactly as ``pipelines.app.main`` derives them:
    route-scoped (route_tag, tag) -> service, then agency-wide tag ->
    min(service_id)."""
    from pyspark.sql import functions as F

    def dims():
        svc = store.service.read()
        routes = store.route.read().select(
            F.col("route_id"), F.col("tag").alias("route_tag")
        )
        primary = svc.join(routes, "route_id").select(
            "route_tag", "tag", "service_id"
        )
        secondary = svc.groupBy("tag").agg(F.min("service_id").alias("service_id"))
        return primary, secondary

    return dims


def load_dims(pg, store, dims: model.Dims) -> None:
    """Create the store's tables with its own DDL and fill route and
    service with the rows a day-1 ``run_refresh`` produces."""
    from nextbus2pg_spark.sinks.psql_dbapi import render_format_params

    store.route.ensure()
    store.service.ensure()
    for table, rows in (("route", dims.route_rows()),
                        ("service", dims.service_rows())):
        rows = sorted(rows, key=str)
        values = ", ".join("(" + ", ".join(["%s"] * len(r)) + ")" for r in rows)
        pg.sql(render_format_params(
            f"INSERT INTO {table} VALUES {values}", [v for r in rows for v in r]
        ))


def pg_rows(pg, table: str, cols: str) -> list[list[str | None]]:
    out = pg.sql(f"COPY (SELECT {cols} FROM {table}) TO STDOUT")
    return [
        [None if v == "\\N" else v for v in line.split("\t")]
        for line in out.splitlines()
    ]


def landed_pg(pg) -> Counter:
    rows = pg_rows(
        pg, "vehicle_location",
        "service_id, vehicle_tag, lon, lat, location_timestamp, is_predictable",
    )
    return Counter(
        (sid, vid, float(lon), float(lat),
         dt.datetime.fromisoformat(ts), pred == "t")
        for sid, vid, lon, lat, ts, pred in rows
    )


def _covers(end: dict, sweep_docs: list) -> bool:
    return all(int(end.get(d.route, 0)) >= d.time_ms for d in sweep_docs)


def _wait_landed(query, ckpt: str, visible: dict, sweep_docs: list,
                 timeout: float) -> bool:
    """Wait until a batch holding ``sweep_docs`` has returned from the
    sink (its id is in ``visible``)."""
    deadline = time.time() + timeout
    while query.isActive and time.time() < deadline:
        ends = read_offsets(ckpt)
        if any(_covers(ends[b], sweep_docs) for b in list(visible) if b < len(ends)):
            return True
        time.sleep(0.05)
    return False


def _wait_progress(query, batch_id: int, timeout: float) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        last = query.lastProgress
        if last is not None and last["batchId"] >= batch_id:
            return
        time.sleep(0.05)


def run(r) -> dict:
    from pyspark.sql import functions as F

    from nextbus2pg_spark.sinks.postgres import PostgresDimensionStore
    from nextbus2pg_spark.sinks.upsert import jdbc_upsert_writer
    from nextbus2pg_spark.sources.feed_stream import VehicleFeedDataSource
    from nextbus2pg_spark.streaming.ingest import DEDUP_KEYS, start_ingest

    t0 = time.time()
    tr, traced = r.tracer, bool(r.args.trace)
    spark = r.start_spark()
    log("spark up")
    pg = r.postgres()
    day1, _ = gen.make_networks(r.seed)
    dims_model = model.Dims(day1)
    vehicles = gen.make_vehicles(r.seed, day1)
    spool, ckpt = r.path("spool"), r.path("ckpt")
    n_sweeps = r.seconds
    docs = [gen.sweep(r.seed, vehicles, k, gen.DAY1_START_MS)
            for k in range(n_sweeps)]
    xml = [[(d, gen.document_xml(d)) for d in s] for s in docs]

    factory = spans.psql_factory(pg.socket_dir, traced)
    store = PostgresDimensionStore(spark, factory)
    load_dims(pg, store, dims_model)
    pg.sql(VEHICLE_DDL)
    writer = jdbc_upsert_writer(
        table="vehicle_location", key_cols=list(DEDUP_KEYS),
        connection_factory=factory, append_only=True,
    )
    visible: dict[int, float] = {}  # batch id -> its rows committed

    def sink(batch_df, batch_id):
        with tr.span("sinks.write", "sinks", trace=str(batch_id)):
            writer(
                batch_df.select(
                    "service_id", "vehicle_tag",
                    F.col("vehicle_location.lon").alias("lon"),
                    F.col("vehicle_location.lat").alias("lat"),
                    "location_timestamp", "is_predictable",
                ),
                batch_id,
            )
        visible[batch_id] = time.time()

    dims = dims_provider_for(store)
    spark.dataSource.register(
        spans.TracedFeedDataSource if traced else VehicleFeedDataSource
    )
    raw = spark.readStream.format("nextbus_feed").option("path", spool).load()
    query = start_ingest(
        raw, tr.wrap(dims, "pipelines.dims", "pipelines"), sink, ckpt,
        trigger_seconds=1,
    )

    # Open loop: sweep k is due at base + k + PHASE_S whether or not the
    # app has caught up; the generator only writes pre-rendered files.
    base = float(int(time.time()) + 1)
    due = [base + k + PHASE_S for k in range(n_sweeps)]
    late: list[float] = []
    stop = threading.Event()

    def generate():
        for k in range(n_sweeps):
            if stop.wait(max(0.0, due[k] - time.time())):
                return
            gen.publish_rendered(spool, xml[k])
            late.append(time.time() - due[k])

    setup_s = time.time() - t0
    log("set up; open loop starts")
    first_job = spans.last_job_id(spark) if traced else -1
    steal0 = spans.cpu_times()
    feeder = threading.Thread(target=generate, name="sweep-generator")
    feeder.start()
    try:
        feeder.join()
        _wait_landed(query, ckpt, visible, docs[-1], DRAIN_TIMEOUT_S)
        steal1 = spans.cpu_times()
        if traced:  # the last batch reports its progress after commit
            _wait_progress(query, max(visible, default=-1), PROGRESS_TIMEOUT_S)
    finally:
        stop.set()
        feeder.join()
        progress = [json.loads(p.json) for p in query.recentProgress]
        query.stop()
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")

    log("stream stopped")
    # Which batch held each sweep, from the checkpoint's offset log.
    ends = read_offsets(ckpt)
    holder = [
        next((b for b, end in enumerate(ends) if _covers(end, s)), None)
        for s in docs
    ]
    lat_ms = [(visible[b] - due[k]) * 1e3
              for k, b in enumerate(holder) if b in visible]
    failed = n_sweeps - len(lat_ms)

    # Correctness: the model over the same batch composition.
    expected = model.Expected()
    landed_by_batch = [
        expected.add_batch(dims_model, batch)
        for batch in model.batch_docs(ends, [d for s in docs for d in s])
    ]
    problem = model.diff(expected.rows, landed_pg(pg))
    log(f"check.half_second_ties={expected.half_second_ties} "
        f"of {expected.docs} documents")
    if problem:
        log(f"INCORRECT: {problem}")

    batches = sorted({b for b in holder if b in visible})
    landed = sum(landed_by_batch[b] for b in batches)
    window_s = max(visible.values()) - (base + PHASE_S) if visible else 0.0
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": r.rss.peak_kb / 1024,
        "sweep_latency_p50_ms": percentile(lat_ms, 50) if lat_ms else 0.0,
        "sweep_latency_p90_ms": percentile(lat_ms, 90) if lat_ms else 0.0,
        "drain_rows_per_s": landed / window_s if window_s > 0 else 0.0,
    }
    layer: dict = {}
    if traced:
        by_id = {p["batchId"]: p for p in progress}
        layers.streaming_phases([by_id[b] for b in batches if b in by_id], layer)
        layers.batch_spans(tr, progress)
        layer["streaming.trigger_wait_ms"] = percentile([
            (layers.epoch(by_id[b]["timestamp"]) - due[k]) * 1e3
            for k, b in enumerate(holder) if b in by_id
        ] or [0.0], 50)
        layers.source_reads(r.stats_dir, t0, layer)
        layers.pg_statements(r.stats_dir, t0, layer)
        layers.session(spark, first_job, layer)
        layers.host(steal0, steal1, layer)
        layers.recount(spark, spool, ends, batches, dims(), layer)
        layer["streaming.landed_rows"] = landed
        n = max(len(batches), 1)
        layer["pipelines.dims_ms"] = tr.total_ms("pipelines.dims") / n
        layer["sinks.write_ms"] = tr.total_ms("sinks.write") / n
        layers.no_refresh(layer)
        layers.store_writes([], landed, layer)
        layers.idle(layer, *queries.QUERY_SET)
        layer["load.late_ms"] = max(late or [0.0]) * 1e3
        layer["check.half_second_ties"] = expected.half_second_ties
    return result(r, not problem, n_sweeps, failed, e2e, layer)
