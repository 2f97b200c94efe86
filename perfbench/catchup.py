"""``catchup_store``: a restart of the app after downtime.

Set-up writes the day-1 route and service tables into the dimension
store (the rows a day-1 ``run_refresh`` produces, from the model,
through the tables' own ``upsert``), so the restart's refresh merges
into existing buckets rather than creating them. The downtime leaves the
day-2 config and a backlog of sweeps in the spool. The measured
operation is one call, ``pipelines.app.main([... "-r", "0" ...])``:
agency bootstrap, the day-2 ``run_refresh`` over the day-1 store,
then one availableNow run that drains the backlog into the
``vehicle_location`` ``ParquetUpsertTable``.

Every backlog sweep is due at the restart, so a sweep's latency is the
catch-up's wall time; the drain rate is rows landed over the streaming
query's trigger time.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

from perfbench import gen, layers, model, queries, spans
from perfbench.common import log, read_offsets, result
from perfbench.sweep import dims_provider_for

DAY2_START_MS = gen.DAY1_START_MS + 86_400_000


def landed_store(spark, store_root: str) -> Counter:
    from nextbus2pg_spark.sinks.upsert import ParquetUpsertTable
    from nextbus2pg_spark.streaming.ingest import DEDUP_KEYS

    table = ParquetUpsertTable(
        spark, os.path.join(store_root, "vehicle_location"),
        key_cols=list(DEDUP_KEYS),
    )
    rows = table.read().select(
        "service_id", "vehicle_tag", "vehicle_location.lon",
        "vehicle_location.lat", "location_timestamp", "is_predictable",
    ).toArrow().to_pylist()
    return Counter(tuple(r.values()) for r in rows)


def check_dims(spark, store_root: str, dims: model.Dims) -> str:
    from nextbus2pg_spark.pipelines.dimension_refresh import DimensionStore

    store = DimensionStore(spark, store_root)
    routes = {tuple(r) for r in store.route.read().select(
        "route_id", "agency_id", "tag", "name").collect()}
    services = {tuple(r) for r in store.service.read().select(
        "service_id", "route_id", "tag", "name", "direction", "use_for_ui"
    ).collect()}
    problems = []
    if routes != dims.route_rows():
        problems.append("route table differs from the model")
    if services != dims.service_rows():
        problems.append("service table differs from the model")
    return "; ".join(problems)


def run(r) -> dict:
    from nextbus2pg_spark.pipelines import app
    from nextbus2pg_spark.pipelines import dimension_refresh as refresh_mod
    from nextbus2pg_spark.pipelines.dimension_refresh import DimensionStore

    t0 = time.time()
    tr, traced = r.tracer, bool(r.args.trace)
    spark = r.start_spark()
    log("spark up")
    day1, day2 = gen.make_networks(r.seed)
    config = r.path("config")
    spool, ckpt, store = r.path("spool"), r.path("ckpt"), r.path("store")
    gen.write_config(config, day2)
    vehicles = gen.make_vehicles(r.seed, day2)
    # The backlog of a one-sweep-per-second feed down for --seconds.
    backlog = [d for k in range(r.seconds)
               for d in gen.sweep(r.seed, vehicles, k, DAY2_START_MS)]

    day1_store = DimensionStore(spark, store)
    dims1 = model.Dims(day1)
    day1_store.route.upsert(spark.createDataFrame(
        sorted(dims1.route_rows()),
        "route_id string, agency_id string, tag string, name string",
    ))
    day1_store.service.upsert(spark.createDataFrame(
        sorted(dims1.service_rows(), key=str),
        "service_id string, route_id string, tag string, name string,"
        " direction string, use_for_ui boolean",
    ))
    gen.publish(spool, backlog)
    setup_s = time.time() - t0
    log("set up; restart")

    publishes: list[dict] = []
    if traced:
        # ``main`` imports run_refresh from its module when called.
        refresh_mod.run_refresh = tr.wrap(
            refresh_mod.run_refresh, "pipelines.run_refresh", "pipelines"
        )
        spans.trace_refresh_stages(tr, refresh_mod)
        spans.trace_app(tr)
        spans.trace_store_publish(publishes)
    first_job = spans.last_job_id(spark) if traced else -1
    steal0 = spans.cpu_times()
    restart = time.time()
    with tr.span("pipelines.app_main", "pipelines"):
        query = app.main(
            ["-a", gen.AGENCY, "-r", "0", "--spool", spool, "--config", config,
             "--checkpoint", ckpt, "--store", store],
            spark=spark,
        )
    done = time.time()
    steal1 = spans.cpu_times()
    layer: dict = {}
    if traced:  # before the checks below add their own Spark jobs
        layers.session(spark, first_job, layer)
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
    progress = [json.loads(p.json) for p in query.recentProgress]
    drain_s = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1e3

    log("caught up")
    ends = read_offsets(ckpt)
    dims12 = model.Dims(day1, day2)
    expected = model.Expected()
    restart_batches = {p["batchId"] for p in progress}
    landed_restart = 0
    for b, docs in enumerate(model.batch_docs(ends, backlog)):
        landed_restart += expected.add_batch(dims12, docs)
    problems = [p for p in (
        check_dims(spark, store, dims12),
        model.diff(expected.rows, landed_store(spark, store)),
    ) if p]
    if expected.docs != len(backlog):
        problems.append("documents outside every committed batch")
    log(f"check.half_second_ties={expected.half_second_ties} "
        f"of {expected.docs} documents")
    for p in problems:
        log(f"INCORRECT: {p}")

    wall_ms = (done - restart) * 1e3
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": r.rss.peak_kb / 1024,
        "sweep_latency_p50_ms": wall_ms,
        "sweep_latency_p90_ms": wall_ms,
        "drain_rows_per_s": landed_restart / drain_s if drain_s else 0.0,
    }
    if traced:
        layers.streaming_phases(progress, layer)
        layers.batch_spans(tr, progress)
        layer["streaming.trigger_wait_ms"] = min(
            (layers.epoch(p["timestamp"]) - restart) * 1e3 for p in progress
        )
        layers.source_reads(r.stats_dir, restart, layer)
        layers.pg_statements(r.stats_dir, restart, layer)
        layers.host(steal0, steal1, layer)
        layers.recount(
            spark, spool, ends, sorted(restart_batches),
            dims_provider_for(DimensionStore(spark, store))(), layer,
        )
        layer["streaming.landed_rows"] = landed_restart
        n = max(len(progress), 1)
        layer["pipelines.dims_ms"] = tr.total_ms("pipelines.dims") / n
        layer["sinks.write_ms"] = tr.total_ms("sinks.write") / n
        layers.refresh(tr, layer)
        layers.store_writes(publishes, landed_restart, layer)
        layer["load.late_ms"] = 0.0  # the backlog is on disk before the restart
        layer["check.half_second_ties"] = expected.half_second_ties
    log("analytics phase")
    query_problems, executions, failed = queries.run(r, spark, layer)
    problems += query_problems
    return result(r, not problems, 1 + executions, failed, e2e, layer)
