"""Per-layer metrics of a traced run, gathered once the stream stopped.

Each reader takes what one layer left behind: executor-side records of
the traced source and psql classes (``spans.py``), Spark's status
store, the streaming progress, the store's manifests, and one batch
recount that runs the package's ``vehicle_pipeline`` over the measured
batches' documents to split dropped rows into unresolved and deduped.
"""

from __future__ import annotations

import datetime as dt

from perfbench import spans
from perfbench.common import PER_LAYER

#: Per-batch phases of ``StreamingQueryProgress.durationMs``.
PHASES = {
    "latestOffset": "sources.latest_offset_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "getBatch": "streaming.get_batch_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}


def epoch(ts: str) -> float:
    """``StreamingQueryProgress.timestamp`` (ISO, UTC) -> epoch seconds."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def streaming_phases(progress: list[dict], layer: dict) -> None:
    """Mean per-batch durations of the phases Spark reports."""
    n = max(len(progress), 1)
    layer["streaming.batches"] = len(progress)
    for phase, name in PHASES.items():
        layer[name] = sum(p["durationMs"].get(phase, 0) for p in progress) / n


def batch_spans(tracer, progress: list[dict]) -> None:
    """One ``streaming`` span per micro-batch (trigger start to end);
    the dims and sink spans that ran inside it become its children."""
    for p in progress:
        start = epoch(p["timestamp"])
        end = start + p["durationMs"].get("triggerExecution", 0) / 1e3
        around = [s for s in tracer.spans
                  if s.start <= start and end <= s.end]
        parent = min(around, key=lambda s: s.end - s.start).sid if around else None
        sid = tracer.add("streaming.batch", "streaming", start, end,
                         parent=parent, trace=str(p["batchId"]))
        tracer.adopt(sid, start, end)


def source_reads(stats_dir: str, since: float, layer: dict) -> None:
    reads = [r for r in spans.read_records(stats_dir, "read") if r["start"] >= since]
    layer["sources.read_task_ms"] = sum(r["end"] - r["start"] for r in reads) * 1e3
    layer["sources.docs_read"] = sum(r["docs"] for r in reads)
    layer["sources.rows_read"] = sum(r["rows"] for r in reads)


def pg_statements(stats_dir: str, since: float, layer: dict) -> None:
    stmts = [r for r in spans.read_records(stats_dir, "pg")
             if r["start"] >= since and r["insert"]]
    n = len(stmts)
    layer["sinks.pg_statements"] = n
    layer["sinks.pg_statement_ms"] = (
        sum(r["end"] - r["start"] for r in stmts) * 1e3 / n if n else 0.0
    )
    layer["sinks.pg_rows_per_statement"] = (
        sum(r["rows"] for r in stmts) / n if n else 0.0
    )


def store_writes(publishes: list[dict], landed: int, layer: dict) -> None:
    """Store generations published, bucket dirs and bytes they wrote,
    and rows written per landed vehicle row (write amplification)."""
    layer["sinks.store_generations"] = len(publishes)
    layer["sinks.store_buckets_rewritten"] = sum(p["buckets"] for p in publishes)
    layer["sinks.store_bytes_written"] = sum(p["bytes"] for p in publishes)
    layer["sinks.store_write_amplification"] = (
        sum(p["rows"] for p in publishes) / landed if landed else 0.0
    )


def refresh(tracer, layer: dict) -> None:
    layer["pipelines.refresh_ms"] = tracer.total_ms("pipelines.run_refresh")
    for stage, name in spans.REFRESH_STAGES.items():
        layer[name] = tracer.total_ms(f"pipelines.{stage}")


def no_refresh(layer: dict) -> None:
    layer["pipelines.refresh_ms"] = 0.0
    for name in spans.REFRESH_STAGES.values():
        layer[name] = 0.0


def idle(layer: dict, *layer_names: str) -> None:
    """Metrics of layers a workload does not run read 0."""
    for name in PER_LAYER:
        if name.split(".")[0] in layer_names:
            layer.setdefault(name, 0.0)


def session(spark, first_job: int, layer: dict) -> None:
    for k, v in spans.spark_totals(spark, first_job).items():
        layer[f"spark.{k}"] = v


def host(steal0, steal1, layer: dict) -> None:
    total = max(steal1[1] - steal0[1], 1)
    layer["host.steal_share"] = (steal1[0] - steal0[0]) / total


def recount(spark, spool: str, ends: list[dict], batches: list[int],
            dims: tuple, layer: dict) -> None:
    """Rows dropped as unresolved and as within-batch duplicates, over
    the documents of ``batches`` (ids into the offset log ``ends``),
    recounted with the package's batch reader and ``vehicle_pipeline``
    against ``dims`` (route-scoped, agency-wide)."""
    from pyspark.sql import functions as F

    from nextbus2pg_spark.streaming.ingest import DEDUP_KEYS, vehicle_pipeline

    bounds = []
    for b in batches:
        prev = ends[b - 1] if b > 0 else {}
        for route, hi in ends[b].items():
            lo = int(prev.get(route, 0))
            if int(hi) > lo:
                bounds.append((route, lo, int(hi), b))
    if not bounds:
        layer["streaming.unresolved_dropped_rows"] = 0
        layer["streaming.dedup_dropped_rows"] = 0
        return
    bdf = spark.createDataFrame(
        bounds, "route_tag string, lo long, hi long, batch int"
    )
    raw = spark.read.format("nextbus_feed").option("path", spool).load()
    tagged = raw.join(
        F.broadcast(bdf),
        (raw.route_tag == bdf.route_tag)
        & (raw.request_time_ms > bdf.lo) & (raw.request_time_ms <= bdf.hi),
    ).drop(bdf.route_tag).drop("lo", "hi")
    # The batch id rides in the vehicle id, so one dedup on DEDUP_KEYS
    # is a dedup within each batch; resolution never reads that column.
    tagged = tagged.withColumn(
        "vehicle_id", F.concat_ws("|", F.col("batch").cast("string"),
                                  F.col("vehicle_id"))
    ).drop("batch")
    out = vehicle_pipeline(tagged, *dims).cache()
    try:
        read, resolved = tagged.count(), out.count()
        deduped = out.dropDuplicates(list(DEDUP_KEYS)).count()
    finally:
        out.unpersist()
    layer["streaming.unresolved_dropped_rows"] = read - resolved
    layer["streaming.dedup_dropped_rows"] = resolved - deduped
