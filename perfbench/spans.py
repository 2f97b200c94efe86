"""Tracing for the benchmark's traced runs.

Spans are recorded around the benchmark's own calls into each layer's
public functions; nothing inside the package is edited. Where a layer
runs in Spark's Python workers (the feed source's ``read``, the psql
statements of the JDBC-style sink), a subclass defined here records
each call to a per-process JSON-lines file under ``PERFBENCH_STATS``,
which the benchmark process sums when the run ends. Spark-side work comes from
Spark's own status store and ``StreamingQueryProgress``.

Untraced runs use the package classes directly and a disabled
``Tracer``, whose ``span`` is a no-op.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from dataclasses import dataclass

from nextbus2pg_spark.sinks.psql_dbapi import PsqlConnection, PsqlCursor
from nextbus2pg_spark.sources.feed_stream import (
    VehicleFeedDataSource,
    VehicleFeedStreamReader,
)

STATS_ENV = "PERFBENCH_STATS"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    trace: str | None


class Tracer:
    """In-memory spans, nested per thread; written out by ``dump``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def add(self, name, layer, start, end, parent=None, trace=None) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, layer, start, end, parent, trace))
        return sid

    @contextlib.contextmanager
    def _span(self, name: str, layer: str, trace: str | None):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = self.add(name, layer, time.time(), 0.0,
                       stack[-1] if stack else None, trace)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid].end = time.time()

    def span(self, name: str, layer: str, trace: str | None = None):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, layer, trace)

    def wrap(self, fn, name: str, layer: str):
        """``fn`` with a span around every call (identity when off)."""
        if not self.enabled:
            return fn

        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return traced

    def total_ms(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name) * 1e3

    def adopt(self, parent: int, start: float, end: float) -> None:
        """Re-parent spans opened in Spark's callback thread (top level
        there) that ran inside [start, end], one micro-batch."""
        for s in self.spans:
            if (s.parent is None and s.sid != parent
                    and start <= s.start and s.end <= end):
                s.parent = parent

    def self_ms_by_layer(self) -> dict[str, float]:
        """Span duration minus the part its children cover, per layer."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur = 0.0, s.start
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start - covered) * 1e3
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans], **extra}, f)


#: ``run_refresh``'s stages and the per-layer metric of each.
REFRESH_STAGES = {
    "refresh_routes": "pipelines.refresh_routes_ms",
    "refresh_services": "pipelines.refresh_services_ms",
    "refresh_stops": "pipelines.refresh_stops_ms",
    "refresh_service_stop_orders": "pipelines.refresh_orders_ms",
}


def trace_refresh_stages(tracer: Tracer, refresh_module) -> None:
    """Span every ``run_refresh`` stage: ``run_refresh`` looks its
    stages up in its module at call time, so it runs these wrappers."""
    for stage in REFRESH_STAGES:
        fn = getattr(refresh_module, stage)
        setattr(refresh_module, stage,
                tracer.wrap(fn, f"pipelines.{stage}", "pipelines"))


def trace_app(tracer: Tracer) -> None:
    """Trace what ``pipelines.app.main`` wires up: it registers the
    feed source and ``run_app`` calls ``start_ingest``, each imported
    from its module at call time, so these replacements are used. The
    dims provider and sink handed to ``start_ingest`` get spans."""
    from nextbus2pg_spark.sources import feed_stream
    from nextbus2pg_spark.streaming import ingest

    feed_stream.VehicleFeedDataSource = TracedFeedDataSource

    start_ingest = ingest.start_ingest

    def traced(raw, dims_provider, sink, checkpoint_dir, trigger_seconds=None):
        return start_ingest(
            raw, tracer.wrap(dims_provider, "pipelines.dims", "pipelines"),
            tracer.wrap(sink, "sinks.write", "sinks"), checkpoint_dir,
            trigger_seconds,
        )

    ingest.start_ingest = traced


def trace_store_publish(records: list[dict]) -> None:
    """Record what each store generation wrote (bucket dirs, bytes,
    rows) just before ``BucketedParquetStore`` publishes it."""
    import pyarrow.parquet as pq

    from nextbus2pg_spark.sinks.store import BucketedParquetStore

    publish = BucketedParquetStore._publish

    def traced(self, gen, buckets, *a, **kw):
        prefix = f"data/g{gen}/"
        new = {d for dirs in buckets.values() for d in dirs if d.startswith(prefix)}
        nbytes = nrows = 0
        for d in new:
            for root, _dirs, files in os.walk(os.path.join(self.path, d)):
                for name in files:
                    path = os.path.join(root, name)
                    nbytes += os.path.getsize(path)
                    if name.endswith(".parquet"):
                        nrows += pq.read_metadata(path).num_rows
        records.append(dict(table=self.path, gen=gen, buckets=len(new),
                            bytes=nbytes, rows=nrows))
        return publish(self, gen, buckets, *a, **kw)

    BucketedParquetStore._publish = traced


# -- executor-side records ---------------------------------------------


def _record(kind: str, **fields) -> None:
    d = os.environ.get(STATS_ENV)
    if not d:
        return
    with open(os.path.join(d, f"{kind}-{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(fields) + "\n")


def read_records(stats_dir: str, kind: str) -> list[dict]:
    out = []
    for path in glob.glob(os.path.join(stats_dir, f"{kind}-*.jsonl")):
        with open(path, encoding="utf-8") as f:
            out += [json.loads(line) for line in f if line.strip()]
    return out


class TracedFeedStreamReader(VehicleFeedStreamReader):
    """Times each partition's read (XML parse included) on the worker."""

    def read(self, partition):
        start, rows = time.time(), 0
        for row in super().read(partition):
            rows += 1
            yield row
        _record("read", start=start, end=time.time(), docs=len(partition.files),
                rows=rows, route=partition.route)


class TracedFeedDataSource(VehicleFeedDataSource):
    """``nextbus_feed`` with the traced stream reader."""

    def streamReader(self, schema):
        reader = super().streamReader(schema)
        # Same state, traced ``read``: swapping the class keeps every
        # option the package parsed without restating that parsing.
        reader.__class__ = TracedFeedStreamReader
        return reader


class TracedPsqlCursor(PsqlCursor):
    def execute(self, sql, params=None):
        start = time.time()
        super().execute(sql, params)
        _record("pg", start=start, end=time.time(),
                rows=sql.count("(%s"), insert=sql.lstrip().startswith("INSERT"))


class TracedPsqlConnection(PsqlConnection):
    """``psql_dbapi`` connection whose statements are timed and counted."""

    def cursor(self):
        return TracedPsqlCursor(self)


def psql_factory(socket_dir: str, traced: bool):
    from functools import partial

    from nextbus2pg_spark.sinks.psql_dbapi import psql_connection_factory

    if traced:
        return partial(TracedPsqlConnection, socket_dir, "pguser", "postgres")
    return psql_connection_factory(socket_dir)


# -- Spark's status store ----------------------------------------------


def last_job_id(spark) -> int:
    ids = [j.jobId() for j in _seq(_store(spark).jobsList(None))]
    return max(ids) if ids else -1


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def spark_totals(spark, after_job: int, only: set[int] | None = None) -> dict:
    """Jobs, tasks and stage metrics of the jobs after ``after_job``
    (of those, only the ids in ``only`` if given), from the status
    store once its listener has caught up."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = _store(spark)
    stage_ids: set[int] = set()
    jobs = 0
    for j in _seq(store.jobsList(None)):
        if j.jobId() <= after_job or (only is not None and j.jobId() not in only):
            continue
        jobs += 1
        stage_ids.update(int(s) for s in _seq(j.stageIds()))
    out = dict(jobs=jobs, tasks=0, executor_run_ms=0.0, executor_cpu_ms=0.0,
               gc_ms=0.0, shuffle_write_bytes=0)
    gw = spark.sparkContext._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    for s in _seq(store.stageList(None, False, False, no_quantiles, None)):
        if s.stageId() not in stage_ids:
            continue
        out["tasks"] += s.numCompleteTasks()
        out["executor_run_ms"] += s.executorRunTime()
        out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
        out["gc_ms"] += s.jvmGcTime()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
    return out


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


# -- host --------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def descendants(pid: int) -> set[int]:
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(p)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed RSS of this process and its descendants (the
    JVM and Spark's Python workers), sampled every half second."""

    def __init__(self):
        self.peak_kb = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="rss-sampler")

    def start(self) -> None:
        self._thread.start()

    def sample(self) -> None:
        me = os.getpid()
        self.pids = descendants(me)
        self.peak_kb = max(self.peak_kb,
                           sum(rss_kb(p) for p in self.pids | {me}))

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
