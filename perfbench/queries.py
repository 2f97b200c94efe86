"""The analytics phase of ``catchup_store``: registered ``plans``
queries against their DuckDB oracles, on the session that just caught up.

The phase writes the seeded tables (``tables.py``) under the run's
work directory, computes each query's expected rows with its ``ORACLE``
SQL in DuckDB and runs every query once, to ``collect()``. A traced run
then runs the set round-robin ``ROUNDS`` more times and reports those
executions' times and Spark totals; an untraced run reports no query
metric, so it stops after the first. Every result is checked against
the oracle with the normalization of ``tests/test_oracle_parity.py``.
An operation is one query execution.

The phase runs after the catch-up's wall time is taken and after its
Spark jobs are summed, so it moves none of the catch-up's metrics.
"""

from __future__ import annotations

import datetime as dt
import math
import time

from perfbench import spans, tables
from perfbench.common import log, percentile

#: The timed queries, with the tables each reads.
QUERY_SET = {
    "q_tpch_q1": ("lineitem",),
    "q_flagship_latest": ("events", "customer"),
}
#: Timed executions of each query in a traced run, after its first.
ROUNDS = 3
#: Spark totals reported per timed execution of each query.
TOTALS = ("jobs", "tasks", "executor_run_ms", "shuffle_write_bytes", "gc_ms")


def _norm_value(v):
    """One value as ``tests/test_oracle_parity.py`` compares it."""
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)  # -0.0 and 0.0 compare equal
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "as_py"):
        return _norm_value(v.as_py())
    return v


def normalize(rows, cols) -> list[tuple]:
    """Rows with columns in name order, values normalized, rows sorted:
    equal for Spark and DuckDB exactly when the query matches."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(repr(x) for x in t))
    return out


def oracle_rows(data_dir: str) -> dict[str, list[tuple]]:
    import duckdb

    from nextbus2pg_spark.plans import ORACLE

    con = duckdb.connect()
    try:
        for t in sorted({t for ts in QUERY_SET.values() for t in ts}):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for q in QUERY_SET:
            rel = con.sql(ORACLE[q])
            out[q] = normalize(rel.fetchall(), rel.columns)
        return out
    finally:
        con.close()


def run(r, spark, layer: dict) -> tuple[list[str], int, int]:
    """Run the phase; returns (queries that failed, executions, failed
    executions) and, in a traced run, fills ``layer`` with each
    query's metrics."""
    from nextbus2pg_spark.plans import QUERIES

    data = r.path("tables")
    tables.write_tables(data, r.seed)
    expected = oracle_rows(data)
    problems: list[str] = []
    times: dict[str, list[float]] = {q: [] for q in QUERY_SET}

    def execute(q: str) -> None:
        start = time.perf_counter()
        with r.tracer.span(f"plans.{q}", "plans"):
            try:
                df = QUERIES[q](spark, data)
                rows = [tuple(row) for row in df.collect()]
                ok = normalize(rows, df.columns) == expected[q]
            except Exception as e:  # noqa: BLE001  (counted as failed)
                log(f"{q} raised: {e!r}")
                ok = False
        times[q].append(time.perf_counter() - start)
        if not ok:
            problems.append(q)

    for q in QUERY_SET:  # warm-up; the only execution of an untraced run
        execute(q)
    if r.args.trace:
        first_job = spans.last_job_id(spark)
        timed = {q: len(times[q]) for q in QUERY_SET}
        for _ in range(ROUNDS):
            for q in QUERY_SET:
                # The job group tells each query's Spark jobs apart.
                spark.sparkContext.setJobGroup(q, q)
                execute(q)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        tracker = spark.sparkContext.statusTracker()
        for q, ts in times.items():
            totals = spans.spark_totals(
                spark, first_job, set(tracker.getJobIdsForGroup(q)))
            layer[f"{q}.run_ms"] = percentile(ts[timed[q]:], 50) * 1e3
            for k in TOTALS:
                layer[f"{q}.{k}"] = totals[k] / ROUNDS
    for q in sorted(set(problems)):
        log(f"INCORRECT: {q} differs from its oracle")
    executions = sum(len(ts) for ts in times.values())
    return sorted(set(problems)), executions, len(problems)
