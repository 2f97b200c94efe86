"""Benchmark of the ingest app's own job: feed documents in, keyed rows
out in Postgres or the bucketed store.

    python3 perfbench/run.py --workload ingest_sweep_pg --seed 1 \\
        --seconds 10 --trace 0

Workloads (see ``perfbench/WORKLOADS.md``):

- ``ingest_sweep_pg``: the live app writing to a throwaway Postgres,
  fed one sweep per second in an open loop;
- ``catchup_store``: a restart after downtime that refreshes the
  dimensions and drains a backlog into the bucketed parquet store,
  then runs two registered ``plans`` queries against their DuckDB
  oracles on the same session.

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench/`` in the checkout, outputs are checked against a
pure-Python model or DuckDB oracle, and the last line of stdout is
one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones and
writes the run's spans to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")
#: ``local[4]``: the benchmark host's core count, one executor thread each.
CORES = 4


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest_sweep_pg", "catchup_store"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


class Run:
    """Everything one invocation owns: its work directory, the Spark
    session and any server, all released by ``close``."""

    def __init__(self, args):
        from perfbench.spans import STATS_ENV, RssSampler, Tracer

        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = Tracer(bool(args.trace))
        # Short: the Postgres socket lives below it, and a unix socket
        # path may not exceed 107 bytes.
        self.work = os.path.join(OUT_DIR, f"w{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.stats_dir = self.path("stats")
        tmp = self.path("tmp")
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_WAREHOUSE": self.path("warehouse"),
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_DRIVER_MEM": "2g",
            "PYTHONPATH": os.pathsep.join(
                [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
            ),
            STATS_ENV: self.stats_dir if args.trace else "",
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        self.rss = RssSampler()
        self.rss.start()
        self._cleanup = contextlib.ExitStack()
        self.spark = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_spark(self):
        from nextbus2pg_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self._cleanup.callback(self._stop_spark)
        return self.spark

    def postgres(self):
        from perfbench.pg import Postgres

        pg = Postgres(self.path("pg"))
        self._cleanup.callback(pg.stop)
        pg.start()
        return pg

    def _stop_spark(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)

    def close(self) -> None:
        from perfbench.common import log

        log("stopping")
        try:
            self._cleanup.close()
        finally:
            self.rss.stop()
            _wait_gone(self.rss.pids)
            shutil.rmtree(self.work, ignore_errors=True)
            log("stopped")


def _wait_gone(pids: set[int], timeout: float = 20.0) -> None:
    """Wait for processes the run started (Spark's Python workers
    outlive the JVM by a moment); kill any still there at the end."""
    deadline = time.time() + timeout
    live = set(pids)
    while live and time.time() < deadline:
        live = {p for p in live if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in live:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


def _on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import nextbus2pg_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    for s in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(s, _on_signal)
    from perfbench import catchup, sweep

    workload = {"ingest_sweep_pg": sweep.run, "catchup_store": catchup.run}
    run = Run(args)
    try:
        result = workload[args.workload](run)
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
