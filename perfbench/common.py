"""Metric names, units and result assembly shared by the workloads.

Every run prints every metric of its kind (end-to-end untraced,
per-layer traced) as ``BENCHMARK.json`` lists them, so each workload
defines each one; the per-workload meaning is in
``perfbench/WORKLOADS.md``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _metrics(kind: str) -> dict[str, str]:
    """Name -> unit of the ``kind`` metrics ``BENCHMARK.json`` lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


END_TO_END = _metrics("end_to_end")
PER_LAYER = _metrics("per_layer")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


_T0 = time.time()


def log(msg: str) -> None:
    print(f"perfbench: [{time.time() - _T0:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def read_offsets(checkpoint: str) -> list[dict[str, int]]:
    """End offsets of every micro-batch in the streaming checkpoint's
    offset log, by batch id (the source's {route: last_time_ms})."""
    files = glob.glob(os.path.join(checkpoint, "offsets", "[0-9]*"))
    out = []
    for path in sorted(files, key=lambda p: int(os.path.basename(p))):
        with open(path, encoding="utf-8") as f:
            out.append(json.loads(f.read().strip().splitlines()[-1]))
    return out


def result(run, correct: bool, attempted: int, failed: int,
           e2e: dict, layer: dict) -> dict:
    """The last stdout line; in traced runs also the spans file."""
    if run.args.trace:
        names, values = PER_LAYER, dict(layer)
        untraced = _load_untraced(run)
        values["trace.sweep_latency_p50_ms"] = e2e["sweep_latency_p50_ms"]
        values["trace.overhead_share"] = (
            e2e["sweep_latency_p50_ms"] / untraced - 1 if untraced else 0.0
        )
        if not untraced:
            log("no untraced run of this workload and code in the checkout; "
                "trace.overhead_share reads 0")
        self_ms = run.tracer.self_ms_by_layer()
        for layer_name in ("streaming", "pipelines", "sinks", "plans"):
            values[f"self.{layer_name}_ms"] = self_ms.get(layer_name, 0.0)
        path = os.path.join(
            os.path.dirname(run.work),
            f"trace-{run.args.workload}-{run.seed}.json",
        )
        run.tracer.dump(path, {"end_to_end": e2e, "per_layer": values})
        log(f"spans written to {path}")
    else:
        names, values = END_TO_END, e2e
        _save_untraced(run, e2e)
    missing = [n for n in names if n not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            n: {"value": float(values[n]), "unit": u} for n, u in names.items()
        },
    }


def code_fingerprint() -> str:
    """Hash of the package's and the benchmark's sources: untraced
    records are only compared with traced runs of the same code."""
    h = hashlib.sha1()
    for top in ("nextbus2pg_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, top, "**", "*.py"),
                                     recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def _untraced_path(run, seed="*") -> str:
    return os.path.join(
        os.path.dirname(run.work),
        f"untraced-{code_fingerprint()}-{run.args.workload}-{run.seconds}-{seed}.json",
    )


def _save_untraced(run, e2e: dict) -> None:
    with open(_untraced_path(run, run.seed), "w", encoding="utf-8") as f:
        json.dump(e2e, f)


def _load_untraced(run) -> float | None:
    """Untraced ``sweep_latency_p50_ms`` of the same code, workload and
    seconds: this seed's run if recorded, else the median of all."""
    paths = glob.glob(_untraced_path(run, run.seed)) or glob.glob(_untraced_path(run))
    values = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            values.append(json.load(f)["sweep_latency_p50_ms"])
    return statistics.median(values) if values else None
