"""Turn a worker's records into the benchmark's metrics.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced one. Per-layer values are means per traced op of the mix, except
``conform.*`` and ``io.*``, which are means per ingest op.
"""

from __future__ import annotations

import math
import statistics

END_TO_END_UNITS = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "rows_per_s": "1/s", "cpu_s_per_op": "s",
}

PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "registry.build_s": "s", "registry.build_self_s": "s",
    "catalog.table_s": "s",
    "pinning.pin_s": "s", "pinning.n_pins": "count",
    "catalyst.plan_s": "s",
    "executor.exec_s": "s", "executor.cleanup_s": "s",
    "executor.task_cpu_s": "s", "executor.shuffle_bytes": "B",
    "executor.n_jobs": "count", "executor.n_tasks": "count",
    "executor.core_util": "ratio",
    "pyworker.busy_s": "s", "pyworker.bytes": "B",
    "streaming.n_triggers": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s", "streaming.machinery_share": "ratio",
    "catalog.publish_s": "s",
    "conform.conform_s": "s", "io.write_s": "s", "io.validate_s": "s",
    "io.write_tasks": "count", "io.files_written": "count",
    "io.bytes_per_input_byte": "ratio",
    "jvm.gc_s": "s",
    "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s",
    "proc.pyworker_cpu_s": "s", "proc.peak_rss_gb": "GB",
    "trace.overhead": "ratio", "trace.coverage": "ratio",
    "trace.n_ops": "count",
}

# streaming.* metric -> StreamingQueryProgress.durationMs key
_DURATIONS = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.latest_offset_s": "latestOffset",
}


def summarize(records: list[dict], rows_per_op: dict[str, int]) -> dict:
    """Throughput and CPU figures shared by traced and untraced runs.

    Throughput is that of one pass over the mix at each key's median
    latency: a burst of host load that slows one op of a key moves its
    key's median little, where it would move a sum of every op's wall
    as much as the op slowed."""
    by_key: dict[str, list[dict]] = {}
    for r in records:
        if r["ok"]:
            by_key.setdefault(r["op"], []).append(r)
    mix_wall = sum(statistics.median(r["wall_s"] for r in rs)
                   for rs in by_key.values())
    n = max(1, len(records))
    return {
        "ops_per_s": len(by_key) / mix_wall if mix_wall else 0.0,
        "rows_per_s": (sum(rows_per_op[k] for k in by_key) / mix_wall
                       if mix_wall else 0.0),
        "cpu_s_per_op": (statistics.mean(
            statistics.median(sum(r["cpu"].values()) for r in rs)
            for rs in by_key.values()) if by_key else 0.0),
        "cpu_per_op": {k: sum(r["cpu"][k] for r in records) / n
                       for k in ("driver", "jvm", "pyworker")},
    }


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified
    Lentz), as in Numerical Recipes' ``betacf``."""
    tiny = 1e-300

    def nz(v: float) -> float:
        return v if abs(v) > tiny else tiny

    c, d = 1.0, 1.0 / nz(1.0 - (a + b) * x / (a + 1.0))
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x
                    / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 / nz(1.0 + num * d)
            c = nz(1.0 + num / c)
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0 or x >= 1.0:
        return 0.0 if x <= 0.0 else 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a mean of the order
    statistics weighted by a beta distribution centred on ``p``. A mix
    of keys of different cost puts gaps in the sorted walls; the sample
    quantile jumps across a gap when one op lands on its other side,
    this estimate moves by that op's weight only."""
    xs = sorted(values)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten ops beyond it. Below 20 ops that percentile lies under the
    median; with ten ops or fewer the fastest op is the closest."""
    i = max(0, len(walls) - 11)
    pct = (i + 1) / len(walls)
    return quantile(walls, pct), 100.0 * pct


def drift(records: list[dict]) -> float:
    """Median latency of the last quarter of ops over that of the first
    quarter, each op first divided by its own key's median so the mix's
    spread of key costs cancels. 1.0 = no warm-down or accumulation."""
    ok = [r for r in records if r["ok"]]
    by_key: dict[str, list[float]] = {}
    for r in ok:
        by_key.setdefault(r["op"], []).append(r["wall_s"])
    med = {k: statistics.median(v) for k, v in by_key.items()}
    norm = [r["wall_s"] / med[r["op"]] for r in ok]
    q = max(1, len(norm) // 4)
    return statistics.median(norm[-q:]) / statistics.median(norm[:q])


def end_to_end(result: dict, rows_per_op: dict[str, int]) -> dict:
    records = result["records"]
    walls = [r["wall_s"] for r in records if r["ok"]]
    summary = summarize(records, rows_per_op)
    tail_s, _pct = tail(walls)
    return {
        "setup_s": result["info"]["setup_s"],
        "op_p50_s": quantile(walls, 0.5),
        "op_tail_s": tail_s,
        "ops_per_s": summary["ops_per_s"],
        "rows_per_s": summary["rows_per_s"],
        "cpu_s_per_op": summary["cpu_s_per_op"],
    }


def per_layer(result: dict, rows_per_op: dict[str, int]) -> dict:
    records = result["records"]
    n = len(records)
    layers = result["layers"]
    info = result["info"]

    def total(name: str, field: str = "total_s") -> float:
        return layers.get(name, {}).get(field, 0.0) / n

    def mean(field: str) -> float:
        return sum(r.get(field, 0) for r in records) / n

    n_ingest = max(1, sum("write_tasks" in r for r in records))

    def per_ingest(value: float) -> float:
        return value * n / n_ingest

    ev = list(result["evlog"].values())
    task_cpu = sum(d["task_cpu_s"] for d in ev)
    wall = sum(r["wall_s"] for r in records)
    progress = result["progress"]
    streaming = {name: sum(p.get(key, 0) for p in progress) / 1000.0 / n
                 for name, key in _DURATIONS.items()}
    trig = streaming["streaming.trigger_s"]
    traced = summarize(records, rows_per_op)
    plain = summarize(result["plain_records"], rows_per_op)
    out = {
        "session.start_s": info["session_start_s"],
        "session.warmup_s": info["warmup_s"],
        "registry.build_s": total("registry.build"),
        "registry.build_self_s": total("registry.build", "self_s"),
        "catalog.table_s": total("catalog.table"),
        "pinning.pin_s": total("pinning.pin"),
        "pinning.n_pins": total("pinning.pin", "n"),
        "catalyst.plan_s": total("catalyst.plan"),
        "executor.exec_s": total("executor.exec"),
        "executor.cleanup_s": total("executor.cleanup"),
        "executor.task_cpu_s": task_cpu / n,
        "executor.shuffle_bytes": sum(d["shuffle_bytes"] for d in ev) / n,
        "executor.n_jobs": mean("jobs"),
        "executor.n_tasks": mean("tasks"),
        "executor.core_util": (task_cpu / (wall * info["cpus"])
                               if wall else 0.0),
        "pyworker.busy_s": sum(d["python_worker_s"] for d in ev) / n,
        "pyworker.bytes": sum(d["python_worker_bytes"] for d in ev) / n,
        "streaming.n_triggers": len(progress) / n,
        **streaming,
        "streaming.machinery_share": ((trig - streaming[
            "streaming.add_batch_s"]) / trig if trig else 0.0),
        "catalog.publish_s": total("catalog.publish"),
        "conform.conform_s": per_ingest(total("conform.conform")),
        "io.write_s": per_ingest(total("io.write")),
        "io.validate_s": per_ingest(total("io.ingest", "self_s")),
        "io.write_tasks": per_ingest(mean("write_tasks")),
        "io.files_written": per_ingest(mean("files_written")),
        "io.bytes_per_input_byte": per_ingest(mean("bytes_ratio")),
        "jvm.gc_s": mean("gc_s"),
        "proc.driver_cpu_s": traced["cpu_per_op"]["driver"],
        "proc.jvm_cpu_s": traced["cpu_per_op"]["jvm"],
        "proc.pyworker_cpu_s": traced["cpu_per_op"]["pyworker"],
        "proc.peak_rss_gb": result["peak_rss_bytes"] / 1e9,
        "trace.overhead": (traced["ops_per_s"] / plain["ops_per_s"]
                           if plain["ops_per_s"] else 0.0),
        "trace.coverage": result["coverage"],
        "trace.n_ops": n,
    }
    return out
