"""Per-layer metrics of a traced run.

Inputs are the benchmark's spans (each one tagged the Spark jobs it started
through its job group ``s<span id>``), the event-log statistics per job group
and the counters the workloads kept. Totals are per pass: the timed region's
total divided by its pass count. Fractions and ratios are over the whole timed
region. Layers a workload does not enter report 0.
"""

from __future__ import annotations

import statistics

from eventlog import GroupStats, straggler_ratio
from gen import MERGED
from spans import Span, self_times, subtree, union_length
from workloads import FAMILIES

# name -> unit, in report order
PER_LAYER = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "catalog.build_s": "s",
    "catalog.eager_jobs": "count",
    "catalog.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.slot_idle_frac": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scan_bytes": "B",
    "spark.scan_rows": "count",
    "spark.scan_files": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.aqe_partitions": "count",
    "spark.broadcast_bytes": "B",
    "spark.broadcast_build_s": "s",
    "spark.agg_build_s": "s",
    "spark.sort_s": "s",
    "spark.codegen_s": "s",
    "spark.spill_bytes": "B",
    "spark.peak_exec_mem_bytes": "B",
    "spark.straggler_ratio": "ratio",
    "spark.storage_leftover_bytes": "B",
    "operators.python_run_s": "s",
    "operators.python_start_s": "s",
    "operators.python_bytes_sent": "B",
    "operators.python_bytes_received": "B",
    "io.merge_s": "s",
    **{f"io.merge_s.{t}": "s" for t in MERGED},
    "io.merge_rows": "count",
    "io.bytes_written": "B",
    "io.files_written": "count",
    "io.write_amp": "ratio",
    "io.stored_bytes_per_row": "B",
    "runner.build_s": "s",
    "runner.jobs_per_model": "count",
    **{f"models.force_s.{f}": "s" for f in FAMILIES},
    "serving.miss_s": "s",
    "serving.hit_s": "s",
    "serving.hit_ratio": "ratio",
    "dashboard.post_s": "s",
    "checks.run_s": "s",
    "checks.jobs": "count",
    "op.self_s": "s",
    "trace.pass_s": "s",
}


def combined(groups: dict[str, GroupStats], spans: list[Span]) -> GroupStats:
    out = GroupStats()
    for s in spans:
        st = groups.get(f"s{s.id}")
        if st is not None:
            out.merge(st)
    return out


def driver_gap(op: Span, stats: GroupStats) -> float:
    """Op wall time not covered by any of its Spark jobs."""
    inside = [
        (max(a, op.start), min(b, op.end)) for a, b in stats.job_intervals if b > op.start and a < op.end
    ]
    return op.dur - union_length(inside)


def compute(
    spans: list[Span],
    op_ids: list[int],
    passes: int,
    groups: dict[str, GroupStats],
    counters: dict,
    cores: int,
    pass_s: float,
) -> dict[str, float]:
    ops = [spans[i] for i in op_ids]
    trees = {op.id: subtree(spans, op.id) for op in ops}
    timed = [s for tree in trees.values() for s in tree]
    total = combined(groups, timed)
    per = 1.0 / max(passes, 1)
    own = self_times(timed)
    for op in ops:
        if abs(sum(own[s.id] for s in trees[op.id]) - op.dur) > 1e-6:
            raise RuntimeError(f"self times of op span {op.id} do not add up to its wall time")

    def span_sum(prefix: str) -> float:
        return sum(own[s.id] for s in timed if s.name.startswith(prefix)) * per

    def span_jobs(prefix: str) -> float:
        return combined(groups, [s for s in timed if s.name.startswith(prefix)]).jobs * per

    wall = sum(op.dur for op in ops)
    busy = sum(d for durs in total.task_durs.values() for d in durs)
    task_sql, drv = total.task_sql, total.driver_sql

    def driver(node_prefix: str, name: str) -> float:
        return sum(v for (node, n), v in drv.items() if node.startswith(node_prefix) and n == name)

    m = {
        "session.start_s": statistics.median(counters.get("session_start", [0.0])),
        "catalog.register_s": counters.get("register_s", 0.0),
        "catalog.build_s": span_sum("catalog.build"),
        "catalog.eager_jobs": span_jobs("catalog.build"),
        "catalog.action_s": span_sum("catalog.action"),
        "spark.jobs": total.jobs * per,
        "spark.stages": len(total.stages) * per,
        "spark.tasks": total.tasks * per,
        "spark.driver_gap_s": sum(
            driver_gap(op, combined(groups, trees[op.id])) for op in ops
        ) * per,
        "spark.slot_idle_frac": 1.0 - busy / (cores * wall) if wall else 0.0,
        "spark.task_run_s": total.run_s * per,
        "spark.task_cpu_s": total.cpu_s * per,
        "spark.gc_s": total.gc_s * per,
        # the scan node's file bytes: task input metrics count little more
        # than parquet footers in local mode
        "spark.scan_bytes": driver("Scan", "size of files read") * per,
        "spark.scan_rows": total.input_rows * per,
        "spark.scan_files": driver("Scan", "number of files read") * per,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes * per,
        "spark.shuffle_read_bytes": total.shuffle_read_bytes * per,
        "spark.shuffle_fetch_wait_s": total.fetch_wait_s * per,
        "spark.aqe_partitions": driver("AQEShuffleRead", "number of partitions") * per,
        "spark.broadcast_bytes": driver("BroadcastExchange", "data size") * per,
        "spark.broadcast_build_s": driver("BroadcastExchange", "time to build") / 1e3 * per,
        "spark.agg_build_s": task_sql.get("time in aggregation build", 0.0) / 1e3 * per,
        "spark.sort_s": task_sql.get("sort time", 0.0) / 1e3 * per,
        "spark.codegen_s": task_sql.get("duration", 0.0) / 1e3 * per,
        "spark.spill_bytes": total.spill_bytes * per,
        "spark.peak_exec_mem_bytes": float(total.peak_exec_mem_bytes),
        "spark.straggler_ratio": straggler_ratio(total.task_durs),
        "spark.storage_leftover_bytes": float(counters.get("storage_leftover_bytes", 0)),
        "operators.python_run_s": task_sql.get("time to run Python workers", 0.0) / 1e3 * per,
        "operators.python_start_s": (
            task_sql.get("time to start Python workers", 0.0)
            + task_sql.get("time to initialize Python workers", 0.0)
        ) / 1e3 * per,
        "operators.python_bytes_sent": task_sql.get("data sent to Python workers", 0.0) * per,
        "operators.python_bytes_received": task_sql.get("data returned from Python workers", 0.0) * per,
    }

    merges = counters.get("merge", [])  # (table, s, batch rows, batch bytes, table bytes, files)
    batch_bytes = sum(r[3] for r in merges)
    m["io.merge_s"] = sum(r[1] for r in merges) * per
    for t in MERGED:
        m[f"io.merge_s.{t}"] = sum(r[1] for r in merges if r[0] == t) * per
    m["io.merge_rows"] = sum(r[2] for r in merges) * per
    m["io.bytes_written"] = sum(r[4] for r in merges) * per
    m["io.files_written"] = sum(r[5] for r in merges) * per
    m["io.write_amp"] = sum(r[4] for r in merges) / batch_bytes if batch_bytes else 0.0
    m["io.stored_bytes_per_row"] = counters.get("stored_bytes_per_row", 0.0)

    n_models = counters.get("models_per_pass", 0)
    m["runner.build_s"] = span_sum("runner.build")
    m["runner.jobs_per_model"] = (
        (span_jobs("runner.build") + span_jobs("models.force.")) / n_models if n_models else 0.0
    )
    for f in FAMILIES:
        m[f"models.force_s.{f}"] = span_sum(f"models.force.{f}")
    loads = counters.get("serving", [])
    m["serving.miss_s"] = span_sum("serving.miss")
    m["serving.hit_s"] = span_sum("serving.hit")
    m["serving.hit_ratio"] = sum(hit for _, hit in loads) / len(loads) if loads else 0.0
    m["dashboard.post_s"] = span_sum("dashboard.post")
    m["checks.run_s"] = span_sum("checks.run")
    m["checks.jobs"] = span_jobs("checks.run")
    m["op.self_s"] = span_sum("op")  # time inside operations but outside every layer span
    m["trace.pass_s"] = pass_s
    if list(m) != list(PER_LAYER):
        raise RuntimeError("per-layer metrics drifted from PER_LAYER")
    return m
