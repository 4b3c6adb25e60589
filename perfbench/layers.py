"""Per-layer metrics from the traced calls, and what each should move.

Every metric is a median over the run's traced calls ("per call"). The
``MOVES`` table records, before any optimisation is tried, which end-to-end
metric on which workload a change in the layer metric should move, so a
performance change can name its prediction in advance.
"""

from __future__ import annotations

import statistics

from spans import LAYERS, outside_jobs_ms, self_times

CP, ING = "contract_partitioned", "ingest_audio"

# metric -> (unit, what it should move)
MOVES = {
    "control.scan_ms": ("ms", "nothing: plain count+sum over the same table, the in-session box-speed control"),
    "planner.compile_ms": ("ms", f"call_cpu_ms on {CP}"),
    "planner.fused_slots": ("count", f"call_cpu_ms on {CP}"),
    "planner.domains": ("count", f"call_cpu_ms on {CP}"),
    "runner.jobs": ("count", f"call_cpu_ms on {CP}; its sink path on {ING}"),
    "runner.stages": ("count", f"call_cpu_ms on {CP}; its sink path on {ING}"),
    "runner.rows_read_per_row": ("ratio", f"call_cpu_ms on {CP} (wasted rescans); its sink path on {ING}"),
    "runner.shuffle_mb": ("MB", f"call_cpu_ms on {CP}; its sink path on {ING}"),
    "runner.task_ms": ("ms", f"call_cpu_ms on {CP}; its sink path on {ING}"),
    "runner.driver_ms": ("ms", f"call_cpu_ms, driver_rss_mb on {CP} and {ING}"),
    "runner.self_ms": ("ms", f"call_cpu_ms, driver_rss_mb on {CP} and {ING}"),
    "runner.failed_tasks": ("count", "failed calls (error_rate) on all workloads"),
    "metrics.audio.jobs": ("count", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "metrics.audio.stages": ("count", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "metrics.audio.task_ms": ("ms", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "metrics.audio.shuffle_mb": ("MB", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "metrics.audio.rows_read_per_row": ("ratio", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "io.write_ms": ("ms", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "io.jobs": ("count", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "io.bytes_written_per_row": ("B/row", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "incremental.validate_ms": ("ms", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "incremental.merge_ms": ("ms", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "incremental.merge_ms_per_snapshot": ("ms", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "incremental.jobs": ("count", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "incremental.stats_bytes_per_delta": ("B", f"store_bytes_per_row on {ING}; 0 on {CP}"),
    "checkpoint.run_ms": ("ms", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "checkpoint.jobs": ("count", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "checkpoint.task_ms": ("ms", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "checkpoint.store_bytes": ("B", f"store_bytes_per_row on {ING}; 0 on {CP}"),
    "checkpoint.rollup_ms": ("ms", f"call_cpu_ms on {ING}; 0 on {CP}"),
    "spark.call_jobs": ("count", "all jobs in the call's job group; the layer job counts add up to it"),
    "spark.unattributed_jobs": ("count", "must stay 0: jobs whose call site is in no sparkcheck module"),
    "trace.overhead_pct": ("%", "nothing: traced vs untraced median call CPU time in the same run"),
}


def _span_ms(c, name: str) -> float:
    return sum((s.end - s.start) * 1e3 for s in c.spans if s.name == name)


def _per_call(c, rows_for) -> dict[str, float]:
    m: dict[str, float] = {}
    by = {}
    for j in c.jobs:
        by.setdefault(j.module, []).append(j)
    for layer in LAYERS:
        js = by.get(layer, [])
        rows = rows_for(layer)
        m[f"{layer}.jobs"] = len(js)
        m[f"{layer}.stages"] = sum(j.stages for j in js)
        m[f"{layer}.task_ms"] = sum(j.task_ms for j in js)
        m[f"{layer}.shuffle_mb"] = sum(j.shuffle_bytes for j in js) / 1e6
        m[f"{layer}.rows_read_per_row"] = sum(j.input_records for j in js) / rows
        m[f"{layer}.failed_tasks"] = sum(j.failed_tasks for j in js)
        m[f"{layer}.bytes_written_per_row"] = sum(j.output_bytes for j in js) / rows
    st = self_times(c)
    m["runner.self_ms"] = st.get("runner", 0.0)
    m["runner.driver_ms"] = outside_jobs_ms(c)
    m["planner.compile_ms"] = c.extra.get("compile_ms", 0.0)
    m["planner.fused_slots"] = c.extra.get("fused_slots", 0)
    m["planner.domains"] = c.extra.get("domains", 0)
    m["io.write_ms"] = _span_ms(c, "io.write_table")
    m["incremental.validate_ms"] = _span_ms(c, "IncrementalCheckpoint.validate_table")
    m["incremental.merge_ms"] = _span_ms(c, "IncrementalCheckpoint.merged_result")
    snaps = c.extra.get("snapshots", 0)
    m["incremental.merge_ms_per_snapshot"] = (
        m["incremental.merge_ms"] / snaps if snaps else 0.0)
    m["incremental.stats_bytes_per_delta"] = (
        c.extra.get("stats_bytes", 0) / snaps if snaps else 0.0)
    m["checkpoint.run_ms"] = _span_ms(c, "Checkpoint.run_single_pass")
    m["checkpoint.rollup_ms"] = _span_ms(c, "Checkpoint.rollup")
    m["checkpoint.store_bytes"] = c.extra.get("store_bytes", 0)
    m["spark.call_jobs"] = c.group_jobs
    m["spark.unattributed_jobs"] = len(by.get("unattributed", []))
    return m


def per_layer(calls, rows_for, control_ms: float,
              cpu: dict[bool, list[float]]) -> tuple[dict, bool]:
    """(metric -> (median value, unit), attribution ok). Attribution is ok
    when every call's job group was read in full, so the layer job counts
    (unattributed included) add up to the group's total."""
    ok = bool(calls) and all(len(c.jobs) == c.group_jobs for c in calls)
    per = [_per_call(c, rows_for) for c in calls]
    out: dict[str, tuple[float, str]] = {}
    for name, (unit, _) in MOVES.items():
        if name == "control.scan_ms":
            v = control_ms
        elif name == "trace.overhead_pct":
            base = statistics.median(cpu[False]) if cpu[False] else 0.0
            v = (100.0 * (statistics.median(cpu[True]) - base) / base
                 if base and cpu[True] else 0.0)
        else:
            v = statistics.median(p[name] for p in per) if per else 0.0
        out[name] = (float(v), unit)
    return out, ok
