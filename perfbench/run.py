#!/usr/bin/env python3
"""sparkcheck benchmark: one closed-loop caller at local[4].

    python3 perfbench/run.py --workload contract_partitioned --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The process starts one Spark session,
generates (or reuses) the workload's fixtures from ``--seed``, warms up, then
calls the workload back to back for ``--seconds``: the next call starts only
after the previous one returned. Every call's verdicts are checked against
the closed-form fixture counts; a mismatch or an exception counts as failed.

A call's cost is the CPU time it burns in every process of the run (this
Python driver, the JVM, the Python workers), not its wall time: on a shared
virtual machine the hypervisor takes cores away for seconds at a time
(steal time), which stretches wall time but not CPU time. Wall times are
still printed on stderr.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced calls and reports the per-layer metrics of the traced
ones, plus the tracing overhead between the two halves. Human-readable lines
go to stderr; the last line of stdout is one JSON object.

Fixtures, Spark scratch space and traces live under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = 4
DRIVER_HEAP = "4g"        # sized for a 15 GB machine shared with other processes
SETUP_ROUNDS = 3
WARMUP_CALLS = 4
MIN_CALLS = 2
CLK_TCK = os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def confine_scratch() -> None:
    """Point every temporary file of this process, the JVM and the Python
    workers under WORK, and let the workers import sparkcheck from the
    checkout. Runs before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Every JVM, the launcher too (it reads no Spark conf): no hsperfdata in
    # /tmp, and the C1 JIT only, compiling a method after a twentieth of the
    # usual invocations. With the default tiered JIT, calls keep getting
    # cheaper for ten or more calls, longer than a run can afford, so a run's
    # median would depend on how many calls fit in it. With these flags a
    # call's cost is flat after the warm-up calls. Spark generates new
    # classes for every query, so the code cache is made large enough that
    # it never fills and switches the compiler off. The parallel collector
    # has no concurrent marking cycles, which under G1 added up to 3 s of
    # CPU to whichever call they fell into.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
        "-XX:CompileThresholdScaling=0.05 -XX:ReservedCodeCacheSize=512m "
        "-XX:+UseParallelGC")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def build_spark():
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("sparkcheck-perfbench")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep every job of a traced call in the status store until read
        .config("spark.ui.retainedJobs", "10000")
        .config("spark.ui.retainedStages", "10000")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started, and
    wait until each has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _children(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:   # a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    for pid in kids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _children(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            kids = []
        out += kids
        todo += kids
    return out


def cpu_ms() -> float:
    """CPU time (user + system) used so far by this process and every
    process below it, reaped children included."""
    ticks = 0
    for pid in [os.getpid()] + _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:     # it exited; its parent reaps it into cutime
            continue
        ticks += sum(int(x) for x in fields[11:15])  # u, s, cu, cs time
    return ticks * 1e3 / CLK_TCK


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def tail_percentile(xs: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples beyond it:
    (percentile, value, samples beyond) or None with fewer than 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    idx = n - 11                    # ten samples lie above s[idx]
    return 100.0 * (idx + 1) / n, s[idx], n - idx - 1


def control_scan_ms(df) -> float:
    """A plain count and sum over the workload's own table: the in-session
    measure of box speed."""
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    df.agg(F.count(F.lit(1)), F.sum("dur_ms")).collect()
    return (time.perf_counter() - t0) * 1e3


def run(args) -> int:
    t_start = time.perf_counter()
    spark = build_spark()
    session_s = time.perf_counter() - t_start
    import sparkcheck
    import workloads
    from spans import Tracer
    tracer = Tracer(spark, os.path.dirname(sparkcheck.__file__))
    wl = workloads.WORKLOADS[args.workload](spark, WORK, args.seed)
    problems: list[str] = []
    try:
        t0 = time.perf_counter()
        wl.prepare()
        fixture_s = time.perf_counter() - t0
        # set-up: open the tables and scan them SETUP_ROUNDS times (the
        # median enters setup_s), then WARMUP_CALLS checked calls, whose
        # first-call costs are part of set-up
        rounds, controls = [], []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl.open()
            controls.append(control_scan_ms(wl.control_table()))
            rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for _ in range(WARMUP_CALLS):
            problems += wl.check(wl.call(tracer))
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + fixture_s + statistics.median(rounds) + warmup_s
        control_ms = statistics.median(controls)

        wl.start_timed()
        attempted = failed = 0
        lat = {False: [], True: []}        # traced? -> call wall ms
        cpu = {False: [], True: []}        # traced? -> call CPU ms
        rows = wall = 0.0
        store_per_row: list[float] = []
        traced_calls = []
        # at least MIN_CALLS calls: a median of two, or in a traced run one
        # untraced and one traced call
        t_end = time.perf_counter() + args.seconds
        while attempted < MIN_CALLS or time.perf_counter() < t_end:
            traced = bool(args.trace) and attempted % 2 == 1
            tracer.enabled = traced
            attempted += 1
            tracer.begin_call(attempted)
            c0 = cpu_ms()
            t0 = time.perf_counter()
            try:
                out = wl.call(tracer)
            except Exception:  # noqa: BLE001 — a raising call is a failed call
                tracer.end_call()
                tracer.enabled = False
                failed += 1
                log(f"call {attempted} raised:\n{traceback.format_exc()}")
                continue
            dt = time.perf_counter() - t0
            dc = cpu_ms() - c0
            ct = tracer.end_call()
            tracer.enabled = False
            errs = wl.check(out)
            if errs:
                failed += 1
                log(f"call {attempted} wrong: {errs}")
            lat[traced].append(dt * 1e3)
            cpu[traced].append(dc)
            if not traced:
                rows += wl.rows
                wall += dt
            store_per_row.append(out.get("store_bytes_per_row", 0.0))
            if ct is not None:
                ct.extra.update(wl.plan_stats(), **{
                    k: out[k] for k in ("snapshots", "stats_bytes", "store_bytes")
                    if k in out})
                traced_calls.append(ct)
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    finally:
        wl.close()
        tracer.close()
        stop_spark(spark)

    if problems:
        log(f"warm-up calls wrong: {problems}")
    untraced = lat[False]
    if not untraced:
        log("no untraced call returned: nothing to report")
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 1
    log(f"workload={args.workload} seed={args.seed} cores={CORES} "
        f"driver_heap={DRIVER_HEAP} calls={attempted} failed={failed}")
    log(f"  setup: session {session_s:.2f} s, fixtures {fixture_s:.2f} s, "
        f"open rounds {[round(r, 2) for r in rounds]} s, "
        f"{WARMUP_CALLS} warm-up calls {warmup_s:.2f} s")
    log(f"  control.scan_ms {control_ms:.1f} ms (plain count+sum, same table)")
    tail = tail_percentile(untraced)
    log("  call_tail_ms " + (f"p{tail[0]:.1f} = {tail[1]:.1f} ms "
                             f"({tail[2]} samples beyond, n={len(untraced)})"
                             if tail else f"n/a: {len(untraced)} untraced "
                             "samples, fewer than 11"))
    log(f"  call_p50_ms {statistics.median(untraced):.1f} ms, rows_per_s "
        f"{rows / wall:.1f} rows/s (wall time, untraced calls)")
    log(f"  call wall ms, in order: {[round(x) for x in untraced]}")
    log(f"  call CPU ms, in order: {[round(x) for x in cpu[False]]}")
    log(f"  error_rate {failed / attempted:.4f} ({failed}/{attempted})")
    log(f"  store_bytes_per_row {statistics.median(store_per_row):.3f} B/row")
    correct = failed == 0 and not problems

    if not args.trace:
        metrics = {
            "call_cpu_ms": (statistics.median(cpu[False]), "ms"),
            "setup_s": (setup_s, "s"),
            "driver_rss_mb": (rss_mb, "MB"),
        }
    else:
        from layers import per_layer
        metrics, ok = per_layer(traced_calls, wl.rows_for, control_ms, cpu)
        correct = correct and ok
        tracer.dump(os.path.join(
            WORK, "traces", f"{args.workload}-s{args.seed}.json"))
    from layers import MOVES
    for k, (v, unit) in metrics.items():
        moves = f"  -> {MOVES[k][1]}" if args.trace else ""
        log(f"  {k} = {v:.4f} {unit}{moves}")
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sparkcheck", "__init__.py")):
        log(f"no sparkcheck package under {ROOT}: run from a full checkout")
        return 2
    confine_scratch()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
