#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process runs one workload with one
closed-loop client on ``local[nproc]``:

1. inputs    generate (once per checkout) the tables and per-seed feeds;
2. set-up    import the ``plans`` registry, ``session.get_spark()`` and
             ``spark.range(1).count()``; ``setup_s`` is the time from
             process start to here, minus input generation;
3. cold op   the workload's first operation, timed alone (``cold_op_s``);
4. warm-up   operations that are not part of the timed passes; the cold
             op and the warm-up together are the cold work (``cold_s``
             wall, ``cold_cpu_s`` CPU);
5. timed     whole passes of the workload until ``--seconds`` elapse;
6. check     untimed correctness pass against independent references.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the process runs the timed passes untraced and then
again traced, and the last line carries the per-layer metrics; the
difference between the two is the tracing overhead. Every run
writes its full record (host readings, per-operation timings and, when
traced, spans, per-layer table and per-operation coverage) under
``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

# BENCHMARK.json's end-to-end metrics. The others are reported and
# recorded but not gated: on a shared host, wall times follow the CPU
# other tenants take by more than any bound allows, CPU time far less
# (see DESIGN.md).
END_TO_END = {"setup_s": "s", "cold_cpu_s": "s", "cpu_ms_per_item": "ms"}
UNITS = {
    **END_TO_END, "cold_s": "s", "cold_op_s": "s", "items_per_s": "items/s",
    "op_p50_s": "s", "op_tail_s": "s", "jit_cpu_s": "s", "peak_rss_mb": "MB",
}
# ``items_per_s`` under each workload's own name and unit.
ITEMS = {"analyst_mix": ("queries_per_s", "1/s"), "daily_ingest": ("rows_per_s", "rows/s")}
# A run whose host lost more than this share of its CPU time to other
# processes or to the hypervisor is flagged: its readings are the host's.
NOISY_SHARE = 0.05


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least 10 samples
    beyond it, as (value, percentile, n). With 10 samples or fewer no
    percentile qualifies and the maximum is reported (percentile 100)."""
    s, n = sorted(values), len(values)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def host_stamp() -> dict:
    busy, steal = common.host_cpu_s()
    return {
        "t": time.time(),
        "loadavg": list(os.getloadavg()),
        "host_busy_s": busy,
        "steal_s": steal,
        "tree_cpu_s": common.cpu_reading(os.getpid())[0],
    }


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait until every child
    process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while common.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in common.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in common.descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except OSError:
            pass


def run_ops(wl, ops, records: list, ctx) -> tuple[float, int]:
    """Run ``ops`` back to back; returns (wall seconds, failures). Each
    operation's record also holds the CPU time this process and its
    children (the JVM) used while it ran, and the share of it the JVM's
    JIT compiler threads used."""
    T = spans.TRACER
    wall, failed = 0.0, 0
    pid = os.getpid()
    for op in ops:
        op_id = len(ctx.op_log) + 1
        c0, j0 = common.cpu_reading(pid)
        t0 = time.perf_counter()
        t_wall0 = time.time()
        err = None
        try:
            with T.span(op.label, "op", op=op_id):
                op.result = op.fn() or {}
        except Exception as ex:  # noqa: BLE001
            err = f"{type(ex).__name__}: {str(ex)[:300]}"
            failed += 1
        dt = time.perf_counter() - t0
        c1, j1 = common.cpu_reading(pid)
        wall += dt
        rec = {
            "id": op_id, "label": op.label, "kind": op.kind, "t0": t_wall0,
            "wall_s": dt, "cpu_s": c1 - c0, "jit_cpu_s": common.jit_delta(j0, j1),
            "items": 0.0 if err else wl.items(op), "error": err,
        }
        ctx.op_log.append(rec)
        if records is not None:
            records.append(rec)
    return wall, failed


def timed_passes(wl, seconds: float, ctx) -> tuple[list, float, int, int]:
    """Whole passes until at least ``wl.min_passes`` ran and ``seconds``
    of operation time elapsed, or ``wl.max_passes`` ran."""
    records: list = []
    wall, failed, passes = 0.0, 0, 0
    while passes < wl.min_passes or wall < seconds:
        if wl.max_passes is not None and passes >= wl.max_passes:
            break
        w, f = run_ops(wl, wl.new_pass(), records, ctx)
        wall, failed, passes = wall + w, failed + f, passes + 1
    return records, wall, failed, passes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = common.missing_sources()
    if missing:
        print(f"perfbench: engine sources not found: {missing}", file=sys.stderr)
        return 2
    common.prepare_env()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    proc_start = time.time() - common.process_age_s()
    before = host_stamp()
    tracing = bool(args.trace)
    work = os.path.join(common.STATE, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common.divert_stdout(os.path.join(work, "jvm-stdout.log"))
    ctx = workloads.Context(None, args.seed, work, tracing)

    # 1. inputs (excluded from set-up)
    t_in = time.time()
    wl = workloads.WORKLOADS[args.workload](ctx)
    inputs_s = time.time() - t_in

    # 2. set-up
    T = spans.TRACER
    T.enabled = tracing
    with T.span("session.registry", "session"):
        if tracing:
            spans.install()
        import airflow_spotify_etl_spark.plans  # noqa: F401
        if tracing:
            spans.wrap_plans()
    from airflow_spotify_etl_spark.session import get_spark

    log_dir = os.path.join(work, "eventlog")
    spark = get_spark(
        "perfbench", extra_conf=spans.event_log_conf(log_dir) if tracing else None
    )
    spark.range(1).count()
    setup_s = time.time() - proc_start - inputs_s
    T.enabled = False
    T.sc = spark.sparkContext if tracing else None
    ctx.spark = spark
    progress: list = []
    if tracing:
        spark.streams.addListener(spans.streaming_listener(progress))
    wl.bind()

    phases = {"inputs_s": inputs_s, "setup_s": setup_s}
    phase_cpu: dict = {}
    t_phase = time.time()
    jvm = spark.sparkContext._jvm

    def readings() -> dict:
        return {"cpu_s": common.cpu_reading(os.getpid())[0],
                "steal_s": common.host_cpu_s()[1],
                "gc_s": layers.gc_seconds(jvm)}

    r_phase = readings()

    def phase(name: str) -> None:
        nonlocal t_phase, r_phase
        now, r_now = time.time(), readings()
        phases[name] = now - t_phase
        phase_cpu[name] = {k: r_now[k] - r_phase[k] for k in r_now}
        t_phase, r_phase = now, r_now

    # 3. cold op, 4. warm-up
    cold_op_s, cold_failed = run_ops(wl, [wl.cold_op()], None, ctx)
    warm_s, warm_failed = run_ops(wl, wl.warm_ops(), None, ctx)
    n_cold = len(ctx.op_log)
    phase("cold_and_warm_s")

    # 5. timed passes
    records, wall, failed, passes = timed_passes(wl, args.seconds, ctx)
    traced = None
    if tracing:
        traced = traced_pass(wl, ctx, passes)
        failed += traced["failed"]
    phase("timed_s")

    # 6. correctness
    check_failures = wl.check()
    phase("check_s")
    java = spark._jvm.System.getProperty("java.version")
    rss = common.vm_hwm_mb(os.getpid()) + sum(
        common.vm_hwm_mb(p) for p in common.java_children(os.getpid())
    )
    after = host_stamp()
    stop_spark(spark)
    phases["stop_s"] = time.time() - t_phase

    n_ops = len(ctx.op_log)
    n_failed = cold_failed + warm_failed + failed + len(check_failures)
    attempted = n_ops + wl.n_checked
    lat = [r["wall_s"] for r in records if r["error"] is None] or [float("nan")]
    t_val, t_pct, t_n = tail(lat)
    items = sum(r["items"] for r in records)
    cold = ctx.op_log[:n_cold]
    cpu = sum(r["cpu_s"] for r in records)
    jit = sum(r["jit_cpu_s"] for r in records)
    metrics = {
        "setup_s": setup_s,
        "cold_cpu_s": sum(r["cpu_s"] for r in cold),
        "cpu_ms_per_item": 1000.0 * cpu / items if items > 0 else float("nan"),
        "cold_s": cold_op_s + warm_s,
        "cold_op_s": cold_op_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": t_val,
        "items_per_s": items / wall if wall > 0 else float("nan"),
        "jit_cpu_s": sum(r["jit_cpu_s"] for r in cold) + jit,
        "peak_rss_mb": rss,
    }
    host = {
        "nproc": common.nproc(),
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
        "other_cpu_s": (after["host_busy_s"] - before["host_busy_s"])
        - (after["tree_cpu_s"] - before["tree_cpu_s"]),
        "steal_s": after["steal_s"] - before["steal_s"],
        "run_wall_s": after["t"] - before["t"],
        "pyspark": __import__("pyspark").__version__,
        "java": java,
        "git_commit": common.git_commit(),
        "source_digest": common.source_digest(),
    }
    host["noisy"] = (host["other_cpu_s"] + host["steal_s"]) > (
        NOISY_SHARE * host["run_wall_s"] * host["nproc"]
    )
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "phases": phases, "phase_cpu": phase_cpu, "passes": passes,
        "timed_wall_s": wall, "timed_cpu_s": cpu, "timed_jit_cpu_s": jit, "items": items,
        "item_metric": ITEMS[args.workload][0],
        "tail_percentile": t_pct, "tail_samples": t_n, "metrics": metrics,
        "attempted": attempted, "failed": n_failed,
        "check_failures": check_failures, "host": host, "ops": ctx.op_log,
        "notes": wl.notes(),
    }
    if tracing:
        jobs = spans.parse_event_log(log_dir)
        layer, per_op = layers.per_layer(T.spans, jobs, traced, wl, progress, wall, rss)
        record.update(per_layer=layer, per_op_coverage=per_op, spans=T.spans,
                      jobs={str(k): v for k, v in jobs.items()})
        out_metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in layer.items()}
    else:
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    # Sinks and event logs are only read during the run; keep the JVM log.
    for entry in os.listdir(work):
        if entry != "jvm-stdout.log":
            shutil.rmtree(os.path.join(work, entry), ignore_errors=True)
    runs = os.path.join(common.STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    report(args, record, metrics, t_pct, t_n, n_failed, attempted, host)
    if tracing:
        for k, v in layer.items():
            print(f"  {k:<38} {v:>12.4f} {layers.UNITS[k]}")
    ok = n_failed == 0 and all(math.isfinite(m["value"]) for m in out_metrics.values())
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": n_failed, "metrics": out_metrics,
    }))
    return 0


def report(args, record, metrics, t_pct, t_n, n_failed, attempted, host) -> None:
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"passes={record['passes']} timed_wall_s={record['timed_wall_s']:.3f}")
    for k, v in metrics.items():
        extra = f"  (p{t_pct:.1f} of {t_n} ops)" if k == "op_tail_s" else ""
        name, unit = ITEMS[args.workload] if k == "items_per_s" else (k, UNITS[k])
        print(f"  {name:<24} {v:>12.4f} {unit}{extra}")
    print(f"  {'error_rate':<24} {n_failed / max(attempted, 1):>12.4f} ratio"
          f"  ({n_failed} of {attempted})")
    for f in record["check_failures"]:
        print(f"  CHECK FAILED: {f}")
    print(f"  host: nproc={host['nproc']} load {host['loadavg_before'][0]:.2f}->"
          f"{host['loadavg_after'][0]:.2f} other_cpu_s={host['other_cpu_s']:.2f} "
          f"steal_s={host['steal_s']:.2f} "
          f"pyspark={host['pyspark']} java={host['java']} "
          f"commit={host['git_commit']} digest={host['source_digest']}")
    if host["noisy"]:
        print(f"  host: other processes and the hypervisor took over {NOISY_SHARE:.0%} "
              "of the CPU time during this run; read slow timings as host noise")


def traced_pass(wl, ctx, passes: int) -> dict:
    """The same number of passes again, with spans recorded."""
    T = spans.TRACER
    jvm = ctx.spark.sparkContext._jvm
    n_ret, n_ops = len(ctx.retained), len(ctx.op_log)
    wl.reset_counters()
    wall, failed, gc_s, windows = 0.0, 0, 0.0, []
    for _ in range(passes):
        ops = wl.new_pass()
        t0, gc0 = time.time(), layers.gc_seconds(jvm)
        T.enabled = True
        w, f = run_ops(wl, ops, None, ctx)
        T.enabled = False
        windows.append((t0, time.time()))
        gc_s += layers.gc_seconds(jvm) - gc0
        wall, failed = wall + w, failed + f
    return {
        "windows": windows, "wall": wall, "failed": failed, "gc_s": gc_s,
        "retained": ctx.retained[n_ret:], "ops": ctx.op_log[n_ops:],
    }


if __name__ == "__main__":
    sys.exit(main())
