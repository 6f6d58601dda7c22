"""Per-layer metrics of a traced pass.

Inputs: the spans the tracer recorded, the per-job records parsed from
Spark's event log, and the traced pass's window. Every metric is a total
over the traced pass unless its name says otherwise; layers a workload
does not exercise read 0. ``DESIGN.md`` maps each metric to the
end-to-end metric and workload it should move.
"""

from __future__ import annotations

import os

from spans import union_len

# The ``operators`` modules whose spans the workloads reach.
OPERATOR_MODULES = ["flatten", "graph", "joins", "multimodal", "quality"]

UNITS: dict[str, str] = {
    "session.get_spark_s": "s",
    "session.registry_s": "s",
    "plans.construct_s": "s",
    "plans.construct_py_s": "s",
    "plans.exchanges": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_busy_share": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.retained_storage_mb": "MB",
    "spark.retained_rdds": "count",
    "spark.gc_s": "s",
    "spark.jit_cpu_s": "s",
    **{f"operators.{m}.self_s": "s" for m in OPERATOR_MODULES},
    **{f"operators.{m}.jobs": "count" for m in OPERATOR_MODULES},
    "sources.files.load_s": "s",
    "sources.rest.fetch_s": "s",
    "sinks.write_s": "s",
    "sinks.rerun_s": "s",
    "sinks.rows_written": "count",
    "sinks.files": "count",
    "sinks.bytes_per_row": "B",
    "streaming.drain_s": "s",
    "streaming.batch_s": "s",
    "streaming.input_rows_per_s": "rows/s",
    "streaming.state_rows": "count",
    "pipelines.etl.run_s": "s",
    "trace.overhead_s": "s",
    "spark.peak_rss_mb": "MB",
}


def gc_seconds(jvm) -> float:
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def _dur(s: dict) -> float:
    return (s["t1"] or s["t0"]) - s["t0"]


class SpanIndex:
    def __init__(self, spans: list[dict]) -> None:
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)

    def ancestors(self, sid):
        while sid is not None and sid in self.by_id:
            s = self.by_id[sid]
            yield s
            sid = s["parent"]

    def self_time(self, s: dict) -> float:
        kids = [(c["t0"], c["t1"] or c["t0"]) for c in self.children.get(s["id"], [])]
        return _dur(s) - union_len(kids, s["t0"], s["t1"])

    def outermost(self, spans: list[dict], prefix: str) -> list[dict]:
        """Spans named ``prefix...`` that have no ancestor of that prefix."""
        out = []
        for s in spans:
            if not s["name"].startswith(prefix):
                continue
            parents = list(self.ancestors(s["parent"]))
            if not any(p["name"].startswith(prefix) for p in parents):
                out.append(s)
        return out


def _count_files(dirs: list[str]) -> int:
    n = 0
    for d in dirs:
        for _, _, files in os.walk(d):
            n += sum(f.endswith(".parquet") for f in files)
    return n


def per_layer(all_spans, jobs, traced, wl, progress, untraced_wall, rss_mb):
    """``untraced_wall`` is the op time of the untraced passes, which run
    just before the traced ones."""
    idx = SpanIndex(all_spans)
    windows = traced["windows"]

    def traced_at(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    setup = [s for s in all_spans if s["t0"] < windows[0][0] and s["op"] is None]
    spans = [s for s in all_spans if traced_at(s["t0"])]
    pass_jobs = {j: r for j, r in jobs.items() if traced_at(r["t0"])}
    m = {k: 0.0 for k in UNITS}

    m["session.get_spark_s"] = sum(_dur(s) for s in setup if s["name"] == "session.get_spark")
    m["session.registry_s"] = sum(_dur(s) for s in setup if s["name"] == "session.registry")

    # plans: construction spans and the jobs launched inside them
    construct = [s for s in spans if s["name"] == "plans.construct"]
    construct_ids = {s["id"] for s in construct}
    eager: dict[int, list] = {}
    for jid, j in pass_jobs.items():
        for a in idx.ancestors(j["span"]):
            if a["id"] in construct_ids:
                eager.setdefault(a["id"], []).append((j["t0"], j["t1"]))
                break
    m["plans.construct_s"] = sum(_dur(s) for s in construct)
    eager_s = sum(union_len(eager.get(s["id"], []), s["t0"], s["t1"]) for s in construct)
    m["plans.construct_py_s"] = m["plans.construct_s"] - eager_s
    m["plans.exchanges"] = getattr(wl, "exchanges", 0)

    # spark: planning, execution and the event-log task metrics
    m["spark.plan_s"] = sum(_dur(s) for s in spans if s["name"] == "spark.plan")
    m["spark.exec_s"] = union_len([(j["t0"], j["t1"]) for j in pass_jobs.values()])
    m["spark.jobs"] = len(pass_jobs)
    for key, field in (("spark.stages", "stages"), ("spark.tasks", "tasks")):
        m[key] = sum(j[field] for j in pass_jobs.values())
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    busy = sum(j["run_s"] for j in pass_jobs.values())
    m["spark.task_busy_share"] = busy / max(traced["wall"] * cores, 1e-9)
    mb = 2.0**20
    m["spark.shuffle_read_mb"] = sum(j["shuffle_read"] for j in pass_jobs.values()) / mb
    m["spark.shuffle_write_mb"] = sum(j["shuffle_write"] for j in pass_jobs.values()) / mb
    m["spark.spill_mb"] = sum(j["spill"] for j in pass_jobs.values()) / mb
    if traced["retained"]:
        m["spark.retained_storage_mb"] = max(r[0] for r in traced["retained"])
        m["spark.retained_rdds"] = max(r[1] for r in traced["retained"])
    m["spark.gc_s"] = traced["gc_s"]
    m["spark.jit_cpu_s"] = sum(o["jit_cpu_s"] for o in traced["ops"])

    # operators: self time per module, jobs whose innermost span is there
    for s in spans:
        parts = s["name"].split(".")
        if s["layer"] == "operators" and len(parts) > 2 and parts[1] in OPERATOR_MODULES:
            m[f"operators.{parts[1]}.self_s"] += idx.self_time(s)
    for j in pass_jobs.values():
        s = idx.by_id.get(j["span"])
        if s is not None and s["layer"] == "operators":
            mod = s["name"].split(".")[1]
            if mod in OPERATOR_MODULES:
                m[f"operators.{mod}.jobs"] += 1

    # sources and sinks
    m["sources.files.load_s"] = sum(_dur(s) for s in idx.outermost(spans, "sources.files."))
    m["sources.rest.fetch_s"] = sum(_dur(s) for s in idx.outermost(spans, "sources.rest."))
    kind = {o["id"]: o["kind"] for o in traced["ops"]}
    writes = [j for j in pass_jobs.values() if j["out_rows"] > 0]
    m["sinks.write_s"] = union_len(
        [(j["t0"], j["t1"]) for j in writes if kind.get(j["op"]) != "rerun"]
    )
    m["sinks.rerun_s"] = sum(o["wall_s"] for o in traced["ops"] if o["kind"] == "rerun")
    m["sinks.rows_written"] = sum(j["out_rows"] for j in writes)
    m["sinks.files"] = _count_files(wl.sink_dirs())
    if m["sinks.rows_written"]:
        m["sinks.bytes_per_row"] = sum(j["out_bytes"] for j in writes) / m["sinks.rows_written"]

    # streaming: drains and the listener's micro-batch progress
    m["streaming.drain_s"] = sum(_dur(s) for s in spans if s["name"] == "streaming.drain")
    prog = [p for p in progress if traced_at(p["t"])]
    m["streaming.batch_s"] = sum(p["batch_ms"] for p in prog) / 1000.0
    if m["streaming.batch_s"]:
        m["streaming.input_rows_per_s"] = sum(p["rows"] for p in prog) / m["streaming.batch_s"]
    m["streaming.state_rows"] = max((p["state_rows"] for p in prog), default=0)

    # pipelines: ETL runs
    m["pipelines.etl.run_s"] = sum(
        _dur(s) for s in idx.outermost(spans, "pipelines.etl.run_recently_played_etl")
    )
    m["trace.overhead_s"] = traced["wall"] - untraced_wall
    m["spark.peak_rss_mb"] = rss_mb

    # per-operation coverage of the op's wall time by plans / plan / exec
    per_op = []
    for o in traced["ops"]:
        op_spans = [s for s in spans if s["op"] == o["id"]]

        def share(name, op_spans=op_spans, wall=o["wall_s"]):
            return sum(_dur(s) for s in op_spans if s["name"] == name) / max(wall, 1e-9)

        op_jobs = [j for j in pass_jobs.values() if j["op"] == o["id"]]
        cons = [s for s in op_spans if s["name"] == "plans.construct"]
        per_op.append({
            "op": o["label"], "kind": o["kind"], "wall_s": o["wall_s"],
            "plans_share": share("plans.construct"),
            "spark_plan_share": share("spark.plan"),
            "spark_exec_share": share("spark.exec"),
            "construct_jobs": sum(len(eager.get(s["id"], [])) for s in cons),
            "construct_job_share": sum(
                union_len(eager.get(s["id"], []), s["t0"], s["t1"]) for s in cons
            ) / max(o["wall_s"], 1e-9),
            "jobs": len(op_jobs),
        })
    return m, per_op
