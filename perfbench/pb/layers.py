"""Per-layer metrics of a traced run.

Layer times are self times (pb/analysis.self_times): a span's duration
minus the part covered by its child spans and by the Spark jobs its
operation ran. Jobs, tasks and Catalyst records come from Spark's public
listeners, registered by the harness for the timed phase only.
"""
import datetime as dt
import json
import os

from . import analysis

STREAM_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets"]


def _jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def _epoch_us(iso):
    t = dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)


def ingest_ops(progress):
    """Micro-batches as operations, with their progress phases laid out
    as consecutive spans from the trigger start, in execution order."""
    ops, spans = [], []
    for p in progress:
        d = p["durationMs"]
        start = _epoch_us(p["timestamp"])
        end = start + d.get("triggerExecution", 0) * 1000
        op = "b%d" % p["batchId"]
        ops.append({"op": op, "kind": "batch", "name": op, "start": start,
                    "end": end, "ok": True})
        t = start
        for i, ph in enumerate(STREAM_PHASES):
            if ph in d:
                e = min(end, t + d[ph] * 1000)
                spans.append({"id": f"{op}.{i}", "parent": -1, "op": op,
                              "name": "streaming." + ph, "start": t, "end": e})
                t = e
    return ops, spans


def per_layer(workload, run, marks, cores, gates):
    """({metric: (value, unit)}, [detail lines]) for a traced run."""
    out = os.path.join(run, "out")
    ops = _jsonl(os.path.join(out, "ops.jsonl"))
    spans = _jsonl(os.path.join(out, "spans.jsonl"))
    jobs = _jsonl(os.path.join(out, "jobs.jsonl"))
    tasks = _jsonl(os.path.join(out, "tasks.jsonl"))
    qes = _jsonl(os.path.join(out, "qe.jsonl"))
    # micro-batches that ran (idle triggers have no addBatch phase), as
    # the StreamingQueryListener saw them
    progress = [p for p in _jsonl(os.path.join(out, "progress_listener.jsonl"))
                if "addBatch" in p["durationMs"]]
    if workload == "ingest_stream":
        ops, spans = ingest_ops(progress)
        for j in jobs:
            j["op"] = "b" + j["batch"] if j["batch"] else ""
    else:
        for j in jobs:
            j["op"] = int(j["op"]) if j["op"] else ""
        for t in tasks:
            t["op"] = int(t["op"]) if t["op"] and t["op"][0] != "b" else t["op"]
    ts, te = marks["timed_start_us"], marks["timed_end_us"]

    # self-time accounting per operation
    shares, span_jobs, residual = {}, {}, 0
    jobs_by_op, spans_by_op = {}, {}
    for j in jobs:
        jobs_by_op.setdefault(j["op"], []).append(j)
    for s in spans:
        spans_by_op.setdefault(s["op"], []).append(s)
    gap_us = 0
    for o in ops:
        oj = jobs_by_op.get(o["op"], [])
        sh = analysis.self_times(o["start"], o["end"], spans_by_op.get(o["op"], []),
                                 [(j["start"], j["end"]) for j in oj])
        residual = max(residual, abs(sum(sh.values()) - (o["end"] - o["start"])))
        for k, v in sh.items():
            shares[k] = shares.get(k, 0) + v
            if k[0] != "job":
                gap_us += v
        for j in oj:
            inner = [s for s in spans_by_op.get(o["op"], [])
                     if s["start"] <= j["start"] < s["end"]]
            name = min(inner, key=lambda s: s["end"] - s["start"])["name"] \
                if inner else None
            span_jobs[name] = span_jobs.get(name, 0) + 1

    def self_ms(name):
        return shares.get(("self", name), 0) / 1000

    tsum = {}
    for t in tasks:
        for k, v in t.items():
            if k != "op":
                tsum[k] = tsum.get(k, 0) + v
    qin = [q for q in qes if q["analysis"] and ts <= q["analysis"][0] <= te]

    def phase_ms(name):
        return sum((q[name][1] - q[name][0]) / 1000 for q in qin if q[name])

    m = {
        "sqlfront.lex_ms": (self_ms("sqlfront.lex"), "ms"),
        "sqlfront.parse_ms": (self_ms("sqlfront.parse"), "ms"),
        "sqlfront.tokens": (marks.get("tokens", 0), "count"),
        "exec.compile_ms": (self_ms("exec.compile"), "ms"),
        "exec.compile_jobs": (span_jobs.get("exec.compile", 0), "count"),
        "catalog.write_ms": (self_ms("catalog.write"), "ms"),
        "catalog.write_jobs": (span_jobs.get("catalog.write", 0), "count"),
        "catalog.managed_rows": (sum(len(s["rows"] or []) for s in _jsonl(
            os.path.join(out, "final_state.jsonl"))), "count"),
        "catalyst.analysis_ms": (phase_ms("analysis"), "ms"),
        "catalyst.optimization_ms": (phase_ms("optimization"), "ms"),
        "catalyst.planning_ms": (phase_ms("planning"), "ms"),
        "catalyst.actions": (len(qin), "count"),
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (tsum.get("stages", 0), "count"),
        "spark.tasks": (tsum.get("tasks", 0), "count"),
        "spark.task_run_ms": (tsum.get("run_ms", 0), "ms"),
        "spark.task_cpu_ms": (tsum.get("cpu_ms", 0), "ms"),
        "spark.gc_ms": (tsum.get("gc_ms", 0), "ms"),
        "spark.core_busy_ratio": (tsum.get("run_ms", 0) / ((te - ts) / 1000 * cores),
                                  "ratio"),
        "spark.driver_gap_ms": (gap_us / 1000, "ms"),
        "spark.shuffle_write_bytes": (tsum.get("shuffle_write", 0), "B"),
        "spark.shuffle_read_bytes": (tsum.get("shuffle_read", 0), "B"),
        "spark.spill_bytes": (tsum.get("spill", 0), "B"),
        "sources.input_bytes": (tsum.get("input_bytes", 0), "B"),
        "sources.input_records": (tsum.get("input_records", 0), "count"),
        "ext.build_ms": (self_ms("ext.build"), "ms"),
        "ext.build_jobs": (span_jobs.get("ext.build", 0), "count"),
        "ext.action_ms": (self_ms("ext.action"), "ms"),
        "ext.action_jobs": (span_jobs.get("ext.action", 0), "count"),
        "functions.interpreted_nodes": (sum(q["interpreted"] for q in qin), "count"),
        "functions.exchanges": (sum(q["exchanges"] for q in qin), "count"),
        "cache.storage_peak_bytes": (marks.get("storage_peak_bytes", 0), "B"),
        "cache.persisted_at_end": (marks.get("persisted_at_end", 0), "count"),
    }
    m.update(_streaming(run, progress, jobs))
    detail = [f"accounting: {len(ops)} operations, max |sum of shares - wall| "
              f"= {residual} us"]
    detail += _steps(workload, ops, jobs_by_op, tasks, gates, m)
    return m, detail


def _streaming(run, progress, jobs):
    def total(ph):
        return sum(p["durationMs"].get(ph, 0) for p in progress)
    sched = _jsonl(os.path.join(run, "out", "schedule.jsonl"))
    last = progress[-1]["stateOperators"] if progress else []
    ckpt = os.path.join(run, "ckpt")
    batch_jobs = sum(1 for j in jobs if j["op"])
    return {
        "streaming.batches": (len(progress), "count"),
        "streaming.input_rows": (sum(p["numInputRows"] for p in progress), "count"),
        "streaming.trigger_ms": (total("triggerExecution"), "ms"),
        "streaming.planning_ms": (total("queryPlanning"), "ms"),
        "streaming.getbatch_ms": (total("getBatch"), "ms"),
        "streaming.addbatch_ms": (total("addBatch"), "ms"),
        "streaming.walcommit_ms": (total("walCommit"), "ms"),
        "streaming.commit_ms": (total("commitOffsets"), "ms"),
        "streaming.latest_offset_ms": (total("latestOffset"), "ms"),
        "streaming.jobs_per_batch": (batch_jobs / len(progress) if progress else 0,
                                     "count"),
        "streaming.state_rows": (sum(s.get("numRowsTotal", 0) for s in last), "count"),
        "streaming.state_mem_bytes": (sum(s.get("memoryUsedBytes", 0) for s in last),
                                      "B"),
        "streaming.backlog_files_max": (
            analysis.backlog_max(ckpt, sched) if sched else 0, "count"),
        "gen.lag_ms": (max((s["moved"] - s["due"] for s in sched), default=0) / 1000,
                       "ms"),
    }


def _steps(workload, ops, jobs_by_op, tasks, gates, m):
    """`step.<gate>_s` plus one detail line per step with its jobs,
    shuffle bytes and task time."""
    tasks_by_op = {t["op"]: t for t in tasks}
    by_gate = {o["name"]: o for o in ops} if workload == "llm_batch" else {}
    lines = []
    for g in gates:
        o = by_gate.get(g)
        m[f"step.{g}_s"] = ((o["end"] - o["start"]) / 1e6 if o else 0.0, "s")
        if o:
            t = tasks_by_op.get(o["op"], {})
            lines.append("step " + json.dumps({
                "gate": g, "s": m[f"step.{g}_s"][0],
                "jobs": len(jobs_by_op.get(o["op"], [])),
                "shuffle_bytes": t.get("shuffle_write", 0) + t.get("shuffle_read", 0),
                "task_run_ms": t.get("run_ms", 0)}))
    return lines
