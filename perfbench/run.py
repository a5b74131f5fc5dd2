#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness into `.bench_build/` (see pb/build.py). Each run then generates its
inputs from the seed, starts a fresh JVM that sets up and measures the
workload for the given seconds, checks every output against DuckDB, and
prints as its last line one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. README.md describes the workloads.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb import analysis, build, check, gen, sqlgen  # noqa: E402
from pb.layers import per_layer  # noqa: E402

JVM_HEAP = "3g"
RUN_TIMEOUT_S = 175

# The pipeline steps of `llm_batch`, in gate-id order (README.md gives
# the reasons for each gate left out).
GATES = ["q26_dedup_minhash", "q107_ivfpq_adc",
         "q193_dedup_minhash_collapsed", "q234_neardup_index_durable"]

LLM_DOCS, LLM_VECS = 3_000, 1_500
# ingest_stream: after 8 warm-up shards (set-up), shards of 25 documents
# land at 20 shards/s (500 rows/s, under half the capacity the probes
# measure); after the open loop, 3 probes measure capacity, each one
# 1,000-row file landed by a single move, so it is one micro-batch.
INGEST_DOCS_PER_SHARD, INGEST_RATE = 25, 20.0
INGEST_PRIME_SHARDS, INGEST_PROBES, INGEST_PROBE_ROWS = 8, 3, 1_000
SQL_SF = 0.1
# The tail percentile each workload reports as tail_ms, fixed so runs
# compare like for like (README.md gives the sample counts behind them).
TAIL = {"sql_session": 75, "llm_batch": 75, "ingest_stream": 95}


def cores():
    return len(os.sched_getaffinity(0))


def prepare(workload, seed, seconds, run):
    """Write the run's inputs under `run`; return extra JVM arguments."""
    if workload != "ingest_stream":
        gen.write_dataset(os.path.join(run, "warm"), seed + 7_919, 0.001, 300,
                          200)
    if workload == "sql_session":
        gen.write_dataset(os.path.join(run, "data"), seed, SQL_SF, 5_000, 2_000)
        sqlgen.write(os.path.join(run, "statements.txt"),
                     os.path.join(run, "statements_duck.txt"),
                     sqlgen.stream(seed, SQL_SF, 4_000))
        for name, sf in (("warm_small.txt", 0.001), ("warm_data.txt", SQL_SF)):
            with open(os.path.join(run, name), "w") as fh:
                fh.write("\n".join(sqlgen.warmup(seed + 7_919, sf)) + "\n")
        return []
    if workload == "llm_batch":
        gen.write_dataset(os.path.join(run, "data"), seed, 0.001, LLM_DOCS,
                          LLM_VECS)
        return [f"gates={','.join(GATES)}"]
    if workload == "ingest_stream":
        sizes = ([INGEST_DOCS_PER_SHARD]
                 * (INGEST_PRIME_SHARDS + int(INGEST_RATE * seconds))
                 + [INGEST_PROBE_ROWS] * INGEST_PROBES)
        docs = gen.write_dataset(os.path.join(run, "data"), seed, 0.001,
                                 sum(sizes), 200)
        gen.write_shards(docs, os.path.join(run, "shards"), sizes)
        os.makedirs(os.path.join(run, "landing", "documents.parquet"))
        return [f"rate={INGEST_RATE}", f"prime={INGEST_PRIME_SHARDS}",
                f"probes={INGEST_PROBES}"]
    raise SystemExit(f"unknown workload {workload}")


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def timing(values_us, p):
    """Median and p-th percentile (ms) of microsecond samples."""
    return (analysis.pct(values_us, 50) / 1000,
            analysis.pct(values_us, p) / 1000)


def end_to_end(workload, run, marks, setup_s, shard_names=()):
    """(metrics, attempted, failed, info) from the untraced records."""
    out = os.path.join(run, "out")
    ops = read_jsonl(os.path.join(out, "ops.jsonl"))
    info = {}
    if workload == "ingest_stream":
        sched = read_jsonl(os.path.join(out, "schedule.jsonl"))
        ckpt = os.path.join(run, "ckpt")
        lat = analysis.shard_latencies(ckpt, sched)
        samples = [x for x in lat if x is not None]
        # every shard, the probes' too, must reach a committed batch
        done = analysis.committed_files(ckpt)
        attempted = len(shard_names)
        failed = sum(1 for f in shard_names if f not in done)
        prog = read_jsonl(os.path.join(out, "progress.jsonl"))
        n_prime, n_open = marks["prime_batches"], marks["open_loop_batches"]
        ran = [[p for p in part if "addBatch" in p["durationMs"]]
               for part in (prog[n_prime:n_open], prog[n_open:])]
        # capacity assumes one micro-batch per probe; a probe split over
        # several batches would pay the fixed batch cost more than once
        failed += max(0, len(ran[1]) - INGEST_PROBES)
        rows = [sum(p["numInputRows"] for p in ps) for ps in ran]
        trig = [sum(p["durationMs"]["triggerExecution"] for p in ps) / 1000
                for ps in ran]
        thr = rows[1] / trig[1] if trig[1] else 0.0
        info.update(shards=len(sched), batches=len(ran[0]), input_rows=rows[0],
                    rows_per_trigger_s_at_rate=round(rows[0] / trig[0], 1)
                    if trig[0] else 0.0,
                    probe_batches=len(ran[1]), probe_rows=rows[1],
                    rate_shards_per_s=INGEST_RATE,
                    docs_per_shard=INGEST_DOCS_PER_SHARD)
    else:
        attempted = len(ops)
        failed = sum(1 for o in ops if not o["ok"])
        samples = [o["end"] - o["start"] for o in ops if o["ok"]]
        if workload == "sql_session":
            span = (ops[-1]["end"] - ops[0]["start"]) / 1e6 if ops else 0
            thr = len(ops) / span if span else 0.0
            # latency metrics are over reads (SELECT, EXPLAIN); the writes'
            # cost shows in throughput, and their latency in `info`
            writes = [o["end"] - o["start"] for o in ops
                      if o["ok"] and o["kind"] == "write"]
            samples = [o["end"] - o["start"] for o in ops
                       if o["ok"] and o["kind"] != "write"]
            if writes:
                p = analysis.tail_percentile(len(writes))
                m, t = timing(writes, p)
                info.update({"write_p50_ms": round(m, 3),
                             f"write_p{p}_ms": round(t, 3),
                             "write_n": len(writes)})
        else:
            pass_s = (ops[-1]["end"] - ops[0]["start"]) / 1e6 if ops else 0
            info["pass_s"] = round(pass_s, 3)
            thr = LLM_DOCS / pass_s if pass_s else 0.0
    # with no successful operation there is no latency; the run is then
    # failed anyway, and the zeros keep every metric present
    m, t = timing(samples, TAIL[workload]) if samples else (0.0, 0.0)
    info.update(tail_percentile=TAIL[workload], samples=len(samples))
    metrics = {"setup_s": (setup_s, "s"), "p50_ms": (m, "ms"),
               "tail_ms": (t, "ms"), "throughput_per_s": (thr, "1/s")}
    metrics["heap_live_mb"] = (marks["heap_live_bytes"] / 2**20, "MB")
    info["rss_peak_mb"] = round(marks["rss_peak_kb"] / 1024, 1)
    return metrics, attempted, failed, info


def checks(workload, run):
    """Output problems found by the DuckDB checks (outside timing)."""
    out = os.path.join(run, "out")
    if workload == "sql_session":
        return check.check_sql(run, os.path.join(run, "data"))
    if workload == "llm_batch":
        return check.check_frames(run, os.path.join(run, "data"), GATES)
    return check.check_frames(run, os.path.join(run, "data"), ["hits"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["sql_session", "llm_batch", "ingest_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    try:
        cp, build_s = build.build(".")
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    run = os.path.abspath(os.path.join(
        build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    try:
        return measure(a, cp, run, t_start, build_s)
    finally:
        shutil.rmtree(run, ignore_errors=True)


def measure(a, cp, run, t_start, build_s):
    t_setup = time.time()
    extra = prepare(a.workload, a.seed, a.seconds, run)
    shards = os.path.join(run, "shards")
    shard_names = sorted(os.listdir(shards)) if os.path.isdir(shards) else []
    cmd = (["java"] + build.java_opts(JVM_HEAP)
           + [f"-Djava.io.tmpdir={run}/tmp", "-cp", cp, "perfbench.Main",
              f"workload={a.workload}", f"run={run}", f"seconds={a.seconds}",
              f"trace={a.trace}", f"cores={cores()}"] + extra)
    log = os.path.join(run, "jvm.log")
    budget = RUN_TIMEOUT_S - (t_setup - t_start - build_s)
    with open(log, "w") as fh:
        # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle
        # files outside the run directory
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=max(30, budget - 15))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    marks_path = os.path.join(run, "out", "marks.json")
    if rc != 0 or not os.path.exists(marks_path):
        with open(log) as fh:
            print(fh.read()[-3000:], file=sys.stderr)
        print(f"perfbench: JVM run failed ({rc})", file=sys.stderr)
        return 1
    marks = read_jsonl(marks_path)[0]
    setup_s = marks["timed_start_us"] / 1e6 - t_setup
    metrics, attempted, failed, info = end_to_end(a.workload, run, marks,
                                                  setup_s, shard_names)
    problems = checks(a.workload, run)
    for where, what in problems[:20]:
        print(f"mismatch {where}: {what}")
    failed += len(problems)
    correct = not problems and failed == 0
    info.update(workload=a.workload, seed=a.seed, trace=a.trace,
                cores=cores(), build_s=round(build_s, 2),
                setup_breakdown_s={
                    "inputs": round(marks["jvm_start_us"] / 1e6 - t_setup, 3),
                    "jvm_to_spark": round((marks["spark_ready_us"]
                                           - marks["jvm_start_us"]) / 1e6, 3),
                    "warmup_and_staging": round((marks["timed_start_us"]
                                                 - marks["spark_ready_us"]) / 1e6, 3)},
                error_rate=failed / max(1, attempted))
    if a.trace:
        layer, detail = per_layer(a.workload, run, marks, cores(), GATES)
        info["e2e_under_tracing"] = {k: round(v, 4) for k, (v, _) in metrics.items()}
        for line in detail:
            print(line)
        metrics = layer
    print("info " + json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    # a SIGTERM unwinds through the finally blocks: the JVM is killed and
    # waited for, and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
