"""Pure functions over the run records: percentiles, span self times and
the ingest file-to-batch latency mapping. Times are epoch microseconds."""
import json
import os
import re

import numpy as np


def tail_percentile(n):
    """The highest of p95/p90/p75/p50 that leaves at least ten of `n`
    samples beyond it."""
    for p in (95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


def pct(values, p):
    return float(np.percentile(np.asarray(values, dtype=float), p))


def _union(intervals):
    """Merge overlapping [start, end) intervals."""
    out = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def self_times(op_start, op_end, spans, jobs):
    """Split one operation's wall time into exclusive shares.

    `spans` are dicts with id, parent, name, start, end (properly nested,
    one thread); `jobs` are (start, end) intervals of the Spark jobs the
    operation ran. Every instant of [op_start, op_end) is owned by exactly
    one key:
      - ("job", span_name or None): a job runs; the innermost span then
        open is the job's parent (None outside any span);
      - ("self", span_name): no job runs and the span is innermost;
      - ("unspanned", None): neither.
    Returns {key: microseconds}; the values sum to op_end - op_start.
    """
    cuts = {op_start, op_end}
    for s in spans:
        cuts.update((s["start"], s["end"]))
    job_iv = _union([(max(a, op_start), min(b, op_end)) for a, b in jobs])
    for a, b in job_iv:
        cuts.update((a, b))
    cuts = sorted(c for c in cuts if op_start <= c <= op_end)
    depth = {}
    by_id = {s["id"]: s for s in spans}

    def level(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else level(p) + 1
        return depth[s["id"]]

    out = {}
    ji = 0
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        open_spans = [s for s in spans if s["start"] <= mid < s["end"]]
        inner = max(open_spans, key=level)["name"] if open_spans else None
        while ji < len(job_iv) and job_iv[ji][1] <= mid:
            ji += 1
        in_job = ji < len(job_iv) and job_iv[ji][0] <= mid < job_iv[ji][1]
        if in_job:
            key = ("job", inner)
        elif inner is not None:
            key = ("self", inner)
        else:
            key = ("unspanned", None)
        out[key] = out.get(key, 0) + (b - a)
    return out


_BATCH_FILE = re.compile(r"^(\d+)(\.compact)?$")


def file_batches(ckpt_dir):
    """{file name: batch id} from the file source log
    `<ckpt>/sources/0/<batch>[.compact]`; each line after the version
    header is one JSON entry with the file's path and batchId."""
    src = os.path.join(ckpt_dir, "sources", "0")
    out = {}
    for name in os.listdir(src):
        if not _BATCH_FILE.match(name):
            continue
        with open(os.path.join(src, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(ckpt_dir):
    """{batch id: commit time (epoch us)} from `<ckpt>/commits/<batch>`
    modification times; the commit marker is the batch's last write."""
    d = os.path.join(ckpt_dir, "commits")
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns // 1000
            for n in os.listdir(d) if n.isdigit()}


def committed_files(ckpt_dir):
    """Names of the files consumed by a committed micro-batch."""
    ct = commit_times(ckpt_dir)
    return {f for f, b in file_batches(ckpt_dir).items() if b in ct}


def shard_latencies(ckpt_dir, schedule):
    """Per shard, microseconds from its scheduled arrival to the commit
    of the micro-batch that consumed it; None for a shard never
    committed. `schedule` rows carry file, due and moved."""
    fb = file_batches(ckpt_dir)
    ct = commit_times(ckpt_dir)
    out = []
    for s in schedule:
        b = fb.get(s["file"])
        out.append(ct[b] - s["due"] if b is not None and b in ct else None)
    return out


def backlog_max(ckpt_dir, schedule):
    """Most shards that had landed but were not yet committed, seen at
    any arrival."""
    fb = file_batches(ckpt_dir)
    ct = commit_times(ckpt_dir)
    done = [ct.get(fb.get(s["file"]), float("inf")) for s in schedule]
    return max((sum(1 for d in done[:i + 1] if d > s["moved"])
                for i, s in enumerate(schedule)), default=0)
