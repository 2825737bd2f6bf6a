"""Turns the runner's raw dump (`raw.json`) into the benchmark's metrics.

End-to-end metrics come from every timed op; per-layer metrics come from the
timed ops of traced passes only, each listener record being charged to the
op whose wall interval holds it.
"""
import bisect
import statistics

END_TO_END = ["latency_p50_s", "latency_tail_s", "ops_per_s", "input_mb_s", "setup_s",
              "peak_rss_mb"]
UNITS = {"latency_p50_s": "s", "latency_tail_s": "s", "ops_per_s": "1/s", "input_mb_s": "MB/s",
         "setup_s": "s", "peak_rss_mb": "MB"}


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it, but
    never below the upper median (which it falls back to when there are too
    few samples for a higher percentile to qualify).

    Returns (value, percentile, samples above it)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    i = max(n - 1 - beyond, n // 2)
    pct = 100.0 * i / (n - 1) if n > 1 else 100.0
    return xs[i], pct, n - 1 - i


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the time its children cover, each child
    clipped to the span. Spans and children are (start, end) pairs."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


class OpIndex:
    """Finds the op whose [start, end] interval holds a timestamp."""

    def __init__(self, ops):
        self.ops = sorted(ops, key=lambda o: o["start"])
        self.starts = [o["start"] for o in self.ops]

    def find(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.ops[i]["end"]:
            return self.ops[i]
        return None


def end_to_end(raw, input_bytes):
    timed = [o for o in raw["ops"] if o["phase"] == "timed"]
    lat = [(o["end"] - o["start"]) / 1000.0 for o in timed]
    ok = [o for o in timed if o["error"] is None]
    p50 = statistics.median(lat)
    tail_v, tail_pct, tail_n = tail(lat)
    values = {
        "latency_p50_s": p50,
        "latency_tail_s": tail_v,
        "ops_per_s": len(ok) / raw["timed_wall_s"],
        "input_mb_s": input_bytes / 1e6 / p50,
        "setup_s": statistics.median(raw["setup_s"]),
        "peak_rss_mb": raw["vmhwm_kb"] / 1024.0,
    }
    context = {"latency_tail_percentile": tail_pct, "latency_tail_samples_beyond": tail_n,
               "timed_samples": len(lat)}
    return values, context


def per_layer(raw):
    """Per-op means (sums divided by traced ops) of each layer's numbers,
    plus ratios taken over the sums."""
    ops = [o for o in raw["ops"] if o["phase"] == "timed" and o["traced"]]
    untraced = [o for o in raw["ops"] if o["phase"] == "timed" and not o["traced"]]
    n = len(ops)
    idx = OpIndex(ops)
    by_op = {o["id"]: {"jobs": [], "tasks": [], "qes": [], "progress": [], "spans": []}
             for o in ops}

    def charge(kind, t, rec):
        o = idx.find(t)
        if o is not None:
            by_op[o["id"]][kind].append(rec)

    for j in raw["jobs"]:
        charge("jobs", j[1], j)
    for t in raw["tasks"]:
        charge("tasks", t[1], t)
    for q in raw["qes"]:
        charge("qes", q[0], q)
    for p in raw["progress"]:
        charge("progress", p[0], p)
    for s in raw["spans"]:
        if s[5] in by_op:
            by_op[s[5]]["spans"].append(s)

    tot = dict.fromkeys([
        "sources.input_bytes", "sources.scan_task_s", "sources.sink_s",
        "sources.sink_bytes", "operators.build_s", "operators.eager_jobs", "plans.plan_s",
        "plans.qe_count", "driver.outside_jobs_s", "spark.scheduler.jobs",
        "spark.scheduler.stages", "spark.scheduler.tasks", "spark.scheduler.sched_delay_s",
        "spark.executor.run_s", "spark.executor.cpu_s", "spark.executor.gc_s",
        "spark.shuffle.write_bytes", "spark.shuffle.fetch_wait_s", "spark.shuffle.spill_bytes",
        "streaming.batches", "streaming.add_batch_s", "streaming.wal_commit_s",
        "streaming.state_commit_s", "streaming.state_rows", "sources.v2.files_written",
        "sources.v2.bytes_written"], 0.0)
    partial_in = partial_out = empty_batches = 0
    skews = []
    for o in ops:
        rec = by_op[o["id"]]
        job_iv = [(max(j[1], o["start"]), min(j[2], o["end"])) for j in rec["jobs"]]
        tot["driver.outside_jobs_s"] += self_time((o["start"], o["end"]), job_iv) / 1000.0
        tot["spark.scheduler.jobs"] += len(rec["jobs"])
        build = [(s[2], s[3]) for s in rec["spans"] if s[1] == "operators.build"]
        tot["operators.build_s"] += sum(e - s for s, e in build) / 1000.0
        tot["operators.eager_jobs"] += sum(
            1 for j in rec["jobs"] if any(s <= j[1] <= e for s, e in build))
        tot["sources.sink_s"] += sum(
            s[3] - s[2] for s in rec["spans"] if s[1] == "sources.sink") / 1000.0
        tot["sources.sink_bytes"] += o["sink_bytes"]
        tot["sources.v2.files_written"] += o["catalog_files"]
        tot["sources.v2.bytes_written"] += o["catalog_bytes"]
        for q in rec["qes"]:
            tot["plans.plan_s"] += q[1] / 1000.0
            partial_in += q[2]
            partial_out += q[3]
        tot["plans.qe_count"] += len(rec["qes"])
        stages = {}
        for t in rec["tasks"]:
            stages.setdefault(t[0], []).append(t[3])
            tot["spark.executor.run_s"] += t[3] / 1000.0
            tot["spark.executor.cpu_s"] += t[4] / 1000.0
            tot["spark.executor.gc_s"] += t[5] / 1000.0
            tot["spark.scheduler.sched_delay_s"] += t[6] / 1000.0
            tot["sources.input_bytes"] += t[7]
            if t[7] > 0:
                tot["sources.scan_task_s"] += t[3] / 1000.0
            tot["spark.shuffle.write_bytes"] += t[8]
            tot["spark.shuffle.fetch_wait_s"] += t[9] / 1000.0
            tot["spark.shuffle.spill_bytes"] += t[10]
        tot["spark.scheduler.stages"] += len(stages)
        tot["spark.scheduler.tasks"] += len(rec["tasks"])
        worst = [max(r) / statistics.median(r) for r in stages.values()
                 if len(r) > 1 and statistics.median(r) > 0]
        skews.append(max(worst, default=1.0))
        for p in rec["progress"]:
            tot["streaming.batches"] += 1
            tot["streaming.add_batch_s"] += p[3] / 1000.0
            tot["streaming.wal_commit_s"] += p[4] / 1000.0
            tot["streaming.state_commit_s"] += p[5] / 1000.0
            tot["streaming.state_rows"] += p[6]
            empty_batches += p[2] == 0
    out = {k: v / n for k, v in tot.items()} if n else tot
    out["Sessions.build_s"] = statistics.median(
        [(s[3] - s[2]) / 1000.0 for s in raw["spans"] if s[1] == "Sessions.local"])
    cpu, run = tot["spark.executor.cpu_s"], tot["spark.executor.run_s"]
    out["spark.executor.cpu_over_run"] = cpu / run if run else 0.0
    out["operators.combine_ratio"] = partial_out / partial_in if partial_in else 0.0
    out["spark.shuffle.skew"] = statistics.median(skews) if skews else 1.0
    batches = tot["streaming.batches"]
    out["streaming.empty_batch_ratio"] = empty_batches / batches if batches else 0.0
    for k, v in raw["leaks"].items():
        out[k] = v
    out["host.loadavg_1m_start"] = raw["loadavg_start"]
    out["host.loadavg_1m_end"] = raw["loadavg_end"]
    if ops and untraced:
        out["trace.overhead_ratio"] = (
            statistics.median((o["end"] - o["start"]) for o in ops) /
            statistics.median((o["end"] - o["start"]) for o in untraced))
    else:
        out["trace.overhead_ratio"] = 1.0
    return out


# The unit of each per-layer metric, by name suffix or full name.
def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("_over_run") or name.endswith(".skew"):
        return "ratio"
    if name.startswith("host.loadavg"):
        return "load"
    return "count"
