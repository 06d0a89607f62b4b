"""Turns the raw run record the JVM harness writes into the benchmark's
end-to-end and per-layer metrics, spans and the reconciliation check.

Times in the record are epoch milliseconds. Per-layer counts and times
are per timed pass (totals divided by the number of passes), so they add
up to the work behind one `rows_per_s` pass.
"""
import math
import statistics

MB = 1048576.0


def nearest_rank(values, q):
    """The q-quantile (0 < q <= 1) of `values` by the nearest-rank rule."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def tail_percentile(values, q, min_beyond=10):
    """The q-quantile, or None when fewer than `min_beyond` samples lie
    beyond it (a tail percentile needs at least ten samples past it)."""
    if not values:
        return None
    v = nearest_rank(values, q)
    beyond = sum(1 for x in values if x > v)
    return v if beyond >= min_beyond else None


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def gap_ms(action_start, action_end, jobs):
    """Time in an op's action phase during which no job was running."""
    return (action_end - action_start) - union_ms(jobs, action_start, action_end)


def rows_per_s(rows_per_pass, pass_seconds):
    """Declared input rows of one pass over the median pass wall time."""
    return rows_per_pass / statistics.median(pass_seconds)


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - union_ms(children, span[0], span[1])


def timed_ops(record):
    return [o for o in record["ops"] if o["pass"] >= 0]


def op_samples(record):
    """Latency samples in seconds: one per op, or one per micro-batch for
    streaming ops."""
    out = []
    for o in timed_ops(record):
        if o["batches"]:
            out.extend(b["ms"] / 1000.0 for b in o["batches"])
        else:
            out.append((o["end_ms"] - o["start_ms"]) / 1000.0)
    return out


def pass_seconds(record):
    by_pass = {}
    for o in timed_ops(record):
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + (o["end_ms"] - o["start_ms"]) / 1000.0
    return [by_pass[p] for p in sorted(by_pass)]


def pass_rows(record):
    rows = {}
    for o in timed_ops(record):
        rows[o["pass"]] = rows.get(o["pass"], 0) + o["rows"]
    return statistics.median(rows.values())


def counts(record):
    """(attempted, failed): every op run, set-up and warm-up included; a
    streaming op counts once per expected micro-batch."""
    attempted = sum(o["attempts"] for o in record["ops"])
    failed = sum(o["attempts"] for o in record["ops"] if o["error"])
    return attempted, failed


def end_to_end(record):
    passes = len(record["passes"])
    samples = op_samples(record)
    return {
        "setup_s": statistics.median(s["setup_ms"] for s in record["setups"]) / 1000.0,
        "rows_per_s": rows_per_s(pass_rows(record), pass_seconds(record)),
        "op_p50_s": statistics.median(samples),
        "cpu_s": record["timed"]["cpu_s"] / passes,
        "heap_retained_mb": record["heap_retained_mb"],
    }


def _in(t, lo, hi, slack=5.0):
    return lo - slack <= t <= hi + slack


def attribute(record):
    """Assign listener jobs, stages and query executions to timed ops by
    time; ops are sequential (one closed-loop client), so an event that
    starts inside an op's interval belongs to it."""
    lst = record["listeners"]
    ops = timed_ops(record)
    jobs = [j for j in lst["jobs"] if "end_ms" in j]
    per_op = []
    for o in ops:
        oj = [j for j in jobs if _in(j["start_ms"], o["start_ms"], o["end_ms"])]
        ids = {j["id"] for j in oj}
        os_ = [s for s in lst["stages"] if s["job"] in ids]
        oq = []
        for q in lst["queries"]:
            starts = [p["start_ms"] for p in q["phases"].values()]
            t = min(starts) if starts else q["done_ms"]
            if _in(t, o["start_ms"], o["end_ms"]):
                oq.append(q)
        per_op.append((o, oj, os_, oq))
    return per_op


def reconcile(per_op):
    """Per op: build + job-covered action time + gap against op wall.
    Returns the largest relative deviation."""
    worst = 0.0
    for o, jobs, _, _ in per_op:
        wall = o["end_ms"] - o["start_ms"]
        if wall <= 0:
            continue
        build = o["build_end_ms"] - o["start_ms"]
        action_jobs = [(j["start_ms"], j["end_ms"]) for j in jobs
                       if j["start_ms"] >= o["build_end_ms"] - 1.0]
        covered = union_ms(action_jobs)
        gap = gap_ms(o["build_end_ms"], o["end_ms"], action_jobs)
        worst = max(worst, abs(build + covered + gap - wall) / wall)
    return worst


def _streaming(record):
    lst = record["listeners"]
    timed = [(o["start_ms"], o["end_ms"]) for o in timed_ops(record) if o["batches"]]
    runs = []
    for lo, hi in timed:
        bs = sorted((b for b in lst["batches"]
                     if b["rows"] > 0 and _in(b["start_ms"], lo, hi)),
                    key=lambda b: b["start_ms"])
        if bs:
            runs.append(bs)
    return runs


def per_layer(record):
    passes = len(record["passes"])
    per_op = attribute(record)
    cores = record["cores"]
    jobs = [j for _, js, _, _ in per_op for j in js]
    stages = [s for _, _, ss, _ in per_op for s in ss]
    queries = [q for _, _, _, qs in per_op for q in qs]
    wall = sum(o["end_ms"] - o["start_ms"] for o, _, _, _ in per_op)

    def tot(key, div=1.0):
        return sum(s.get(key, 0) for s in stages) / div / passes

    build = sum(o["build_end_ms"] - o["start_ms"] for o, _, _, _ in per_op)
    eager = sum(1 for o, js, _, _ in per_op for j in js if j["start_ms"] < o["build_end_ms"] - 1.0)
    gaps = sum(gap_ms(o["build_end_ms"], o["end_ms"],
                      [(j["start_ms"], j["end_ms"]) for j in js])
               for o, js, _, _ in per_op)
    plan_ms = sum(p["end_ms"] - p["start_ms"] for q in queries
                  for k, p in q["phases"].items()
                  if k in ("analysis", "optimization", "planning"))
    max_rows = sum(max([q["max_rows"] for q in qs] or [0]) for _, _, _, qs in per_op)
    result_rows = sum(o["result_rows"] for o, _, _, _ in per_op)
    tasks = sum(s["tasks"] for s in stages)
    retries = sum(s["failed_tasks"] + (1 if s["attempt"] > 0 else 0) for s in stages)
    skews = [max(s["task_ms"]) / max(1.0, statistics.median(s["task_ms"]))
             for s in stages if len(s["task_ms"]) >= 2]
    run_ms = tot("run_ms") * passes

    batches = _streaming(record)
    flat = [b for run in batches for b in run]

    def dmed(*keys):
        vals = [sum(b["durations"].get(k, 0) for k in keys) for b in flat]
        return statistics.median(vals) if vals else 0.0

    early, late = [], []
    for run in batches:
        k = max(1, len(run) // 3)
        early += [b["durations"].get("triggerExecution", 0) for b in run[:k]]
        late += [b["durations"].get("triggerExecution", 0) for b in run[-k:]]
    late_early = (statistics.median(late) / statistics.median(early)
                  if early and late and statistics.median(early) > 0 else 0.0)

    setups = record["setups"]
    return {
        "session.start_ms": statistics.median(s["session_ms"] for s in setups),
        "session.stage_ms": statistics.median(s["stage_ms"] for s in setups),
        "session.first_op_ms": statistics.median(s["first_op_ms"] for s in setups),
        "queries.build_ms": build / passes,
        "queries.eager_jobs": eager / passes,
        "queries.plan_ms": plan_ms / passes,
        "queries.plan_nodes": sum(q["nodes"] for q in queries) / passes,
        "queries.rows_amplification": max_rows / max(1, result_rows),
        "sched.jobs": len(jobs) / passes,
        "sched.stages": len(stages) / passes,
        "sched.tasks": tasks / passes,
        "sched.gap_ms": gaps / passes,
        "sched.retry_ratio": retries / max(1, tasks),
        "operators.task_ms": tot("run_ms"),
        "operators.cpu_ms": tot("cpu_ns", 1e6),
        "operators.gc_ms": tot("gc_ms"),
        "operators.util": run_ms / max(1.0, wall * cores),
        "operators.skew": max(skews or [1.0]),
        "sources.read_mb": tot("input_bytes", MB),
        "sources.read_rows": tot("input_records"),
        "sources.write_mb": tot("output_bytes", MB),
        "sources.write_files": sum(q["files_written"] for q in queries) / passes,
        "shuffle.write_mb": tot("shuffle_write_bytes", MB),
        "shuffle.read_mb": tot("shuffle_read_bytes", MB),
        "shuffle.fetch_wait_ms": tot("fetch_wait_ms"),
        "shuffle.records": tot("shuffle_read_records"),
        "memory.spill_mb": tot("disk_spill_bytes", MB),
        "memory.peak_task_mb": max([s["peak_task_bytes"] for s in stages] or [0]) / MB,
        "storage.rdds_left": record["storage"]["rdds_left"],
        "storage.cached_mb_max": max([o["cached_mb"] for o in timed_ops(record)] or [0.0]),
        "storage.tmp_mb_left": record["storage"]["tmp_mb_left"],
        "streaming.batch_ms": dmed("triggerExecution"),
        "streaming.add_batch_ms": dmed("addBatch"),
        "streaming.plan_ms": dmed("queryPlanning"),
        "streaming.commit_ms": dmed("walCommit", "commitOffsets"),
        "streaming.late_early_ratio": late_early,
        "jvm.gc_ms": record["timed"]["gc_ms"] / passes,
    }


def spans(record):
    """run → pass → op → build/action → job → stage; a streaming op's jobs
    sit under the micro-batch they ran in. Each span has its self time
    and the run-wide op id."""
    out = []

    def add(name, start, end, parent, op_id, **extra):
        out.append(dict(id=len(out), name=name, start_ms=start, end_ms=end,
                        parent=parent, op=op_id, **extra))
        return len(out) - 1

    t = record["timed"]
    run = add("run", t["start_ms"], t["end_ms"], None, None)
    pass_ids = {p["pass"]: add("pass", p["start_ms"], p["end_ms"], run, None, n=p["pass"])
                for p in record["passes"]}
    traced = record.get("listeners") is not None
    per_op = attribute(record) if traced else [(o, [], [], []) for o in timed_ops(record)]
    for op_id, (o, jobs, stages, _) in enumerate(per_op):
        op = add("op", o["start_ms"], o["end_ms"], pass_ids[o["pass"]], op_id, op_name=o["op"])
        b = add("build", o["start_ms"], o["build_end_ms"], op, op_id)
        a = add("action", o["build_end_ms"], o["end_ms"], op, op_id)
        batches = [(bt["start_ms"], bt["start_ms"] + bt["ms"],
                    add("microbatch", bt["start_ms"], bt["start_ms"] + bt["ms"], a, op_id))
                   for bt in o["batches"]]
        for j in jobs:
            parent = b if j["start_ms"] < o["build_end_ms"] - 1.0 else a
            parent = next((i for lo, hi, i in batches if _in(j["start_ms"], lo, hi, 0.0)), parent)
            jid = add("job", j["start_ms"], j["end_ms"], parent, op_id, job=j["id"])
            for s in stages:
                if s["job"] == j["id"] and s["end_ms"] > 0:
                    add("stage", s["start_ms"], s["end_ms"], jid, op_id, stage=s["id"])
    kids = {}
    for s in out:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in out:
        s["self_ms"] = self_time((s["start_ms"], s["end_ms"]), kids.get(s["id"], []))
    return out
