"""Per-layer metrics of a traced run, computed from the spans the harness
writes (trace.jsonl) and the facts it reports.

Benchmark spans wrap calls into the repository's layers: `entry`
(SparkEntry's registry closure), `ops` (an operator function building its
DataFrame), `tables` (Tables.*), `exec` (an action), `streaming` (starting
a stream), `ext` (Dedup probes); `op` is one client op, `probe` groups a
probe's calls and `check` holds the benchmark's own reads of a sink. Derived spans come from Spark: `exec/job` (with task
counters), `catalyst/<phase>` and `streaming/batch` (a trigger, with its
progress durations). The harness names the parent of each job from the
properties Spark tags it with: the benchmark span open on the thread that
started it, or for a stream's job, its trigger; a trigger's parent is the
span that waited for it. A Catalyst phase goes under the innermost
benchmark span or trigger that contains its start.

A span's self time is its duration minus the part of it that its
children cover. Every metric is per traced op unless its name says
otherwise; the traced pass runs a fixed amount of work, so counts repeat
exactly from run to run.
"""
import json
import statistics

MS = 1_000_000  # nanoseconds per millisecond; listener clocks tick in ms

# (name, unit) of every per-layer metric, in report order
METRICS = [
    ("tables.open_s", "s"), ("tables.open_jobs", "count"), ("tables.ts_footer_s", "s"),
    ("ops.build_s", "s"), ("ops.build_jobs", "count"),
    ("entry.sort_s", "s"),
    ("catalyst.analyze_s", "s"), ("catalyst.optimize_s", "s"), ("catalyst.plan_s", "s"),
    ("exec.wall_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.task_deser_s", "s"), ("exec.sched_wait_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.input_bytes", "bytes"), ("exec.output_bytes", "bytes"),
    ("streaming.batch_s", "s"), ("streaming.add_batch_s", "s"), ("streaming.plan_s", "s"),
    ("streaming.commit_s", "s"), ("streaming.rows_in", "count"), ("streaming.rows_out", "count"),
    ("streaming.kept_ratio", "ratio"), ("streaming.state_rows", "count"),
    ("streaming.state_bytes", "bytes"), ("streaming.store_files", "count"),
    ("streaming.store_bytes", "bytes"),
    ("ext.verify_ratio", "ratio"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("trace.overhead_frac", "ratio"),
] + [(f"self.{layer}_s", "s") for layer in
     ("client", "entry", "ops", "tables", "catalyst", "exec", "streaming", "ext")]

# counts a traced run must repeat exactly for the same seed
COUNTS = ["tables.open_jobs", "ops.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
          "streaming.rows_in", "streaming.rows_out", "streaming.kept_ratio",
          "streaming.store_files", "ext.verify_ratio"]

JOB_SUMS = {"exec.jobs": ("jobs", 1), "exec.stages": ("stages", 1), "exec.tasks": ("tasks", 1),
            "exec.task_run_s": ("run_ms", 1e-3), "exec.task_cpu_s": ("cpu_ns", 1e-9),
            "exec.task_deser_s": ("deser_ms", 1e-3), "exec.sched_wait_s": ("sched_wait_ms", 1e-3),
            "exec.shuffle_read_bytes": ("shuffle_read_bytes", 1),
            "exec.shuffle_write_bytes": ("shuffle_write_bytes", 1),
            "exec.spill_bytes": ("spill_bytes", 1), "exec.input_bytes": ("input_bytes", 1),
            "exec.output_bytes": ("output_bytes", 1)}


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def union_ns(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def place(spans):
    """Give each Catalyst phase (parent -2) the id of the innermost benchmark
    span or streaming trigger containing its start, or -1. Listener clocks
    have millisecond resolution, so containment allows 1 ms of slack."""
    containers = [s for s in spans if s["layer"] not in ("exec", "catalyst")]
    for d in spans:
        if d["parent"] != -2:
            continue
        inside = [c for c in containers
                  if c["start"] - MS <= d["start"] <= c["end"] + MS
                  and (c["end"] - c["start"]) >= (d["end"] - d["start"])]
        d["parent"] = min(inside, key=lambda c: c["end"] - c["start"])["id"] if inside else -1
    return spans


def metrics(spans, facts, untraced_lat):
    """Per-layer metrics; `untraced_lat` are the op latencies of the
    untraced timed loop, for the tracing overhead."""
    spans = place([dict(s) for s in spans])
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out = [s]
        for c in children.get(s["id"], []):
            out += subtree(c)
        return out

    def dur(s):
        return (s["end"] - s["start"]) / 1e9

    def named(layer, name=None):
        return [s for s in spans if s["layer"] == layer and (name is None or s["name"] == name)]

    def jobs_in(roots):
        return [j for r in roots for j in subtree(r) if j["layer"] == "exec" and j["name"] == "job"]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    ops = [s for s in spans if s["layer"] == "op" and s["parent"] == -1]
    n = int(facts.get("ops", len(ops))) or 1
    op_spans = [x for o in ops for x in subtree(o)]
    jobs = [x for x in op_spans if x["layer"] == "exec" and x["name"] == "job"]
    batches = [x for x in spans if x["layer"] == "streaming" and x["name"] == "batch"]

    m = {}
    for key, name in (("tables.open_s", "Tables.table"), ("tables.ts_footer_s", "Tables.longTsIsNanos")):
        m[key] = mean([dur(s) for s in named("tables", name)])
    opens = named("tables", "Tables.table")
    m["tables.open_jobs"] = len(jobs_in(opens)) / len(opens) if opens else 0.0
    builds = named("ops")
    m["ops.build_s"] = mean([dur(s) for s in builds])
    m["ops.build_jobs"] = len(jobs_in(builds)) / len(builds) if builds else 0.0

    # SparkEntry's share: registry build + run minus the bare operator's
    sort = []
    for o in ops:
        probe = [p for p in named("probe") if p["op"] == o["op"] and p["parent"] == -1]
        if probe:
            own = sum(dur(c) for c in children.get(o["id"], []) if c["layer"] in ("entry", "exec"))
            sort.append(own - sum(dur(c) for c in children.get(probe[0]["id"], [])
                                  if c["layer"] in ("ops", "exec")))
    m["entry.sort_s"] = mean(sort)

    phases = {"analysis": "catalyst.analyze_s", "optimization": "catalyst.optimize_s",
              "planning": "catalyst.plan_s"}
    for key in phases.values():
        m[key] = 0.0
    for x in op_spans:
        if x["layer"] == "catalyst" and x["name"] in phases:
            m[phases[x["name"]]] += dur(x) / n
    m["catalyst.plan_s"] += sum(b["attrs"].get("ms.queryPlanning", 0) for b in batches) / 1e3 / n

    m["exec.wall_s"] = sum(union_ns([(j["start"], j["end"]) for j in jobs_in([o])])
                           for o in ops) / 1e9 / n
    for key, (attr, scale) in JOB_SUMS.items():
        m[key] = sum(j["attrs"].get(attr, 0) for j in jobs) * scale / n

    def batch_s(*keys):
        return sum(b["attrs"].get(f"ms.{k}", 0) for b in batches for k in keys) / 1e3 / n
    m["streaming.batch_s"] = batch_s("triggerExecution")
    m["streaming.add_batch_s"] = batch_s("addBatch")
    m["streaming.plan_s"] = batch_s("queryPlanning")
    m["streaming.commit_s"] = batch_s("walCommit", "commitOffsets")
    m["streaming.rows_in"] = sum(b["attrs"].get("rows_in", 0) for b in batches) / n
    last = max(batches, key=lambda b: b["start"]) if batches else {"attrs": {}}
    m["streaming.state_rows"] = last["attrs"].get("state_rows", 0.0)
    m["streaming.state_bytes"] = last["attrs"].get("state_bytes", 0.0)
    m["streaming.rows_out"] = facts.get("rows_out", 0.0) / n
    m["streaming.kept_ratio"] = facts["kept"] / facts["attempts"] if facts.get("attempts") else 0.0
    m["streaming.store_files"] = facts.get("store_files", 0.0) / n
    m["streaming.store_bytes"] = facts.get("store_bytes", 0.0) / n
    m["ext.verify_ratio"] = facts["verified"] / facts["candidates"] if facts.get("candidates") else 0.0
    m["jvm.gc_s"] = facts.get("gc_s", 0.0) / n
    m["jvm.heap_peak_mb"] = facts.get("heap_peak_mb", 0.0)
    traced = [dur(o) for o in ops]
    m["trace.overhead_frac"] = (statistics.median(traced) / statistics.median(untraced_lat) - 1
                                if traced and untraced_lat else 0.0)

    layer_of = {"op": "client"}
    selfs = {f"self.{layer}_s": 0.0 for layer in
             ("client", "entry", "ops", "tables", "catalyst", "exec", "streaming", "ext")}
    for s in spans:
        key = f"self.{layer_of.get(s['layer'], s['layer'])}_s"
        if key not in selfs:
            continue
        covered = union_ns([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                            for c in children.get(s["id"], []) if c["end"] > s["start"]
                            and c["start"] < s["end"]])
        selfs[key] += max(0, s["end"] - s["start"] - covered) / 1e9 / n
    m.update(selfs)
    assert set(m) == {k for k, _ in METRICS}, set(m) ^ {k for k, _ in METRICS}
    return m
