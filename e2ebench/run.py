#!/usr/bin/env python3
"""End-to-end benchmark of the engine. One run: build (if any source
changed), generate the workload's inputs from the seed, run the JVM
harness, check every output against an independent reference, and print
the metrics. The last stdout line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`.

Usage:
  python3 e2ebench/run.py --workload dashboard|ingest|dedup --seed N \\
      --seconds S --trace 0|1 [--size full|small] [--keep]

--trace 0 reports the end-to-end metrics; --trace 1 adds a traced pass and
reports the per-layer metrics. Exit status is 0 only when every output
matched its reference. See e2ebench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

THROTTLE_GAP_MS = 10_000
JVM_HEAP = "2g"
JVM_YOUNG = "512m"
DEADLINE_S = 170      # JVM budget, so a run ends within 180 s of its start
P90_MIN_OPS = 100     # p90 needs at least 10 samples beyond it

# the metrics of the result line (BENCHMARK.json's end_to_end); op_p50_s,
# op_p90_s, rows_per_s and failed_frac are printed beside them, see README.md
END_TO_END = [("ops_per_s", "1/s"), ("peak_rss_mb", "MB"), ("setup_s", "s")]

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg):
    print(f"[e2ebench] {msg}", flush=True)


def positive_int(s):
    v = int(s)
    if v < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {v}")
    return v


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=positive_int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--size", default="full", choices=sorted(gen.SIZES),
                   help="input size; `small` is for the benchmark's own tests")
    p.add_argument("--keep", action="store_true", help="keep the run's work directory")
    return p.parse_args(argv)


def cpus():
    return len(os.sched_getaffinity(0))


def jvm_command(classes, workload, data, out, seconds, trace):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    # -XX:-UsePerfData: the JVM would otherwise write its perf file under /tmp
    return (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
             f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}"] + opens +
            ["-cp", cp, "graft.e2ebench.Harness", "--workload", workload, "--data", data,
             "--out", out, "--seconds", str(seconds), "--trace", str(trace),
             "--cpus", str(cpus()), "--gap-ms", str(THROTTLE_GAP_MS)])


def run_jvm(cmd, out, deadline_s):
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=deadline_s)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def end_to_end(result):
    lat = [math.inf if x is None else x for x in result["lat_s"]]
    ok = len(lat) - result["failed"]
    wall = result["wall_s"]
    m = {"op_p50_s": statistics.median(lat) if lat else math.inf,
         "ops_per_s": ok / wall if wall else 0.0,
         "peak_rss_mb": result["peak_rss_mb"],
         "setup_s": result["setup_s"]}
    # rows_per_s only for the streams; a dashboard op reads the whole table
    rows = result["rows"]
    extra = {"op_p90_s": sorted(lat)[math.ceil(0.9 * len(lat)) - 1] if len(lat) >= P90_MIN_OPS else None,
             "rows_per_s": None if rows is None else rows / wall if wall else 0.0,
             "failed_frac": result["failed"] / len(lat) if lat else 1.0}
    return m, extra, len(lat)


def run_workload(workload, seed, seconds, trace, size="full", work=None):
    """One benchmark run. Returns (summary, problems); `summary` holds the
    JSON result line's fields and the work directory."""
    classes = build.build()
    t_built = time.time()
    work = work or os.path.join(ROOT, ".bench_work", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "input"), os.path.join(work, "out")
    digest = gen.generate(workload, seed, data, size)
    log(f"workload={workload} seed={seed} size={size} input_digest={digest} "
        f"generated_in_s={time.time() - t_built:.3f} cpus={cpus()}")
    os.makedirs(out)
    # the first run in a checkout may spend longer building; the JVM's
    # budget starts after the build
    code = run_jvm(jvm_command(classes, workload, data, out, seconds, trace), out,
                   DEADLINE_S - (time.time() - t_built))
    problems = []
    if code != 0:
        problems.append(f"harness {'timed out' if code is None else f'exited with {code}'}; "
                        f"see {os.path.join(out, 'jvm.log')}")
        return {"work": work}, problems
    with open(os.path.join(out, "result.json")) as fh:
        result = json.load(fh)
    problems += result["mismatches"]
    if result["errors"]:
        problems.append(f"{result['errors']} failures outside the timed loop; "
                        f"see {os.path.join(out, 'failures.jsonl')}")
    problems += check.check(workload, os.path.join(out, "check"), data, THROTTLE_GAP_MS)
    m, extra, n = end_to_end(result)
    summary = {"work": work, "attempted": n, "failed": result["failed"], "end_to_end": m,
               "extra": extra, "digest": digest}
    if trace:
        summary["per_layer"] = layers.metrics(layers.load(os.path.join(out, "trace.jsonl")),
                                              result["facts"],
                                              [x for x in result["lat_s"] if x is not None])
    reported = list(m.items()) + list(summary.get("per_layer", {}).items())
    problems += [f"metric {k} is not a finite number ({v!r})" for k, v in reported
                 if not isinstance(v, (int, float)) or not math.isfinite(v)]
    with open(os.path.join(out, "failures.jsonl")) as fh:
        failures = [json.loads(line) for line in fh if line.strip()]
    if failures:
        log(f"{len(failures)} failed ops recorded in {os.path.join(out, 'failures.jsonl')}")
    return summary, problems


def main(argv):
    a = parse_args(argv)
    try:
        summary, problems = run_workload(a.workload, a.seed, a.seconds, a.trace, a.size)
    except build.BuildError as e:
        print(f"e2ebench: {e}", file=sys.stderr)
        return 1
    for p in problems:
        print(f"e2ebench: {p}", file=sys.stderr)
    if "end_to_end" not in summary:
        return 1
    m, extra, n = summary["end_to_end"], summary["extra"], summary["attempted"]
    log(f"op_p50_s = {m['op_p50_s']!r} s (n={n})")
    for name, unit in END_TO_END:
        log(f"{name} = {m[name]!r} {unit}")
    p90 = extra["op_p90_s"]
    log(f"op_p90_s = {p90!r} s (n={n})" if p90 is not None
        else f"op_p90_s not reported: {n} ops < {P90_MIN_OPS}")
    if extra["rows_per_s"] is not None:
        log(f"rows_per_s = {extra['rows_per_s']!r} rows/s")
    log(f"failed_frac = {extra['failed_frac']!r} ({summary['failed']}/{n})")
    def finite(v):  # a non-finite value is already a reported problem
        return v if math.isfinite(v) else None
    metrics = {name: {"value": finite(m[name]), "unit": unit} for name, unit in END_TO_END}
    if a.trace:
        metrics = {name: {"value": finite(summary["per_layer"][name]), "unit": unit}
                   for name, unit in layers.METRICS}
        for name, v in metrics.items():
            log(f"{name} = {v['value']!r} {v['unit']}")
    correct = not problems
    if correct and not summary["failed"] and not a.keep:
        shutil.rmtree(summary["work"], ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": n, "failed": summary["failed"],
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
