#!/usr/bin/env python3
"""Benchmark for the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
JVM runner from source with sbt and caches the classpath under
$CARGO_TARGET_DIR (default `.bench_build`); every run then starts one
fresh JVM with plain `java`, so sbt never runs inside a measured run.

The workloads, their queries and the input are in `workloads.json`. The
seed permutes the query order of every pass; the data is fixed. A run
is one set-up, one cold pass and as many warm passes as fit in
--seconds at the workload's nominal warm-pass time. Every
collected result is fingerprinted and compared with `expected.json`; an
exception or a mismatch counts as a failed execution and gives no
latency sample. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.

    python3 perfbench/run.py --generate-expected   # rewrite expected.json
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def read_json(path):
    with open(path) as f:
        return json.load(f)


def write_json(obj, path, **kw):
    with open(path, "w") as f:
        json.dump(obj, f, **kw)


CONF = read_json(os.path.join(HERE, "workloads.json"))
EXPECTED = os.path.join(HERE, "expected.json")

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Artifacts the program keeps in the system temp dir across JVMs; removed
# before and after every run so each run trains and lays out from scratch.
PROGRAM_TMP_GLOBS = ["/tmp/graft_ann_index_*", "/tmp/graft_layout_*"]

JVM_TIMEOUT_S = 170
HEAP = "4g"
MIN_WARM_PASSES = 2


def warm_passes(workload, seconds):
    """As many warm passes as fit in --seconds at the workload's nominal
    warm-pass time. The count depends only on the arguments, never on how
    fast the host runs, so every run of a commit does the same work, and
    a slow run is not also a run whose figure comes from earlier, colder
    passes."""
    return max(MIN_WARM_PASSES, int(seconds // CONF["workloads"][workload]["warm_pass_s"]))


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def host_cpu_ticks():
    """user..steal jiffies of the host's CPUs as this VM sees them."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def work_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def cores():
    return len(os.sched_getaffinity(0))


def source_stamp():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
    md = hashlib.sha256()
    for f in sorted(set(files)):
        if os.path.isfile(f):
            md.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                md.update(hashlib.sha256(fh.read()).digest())
    return md.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; run from a checkout root")
    os.makedirs(work_dir(), exist_ok=True)
    cache = os.path.join(work_dir(), "classpath.json")
    stamp = source_stamp()
    if os.path.exists(cache):
        got = read_json(cache)
        if got["stamp"] == stamp:
            return got["classpath"]
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    cmd.append("export perfbench/Runtime/fullClasspath")
    log_path = os.path.join(work_dir(), "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log_path, "w") as log:
        try:
            done = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                                  stderr=log, text=True, timeout=840)
        except subprocess.TimeoutExpired:
            fail("build timed out; see " + log_path)
        log.write(done.stdout)
    # sbt may still print the classpath after a failed compile
    lines = [l for l in done.stdout.splitlines() if l.strip()]
    if done.returncode != 0 or any(l.startswith("[error]") for l in lines) or not lines:
        fail("build failed; see " + log_path)
    write_json({"stamp": stamp, "classpath": lines[-1]}, cache)
    return lines[-1]


def clean_program_tmp():
    for pattern in PROGRAM_TMP_GLOBS:
        for path in glob.glob(pattern):
            shutil.rmtree(path, ignore_errors=True)


def run_jvm(cp, args, tag):
    """Start one fresh runner JVM with its scratch dirs inside the checkout,
    wait for it, and return the record it wrote."""
    run_dir = os.path.join(work_dir(), "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "checkpoint"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(work_dir(), tag + ".record.json")
    if os.path.exists(out):
        os.remove(out)
    jvm = ["java", "-Xmx" + HEAP, "-Xms" + HEAP, "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dspark.local.dir=" + os.path.join(run_dir, "local"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
           "-Dspark.checkpoint.dir=" + os.path.join(run_dir, "checkpoint")]
    for p in ADD_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    jvm += ["-cp", cp, "perfbench.Runner"] + args + ["--out", out]
    log_path = os.path.join(work_dir(), tag + ".log")
    clean_program_tmp()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(jvm, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("runner JVM timed out; see " + log_path)
    finally:
        clean_program_tmp()
    if code != 0 or not os.path.exists(out):
        fail("runner JVM exited with %d; see %s" % (code, log_path))
    return read_json(out)


def check(record, expected, trace):
    """Mark every execution ok or failed against the expected fingerprints
    (and, when traced, the exact LLM cost). Returns the failures."""
    failures = []
    for e in record["executions"]:
        exp = expected.get(e["query"])
        if not e["ok"]:
            why = e["error"]
        elif exp is None:
            why = "no expected fingerprint"
        elif e["fingerprint"] != exp["fingerprint"]:
            why = "fingerprint %s != expected %s" % (e["fingerprint"], exp["fingerprint"])
        elif trace and e["llm_cost_usd"] != exp.get("llm_cost_usd", 0.0):
            why = "llm cost %r != expected %r" % (e["llm_cost_usd"], exp.get("llm_cost_usd"))
        else:
            why = None
        e["correct"] = why is None
        if why:
            failures.append("%s (pass %d): %s" % (e["query"], e["pass"], why))
    return failures


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def end_to_end(record):
    """End-to-end metrics, and notes that are printed but not gated.

    pass_s is the mean wall time of the warm passes: their total over
    their count, which averages the host's contention over the whole warm
    phase. The per-query percentiles are notes: two or three warm passes of
    three or four queries leave no sample beyond the median, and each is one
    short execution that a burst on the shared host can double."""
    good = [e["latency_s"] for e in record["executions"] if e["correct"] and e["pass"] > 0]
    if not good:
        fail("no correct warm execution to measure")
    passes = record["passes"]
    setup = record["setup"]
    metrics = {
        "setup_s": (setup["session_s"] + setup["tables_s"], "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "pass_s": (statistics.mean(p["wall_s"] for p in passes[1:]), "s"),
        "peak_rss_mb": (record["peak_rss_kb"] / 1024.0, "MB"),
    }
    notes = {"warm_samples": len(good), "warm_passes": len(passes) - 1,
             "query_p50_s": statistics.median(good), "query_p90_s": p90(good)}
    return metrics, notes


def per_layer(record):
    """Per-layer metrics: each warm pass's total over its executions, then
    the median over warm passes."""
    execs = record["executions"]
    by_pass = {}
    for p in record["passes"][1:]:
        ex = [e for e in execs if e["pass"] == p["pass"] and e["ok"]]
        wall = p["wall_s"]
        tot = lambda k: sum(e[k] for e in ex)
        task_s = tot("task_s")
        by_pass[p["pass"]] = {
            "operators.build_s": (tot("build_s"), "s"),
            "operators.build_jobs": (tot("build_jobs"), "count"),
            "operators.build_share": (tot("build_s") / wall, "ratio"),
            "Exec.seal_jobs": (tot("exec_jobs"), "count"),
            "Exec.cached_mb": (max(e["cached_mb"] for e in ex), "MB"),
            "plans.analyze_s": (tot("analyze_s"), "s"),
            "plans.optimize_s": (tot("optimize_s"), "s"),
            "plans.physical_s": (tot("physical_s"), "s"),
            "plans.exchanges": (tot("exchanges"), "count"),
            "plans.shape_changes": (sum(e["expected_plan_hash"] not in (None, e["plan_hash"])
                                        for e in ex), "count"),
            "scheduler.jobs": (tot("jobs"), "count"),
            "scheduler.stages": (tot("stages"), "count"),
            "scheduler.tasks": (tot("tasks"), "count"),
            "scheduler.driver_gap_s": (sum(e["latency_s"] - e["job_busy_s"] for e in ex), "s"),
            "scheduler.materialize_s": (tot("materialize_s"), "s"),
            "scheduler.task_s": (task_s, "s"),
            "scheduler.busy_ratio": (task_s / (wall * record["env"]["cores"]), "ratio"),
            "scheduler.task_failures": (tot("task_failures"), "count"),
            "shuffle.write_bytes": (tot("shuffle_write_bytes"), "bytes"),
            "shuffle.read_bytes": (tot("shuffle_read_bytes"), "bytes"),
            "shuffle.spill_bytes": (tot("spill_bytes"), "bytes"),
            "shuffle.fetch_wait_s": (tot("fetch_wait_s"), "s"),
            "sources.scan_bytes": (tot("scan_bytes"), "bytes"),
            "sources.scan_rows": (tot("scan_rows"), "rows"),
            "sources.v2.write_bytes": (tot("write_bytes"), "bytes"),
            "jvm.gc_s": (p["gc_s"], "s"),
            "jvm.cpu_s": (p["cpu_s"], "s"),
            "result.rows": (tot("rows"), "rows"),
            "llm.cost_usd": (tot("llm_cost_usd"), "usd"),
            "trace.pass_s": (wall, "s"),
        }
    metrics = {}
    first = next(iter(by_pass.values()))
    for name, (_, unit) in first.items():
        metrics[name] = (statistics.median(v[name][0] for v in by_pass.values()), unit)
    metrics["Sessions.session_s"] = (record["setup"]["session_s"], "s")
    metrics["sources.tables_s"] = (record["setup"]["tables_s"], "s")
    return metrics


def write_trace(record, path):
    """One span per execution and one per phase inside it, as JSON lines."""
    with open(path, "w") as f:
        for e in record["executions"]:
            if not e["ok"]:
                continue
            f.write(json.dumps({"span": "query", "id": e["index"], "parent": None,
                                "name": e["query"], "pass": e["pass"],
                                "start_ms": e["start_ms"], "end_ms": e["end_ms"],
                                "counters": {k: e[k] for k in (
                                    "jobs", "stages", "tasks", "rows", "exchanges",
                                    "plan_hash", "shuffle_write_bytes", "scan_bytes",
                                    "write_bytes", "llm_cost_usd")}}) + "\n")
            t = e["start_ms"]
            for phase in ("build", "plan", "materialize"):
                d = e[phase + "_s"] * 1000.0
                f.write(json.dumps({"span": phase, "id": "%d.%s" % (e["index"], phase),
                                    "parent": e["index"], "start_ms": t,
                                    "end_ms": t + d}) + "\n")
                t += d


def measure(workload, seed, warm, trace, queries=None, inject=False, cp=None):
    """Run one workload in a fresh JVM with `warm` warm passes and return
    its record."""
    w = CONF["workloads"][workload] if queries is None else {"queries": queries}
    args = ["--mode", "run", "--sf", os.environ.get("SPARK_GRAFT_SF_DIR", CONF["sf_dir"]),
            "--queries", ",".join(w["queries"]), "--seed", str(seed),
            "--warm", str(warm), "--trace", "1" if trace else "0",
            "--cores", str(cores()), "--inject", "1" if inject else "0"]
    return run_jvm(cp or classpath(), args, "%s-trace%d" % (workload, int(trace)))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def generate_expected():
    """Two traced runs of every workload; keep what repeats, report what does not."""
    cp = classpath()
    expected, unstable = {}, set()
    for workload in CONF["workloads"]:
        for seed in (1, 2):
            rec = measure(workload, seed, 1, True, cp=cp)
            for e in rec["executions"]:
                if not e["ok"]:
                    fail("%s raised: %s" % (e["query"], e["error"]))
                got = {"fingerprint": e["fingerprint"], "rows": e["rows"],
                       "llm_cost_usd": e["llm_cost_usd"], "plan_hash": e["plan_hash"]}
                old = expected.setdefault(e["query"], got)
                for k in ("fingerprint", "llm_cost_usd"):
                    if old[k] != got[k]:
                        unstable.add("%s.%s" % (e["query"], k))
                if old["plan_hash"] != got["plan_hash"]:
                    old["plan_hash"] = None
    write_json({"commit": git_commit(), "queries": expected, "unstable": sorted(unstable)},
               EXPECTED, indent=1, sort_keys=True)
    print("wrote %s: %d queries, unstable: %s" % (EXPECTED, len(expected), sorted(unstable)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--generate-expected", action="store_true")
    a = ap.parse_args()
    if a.generate_expected:
        return generate_expected()
    if a.workload not in CONF["workloads"]:
        fail("unknown workload %r; known: %s" % (a.workload, ", ".join(CONF["workloads"])))
    if not os.path.exists(EXPECTED):
        fail("expected.json missing")
    expected = read_json(EXPECTED)["queries"]
    trace = a.trace == 1
    t0, ticks0 = time.time(), host_cpu_ticks()
    record = measure(a.workload, a.seed, warm_passes(a.workload, a.seconds), trace)
    ticks = [y - x for x, y in zip(ticks0, host_cpu_ticks())]
    failures = check(record, expected, trace)
    for e in record["executions"]:
        e["expected_plan_hash"] = expected.get(e["query"], {}).get("plan_hash")
    env = dict(record["env"], commit=git_commit(), nproc=cores(), seed=a.seed,
               workload=a.workload, trace=a.trace, wall_s=round(time.time() - t0, 1),
               # CPU time the host gave other tenants: high steal spreads timings
               cpu_steal_share=round(ticks[7] / max(1, sum(ticks)), 3))
    print("env " + json.dumps(env, sort_keys=True))
    for f in failures:
        print("FAILED " + f)
    last = os.path.join(work_dir(), "last-untraced-%s.json" % a.workload)
    if trace:
        metrics = per_layer(record)
        trace_path = os.path.join(work_dir(), "trace-%s-seed%d.jsonl" % (a.workload, a.seed))
        write_trace(record, trace_path)
        print("trace file %s; jobs not attributed to a query: %d"
              % (os.path.relpath(trace_path, ROOT), record["unattributed_jobs"]))
        if os.path.exists(last):
            base = read_json(last)["pass_s"]
            traced = metrics["trace.pass_s"][0]
            print("tracing overhead: traced pass_s %.3f vs untraced %.3f (%+.1f%%)"
                  % (traced, base, 100.0 * (traced - base) / base))
        else:
            print("tracing overhead: no untraced run of %s in this checkout yet" % a.workload)
    else:
        metrics, notes = end_to_end(record)
        print("samples " + json.dumps(notes, sort_keys=True))
        write_json({"pass_s": metrics["pass_s"][0]}, last)
    attempted = len(record["executions"])
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())}}))


if __name__ == "__main__":
    main()
