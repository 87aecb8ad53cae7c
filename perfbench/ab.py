#!/usr/bin/env python3
"""A/B compare two commits on the benchmark.

    python3 perfbench/ab.py <base-commit> <change-commit> [--pairs 10] [--workloads a,b] [--seconds S]

Run from the repository. Each commit is exported with `git archive` under
$CARGO_TARGET_DIR/perfbench/ab/, and this working tree's `perfbench/` and
`BENCHMARK.json` are copied into both, so both sides run identical
benchmark code and settings. It runs at least ten interleaved pairs per
workload, alternating which side runs first, then one traced run per side.
For each workload and end-to-end metric it prints both sides' median and
quartiles, the pairs the change won, and a verdict by this rule: improved
when the change wins at least nine tenths of the pairs and the medians
differ by more than the base's own quartile spread; no worse when the
change's median is within the metric's bound in BENCHMARK.json; worse
beyond it; unresolved when the base's spread is wider than the bound
(unless every change run beats every base run). A gain does not count
when more executions fail: if the change has more failed executions than
the base on a workload, every metric of that workload is worse. Per-layer
deltas from the traced runs are printed beside the verdicts.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def verdict(base, change, bound, better="lower", failed_base=0, failed_change=0):
    """Return (verdict, pairs the change won) for paired samples, given
    each side's failed executions on the workload."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(sign * (c - b) < 0 for b, c in zip(base, change))
    if failed_change > failed_base:
        return "worse", wins
    mb, mc = statistics.median(base), statistics.median(change)
    q = statistics.quantiles(base, n=4)
    spread = q[2] - q[0]
    if wins >= 0.9 * len(base) and sign * (mb - mc) > spread:
        return "improved", wins
    wide = spread / abs(mb) > bound if mb else spread > 0
    if sign * (mc - mb) <= bound * abs(mb):
        if not wide or all(sign * c < sign * b for c in change for b in base):
            return "no worse", wins
        return "unresolved", wins
    return ("unresolved" if wide else "worse"), wins


def checkout(commit, ab_dir):
    sha = subprocess.run(["git", "rev-parse", commit], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    dest = os.path.join(ab_dir, sha[:12])
    if not os.path.isdir(dest):
        os.makedirs(dest)
        archive = subprocess.run(["git", "archive", sha], cwd=ROOT, check=True,
                                 capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dest, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)
    return sha[:12], dest


def run(dest, workload, seed, seconds, trace):
    env = dict(os.environ, CARGO_TARGET_DIR=".bench_build")
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace)], cwd=dest, env=env,
                         capture_output=True, text=True, timeout=1200)
    if out.returncode != 0:
        sys.exit("run failed in %s:\n%s" % (dest, out.stderr[-2000:]))
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return res, {k: v["value"] for k, v in res["metrics"].items()}


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args()
    if a.pairs < 10:
        sys.exit("at least ten pairs are needed for a verdict")
    ab_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                          "perfbench", "ab")
    sides = [checkout(a.base, ab_dir), checkout(a.change, ab_dir)]
    workloads = a.workloads.split(",")
    samples = {(w, s): [] for w in workloads for s in (0, 1)}
    failed = {(w, s): 0 for w in workloads for s in (0, 1)}
    for i in range(a.pairs):
        for w in workloads:
            for s in ((0, 1) if i % 2 == 0 else (1, 0)):
                res, m = run(sides[s][1], w, 1000 + i, a.seconds, 0)
                failed[(w, s)] += res["failed"]
                samples[(w, s)].append(m)
    traced = {(w, s): run(sides[s][1], w, 1000, a.seconds, 1)[1]
              for w in workloads for s in (0, 1)}
    print("base %s  change %s  pairs %d" % (sides[0][0], sides[1][0], a.pairs))
    for w in workloads:
        print("\n== %s ==  failed executions base %d change %d"
              % (w, failed[(w, 0)], failed[(w, 1)]))
        for metric in bench["end_to_end"]:
            name = metric["name"]
            b = [m[name] for m in samples[(w, 0)]]
            c = [m[name] for m in samples[(w, 1)]]
            v, wins = verdict(b, c, metric["bound"], metric["better"],
                              failed[(w, 0)], failed[(w, 1)])
            qb, qc = statistics.quantiles(b, n=4), statistics.quantiles(c, n=4)
            print("%-12s base %.4g [%.4g, %.4g]  change %.4g [%.4g, %.4g]  won %d/%d  %s"
                  % (name, qb[1], qb[0], qb[2], qc[1], qc[0], qc[2], wins, len(b), v))
        print("per-layer (traced, change - base):")
        tb, tc = traced[(w, 0)], traced[(w, 1)]
        for name in sorted(tb):
            if tb[name] != tc[name]:
                rel = "" if not tb[name] else " (%+.1f%%)" % (100.0 * (tc[name] - tb[name]) / tb[name])
                print("  %-26s %.6g -> %.6g%s" % (name, tb[name], tc[name], rel))


if __name__ == "__main__":
    main()
