#!/usr/bin/env python3
"""Paired A/B of two commits on the benchmark.

    python3 perfbench/ab.py PARENT CHANGE [--workload W ...] [--pairs 10]
                            [--seconds S] [--seed 1000]

Exports each commit with `git archive` into `.bench_build/ab/<sha>/`, puts
this checkout's benchmark (perfbench/ and BENCHMARK.json) into both so the
two sides differ only in the program, and runs `--pairs` pairs per
workload. Pair i runs both sides on seed `--seed + i`, the parent first in
even pairs and the change first in odd ones.

Each end-to-end metric gets one verdict, by the rule of the
choosing-metrics guide (section 8):

- failed: the change's runs on the workload had more failed operations
  (plus runs whose outputs were not correct) than the parent's; no gain
  counts then, since the time of a failed operation is left out;
- improved: the change wins at least 9 in 10 pairs (ties count for
  neither side) and the medians differ by more than the parent's
  interquartile range;
- unresolved: the parent's own spread (IQR / median) exceeds the metric's
  bound, and not every change run beats every parent run;
- regressed: the change's median is worse than the parent's by more than
  the bound;
- within bound: none of these.

Prints one row per workload and metric (medians, quartiles, wins) and
writes every run to `.bench_build/ab/result.json`.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
AB = os.path.join(ROOT, ".bench_build", "ab")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def failures(results):
    """Failed operations plus incorrect runs, over a side's run results."""
    return sum(r["failed"] + (not r["correct"]) for r in results)


def verdict(parent, change, better, bound, parent_failures=0, change_failures=0):
    """Verdict for one metric from paired runs (lists in pair order)."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for a, b in zip(parent, change) if sign * (a - b) > 0)
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(change)
    gain = sign * (pm - cm)
    if change_failures > parent_failures:
        return "failed", wins
    if wins >= 0.9 * len(parent) and gain > p3 - p1:
        return "improved", wins
    if pm and (p3 - p1) / abs(pm) > bound:
        if all(sign * (a - b) > 0 for a in parent for b in change):
            return "improved", wins
        return "unresolved", wins
    if pm and -gain / abs(pm) > bound:
        return "regressed", wins
    return "within bound", wins


def export(rev):
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    dest = os.path.join(AB, sha[:12])
    if not os.path.isdir(dest):
        tmp = dest + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        archive = subprocess.run(["git", "archive", sha], cwd=ROOT, check=True,
                                 capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        os.replace(tmp, dest)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(BENCH, os.path.join(dest, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copyfile(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(dest, "BENCHMARK.json"))
    return sha[:12], dest


def run_side(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
                        str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{checkout}: run failed\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description="Paired A/B of two commits on the benchmark.")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--seed", type=int, default=1000)
    a = ap.parse_args(argv)
    if a.pairs < 10:
        print("note: fewer than 10 pairs cannot support a claim", file=sys.stderr)
    sides = dict(zip(("parent", "change"), (export(a.parent), export(a.change))))
    runs = []
    for workload in a.workload or [w["name"] for w in spec["workloads"]]:
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = run_side(sides[side][1], workload, a.seed + i, a.seconds)
                runs.append({"workload": workload, "pair": i, "side": side, "result": r})
                print(f"{workload} pair {i} {side}: correct={r['correct']} failed={r['failed']}",
                      file=sys.stderr)
    rows = []
    for workload in dict.fromkeys(r["workload"] for r in runs):
        results = {s: [r["result"] for r in sorted(
            (r for r in runs if r["workload"] == workload and r["side"] == s),
            key=lambda r: r["pair"])] for s in ("parent", "change")}
        for m in spec["end_to_end"]:
            vals = {s: [r["metrics"][m["name"]]["value"] for r in rs] for s, rs in results.items()}
            v, wins = verdict(vals["parent"], vals["change"], m["better"], m["bound"],
                              failures(results["parent"]), failures(results["change"]))
            rows.append({"workload": workload, "metric": m["name"], "unit": m["unit"],
                         "parent": quartiles(vals["parent"]), "change": quartiles(vals["change"]),
                         "wins": wins, "pairs": len(vals["parent"]), "verdict": v})
    print(f"parent {sides['parent'][0]}  change {sides['change'][0]}")
    print(f"{'workload':<14} {'metric':<18} {'parent q1/med/q3':<30} {'change q1/med/q3':<30} "
          f"{'wins':>6}  verdict")
    for r in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{r['workload']:<14} {r['metric']:<18} {fmt(r['parent']):<30} "
              f"{fmt(r['change']):<30} {r['wins']:>3}/{r['pairs']:<2}  {r['verdict']}")
    failed = failures(r["result"] for r in runs)
    with open(os.path.join(AB, "result.json"), "w") as f:
        json.dump({"parent": sides["parent"][0], "change": sides["change"][0],
                   "rows": rows, "runs": runs}, f, indent=1)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
