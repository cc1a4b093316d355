#!/usr/bin/env python3
"""Paired A/B runner: the parent commit against a change, same benchmark.

    python3 perfbench/ab.py --parent HEAD~1 --change HEAD --work DIR

Exports both commits with `git archive` into DIR/parent and DIR/change and
copies this benchmark (`perfbench/` and BENCHMARK.json from the tree that
holds this file) over both, so the two sides differ only in the program.
For every workload of BENCHMARK.json it runs 10 pairs, alternating which
side runs first, pair i on seed 1000 + i on both sides, with
BENCHMARK.json's run length. Per end-to-end metric it prints each side's
median and quartiles, the change's wins (ties count for neither side) and
a verdict by this paired rule:

- improved:   the change wins at least 9/10 of the pairs and its median is
              better than the parent's by more than the parent's
              interquartile range;
- worse:      the change's median is worse than the parent's by more than
              the metric's bound;
- unresolved: the parent's own spread (interquartile range over median) is
              wider than the bound, and not every change run beats every
              parent run;
- no change:  otherwise.

The verdicts and every run's metrics are also written to DIR/ab.json. A
run that fails or mismatches its oracle stops the runner and prints the
run's stderr.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PAIRS = 10
SEED0 = 1000


def export(rev, dst):
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    archive = subprocess.run(["git", "-C", REPO, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dst], input=archive, check=True)
    shutil.rmtree(os.path.join(dst, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dst, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), dst)


def run_once(tree, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else None
    if p.returncode != 0 or not res or not res["correct"]:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"ab: {tree} {workload} seed {seed} failed")
    return {k: v["value"] for k, v in res["metrics"].items()}


def verdict(parent, change, better, bound):
    pq = statistics.quantiles(parent, n=4)
    cq = statistics.quantiles(change, n=4)
    pm, cm = statistics.median(parent), statistics.median(change)
    sign = 1 if better == "lower" else -1
    gain = sign * (pm - cm)  # > 0: the change is better
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    iqr = pq[2] - pq[0]
    if wins >= 0.9 * len(parent) and gain > iqr:
        v = "improved"
    elif -gain > bound * pm:
        v = "worse"
    elif iqr > bound * pm and not all(
            sign * (p - c) > 0 for p in parent for c in change):
        v = "unresolved"
    else:
        v = "no change"
    return dict(parent_median=pm, parent_quartiles=[pq[0], pq[2]],
                change_median=cm, change_quartiles=[cq[0], cq[2]],
                wins=wins, pairs=len(parent), verdict=v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--work", required=True,
                    help="scratch directory for the two exported trees")
    a = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.abspath(a.work)
    trees = {side: os.path.join(work, side) for side in ("parent", "change")}
    export(a.parent, trees["parent"])
    export(a.change, trees["change"])

    results, raw = {}, {}
    for w in (w["name"] for w in bench["workloads"]):
        runs = {"parent": [], "change": []}
        for i in range(PAIRS):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                runs[side].append(run_once(trees[side], w, SEED0 + i,
                                           bench["run_seconds"]))
            print(f"ab: {w} pair {i + 1}/{PAIRS} done", file=sys.stderr)
        raw[w] = runs
        results[w] = {}
        for m in bench["end_to_end"]:
            results[w][m["name"]] = verdict(
                [r[m["name"]] for r in runs["parent"]],
                [r[m["name"]] for r in runs["change"]],
                m["better"], m["bound"])

    print(f"{'workload':20s} {'metric':18s} {'parent med [q1,q3]':>30s} "
          f"{'change med [q1,q3]':>30s} {'wins':>6s}  verdict")
    for w, ms in results.items():
        for name, r in ms.items():
            p = (f"{r['parent_median']:.4g} [{r['parent_quartiles'][0]:.4g},"
                 f"{r['parent_quartiles'][1]:.4g}]")
            c = (f"{r['change_median']:.4g} [{r['change_quartiles'][0]:.4g},"
                 f"{r['change_quartiles'][1]:.4g}]")
            print(f"{w:20s} {name:18s} {p:>30s} {c:>30s} "
                  f"{r['wins']:>3d}/{r['pairs']:<2d}  {r['verdict']}")
    with open(os.path.join(work, "ab.json"), "w") as f:
        json.dump(dict(parent=a.parent, change=a.change,
                       results=results, runs=raw), f, indent=1)


if __name__ == "__main__":
    main()
