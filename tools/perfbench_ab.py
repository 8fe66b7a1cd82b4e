#!/usr/bin/env python3
"""A/B runner for the repository benchmark: N alternating pairs of
`perfbench/run.py`, the parent revision against the working tree.

    python3 tools/perfbench_ab.py --rev HEAD~1 --workload lifecycle_read \\
        --workload lifecycle_ingest --pairs 10 --seed0 11 --seconds 12

The parent side runs from a `git worktree` of `--rev` (created in a
temporary directory and removed at exit), or from an existing checkout
given with `--parent-dir`. Each side builds into its own
`CARGO_TARGET_DIR`, so neither rebuilds the other's classes. Pair i uses
seed `seed0 + i`; even pairs run the parent first, odd pairs the change
first.

For each workload and each end-to-end metric of BENCHMARK.json it prints
both sides' median and quartiles, the change/parent ratio of the medians,
and the change's win fraction over the pairs (ties count for neither
side). `gain` marks a metric where the change wins at least 9/10 of the
pairs and the medians differ by more than the parent's interquartile
range; `WORSE` marks a change median worse than the parent's by more than
the metric's bound. Every run's metrics go to standard error as it ends.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(checkout, build_dir, workload, seed, seconds):
    """One benchmark run; its summary dict, or None when it failed."""
    env = dict(os.environ, CARGO_TARGET_DIR=build_dir)
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload, runs, metrics):
    """Print one workload's table from its (parent, change) run pairs."""
    ok = [(p, c) for p, c in runs if p and c and p["correct"] and c["correct"]]
    print("\n== %s: %d pairs, %d with both sides correct" % (workload, len(runs), len(ok)))
    print("%-26s %-30s %-30s %7s %6s  %s" % ("metric", "parent median [q1, q3]",
                                           "change median [q1, q3]", "ratio", "wins", ""))
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pv = [p["metrics"][name]["value"] for p, _ in ok if name in p["metrics"]]
        cv = [c["metrics"][name]["value"] for _, c in ok if name in c["metrics"]]
        if not pv or len(pv) != len(cv):
            continue
        wins = sum(1 for a, b in zip(pv, cv) if (b < a if lower else b > a))
        pq1, pmed, pq3 = quartiles(pv)
        cq1, cmed, cq3 = quartiles(cv)
        better = cmed < pmed if lower else cmed > pmed
        flag = ""
        if wins >= 0.9 * len(pv) and better and abs(cmed - pmed) > pq3 - pq1:
            flag = "gain"
        worse = (cmed - pmed) if lower else (pmed - cmed)
        if pmed and worse / abs(pmed) > m["bound"]:
            flag = "WORSE"
        ratio = cmed / pmed if pmed else float("nan")
        print("%-26s %-30s %-30s %7.3f %6s  %s" % (
            name, "%.4g [%.4g, %.4g]" % (pmed, pq1, pq3),
            "%.4g [%.4g, %.4g]" % (cmed, cq1, cq3), ratio, "%d/%d" % (wins, len(pv)), flag))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rev", default="HEAD", help="parent revision (default HEAD)")
    ap.add_argument("--parent-dir", help="existing checkout of the parent; skips the worktree")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    tmp = tempfile.mkdtemp(prefix="perfbench_ab_")
    parent = a.parent_dir
    worktree = None
    try:
        if parent is None:
            worktree = parent = os.path.join(tmp, "parent")
            subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", worktree, a.rev],
                           check=True, stdout=subprocess.DEVNULL)
        sides = {"parent": (os.path.abspath(parent), os.path.join(tmp, "build_parent")),
                 "change": (ROOT, os.path.join(tmp, "build_change"))}
        for w in a.workload:
            runs = []
            for i in range(a.pairs):
                seed = a.seed0 + i
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                got = {}
                for side in order:
                    got[side] = run_once(*sides[side], w, seed, a.seconds)
                    r = got[side]
                    print("%s seed %d %s: %s" % (w, seed, side, "failed" if r is None else
                          dict(correct=r["correct"], **{k: round(v["value"], 4)
                                                        for k, v in r["metrics"].items()})),
                          file=sys.stderr, flush=True)
                runs.append((got["parent"], got["change"]))
            report(w, runs, metrics)
    finally:
        if worktree:
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", worktree],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
