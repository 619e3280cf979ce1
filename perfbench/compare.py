#!/usr/bin/env python3
"""Compares two commits on the benchmark.

Usage:

    python3 perfbench/compare.py --parent <checkout> --change <checkout> \
        [--pairs 10] [--out f.json]

Each checkout is a full source tree of one commit (for example made with
`git archive`). Both must carry the same perfbench/ directory, so both
sides run identical benchmark code and settings: every workload of
BENCHMARK.json, its run_seconds, and the seeds 1000, 1001, ... For each
workload the command runs `--pairs` pairs of untraced runs, one seed per
pair, and alternates which side runs first. It then reports, per workload and
end-to-end metric of BENCHMARK.json, both sides' medians and quartiles,
the pairs the change won, and a verdict:

- improved: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ, in the better direction, by more than
  the parent's inter-quartile spread;
- worse: the change's median is worse than the parent's by more than the
  metric's bound;
- unresolved: neither, and the parent's spread is wider than the bound,
  unless every change run reads better than every parent run;
- unchanged: otherwise.

The error rate (failed / attempted executions) is compared as well; any
increase is reported as worse.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys


def tree_hash(root):
    """Hash of the perfbench/ sources, build output left out."""
    paths = []
    for d, dirs, files in os.walk(os.path.join(root, "perfbench")):
        dirs[:] = [x for x in dirs if x not in ("target", "__pycache__")]
        paths += [os.path.join(d, f) for f in files]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


FIRST_SEED = 1000


def run_once(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=1200)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed in {checkout} ({workload}, seed {seed})")
    return json.loads(lines[-1])


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"

    def better(a, b):
        return a < b if lower else a > b

    pm, cm = statistics.median(parent), statistics.median(change)
    pq = statistics.quantiles(parent, n=4)
    spread = pq[2] - pq[0]
    wins = sum(better(c, p) for p, c in zip(parent, change))
    worse_by = (cm - pm if lower else pm - cm) / pm if pm else 0.0
    if wins >= 0.9 * len(parent) and better(cm, pm) and abs(cm - pm) > spread:
        v = "improved"
    elif worse_by > metric["bound"]:
        v = "worse"
    elif pm and spread / pm > metric["bound"] and not all(
            better(c, p) for c in change for p in parent):
        v = "unresolved"
    else:
        v = "unchanged"
    return {"parent_median": pm, "parent_quartiles": [pq[0], pq[2]],
            "change_median": cm,
            "change_quartiles": [statistics.quantiles(change, n=4)[i] for i in (0, 2)],
            "change_wins": wins, "pairs": len(parent), "verdict": v}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.pairs < 10:
        ap.error("at least 10 pairs")
    if tree_hash(args.parent) != tree_hash(args.change):
        ap.error("the two checkouts carry different perfbench/ trees; "
                 "compare with identical benchmark code")
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    report = {}
    for w in (w["name"] for w in bench["workloads"]):
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = FIRST_SEED + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                runs[side].append(run_once(getattr(args, side), w, seed, seconds))
        rows = {}
        for m in bench["end_to_end"]:
            p = [r["metrics"][m["name"]]["value"] for r in runs["parent"]]
            c = [r["metrics"][m["name"]]["value"] for r in runs["change"]]
            rows[m["name"]] = verdict(m, p, c)
        err = {side: sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
               for side, rs in runs.items()}
        rows["error_rate"] = {"parent": err["parent"], "change": err["change"],
                              "verdict": "worse" if err["change"] > err["parent"]
                              else "unchanged"}
        report[w] = rows
        print(f"\n{w} ({args.pairs} pairs, {seconds} s runs)")
        for name, r in rows.items():
            if name == "error_rate":
                print(f"  {name:14s} parent {r['parent']:.4f}  change {r['change']:.4f}  "
                      f"{r['verdict']}")
            else:
                print(f"  {name:14s} parent {r['parent_median']:.4g} "
                      f"[{r['parent_quartiles'][0]:.4g}, {r['parent_quartiles'][1]:.4g}]  "
                      f"change {r['change_median']:.4g} "
                      f"[{r['change_quartiles'][0]:.4g}, {r['change_quartiles'][1]:.4g}]  "
                      f"wins {r['change_wins']}/{r['pairs']}  {r['verdict']}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
