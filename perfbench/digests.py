#!/usr/bin/env python3
"""Regenerates the expected output digests of a workload.

Usage (from the root of a checkout):

    python3 perfbench/digests.py --workload sql_mix [--write]

Runs every key of perfbench/workloads/<workload>.tsv at 4 and at 2 local
cores and compares the row count and content hash of each. With --write,
keys on which both agree get their digest written back into the file;
disagreeing or failing keys are listed and left unchanged. Expected digests
must only be taken from outputs that also pass the repository's DuckDB
oracle check (tools/check_oracle.py) on the same data, see README.md.
"""
import argparse
import sys
import time

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=run.WORKLOADS, required=True)
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()
    args.seed, args.seconds, args.trace = 1, 0, 0
    cp = run.build()
    keys_file, keys = run.read_keys(args.workload)
    runs = {}
    for cpus in (4, 2):
        rec, _ = run.launch(cp, "digest", keys_file, args, cpus, time.time() + 900)
        runs[cpus] = {k: (n, h) for k, n, h, _ in rec["digests"]}
        if cpus == 4:
            builds = {k: b for k, _, _, b in rec["digests"]}
    bad = []
    for row in keys:
        a, b = runs[4][row[0]], runs[2][row[0]]
        if a != b or a[0] < 0:
            bad.append(row[0])
            print(f"{row[0]}: 4 cores {a} vs 2 cores {b}", file=sys.stderr)
        elif args.write:
            row[2], row[3] = str(a[0]), a[1]
            # A key that builds a staged artifact on its first execution
            # runs in set-up, so no build lands in a timed pass.
            if builds[row[0]] > 0:
                row[1] = "1"
    print(f"{len(keys) - len(bad)} agree, {len(bad)} differ or fail", file=sys.stderr)
    if args.write:
        with open(keys_file) as fh:
            header = [l for l in fh if l.startswith("#")]
        with open(keys_file, "w") as fh:
            fh.writelines(header)
            fh.writelines("\t".join(k) + "\n" for k in keys)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
