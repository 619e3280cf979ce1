#!/usr/bin/env python3
"""Benchmark for the graft Spark ETL library.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the library and the harness (perfbench/harness) with sbt once per
source state, then runs one workload in one JVM, in an empty root
directory that holds its java.io.tmpdir, spark.local.dir and
spark.sql.warehouse.dir. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. A full record of the run (box context, every
key execution, the output check) is written to
.bench_build/records/, and a traced run also writes its spans to
.bench_build/traces/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

import layers

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("sql_mix", "llm_pipeline")
HEAP = "2g"
# Wall-clock limit for one whole run once the build is done.
RUN_LIMIT_S = 170.0
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads, so a checkout builds once."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/harness/build.sbt",
             "perfbench/harness/project/build.properties",
             "perfbench/harness/src"]
    for r in roots:
        p = os.path.join(REPO, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "perfbench/harness/build.sbt"):
        if not os.path.isfile(os.path.join(REPO, need)):
            fail(f"{need} is missing: run from the root of a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            same, cp = fh.read() == stamp, cf.read()
        if same and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log("building library and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=700)
    lines = proc.stdout.strip().splitlines()
    cp = lines[-1] if lines else ""
    if proc.returncode != 0 or "perfbench/harness/target" not in cp:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    log(f"build took {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


# ---------------------------------------------------------------- box

def box_context():
    """Recorded beside the metrics, never used to rescale them."""
    others = []
    try:
        ps = subprocess.run(["ps", "-eo", "pid=,args="], capture_output=True,
                            text=True, timeout=10).stdout
        for line in ps.splitlines():
            pid, _, args = line.strip().partition(" ")
            if "java" in args and ("sbt-launch" in args or "xsbt.boot" in args
                                   or "org.apache.spark" in args
                                   or "perfbench.Harness" in args):
                others.append(int(pid))
    except (OSError, subprocess.SubprocessError):
        pass
    if others:
        log(f"WARNING: {len(others)} other sbt/Spark JVM(s) running "
            f"(pids {others}); timings may be inflated")
    return {"nproc": os.cpu_count(), "heap": HEAP,
            "loadavg_start": list(os.getloadavg()), "other_jvms": others}


# ---------------------------------------------------------------- runs

def read_keys(workload):
    path = os.path.join(HERE, "workloads", f"{workload}.tsv")
    with open(path) as fh:
        rows = [l.rstrip("\n").split("\t") for l in fh
                if l.strip() and not l.startswith("#")]
    return path, rows


def du(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def launch(cp, mode, keys_file, args, cpus, deadline, extra=()):
    """Runs one harness JVM in a fresh root; returns (record, bytes left
    under the root, by area). The root is deleted afterwards."""
    root = os.path.join(BUILD, "runs", uuid.uuid4().hex[:12])
    os.makedirs(os.path.join(root, "tmp"))
    out = os.path.join(root, "record.json")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{args.workload}-{mode}.log")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={root}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Harness",
            "--mode", mode, "--keys", keys_file, "--data", DATA, "--root", root,
            "--cpus", str(cpus), "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, *extra, "--launch-ms", str(int(time.time() * 1000))]
    try:
        with open(log_path, "w") as lf:
            # Spark prefers these over spark.local.dir; unset, so shuffle
            # and block files stay under the run's root.
            env = {k: v for k, v in os.environ.items()
                   if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
            proc = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=lf,
                                    stdin=subprocess.DEVNULL, env=env)
            try:
                code = proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                fail(f"{mode} JVM timed out; log: {log_path}")
            finally:
                # Also on a timeout or a signal: no JVM outlives the run.
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.isfile(out):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"{mode} JVM exited {code}; log: {log_path}")
        with open(out) as fh:
            record = json.load(fh)
        os.remove(out)
        tmp = os.path.join(root, "tmp")
        areas = {
            "stored": du(root),
            "staging": sum(du(os.path.join(tmp, d)) for d in
                           ("graft_derived", "graft_stream_src", "graft_bucketed")),
        }
        return record, areas
    finally:
        shutil.rmtree(root, ignore_errors=True)


def tail(values, beyond=10):
    """Highest percentile with at least `beyond` samples above it."""
    v = sorted(values)
    n = len(v)
    k = max(1, n - beyond)
    return v[k - 1], 100.0 * k / n, n


def end_to_end(rec):
    passes = [p for p in rec["passes"] if not p["traced"]]
    timed = {p["pass"] for p in passes}
    walls = [e["wall_s"] for e in rec["execs"] if e["ok"] and e["pass"] in timed]
    t, pct, n = tail(walls)
    attempted = len(rec["execs"]) + len(rec["check"])
    failed = (sum(not e["ok"] for e in rec["execs"])
              + sum(not c["ok"] for c in rec["check"]))
    metrics = {
        "setup_s": (rec["setup"]["setup_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "query_p50_s": (statistics.median(walls), "s"),
        "query_tail_s": (t, "s"),
        "success_rate": ((attempted - failed) / attempted, "ratio"),
        "heap_live_mb": (rec["heap_live_mb"], "MB"),
    }
    context = {"query_tail_pct": pct, "query_samples": n,
               "error_rate": failed / attempted, "passes": len(passes)}
    return metrics, attempted, failed, context


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="short sql_mix run with a corrupted digest; exits 0 "
                         "only if the check catches it")
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run's root deleted.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.selftest:
        args.workload, args.seconds, args.trace = "sql_mix", 1, 0
    if not args.workload:
        ap.error("--workload is required")
    t_start = time.time()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    box = box_context()

    keys_file, keys = read_keys(args.workload)
    if args.selftest:
        keys[0][3] = "0:0"
        keys_file = os.path.join(BUILD, f"{args.workload}.corrupt.tsv")
        with open(keys_file, "w") as fh:
            fh.writelines("\t".join(k) + "\n" for k in keys)

    # A traced run has a first untraced pass, then U T T U.
    min_passes = "5" if args.trace else "3"
    rec, areas = launch(cp, "run", keys_file, args, os.cpu_count(), deadline,
                        ("--min-passes", min_passes))

    e2e, attempted, failed, context = end_to_end(rec)
    bad = [c for c in rec["check"] if not c["ok"]]
    bad += [e for e in rec["execs"] if not e["ok"]]
    for b in bad[:10]:
        log(f"FAILED {b['key']}: {b.get('error') or 'digest mismatch'}")
    correct = not bad and attempted > 0
    box["calib_s"] = rec["calib_s"]
    out = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "box": box, "context": context, "areas": areas, "record": rec}
    if args.trace:
        metrics, spans, key_check = layers.per_layer(rec, areas)
        out["layer_sum_check"] = key_check
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        trace_path = os.path.join(
            BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        with open(trace_path, "w") as fh:
            fh.writelines(json.dumps(s) + "\n" for s in spans)
        log(f"spans: {trace_path}; layer sums within tolerance for "
            f"{key_check['within']}/{key_check['keys']} keys; tracing "
            f"overhead {metrics['trace.overhead_pct'][0]:+.1f}% of pass_s")
    else:
        metrics = e2e
    declared = os.path.join(REPO, "BENCHMARK.json")
    if os.path.isfile(declared):
        with open(declared) as fh:
            bench = json.load(fh)
        want = {m["name"]: m["unit"]
                for m in bench["per_layer" if args.trace else "end_to_end"]}
        got = {k: u for k, (_, u) in metrics.items()}
        if want != got:
            fail(f"metrics differ from BENCHMARK.json: {sorted(set(want.items()) ^ set(got.items()))}")
    out["metrics"] = {k: v for k, (v, _) in {**e2e, **metrics}.items()}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(out, fh)
    log(f"{args.workload} seed {args.seed}: " + ", ".join(
        f"{k}={v:.4g}{u}" for k, (v, u) in e2e.items())
        + f"; calib_s={rec['calib_s']:.3f}; {time.time() - t_start:.0f} s total")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    if args.selftest:
        caught = not correct and failed >= 1
        log(f"selftest: corrupted digest {'caught' if caught else 'NOT caught'} "
            f"(error_rate {context['error_rate']:.4f})")
        sys.exit(0 if caught else 1)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
