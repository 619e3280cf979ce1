"""Per-layer metrics and spans from a traced harness record.

A traced execution of a key carries the spans its listeners recorded: one
per query execution (`qe`, with Catalyst's analysis, optimization and
planning phases), per job, per stage (with the sums of its tasks'
metrics), per streaming query and per micro-batch trigger. All times are
epoch milliseconds.

Two things are derived per key. The layer-sum check (`key_check`) adds up
parts measured by independent clocks and compares them with the key's
wall time. The self-time split (`key_layers`) attributes the wall time
to layers for the trace file and the per-layer metrics; its driver part
is the remainder, so that split adds up by construction and is not a
check.
"""
import statistics

# A key's independent parts must sum to its wall time within
# max(TOLERANCE_MS, TOLERANCE_SHARE * wall).
TOLERANCE_MS = 5.0
TOLERANCE_SHARE = 0.05


def union(intervals):
    """Sorted, merged copy of a list of (start, end) intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def length(intervals):
    return sum(e - s for s, e in intervals)


def clip(intervals, lo, hi):
    return union([(max(s, lo), min(e, hi)) for s, e in intervals])


def minus(a, b):
    """Parts of the merged intervals `a` not covered by the merged `b`."""
    out = []
    for s, e in a:
        cur = s
        for bs, be in b:
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append([cur, bs])
            cur = max(cur, be)
        if cur < e:
            out.append([cur, e])
    return out


def key_layers(ex):
    """Self time per layer of one traced execution, in ms: executor (the
    union of its job intervals), catalyst (phase intervals outside jobs),
    codegen (what the codegen counters added) and driver (the rest of the
    construct and action windows). Also returns the job union inside the
    key's window."""
    lo, mid, hi = ex["start_ms"], ex["construct_end_ms"], ex["end_ms"]
    spans = ex["spans"]
    jobs = union([(s["start_ms"], s["end_ms"]) for s in spans if s["kind"] == "job"])
    phases = union([(p["start_ms"], p["end_ms"]) for s in spans if s["kind"] == "qe"
                    for p in s["phases"].values()])
    events = union(jobs + phases)
    catalyst = minus(phases, jobs)
    codegen = ex["codegen_gen_ms"] + ex["codegen_compile_ms"]
    inside = clip(events, lo, hi)
    construct_free = (mid - lo) - length(clip(inside, lo, mid))
    action_free = (hi - mid) - length(clip(inside, mid, hi))
    parts = {
        "executor": length(jobs),
        "catalyst": length(catalyst),
        "codegen": codegen,
        "driver_construct": max(0.0, construct_free),
        "driver_action": max(0.0, action_free - codegen),
    }
    return parts, length(clip(jobs, lo, hi))


def key_check(ex):
    """The layer-sum check of one traced execution. Its parts come from
    independent sources:

    - construct_ms: the harness's clock around
      `SparkEntry.queries(key)(spark, dir)`;
    - count_ms: Spark's own timer of the `count()` execution (the duration
      the QueryExecutionListener receives), which covers its optimization,
      planning and jobs;
    - analysis_ms: the analysis phase of the `count()` plan (the planning
      tracker), which `Dataset.count()` runs before that timer starts.

    residual_ms is the wall time none of them covers: driver time in the
    action outside the execution. A key passes when |residual_ms| is
    within the tolerance and the union of the jobs the listener saw in the
    action (the scheduler's clock) fits inside count_ms. A key whose
    `count()` execution the listener missed fails."""
    wall = ex["wall_s"] * 1000
    construct = ex["construct_s"] * 1000
    tol = max(TOLERANCE_MS, TOLERANCE_SHARE * wall)
    counts = [s for s in ex["spans"] if s["kind"] == "qe" and s["name"] == "count"]
    q = max(counts, key=lambda s: s["exec_id"]) if counts else None
    count = q["duration_ms"] if q else 0.0
    ph = q["phases"].get("analysis") if q else None
    analysis = ph["end_ms"] - ph["start_ms"] if ph else 0.0
    action_jobs = length(clip(
        union([(s["start_ms"], s["end_ms"]) for s in ex["spans"] if s["kind"] == "job"]),
        ex["construct_end_ms"], ex["end_ms"]))
    residual = wall - construct - count - analysis
    ok = q is not None and abs(residual) <= tol and action_jobs <= count + tol
    parts = {"construct_ms": construct, "count_ms": count, "analysis_ms": analysis,
             "action_jobs_ms": action_jobs, "residual_ms": residual}
    return parts, wall, ok


def spans_of(rec):
    """Every span of the run as flat records with ids and parents: run,
    set-up, staged build, pass, key, construct, action, query execution,
    streaming query, trigger, job and stage. Spans of one key share its
    `key_id`."""
    out = []
    ids = iter(range(1, 1 << 62))

    def add(kind, name, start, end, parent, **attrs):
        sid = next(ids)
        out.append({"id": sid, "parent": parent, "kind": kind, "name": name,
                    "start_ms": start, "end_ms": end, **attrs})
        return sid

    order = {"stream_query": 0, "qe": 1, "trigger": 2, "job": 3, "stage": 4}

    def children(spans, parents, key_id):
        # parents: [(id, start, end)], innermost last. A trigger's parent is
        # its streaming query; any other span's is the innermost recorded
        # span that can hold it and contains its start.
        qes, triggers, jobs, streams = [], [], [], {}
        for s in sorted(spans, key=lambda s: (s["start_ms"], order[s["kind"]])):
            kind = s["kind"]
            pool = parents + (qes + triggers if kind in ("job", "stage") else []) \
                + (jobs if kind == "stage" else [])
            parent = next((p for p in reversed(pool)
                           if p[1] <= s["start_ms"] <= p[2]), parents[0])[0]
            if kind == "trigger":
                parent = streams.get(s["run_id"], parent)
            attrs = {k: v for k, v in s.items() if k not in ("kind", "name", "start_ms", "end_ms")}
            sid = add(kind, s.get("name", kind), s["start_ms"], s["end_ms"], parent,
                      key_id=key_id, **attrs)
            interval = (sid, s["start_ms"], s["end_ms"])
            if kind == "qe":
                qes.append(interval)
            elif kind == "trigger":
                triggers.append(interval)
            elif kind == "job":
                jobs.append(interval)
            elif kind == "stream_query":
                streams[s["run_id"]] = sid

    st = rec["setup"]
    run_id = add("run", "run", st["start_ms"], None, None)
    sid = add("setup", "setup", st["start_ms"], st["start_ms"] + st["setup_s"] * 1000, run_id)
    for b in st["staged"]:
        end = b["start_ms"] + b["build_s"] * 1000
        bid = add("staged_build", b["key"], b["start_ms"], end, sid, builds=b["builds"])
        children(b["spans"], [(bid, b["start_ms"], end)], f"setup:{b['key']}")
    pass_ids = {}
    for p in rec["passes"]:
        pass_ids[p["pass"]] = add("pass", f"pass{p['pass']}", p["start_ms"],
                                  p["start_ms"] + p["wall_s"] * 1000, run_id,
                                  traced=p["traced"])
    for n, ex in enumerate(e for e in rec["execs"] if "spans" in e):
        key_id = f"p{ex['pass']}:{ex['key']}:{n}"
        kid = add("key", ex["key"], ex["start_ms"], ex["end_ms"],
                  pass_ids[ex["pass"]], key_id=key_id, ok=ex["ok"], rows=ex["rows"])
        cid = add("construct", "construct", ex["start_ms"], ex["construct_end_ms"], kid,
                  key_id=key_id)
        aid = add("action", "count", ex["construct_end_ms"], ex["end_ms"], kid,
                  key_id=key_id, codegen_gen_ms=ex["codegen_gen_ms"],
                  codegen_compile_ms=ex["codegen_compile_ms"])
        parts, _ = key_layers(ex)
        check, wall, ok = key_check(ex)
        out.append({"id": next(ids), "parent": kid, "kind": "self_time", "key_id": key_id,
                    "wall_ms": wall, **{f"{k}_ms": v for k, v in parts.items()}})
        out.append({"id": next(ids), "parent": kid, "kind": "layer_check", "key_id": key_id,
                    "wall_ms": wall, "ok": ok, **check})
        children(ex["spans"], [(kid, ex["start_ms"], ex["end_ms"]),
                               (cid, ex["start_ms"], ex["construct_end_ms"]),
                               (aid, ex["construct_end_ms"], ex["end_ms"])], key_id)
    return out


def stage_sum(spans, field):
    return sum(s.get(field, 0) for s in spans if s["kind"] == "stage")


def final_state(spans, field):
    """Sum over streaming queries of `field` in each one's last trigger."""
    last = {}
    for s in sorted((s for s in spans if s["kind"] == "trigger"), key=lambda s: s["start_ms"]):
        last[s["run_id"]] = s[field]
    return sum(last.values())


def per_layer(rec, areas):
    """Returns ({metric: (value, unit)}, spans, layer-sum check summary).
    Per-pass totals are medians over the traced passes."""
    traced = [p["pass"] for p in rec["passes"] if p["traced"]]
    execs = [e for e in rec["execs"] if "spans" in e]
    per_pass = {p: [e for e in execs if e["pass"] == p] for p in traced}

    def med(f):
        return statistics.median(f(per_pass[p]) for p in traced)

    def total(f):
        return lambda es: sum(f(e) for e in es)

    def spans(e, kind):
        return [s for s in e["spans"] if s["kind"] == kind]

    def phase_ms(name):
        return total(lambda e: sum(s["phases"][name]["end_ms"] - s["phases"][name]["start_ms"]
                                   for s in spans(e, "qe") if name in s["phases"]))

    def construct_jobs(e):
        return sum(1 for s in spans(e, "job") if s["start_ms"] < e["construct_end_ms"])

    def driver_gap(e):
        return (e["end_ms"] - e["start_ms"]) - key_layers(e)[1]

    def field(name):
        return total(lambda e: stage_sum(e["spans"], name))

    checks = [key_check(e) for e in execs]
    # The first pass, untraced and still JIT-heavy, is left out.
    untraced = [p["wall_s"] for p in rec["passes"] if not p["traced"] and p["pass"] > 1]
    traced_s = [p["wall_s"] for p in rec["passes"] if p["traced"]]
    staged = rec["setup"]["staged"]
    build_spans = [s for b in staged for s in b["spans"]]
    all_execs = rec["execs"] + rec["check"]
    scan_rows = med(field("scan_rows"))
    result_rows = med(total(lambda e: max(e["rows"], 0)))
    trigger_ms = [s["end_ms"] - s["start_ms"] for e in execs for s in spans(e, "trigger")]

    m = {
        "session.start_s": (rec["setup"]["session_start_s"], "s"),
        "entry.construct_s": (med(total(lambda e: e["construct_s"])), "s"),
        "entry.construct_jobs": (med(total(construct_jobs)), "count"),
        "catalyst.analysis_ms": (med(phase_ms("analysis")), "ms"),
        "catalyst.optimization_ms": (med(phase_ms("optimization")), "ms"),
        "catalyst.planning_ms": (med(phase_ms("planning")), "ms"),
        "catalyst.executions": (med(total(lambda e: len(spans(e, "qe")))), "count"),
        "codegen.gen_ms": (med(total(lambda e: e["codegen_gen_ms"])), "ms"),
        "codegen.compile_ms": (med(total(lambda e: e["codegen_compile_ms"])), "ms"),
        "codegen.compiles": (med(total(lambda e: e["codegen_compiles"])), "count"),
        "executor.jobs": (med(total(lambda e: len(spans(e, "job")))), "count"),
        "executor.stages": (med(total(lambda e: len(spans(e, "stage")))), "count"),
        "executor.tasks": (med(field("tasks")), "count"),
        "executor.run_ms": (med(field("run_ms")), "ms"),
        "executor.cpu_ms": (med(field("cpu_ms")), "ms"),
        "executor.gc_ms": (med(field("gc_ms")), "ms"),
        "executor.sched_wait_ms": (med(field("sched_wait_ms")), "ms"),
        "executor.task_failures": (med(field("task_failures")), "count"),
        "executor.driver_gap_ms": (med(total(driver_gap)), "ms"),
        "Tables.scan_bytes": (med(field("scan_bytes")), "bytes"),
        "Tables.scan_rows": (scan_rows, "rows"),
        "Tables.rows_per_result": (scan_rows / max(result_rows, 1), "ratio"),
        "shuffle.write_bytes": (med(field("shuffle_write_bytes")), "bytes"),
        "shuffle.read_bytes": (med(field("shuffle_read_bytes")), "bytes"),
        "shuffle.spill_bytes": (med(field("spill_bytes")), "bytes"),
        "shuffle.fetch_wait_ms": (med(field("fetch_wait_ms")), "ms"),
        "Staging.builds": (sum(e["builds"] for e in all_execs), "count"),
        "Staging.hit_ratio": (sum(e["builds"] == 0 for e in all_execs) / len(all_execs), "ratio"),
        "Staging.build_s": (sum(b["build_s"] for b in staged), "s"),
        "Staging.bytes": (areas["staging"], "bytes"),
        "Sinks.output_bytes": (stage_sum(build_spans, "output_bytes"), "bytes"),
        "Sinks.output_rows": (stage_sum(build_spans, "output_rows"), "rows"),
        "Streams.queries": (med(total(lambda e: len(spans(e, "stream_query")))), "count"),
        "Streams.triggers": (med(total(lambda e: len(spans(e, "trigger")))), "count"),
        "Streams.batch_ms_p50": (statistics.median(trigger_ms) if trigger_ms else 0.0, "ms"),
        "Streams.input_rows": (med(total(lambda e: sum(s["input_rows"] for s in spans(e, "trigger")))), "rows"),
        "Streams.state_rows": (med(total(lambda e: final_state(e["spans"], "state_rows"))), "rows"),
        "Streams.state_bytes": (med(total(lambda e: final_state(e["spans"], "state_bytes"))), "bytes"),
        "stored_mb": (areas["stored"] / 2**20, "MB"),
        "jvm.gc_ms": (statistics.median(p["gc_ms"] for p in rec["passes"] if p["traced"]), "ms"),
        "jvm.jit_ms": (statistics.median(p["jit_ms"] for p in rec["passes"] if p["traced"]), "ms"),
        "driver.action_residual_ms": (med(total(lambda e: key_check(e)[0]["residual_ms"])), "ms"),
        "trace.overhead_pct": (100.0 * (statistics.median(traced_s) / statistics.median(untraced) - 1), "%"),
        "trace.keys_within_tolerance": (sum(ok for _, _, ok in checks) / max(len(checks), 1), "ratio"),
    }
    summary = {"keys": len(checks), "within": sum(ok for _, _, ok in checks),
               "tolerance": f"max({TOLERANCE_MS} ms, {TOLERANCE_SHARE:.0%} of wall)",
               "failed": [(e["key"], e["pass"], c) for e, (c, _, ok) in zip(execs, checks) if not ok]}
    return m, spans_of(rec), summary
