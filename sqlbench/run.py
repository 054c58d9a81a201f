"""Closed-loop benchmark of the graft SQL engine. See sqlbench/README.md.

    python3 sqlbench/run.py --workload olap_scan --seed 1 --seconds 30 --trace 0

Builds the program from the checkout's sources, generates the seeded
fixture tables and op stream, runs one JVM that plays the ops as a single
closed-loop client, checks every answer, and prints one JSON line: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, os.path.join(BENCH, "lib"))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import check  # noqa: E402
import datagen  # noqa: E402
import metrics as M  # noqa: E402

# Noise controls, identical on every run and recorded in its diagnostics.
# Task slots + JIT threads = nproc (4); the GC threads only run while the
# mutators are stopped (ParallelGC), so they never compete with them. The
# JIT stops at C1: with C2, every new SQL literal's generated classes kept
# two compiler threads busy for more than the whole timed window, and runs
# landed wherever C2 happened to be in its warm-up (read p50 spread across
# seeds 19% with C2, 12% with C1).
HEAP = "1g"
TASK_SLOTS = 2
SHUFFLE_PARTITIONS = 2
JVM_FLAGS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
    "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2", "-XX:TieredStopAtLevel=1",
    "-XX:-UsePerfData",
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
SETUP_REPS = 3
RETAIN = 3  # manifests the vacuum after each write op keeps
JVM_SETUP_TIMEOUT_S = 100  # JVM time allowed beyond --seconds
# The reference job (ClosedLoop.scala, `Reference`): run PROBE_WARM times
# before the set-up, then between ops at least PROBE_EVERY_S apart. Times
# are reported at the speed at which the reference job takes REF_MS.
PROBE_WARM = 3
PROBE_EVERY_S = 1.0
REF_MS = 160.0

# Per workload: warm-up ops after the set-up repetitions (they reach the
# latency plateau) and the read and write ops per second a run completes at
# the least, which fix the tail percentiles.
PLAN = {
    "olap_scan": {"warm": 5, "reads_per_s": 1.15, "writes_per_s": 0.28},
    "txn_churn": {"warm": 5, "reads_per_s": 1.15, "writes_per_s": 0.4},
}
END_TO_END = {
    "setup_s": "s", "throughput_ops": "ops/s", "read_p50_ms": "ms", "read_tail_ms": "ms",
    "write_p50_ms": "ms", "write_tail_ms": "ms", "success_rate": "ratio",
    "space_amp": "ratio", "peak_rss_mb": "MB",
}


def op_of(record_id):
    """Stream op id of a record: both writers of a pair share one op."""
    return record_id[:-2] if record_id.endswith(("-a", "-b")) else record_id


def fail(msg):
    sys.stderr.write(f"sqlbench: {msg}\n")
    sys.exit(1)


def launch(classes, config, log_path, timeout_s):
    cmd = ["java"] + JVM_FLAGS + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Djava.io.tmpdir={os.path.join(os.path.dirname(config), 'tmp')}",
        "-cp", build.classpath(classes), "graft.bench.ClosedLoop", config]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def verify(res, all_txns, oracle, initial):
    """Mark each timed op record ok or not; return (correct, problems)."""
    recs = res["records"]
    problems = []
    for r in recs:
        r["verified"] = bool(r["ok"])
    for r in recs:
        if r["verified"] and r["op"]["k"] == "q":
            r["verified"] = check.rows_match(r["rows"], oracle.rows(r["op"]["sql"]),
                                             r["op"]["ordered"])
    head = {p: check.read_plane(path) for p, path in res["head"].items()}
    reads = [(r["id"], r["gen"], r["last_commit"], r["rows"][0], r["op"]["spec"])
             for r in recs if r["verified"] and r["op"]["k"] == "pq"]
    log_problems, bad = check.replay_check(initial, all_txns,
                                           [tuple(c) for c in res["commits"]],
                                           res["head_gen"], head, reads)
    problems += log_problems
    committed = {t for _, t in res["commits"]}
    for r in recs:
        if r["id"] in bad:
            r["verified"] = False
        if r["cls"] == "write" and r["verified"] and (log_problems or r["txn"] not in committed):
            r["verified"] = False
    bad_ops = [r["id"] for r in recs if not r["verified"]]
    if bad_ops:
        problems.append(f"{len(bad_ops)} ops failed or answered wrongly, e.g. {bad_ops[:3]}")
    return not problems, problems


def end_to_end(res, recs, workload, seconds):
    plan = PLAN[workload]
    lat = {c: [r["lat_ms"] for r in recs if r["cls"] == c and r["verified"]]
           for c in ("read", "write")}
    for c, v in lat.items():
        if not v:
            fail(f"no {c} op completed and verified in the timed window; "
                 "a run of --seconds 30 completes several")
    read_p = M.tail_percentile(int(plan["reads_per_s"] * seconds))
    write_p = M.tail_percentile(int(plan["writes_per_s"] * seconds))
    probe_ms = statistics.median(res["probes"])
    busy_s = res["window_s"] - sum(res["probes"]) / 1e3
    raw = {
        "setup_s": res["session_s"] + statistics.median(res["setup_reps_s"]) + res["warmup_s"],
        "throughput_ops": len(recs) / busy_s,
        "read_p50_ms": M.median(lat["read"]),
        "read_tail_ms": M.tail(lat["read"], read_p),
        "write_p50_ms": M.median(lat["write"]),
        "write_tail_ms": M.tail(lat["write"], write_p),
    }
    vals = M.at_reference_speed(raw, probe_ms, REF_MS, rates=("throughput_ops",))
    vals.update({
        "success_rate": sum(r["verified"] for r in recs) / len(recs),
        "space_amp": M.space_amp(os.path.join(res["store"], "planes"),
                                 os.path.join(res["store"], "log"), res["head"]),
        "peak_rss_mb": res["jvm"]["vmhwm_kb"] / 1024.0,
    })
    diag = {"read_tail_pct": read_p, "write_tail_pct": write_p,
            "reads": len(lat["read"]), "writes": len(lat["write"]),
            "reads_beyond_tail": M.samples_beyond(len(lat["read"]), read_p),
            "writes_beyond_tail": M.samples_beyond(len(lat["write"]), write_p),
            "probe_ms": probe_ms, "probes": len(res["probes"]), "scale": REF_MS / probe_ms,
            "unscaled": raw}
    return vals, diag


def per_layer(res, recs, all_txns):
    traced = [r for r in recs if r.get("traced")]
    ops = sorted({op_of(r["id"]) for r in traced})
    n_ops = max(1, len(ops))
    reads = [r for r in traced if r["cls"] == "read" and "phases" in r]
    n_reads = max(1, len(reads))

    def per_read(f):
        return sum(f(r) for r in reads) / n_reads

    ph = lambda r, k: r["phases"].get(k, 0)  # noqa: E731
    lst = res["listener"]

    def per_op_listener(k):
        return sum(lst.get(o, {}).get(k, 0) for o in ops) / n_ops

    # Counter deltas are per stream op; a pair carries them on both writers.
    seen, counters = set(), {"files_discovered": 0, "codegen_compiles": 0, "codegen_ns": 0}
    for r in traced:
        op = op_of(r["id"])
        if op not in seen:
            seen.add(op)
            for k in counters:
                counters[k] += r["c"][k]
    spans = res["spans"]
    span_ms = {}
    for s in spans:
        span_ms[s["name"]] = span_ms.get(s["name"], 0) + (s["end_ns"] - s["start_ns"]) / 1e6
    self_ms = M.self_times_ms(spans)
    layer = {"client": 0.0, "sources": 0.0, "gateway": 0.0, "exec": 0.0, "occ": 0.0}
    for s in spans:
        name = s["name"]
        layer["client" if name == "op" else "occ" if name.startswith("occ.") else
              "exec" if name == "exec.collect" else "gateway"] += self_ms[s["id"]]
    # Within gateway.sql, time outside parse+analysis is view registration;
    # within exec.collect, optimisation and planning are front-end time.
    register = sum(r["sql_ms"] - ph(r, "parsing") - ph(r, "analysis") for r in reads)
    front = sum(ph(r, "optimization") + ph(r, "planning") for r in reads)
    layer["sources"] += register
    layer["gateway"] += front - register
    layer["exec"] -= front
    rows_out = sum(len(r["rows"]) for r in reads)
    writes = [r for r in recs if r["cls"] == "write" and r["ok"]]
    tw = [r for r in writes if r.get("traced")]
    user_bytes = sum(16 * all_txns[r["txn"]].changed_rows() for r in tw)
    vac = res["vacuums"]
    # Tracing overhead per read template (literals stripped), so the
    # random traced half's mix of cheap and costly templates cancels out.
    by_shape = {}
    for r in recs:
        if r["cls"] == "read":
            shape = re.sub(r"\d+", "", r["op"]["sql"])
            by_shape.setdefault(shape, ([], []))[0 if r.get("traced") else 1].append(r["lat_ms"])
    overhead = [(len(t) + len(u), M.median(t) - M.median(u)) for t, u in by_shape.values() if t and u]
    steal, other = M.host_cpu(res["proc_stat"][0], res["proc_stat"][1], res["jvm"]["cpu_ms"])
    return {
        "sources.register_ms": register / n_reads,
        "sources.files_discovered": counters["files_discovered"] / n_ops,
        "gateway.analyze_ms": per_read(lambda r: ph(r, "parsing") + ph(r, "analysis")),
        "gateway.optimize_ms": per_read(lambda r: ph(r, "optimization")),
        "gateway.plan_ms": per_read(lambda r: ph(r, "planning")),
        "codegen.compiles": counters["codegen_compiles"] / n_ops,
        "codegen.compile_ms": counters["codegen_ns"] / 1e6 / n_ops,
        "plans.exchanges": per_read(lambda r: r["plan"]["exchanges"]),
        "plans.scans": per_read(lambda r: r["plan"]["scans"]),
        "plans.topk_nodes": per_read(lambda r: r["plan"]["topk_nodes"]),
        "exec.jobs": per_op_listener("jobs"),
        "exec.stages": per_op_listener("stages"),
        "exec.tasks": per_op_listener("tasks"),
        "exec.task_ms": per_op_listener("task_ms"),
        "exec.wait_ms": per_op_listener("wait_ms"),
        "exec.gc_ms": per_op_listener("gc_ms"),
        "exec.input_bytes": per_op_listener("input_bytes"),
        "exec.rows_scanned_per_row_returned":
            sum(lst.get(r["id"], {}).get("records_read", 0) for r in reads) / max(1, rows_out),
        "exec.shuffle_read_bytes": per_op_listener("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": per_op_listener("shuffle_write_bytes"),
        "exec.spill_bytes": per_op_listener("spill_bytes"),
        "exec.failed_tasks": per_op_listener("failed_tasks"),
        "occ.resolve_ms": span_ms.get("occ.resolve", 0) / n_ops,
        "occ.stage_ms": span_ms.get("occ.stage", 0) / n_ops,
        "occ.bytes_written_per_user_byte":
            sum(r["staged_bytes"] for r in tw) / max(1, user_bytes),
        "occ.cas_ms": span_ms.get("occ.cas", 0) / n_ops,
        "occ.cas_attempts_per_commit": sum(r["attempts"] for r in writes) / max(1, len(writes)),
        "occ.vacuum_ms": statistics.fmean([v["ms"] for v in vac]) if vac else 0.0,
        "occ.vacuum_deleted": statistics.fmean([v["deleted"] for v in vac]) if vac else 0.0,
        "occ.log_len": res["log_len"],
        "jvm.gc_pause_ms": res["jvm"]["gc_ms"],
        "jvm.jit_ms": res["jvm"]["jit_ms"],
        "host.steal_pct": steal,
        "host.other_cpu_pct": other,
        **{f"self.{k}_ms": v / n_ops for k, v in layer.items()},
        "host.ref_ms": statistics.median(res["probes"]),
        "trace.overhead_ms":
            sum(n * d for n, d in overhead) / sum(n for n, _ in overhead) if overhead else 0.0,
    }


PER_LAYER_UNITS = {
    "sources.register_ms": "ms", "sources.files_discovered": "count",
    "gateway.analyze_ms": "ms", "gateway.optimize_ms": "ms", "gateway.plan_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "plans.exchanges": "count", "plans.scans": "count", "plans.topk_nodes": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.task_ms": "ms",
    "exec.wait_ms": "ms", "exec.gc_ms": "ms", "exec.input_bytes": "bytes",
    "exec.rows_scanned_per_row_returned": "ratio", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.failed_tasks": "count",
    "occ.resolve_ms": "ms", "occ.stage_ms": "ms", "occ.bytes_written_per_user_byte": "ratio",
    "occ.cas_ms": "ms", "occ.cas_attempts_per_commit": "ratio", "occ.vacuum_ms": "ms",
    "occ.vacuum_deleted": "count", "occ.log_len": "count",
    "jvm.gc_pause_ms": "ms", "jvm.jit_ms": "ms", "host.steal_pct": "%", "host.other_cpu_pct": "%",
    "host.ref_ms": "ms",
    "self.client_ms": "ms", "self.sources_ms": "ms", "self.gateway_ms": "ms",
    "self.exec_ms": "ms", "self.occ_ms": "ms", "trace.overhead_ms": "ms",
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(datagen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        tables = datagen.make_tables(args.seed)
        data = os.path.join(work, "data")
        datagen.write_tables(tables, data)
        plan = PLAN[args.workload]
        warm, warm_txns = datagen.op_stream(args.workload, args.seed,
                                            plan["warm"], 0)
        run_ops, run_txns = datagen.op_stream(args.workload, args.seed,
                                              int(args.seconds * 80) + 200, 1)
        ops_path = os.path.join(work, "ops.json")
        datagen.write_ops(ops_path, warm, run_ops)
        config = os.path.join(work, "config.json")
        result = os.path.join(work, "result.json")
        with open(config, "w") as f:
            json.dump({
                "seconds": args.seconds, "trace": bool(args.trace),
                "data": data, "work": work, "ops": ops_path, "result": result,
                "task_slots": TASK_SLOTS, "shuffle_partitions": SHUFFLE_PARTITIONS,
                "setup_reps": SETUP_REPS, "retain": RETAIN,
                "probe_warm": PROBE_WARM, "probe_every_s": PROBE_EVERY_S,
                "planes": list(datagen.PLANES), "bootstrap": datagen.BOOTSTRAP_SQL}, f)
        log_path = os.path.join(work, "jvm.log")
        rc = launch(classes, config, log_path, args.seconds + JVM_SETUP_TIMEOUT_S)
        if rc != 0 or not os.path.exists(result):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"client JVM exited with {rc}")
        with open(result) as f:
            res = json.load(f)
        recs = res["records"]
        if not recs:
            fail("no op completed in the timed window")
        for r in recs:
            op = run_ops[int(op_of(r["id"]).split("-")[1])]
            r["op"] = op if op["k"] != "pair" else op[r["id"][-1]]
        oracle = check.Oracle(data, ["orders", "customer", "nation", "lineitem"])
        all_txns = {**warm_txns, **run_txns}
        correct, problems = verify(res, all_txns, oracle,
                                   datagen.bootstrap_planes(tables))
        e2e, diag = end_to_end(res, recs, args.workload, args.seconds)
        steal, other = M.host_cpu(res["proc_stat"][0], res["proc_stat"][1], res["jvm"]["cpu_ms"])
        diag.update({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "problems": problems, "jvm_gc_pause_ms": res["jvm"]["gc_ms"],
            "jvm_jit_ms": res["jvm"]["jit_ms"], "host_steal_pct": steal,
            "host_other_cpu_pct": other, "session_s": res["session_s"],
            "setup_reps_s": res["setup_reps_s"], "warmup_s": res["warmup_s"], "window_s": res["window_s"],
            "task_slots": TASK_SLOTS, "shuffle_partitions": SHUFFLE_PARTITIONS,
            "jvm_args": res["jvm"]["input_args"], "gc": res["jvm"]["gc"],
            **({} if args.trace else e2e)})
        if args.trace:
            vals = per_layer(res, recs, all_txns)
            units = PER_LAYER_UNITS
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
            with open(spans, "w") as f:
                for s in res["spans"]:
                    f.write(json.dumps(s) + "\n")
            diag["spans"] = os.path.relpath(spans, ROOT)
        else:
            vals, units = e2e, END_TO_END
        sys.stderr.write("sqlbench diagnostics: " + json.dumps(diag) + "\n")
        print(json.dumps({
            "correct": correct, "attempted": len(recs),
            "failed": sum(not r["verified"] for r in recs),
            "metrics": {k: {"value": vals[k], "unit": units[k]} for k in units}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
