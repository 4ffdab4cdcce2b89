#!/usr/bin/env python3
"""The repo benchmark: generated PSQL pipelines, declared operator rows and a
DML statement stream, each timed end to end (and, with --trace 1, layer by
layer) against the program built from this checkout.

    python3 perfbench/run.py --workload pipe_queries --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. It builds the program with
perfbench/build.py, generates the workload's operations from --seed
(perfbench/gen.py), runs them in one JVM (perfbench/src), checks every
output against DuckDB (perfbench/oracle.py) and prints the result as the
last line of standard output. See perfbench/README.md for the workloads,
metrics and protocol.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
# the same tables at sf0.001, for warm-up rows that should cost little
SMALL_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
HEAP = "4g"
SETUPS = 3
CPUS = len(os.sched_getaffinity(0))
JVM_TIMEOUT_S = 160

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "retained_heap_mb": "MB"}

PER_LAYER = {
    "tables.register_ms": "ms",
    "psql.rewrite_ms": "ms", "psql.sql_ms": "ms", "psql.build_jobs": "count",
    "psql.query_execs_per_stmt": "count",
    "catalyst.parse_ms": "ms", "catalyst.analyze_ms": "ms", "catalyst.optimize_ms": "ms",
    "catalyst.plan_ms": "ms",
    "operators.build_ms": "ms", "operators.build_jobs": "count",
    "operators.build_query_execs": "count", "operators.build_share": "ratio",
    "operators.driver_gap_ms": "ms",
    "exec.final_ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_cpu_ms": "ms", "exec.cpu_util": "ratio", "exec.shuffle_mb": "MB",
    "exec.spill_mb": "MB", "exec.task_retries": "count", "exec.codegen_compiles": "count",
    "storage.rows_written": "count", "storage.bytes_written_mb": "MB",
    "storage.rows_written_per_row_changed": "ratio",
    "streaming.op_ms": "ms", "streaming.task_cpu_ms": "ms",
    "jvm.gc_ms": "ms",
    "trace.overhead": "ratio", "trace.pass_s_traced": "s", "trace.pass_s_untraced": "s",
}


def host_sample():
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {"steal_jiffies": int(cpu[8]), "total_jiffies": sum(int(x) for x in cpu[1:]),
            "loadavg": [float(x) for x in load]}


def source_sha(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    with open(os.path.join(root, ".bench_build", "program.jar.stamp")) as fh:
        return "sources-" + fh.read().strip()[:16]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    return statistics.quantiles(xs, n=10)[-1]


def jvm_flags():
    """The JVM options of every harness run; the host record carries them."""
    return [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [f"-Xmx{HEAP}"]


def run_jvm(classpath, run_dir, ops_file, seconds, trace, setups):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_flags() +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
            "-cp", ":".join(classpath), "perfbench.Harness",
            "--ops", ops_file, "--out", run_dir, "--sf", SF_DIR, "--small-sf", SMALL_SF_DIR,
            "--cpus", str(CPUS), "--seconds", str(seconds),
            "--trace", str(trace), "--setups", str(setups),
            "--spawn-ms", str(int(time.time() * 1000))])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S}s; log: {log}")
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"JVM exited with {rc}:\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)
    for rec in res["ops"] + res["final"]:
        name = rec.pop("output_file", None)
        if name:
            with open(os.path.join(run_dir, "outputs", name)) as fh:
                rec["output"] = json.load(fh)
    return res


def end_to_end(res, ops_timed):
    setups = [s["total_ms"] for s in res["setups"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    walls = [r["wall_ms"] for r in ops_timed]
    ret = res["retained"]
    return {
        "setup_s": ((res["jvm_start_ms"] + median(setups) + res["warmup_ms"]) / 1000, len(setups)),
        "pass_s": (median([p["wall_ms"] for p in untraced]) / 1000, len(untraced)),
        "op_p50_ms": (median(walls), len(walls)),
        "retained_heap_mb": ((ret["heap_bytes"] + ret["disk_block_bytes"]) / 2**20, 1),
    }


def per_layer(res, traced_ops, changed, cpus):
    """Per-operation means over the traced passes. Counters come from the
    first traced pass alone, whose operations a seed fixes, so they can be
    compared exactly across runs of one seed."""
    first = min((r["pass"] for r in traced_ops), default=None)

    def pick(kinds=None, rows=None):
        return [r for r in traced_ops
                if (kinds is None or r["kind"] in kinds) and (rows is None or r["row"] in rows)]

    def mean(recs, f):
        return sum(f(r) for r in recs) / len(recs) if recs else 0.0

    def cnt(recs, key):
        return mean([r for r in recs if r["pass"] == first], lambda r: r["trace"][key])

    def tr(key):
        return lambda r: r["trace"][key]

    every = traced_ops
    text_ops = pick(("pipe", "dml"))
    row_ops = pick(("row",))
    stream_ops = pick(rows=gen.STREAMING_ROWS)
    wall = sum(r["wall_ms"] for r in every)
    row_wall = sum(r["wall_ms"] for r in row_ops)
    row_build = sum(r["build_ms"] for r in row_ops)
    cpu = sum(r["trace"]["task_cpu_ms"] for r in every)
    f_ops = [r for r in every if r["pass"] == first]
    written = sum(r["trace"]["records_written"] for r in f_ops)
    rows_changed = sum(changed.get(r["id"], 0) for r in f_ops)
    passes = res["passes"]
    traced_s = median([p["wall_ms"] / 1000 for p in passes if p["traced"]])
    untraced_s = median([p["wall_ms"] / 1000 for p in passes if not p["traced"]])
    return {
        "tables.register_ms": median([s["register_ms"] for s in res["setups"]]),
        "psql.rewrite_ms": mean(text_ops, lambda r: r["rewrite_ms"]),
        "psql.sql_ms": mean(text_ops, lambda r: r["build_ms"]),
        "psql.build_jobs": cnt(text_ops, "build_jobs"),
        "psql.query_execs_per_stmt": cnt(every, "query_execs"),
        "catalyst.parse_ms": mean(every, lambda r: r["trace"]["catalyst_ms"]["parsing"]),
        "catalyst.analyze_ms": mean(every, lambda r: r["trace"]["catalyst_ms"]["analysis"]),
        "catalyst.optimize_ms": mean(every, lambda r: r["trace"]["catalyst_ms"]["optimization"]),
        "catalyst.plan_ms": mean(every, lambda r: r["trace"]["catalyst_ms"]["planning"]),
        "operators.build_ms": mean(row_ops, lambda r: r["build_ms"]),
        "operators.build_jobs": cnt(row_ops, "build_jobs"),
        "operators.build_query_execs": cnt(row_ops, "build_query_execs"),
        "operators.build_share": row_build / row_wall if row_wall else 0.0,
        "operators.driver_gap_ms": mean(row_ops, tr("driver_gap_ms")),
        "exec.final_ms": mean(every, lambda r: r["wall_ms"] - r["build_ms"] - r["rewrite_ms"]),
        "exec.jobs": cnt(every, "jobs"),
        "exec.stages": cnt(every, "stages"),
        "exec.tasks": cnt(every, "tasks"),
        "exec.task_cpu_ms": mean(every, tr("task_cpu_ms")),
        "exec.cpu_util": cpu / (wall * cpus) if wall else 0.0,
        "exec.shuffle_mb": mean(every, tr("shuffle_bytes")) / 2**20,
        "exec.spill_mb": mean(every, tr("spill_bytes")) / 2**20,
        "exec.task_retries": cnt(every, "task_retries"),
        "exec.codegen_compiles": cnt(every, "codegen_compiles"),
        "storage.rows_written": cnt(every, "records_written"),
        "storage.bytes_written_mb": mean(every, tr("bytes_written")) / 2**20,
        "storage.rows_written_per_row_changed": written / rows_changed if rows_changed else 0.0,
        "streaming.op_ms": mean(stream_ops, lambda r: r["wall_ms"]),
        "streaming.task_cpu_ms": mean(stream_ops, tr("task_cpu_ms")),
        "jvm.gc_ms": median([p["gc_ms"] for p in passes if p["traced"]]),
        "trace.overhead": traced_s / untraced_s if untraced_s else 0.0,
        "trace.pass_s_traced": traced_s,
        "trace.pass_s_untraced": untraced_s,
    }


def check(workload, ops, res, root):
    """Mismatches by operation id, and rows changed by DML operation id."""
    timed = res["ops"]
    if workload == "pipe_queries":
        return oracle.check_pipes(ops, timed, SF_DIR), {}
    if workload == "dml_statements":
        return oracle.check_dml(ops, timed, res["final"], SF_DIR)
    cache = os.path.join(root, ".bench_build", "oracle-cache")
    return oracle.check_rows(timed, res["oracles"], SF_DIR, cache), {}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import selftest
        sys.exit(selftest.main())
    if not args.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    try:
        classpath = build.ensure(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
    for d in (SF_DIR, SMALL_SF_DIR):
        if not os.path.isdir(d):
            print(f"perfbench: no input tables at {d}", file=sys.stderr)
            sys.exit(2)

    ops = gen.generate(args.workload, args.seed)
    stream = gen.stream_bytes(ops)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    run_dir = os.path.join(root, ".bench_build", "runs", run_id)
    os.makedirs(run_dir)
    ops_file = os.path.join(run_dir, "ops.jsonl")
    with open(ops_file, "wb") as fh:
        fh.write(stream)

    before = host_sample()
    try:
        res = run_jvm(classpath, run_dir, ops_file, args.seconds, args.trace, SETUPS)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(3)
    after = host_sample()

    ran = {r["id"] for r in res["ops"]}
    timed_ops = [op for op in ops if op["id"] in ran]
    mismatches, changed = check(args.workload, ops, res, root)
    failures = {f["id"]: f["error"] for f in res["failures"]}
    failures.update(mismatches)
    attempted = len(res["ops"])
    failed = len({k for k in failures if k in ran})

    dsteal = after["steal_jiffies"] - before["steal_jiffies"]
    dtotal = max(1, after["total_jiffies"] - before["total_jiffies"])
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sha": source_sha(root), "nproc": CPUS,
        "heap": HEAP, "jvm_max_heap_bytes": res["host"]["max_heap_bytes"],
        "jvm_flags": " ".join(jvm_flags()),
        "spark_version": res["host"]["spark_version"], "sf_dir": SF_DIR,
        "host_before": before, "host_after": after,
        "steal_share": dsteal / dtotal,
        "stream_sha256": hashlib.sha256(stream).hexdigest(),
        "input": gen.properties(timed_ops),
    }
    print("perfbench host " + json.dumps(record, sort_keys=True))
    for k, why in sorted(failures.items()):
        print(f"perfbench failure {k}: {why}")

    e2e = end_to_end(res, [r for r in res["ops"] if not (r.get("trace"))])
    if args.trace == 0:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
        walls = [r["wall_ms"] for r in res["ops"]]
        for k, (v, n) in e2e.items():
            print(f"perfbench {args.workload} {k} = {v:.6g} {END_TO_END[k]} (n={n})")
        if len(walls) >= 100:
            print(f"perfbench {args.workload} op_p90_ms = {p90(walls):.6g} ms (n={len(walls)})")
        print(f"perfbench {args.workload} fail_ratio = {failed / max(1, attempted):.6g} "
              f"(n={attempted})")
    else:
        traced = [r for r in res["ops"] if r.get("trace")]
        layers = per_layer(res, traced, changed, CPUS)
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
        for k, v in layers.items():
            print(f"perfbench {args.workload} {k} = {v:.6g} {PER_LAYER[k]} (traced ops={len(traced)})")
        print(f"perfbench {args.workload} spans written to {os.path.join(run_dir, 'spans.jsonl')}")
    os.makedirs(os.path.join(root, ".bench_build", "records"), exist_ok=True)
    with open(os.path.join(root, ".bench_build", "records", run_id + ".json"), "w") as fh:
        json.dump({"record": record, "metrics": metrics, "failures": failures,
                   "passes": res["passes"], "setups": res["setups"]}, fh)
    for d in ("tmp", "spark-local", "outputs") + tuple(f"warehouse-{i}" for i in range(SETUPS)):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
