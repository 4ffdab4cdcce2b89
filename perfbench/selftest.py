"""Self-test of the benchmark's own checks: `python3 perfbench/run.py --selftest`.

It proves, against the program built from this checkout, that
  1. the generators are deterministic: one seed gives a byte-identical
     operation stream, two seeds give different ones;
  2. an altered result row is caught by the pipeline output check;
  3. a constraint violation the program silently accepts is caught, while
     violations it rejects pass.
Exits 0 when every check holds.
"""
import json
import os
import shutil
import sys

import build
import gen
import oracle
import run


def _caught(label, ok):
    print(f"selftest {'OK ' if ok else 'BAD'} {label}")
    return ok


def main():
    root = os.getcwd()
    results = []
    for w in gen.WORKLOADS:
        a = gen.stream_bytes(gen.generate(w, 1))
        b = gen.stream_bytes(gen.generate(w, 1))
        c = gen.stream_bytes(gen.generate(w, 2))
        results.append(_caught(f"{w}: same seed gives the same stream, another seed a different one",
                               a == b and a != c))

    try:
        classpath = build.ensure(root)
    except build.BuildError as e:
        print(f"selftest: build failed: {e}", file=sys.stderr)
        return 2
    pipes = [op for op in gen.generate("pipe_queries", 1) if op["phase"] == "timed"][:2]
    script = [
        ("write", False, "create table pb_t0 (k bigint primary key, v integer not null, check (v >= 0))"),
        # a valid row declared as a violation: the program accepts it, and
        # the check must report that it did
        ("violation", True, "insert into pb_t0 values (1, 5)"),
        ("violation", True, "insert into pb_t0 values (2, -1)"),
        ("violation", True, "insert into pb_t0 values (1, 7)"),
        ("violation", True, "insert into pb_t0 values (3, null)"),
        ("read", False, "select k, v from pb_t0"),
    ]
    dml = [{"id": f"t0s{i}", "phase": "timed", "pass": 0, "kind": "dml", "text": text,
            "role": role, "expect_error": err} for i, (role, err, text) in enumerate(script)]
    run_dir = os.path.join(root, ".bench_build", "selftest")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ops_file = os.path.join(run_dir, "ops.jsonl")
    with open(ops_file, "wb") as fh:
        fh.write(gen.stream_bytes(pipes + dml))
    res = run.run_jvm(classpath, run_dir, ops_file, 0.001, 0, 1)
    failed = {f["id"] for f in res["failures"]}
    results.append(_caught("a violation the program accepts is reported", "t0s1" in failed))
    results.append(_caught("violations the program rejects are not reported",
                           not failed & {"t0s2", "t0s3", "t0s4"}))
    bad, _ = oracle.check_dml(dml, [r for r in res["ops"] if r["kind"] == "dml"], [], run.SF_DIR)
    results.append(_caught("the DuckDB replay flags the same statement", set(bad) == {"t0s1"}))

    recs = [r for r in res["ops"] if r["kind"] == "pipe"]
    results.append(_caught("unaltered pipeline outputs match the oracle",
                           not oracle.check_pipes(pipes, recs, run.SF_DIR)))
    altered = json.loads(json.dumps(recs))
    rec = next(r for r in altered if r["output"]["rows"])
    col = next(i for i, t in enumerate(rec["output"]["types"])
               if t in ("BIGINT", "INTEGER", "DOUBLE"))
    rec["output"]["rows"][0][col] += 1
    results.append(_caught("an altered result row is reported",
                           list(oracle.check_pipes(pipes, altered, run.SF_DIR)) == [rec["id"]]))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"selftest: {sum(results)}/{len(results)} checks hold")
    return 0 if all(results) else 1
