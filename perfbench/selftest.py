#!/usr/bin/env python3
"""The benchmark's own test. From the root of a checkout:

    python3 perfbench/selftest.py

1. Runs one traced and one untraced run of every workload at the small
   `test` scale and checks that the last stdout line is a result with
   exactly the contract's keys, that no op failed, and that every metric
   BENCHMARK.json names is printed with its unit.
2. Injects a fault into one op and checks that the run reports it as a
   failed op (failed > 0, correct false, failed_ops_share > 0).
3. Runs the benchmark in a directory holding only BENCHMARK.json and the
   benchmark's files, and checks that it exits non-zero without a result.

Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, *extra, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "0",
                             "--trace", str(trace), "--scale", "test", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def check(ok, msg):
    print(("ok   " if ok else "FAIL ") + msg, flush=True)
    if not ok:
        sys.exit(1)


def result_of(lines):
    r = json.loads(lines[-1])
    check(sorted(r) == ["attempted", "correct", "failed", "metrics"],
          "result has exactly correct/attempted/failed/metrics")
    return r


def main():
    for w in [x["name"] for x in SPEC["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, lines, err = run(w, trace)
            check(rc == 0 and lines, f"{w} trace={trace} exits 0 with output")
            r = result_of(lines)
            check(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                  f"{w} trace={trace}: {r['attempted']} ops, none failed")
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            check(got == want, f"{w} trace={trace} prints every {key} metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in r["metrics"].values()),
                  f"{w} trace={trace} metric values are numbers")

    w = "kernels"
    rc, lines, err = run(w, 0, "--inject-fault", "text_hash_embed")
    r = result_of(lines)
    env = json.loads(lines[-2])["env"]
    check(rc == 0 and r["failed"] > 0 and not r["correct"] and env["failed_ops_share"] > 0,
          f"an injected fault counts as failed: {r['failed']} of {r['attempted']} ops, "
          f"failed_ops_share {env['failed_ops_share']:.3f}")

    bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("target"))
        rc, lines, err = run(w, 0, cwd=bare)
        check(rc != 0 and not lines, "without the library sources it exits non-zero, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
