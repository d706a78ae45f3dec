#!/usr/bin/env python3
"""Refresh perfbench/expected.json, the stored outputs the benchmark checks
each op against. From the root of a checkout:

    python3 perfbench/record_expected.py

Runs every workload at the `bench` scale with seeds 100-103 (which cover
the 4 ingest carvings) at the machine's core count and once more at half of
it, with two warm passes each, and stores per op its row count, schema and
content hash. An op whose hash differs between any two of
those executions is stored without a hash and is then checked by row count
and schema only. Rows or schemas that differ are an error: the op's output
is not deterministic and cannot be checked this way.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def main():
    cores = os.cpu_count()
    merged = {}
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as tmp:
        for w in [x["name"] for x in SPEC["workloads"]]:
            runs = [(100 + i, cores) for i in range(4)] + [(100, max(1, cores // 2))]
            for i, (seed, c) in enumerate(runs):
                obs = os.path.join(tmp, f"{w}-{i}.json")
                cmd = SPEC["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                         "0", "--cores", str(c), "--record", obs]
                print("recording:", " ".join(cmd), flush=True)
                subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
                for op, outs in json.load(open(obs)).items():
                    merged.setdefault(op, []).extend(outs)
    expected = {}
    for op, outs in sorted(merged.items()):
        if len({(o["rows"], o["schema"]) for o in outs}) != 1:
            sys.exit(f"{op}: row count or schema differs between executions: {outs}")
        hashes = {o["hash"] for o in outs}
        expected[op] = {"rows": outs[0]["rows"], "schema": outs[0]["schema"],
                        "hash": hashes.pop() if len(hashes) == 1 else None}
    path = os.path.join(HERE, "expected.json")
    with open(path, "w") as f:
        json.dump({"bench": expected}, f, indent=1, sort_keys=True)
        f.write("\n")
    unstable = [op for op, e in expected.items() if e["hash"] is None]
    print(f"wrote {path}: {len(expected)} ops, hash not checked for {unstable or 'none'}")


if __name__ == "__main__":
    main()
