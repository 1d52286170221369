#!/usr/bin/env python3
"""Self-test of the benchmark harness on tiny inputs (sf0.001, a few ops).

Usage (from the root of a checkout): python3 graftbench/selftest.py

For every workload it runs `run.py` untraced and traced and asserts that
each metric BENCHMARK.json names is printed with its unit and that every
answer checked out; then it runs once more with a deliberately wrong
expected answer (`--corrupt 1`) and asserts that the run reports failures.
Exits non-zero on the first broken assertion.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "0.001", "--corrupt", str(corrupt)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = run(w, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in names}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            if trace == 0:
                assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]
            print(f"ok {w} trace={trace}: {len(want)} metrics, {res['attempted']} ops")
        bad = run(w, 0, corrupt=1)
        assert not bad["correct"] and bad["failed"] > 0, f"{w}: corrupt expectation not caught"
        print(f"ok {w} corrupt: {bad['failed']} of {bad['attempted']} ops failed")
    print("selftest passed")


if __name__ == "__main__":
    main()
