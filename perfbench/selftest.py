#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny run of every workload.

    python3 perfbench/selftest.py

Runs perfbench/run.py on every workload it knows (the two BENCHMARK.json
names and `iterative`, which runs by hand) on tables at scale 0.001 with
the shortest runs allowed (one timed pass; two for the traced run, which
needs one pass with and one without listeners) and asserts that

  - the last line of standard output is the result object with exactly the
    keys correct, attempted, failed and metrics;
  - outputs were correct and no operation failed;
  - the untraced run emits every end-to-end metric of BENCHMARK.json with
    its unit, each a positive number;
  - the traced run emits every per-layer metric of BENCHMARK.json with its
    unit (`iterative` adds its own `query.<name>_s` metrics).

Exits non-zero on the first violation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace),
           "--scale", "0.001", "--min-passes", str(1 + trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(res, expected, workload, trace, positive, extra_ok=False):
    where = f"{workload} trace={trace}"
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys {sorted(res)}"
    assert res["correct"] is True, f"{where}: outputs incorrect"
    assert res["failed"] == 0 and res["attempted"] >= 1, f"{where}: {res['failed']}/{res['attempted']} failed"
    got = res["metrics"]
    missing, extra = set(expected) - set(got), set(got) - set(expected)
    assert not missing and (extra_ok or not extra), f"{where}: metrics differ: {sorted(missing | extra)}"
    for name, unit in expected.items():
        m = got[name]
        assert m["unit"] == unit, f"{where}: {name} unit {m['unit']} != {unit}"
        assert isinstance(m["value"], (int, float)), f"{where}: {name} is not a number"
        assert not positive or m["value"] > 0, f"{where}: {name} = {m['value']}"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    named = [w["name"] for w in bench["workloads"]]
    for w in named + ["iterative"]:
        check(run(w, 0), e2e, w, 0, positive=True)
        check(run(w, 1), layers, w, 1, positive=False, extra_ok=w not in named)
        print(f"ok {w}", flush=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
