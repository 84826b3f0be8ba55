#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Runs every workload once at the tiny size, untraced and traced, and
asserts that the result line names every metric BENCHMARK.json declares,
each with its declared unit and a numeric value, and that the run's
output checks passed. Run from the root of a checkout:

    python3 perfbench/smoke_test.py
"""

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "3", "--trace", str(trace),
           "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                       timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    assert p.returncode == 0, f"{cmd} exited {p.returncode}"
    return json.loads(lines[-1]), json.loads(lines[-2])["report"]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for w in bench["workloads"]:
        for trace, declared in ((0, bench["end_to_end"]),
                                (1, bench["per_layer"])):
            res, report = run(w["name"], trace)
            where = f"{w['name']} trace={trace}"
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: keys {sorted(res)}")
            if res.get("correct") is not True:
                problems.append(f"{where}: checks failed "
                                f"{report.get('check_failures')}")
            if not res.get("attempted", 0) >= 1:
                problems.append(f"{where}: nothing attempted")
            got = res.get("metrics", {})
            want = {m["name"]: m["unit"] for m in declared}
            if set(got) != set(want):
                problems.append(f"{where}: metrics differ: missing "
                                f"{sorted(set(want) - set(got))}, extra "
                                f"{sorted(set(got) - set(want))}")
            for name, unit in want.items():
                m = got.get(name, {})
                v = m.get("value")
                if m.get("unit") != unit:
                    problems.append(f"{where}: {name} unit {m.get('unit')}")
                if not isinstance(v, (int, float)) or math.isnan(v):
                    problems.append(f"{where}: {name} value {v!r}")
            print(f"ok {where}: {len(got)} metrics", flush=True)
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
