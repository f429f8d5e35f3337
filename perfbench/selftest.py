#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input size.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs run.py at --size tiny with
tracing off and on, and checks that the last line carries exactly the
metrics BENCHMARK.json names, each with its unit and a finite number,
and that the outputs were judged correct. Then it runs each workload
once with a deliberately corrupted op output and checks that the
corruption is counted in `failed`. Exits non-zero on the first problem.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# an op per workload whose checked output the fault run corrupts
FAULT_OP = {"frame-ops": "group", "ingest-pipeline": "q212"}


def run(workload, trace, fault=""):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if fault:
        cmd += ["--fault", fault]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            out = run(w, trace)
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                sys.exit(f"FAIL {w}: result keys {sorted(out)}")
            if not out["correct"] or out["failed"] != 0 or out["attempted"] < 1:
                sys.exit(f"FAIL {w} trace={trace}: outputs judged wrong: {out}")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = out["metrics"]
            if set(got) != set(want):
                sys.exit(f"FAIL {w} trace={trace}: metrics differ: "
                         f"missing {sorted(set(want) - set(got))}, "
                         f"extra {sorted(set(got) - set(want))}")
            for name, unit in want.items():
                v = got[name]
                if v.get("unit") != unit or not isinstance(v.get("value"), (int, float)) \
                        or not math.isfinite(v["value"]):
                    sys.exit(f"FAIL {w} trace={trace}: {name} = {v}, want unit {unit}")
            print(f"ok   {w} trace={trace}: {len(got)} metrics, attempted {out['attempted']}")
        out = run(w, 0, FAULT_OP[w])
        if out["correct"] or out["failed"] < 1:
            sys.exit(f"FAIL {w}: corrupted {FAULT_OP[w]} output was not counted: {out}")
        print(f"ok   {w} fault in {FAULT_OP[w]}: failed {out['failed']} of {out['attempted']}")
    print("selftest passed")


if __name__ == "__main__":
    main()
