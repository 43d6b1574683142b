#!/usr/bin/env python3
"""Self-test of the benchmark at the smoke scale (one pass per run).

Run from the root of a checkout:  python3 perfbench/selftest.py

For every workload it runs the benchmark untraced and traced and asserts
that each metric BENCHMARK.json declares is printed with its unit and
that no op failed. Then it falsifies one row's expected fingerprint and
asserts that the run reports that op as failed and exits non-zero.
"""
import json
import subprocess
import sys

sys.path.insert(0, "perfbench")
from run import WORKLOADS, workload_rows  # noqa: E402


def bench(workload, trace, *extra):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
                       stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    for w in sorted(WORKLOADS):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, out = bench(w, trace)
            if code != 0 or out is None or not out["correct"] or out["failed"]:
                problems.append(f"{w} trace={trace}: exit {code}, result {out}")
                continue
            for m in spec[key]:
                got = out["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    problems.append(f"{w} trace={trace}: metric {m['name']} printed as {got}")
            print(f"ok  {w} trace={trace}: {len(out['metrics'])} metrics, {out['attempted']} ops")
    victim = workload_rows("read_queries")[0]
    code, out = bench("read_queries", 0, "--corrupt-expected", victim)
    if code == 0 or out is None or out["correct"] or out["failed"] < 1:
        problems.append(f"corrupted expected fingerprint of {victim} did not fail: exit {code}, {out}")
    else:
        print(f"ok  corrupted expected fingerprint of {victim}: {out['failed']} failed op, exit {code}")
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
