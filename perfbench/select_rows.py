#!/usr/bin/env python3
"""Survey every registry row; the workloads are drawn from the survey.

Run from the root of a checkout:  python3 perfbench/select_rows.py

Runs the harness over all registry rows on the bench-scale inputs (two
untimed warm-ups in name order, then three timed passes in seeded
order, each op `fn(spark, dir)` + `collect()` on a durable catalog root),
checks every op as run.py does, and writes perfbench/row_latency.json:
each row's fastest timed latency, for the rows whose every op passed,
and the rows that failed with the reason. run.py draws each workload's
rows from that file (`draw`), then this script prints the draw.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


WARMUPS, PASSES, SEED = 2, 3, 1


def main():
    root = os.getcwd()
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = run.build(root, work)
    data = run.ensure_data(work, "bench")
    expected = run.expected_answers(work, data, "bench", run.oracle_sql(work))
    res = run.launch(work, cp, data, ["all"], expected, SEED, WARMUPS, PASSES, 0, 3600, "survey")
    failures = run.check(res)
    failed = {}
    for row, _, why in failures:
        failed.setdefault(row, why)
    latency = {}
    for op in res["ops"]:
        if op["row"] not in failed:
            latency[op["row"]] = min(latency.get(op["row"], float("inf")), op["s"])
    with open(run.LATENCY_FILE, "w") as f:
        json.dump({"scale": run.gen_data.SCALES["bench"][0], "cores": int(res["cores"]),
                   "warmups": WARMUPS, "passes": PASSES, "seed": SEED,
                   "latency_s": {r: round(s, 4) for r, s in sorted(latency.items())},
                   "failed": dict(sorted(failed.items()))}, f, indent=1)
        f.write("\n")
    for name in sorted(run.WORKLOADS):
        print(name, run.workload_rows(name))


if __name__ == "__main__":
    main()
