#!/usr/bin/env python3
"""The repository benchmark: registry rows of the graft engine as workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload read_queries --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source (first run only), generates
the input tables, runs the harness JVM (`graft.perfbench.Harness`) with
one closed-loop client, checks every timed op's full result against the
DuckDB answer of the row's registered oracle SQL, and prints one JSON
line: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. Exits non-zero when any op failed or mismatched.

`--smoke` runs one pass on the small input scale; `--corrupt-expected
ROW` falsifies ROW's expected fingerprint (the self-test uses it to show
that a wrong answer fails the op). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402

# Each workload draws a fixed number of rows from registry families (by
# name prefix), and a run times round(--seconds / pass_s) passes over
# them after WARMUPS untimed ones: counts fixed per workload, so every run
# measures the same work at the same point of the JVM's warm-up. A full
# comparison (22 runs per workload plus 4, and two builds) has to fit in
# 57 minutes, which leaves under 60 s per run, a JVM start included, and
# so a handful of rows per workload.
WARMUPS = 1
WORKLOADS = {
    "read_queries": {"pass_s": 7.5, "draw": [("sql", 6), ("llm", 3)]},
    "durable_writes": {"pass_s": 7.5, "draw": [("catalog", 5), ("streaming", 2)]},
}
FAMILIES = {"st": "streaming", "x": "catalog", "l": "llm",
            **{c: "sql" for c in "afjqstuw"}}
LATENCY_FILE = os.path.join(HERE, "row_latency.json")


def family(row):
    m = re.match(r"(st|[a-z])\d", row)
    return FAMILIES.get(m.group(1)) if m else None


def draw(latency, k):
    """The k rows at the centres of k equal-count latency strata: sorted
    by latency, the rows at ranks floor((i + 0.5) * n / k), i < k."""
    ranked = sorted(latency, key=lambda r: (latency[r], r))
    return [ranked[int((i + 0.5) * len(ranked) / k)] for i in range(k)]


def workload_rows(name):
    """A workload's rows, drawn from the surveyed latencies of every row
    that passed its checks (select_rows.py writes the survey)."""
    with open(LATENCY_FILE) as f:
        survey = json.load(f)
    rows = []
    for fam, k in WORKLOADS[name]["draw"]:
        rows += draw({r: s for r, s in survey["latency_s"].items() if family(r) == fam}, k)
    return rows


# Fixed heap, young generation and collector, so runs of one build are
# comparable and peak RSS tracks retained data rather than GC timing.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def digest_paths(root, rels):
    md = hashlib.sha256()
    for rel in rels:
        top = os.path.join(root, rel)
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for path in files:
            md.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                md.update(f.read())
    return md.hexdigest()


def run_child(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group on timeout or when
    this process is told to stop, and wait for it. Returns the exit code."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    handlers = {sig: signal.signal(sig, stop) for sig in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        return proc.wait()
    finally:
        for sig, h in handlers.items():
            signal.signal(sig, h)


def build(root, work):
    """Compile engine + harness with sbt once per source state; return the classpath."""
    stamp = digest_paths(root, SOURCES)
    cp_file, stamp_file = os.path.join(work, "classpath.txt"), os.path.join(work, "build.stamp")
    oracle_file = os.path.join(work, "oracle_sql.json")
    if all(os.path.exists(f) for f in (cp_file, stamp_file, oracle_file)):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and harness with sbt")
    log_path = os.path.join(work, "build.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log_path, "w") as out:
        code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                          f"-Djava.io.tmpdir={tmp}", "export Runtime/fullClasspath"],
                         BUILD_LIMIT_S, stdout=out,
                         stderr=subprocess.STDOUT, cwd=os.path.join(root, "perfbench"),
                         env=dict(os.environ, COURSIER_MODE="offline"))
    with open(log_path) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        die(f"build failed (see {work}/build.log)", 3)
    if run_child([java()] + JVM_FLAGS + ["-cp", lines[-1], "graft.perfbench.Harness",
                                         "--dump-oracle", oracle_file], 120) != 0:
        die("could not read the registry's oracle SQL", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def ensure_data(work, scale):
    stamp = digest_paths(HERE, ["gen_data.py"]) + scale
    data = os.path.join(work, "data", scale)
    marker = os.path.join(data, ".stamp")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return data
    shutil.rmtree(data, ignore_errors=True)
    gen_data.generate(data, scale)
    with open(marker, "w") as f:
        f.write(stamp)
    return data


def oracle_sql(work):
    """{row: DuckDB SQL} of every registry row that has an oracle."""
    with open(os.path.join(work, "oracle_sql.json")) as f:
        return json.load(f)


def expected_answers(work, data, scale, rows):
    """DuckDB's answer for each of rows that has an oracle, as a parquet
    file cached per (input scale, generator, SQL text): {row: path}. Rows
    whose SQL DuckDB cannot run are logged and left out."""
    sql = oracle_sql(work)
    gen = digest_paths(HERE, ["gen_data.py", "oracle.py"])
    cache = os.path.join(work, "expected")
    os.makedirs(cache, exist_ok=True)
    paths = {r: os.path.join(cache, hashlib.sha256(f"{scale}\0{gen}\0{sql[r]}".encode()).hexdigest()
                             + ".parquet") for r in rows if r in sql}
    todo = {p: sql[r] for r, p in paths.items() if not os.path.exists(p) and not os.path.exists(p + ".error")}
    if todo:
        import oracle  # reads the oracle gate's table list from tools/
        oracle.write_expected(data, todo)
    failed = sorted(r for r, p in paths.items() if not os.path.exists(p))
    if failed:
        log(f"oracle SQL failed in DuckDB, checked against warm-up instead: {failed}")
    return {r: p for r, p in paths.items() if os.path.exists(p)}


def java():
    return os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"


def launch(work, cp, data, rows, expected, seed, warmups, passes, trace, limit_s, tag):
    """Run the harness JVM over rows in a fresh run directory (its durable
    catalog root included), remove the directory, and return the record
    the harness wrote. expected is {row: parquet of DuckDB's answer}. The
    JVM log and record stay in .bench_build/runs/."""
    run_id = f"{tag}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(work, "runs", run_id)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    expected_file = os.path.join(run_dir, "expected.tsv")
    with open(expected_file, "w") as f:
        f.writelines(f"{r}\t{p}\n" for r, p in sorted(expected.items()))
    cmd = [java()] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Harness",
                                "--rows", ",".join(rows), "--seed", str(seed), "--warmups", str(warmups),
                                "--passes", str(passes), "--trace", str(trace),
                                "--data", data, "--root", os.path.join(run_dir, "catalog"),
                                "--tmp", tmp, "--out", out, "--run-id", run_id,
                                "--expected", expected_file]
    try:
        with open(os.path.join(work, "runs", f"{run_id}.log"), "w") as jlog:
            code = run_child(cmd, limit_s, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT)
        if code != 0 or not os.path.exists(out):
            die(f"harness exited with {code} (see {work}/runs/{run_id}.log)", 4)
        with open(out) as f:
            res = json.load(f)
        shutil.move(out, os.path.join(work, "runs", f"{run_id}.json"))
        if os.path.exists(out + ".spans.jsonl"):
            shutil.move(out + ".spans.jsonl", os.path.join(work, "runs", f"{run_id}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return res


def check(res, corrupt=""):
    """Failed timed ops as (row, pass, why). A row is checked against
    DuckDB's answer where it has an oracle, otherwise against its own
    warm-up answer (a row whose answer depends on the order it runs in
    fails here). corrupt names a row whose expected answer is falsified."""
    expected = dict(res["expected"])
    if corrupt:
        expected[corrupt] = "corrupted"
    warm = {w["row"]: w["fp"] for w in res["warmup"]}
    unchecked = sorted(r for r, fp in expected.items() if fp.startswith("ERROR"))
    failures = []
    for op in res["ops"]:
        want = expected.get(op["row"])
        if want is None or want.startswith("ERROR"):
            want = warm.get(op["row"]) or None
        if op["err"]:
            failures.append((op["row"], op["pass"], op["err"]))
        elif want is None or op["fp"] != want:
            failures.append((op["row"], op["pass"], f"fingerprint {op['fp']} != expected {want}"))
    for row, p, why in failures:
        log(f"FAILED {row} (pass {p}): {why}")
    if unchecked:
        log(f"DuckDB's answer unreadable, checked against warm-up instead: {unchecked}")
    return failures


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt-expected", default="")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a checkout of the engine")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)
    started = time.time()
    scale = "smoke" if args.smoke else "bench"
    data = ensure_data(work, scale)
    passes = 1 if args.smoke else max(1, round(args.seconds / WORKLOADS[args.workload]["pass_s"]))

    rows = workload_rows(args.workload)
    expected = expected_answers(work, data, scale, rows)
    cpu0 = cpu_times()
    launched_ms = time.time() * 1000.0
    res = launch(work, cp, data, rows, expected, args.seed, WARMUPS, passes, args.trace,
                 max(10.0, RUN_LIMIT_S - (time.time() - started)),
                 f"{args.workload}-{args.seed}-{args.trace}")
    cpu1 = cpu_times()
    steal = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])

    failures = check(res, args.corrupt_expected)
    log(f"cpu steal during the run: {steal:.4f}")

    # Each row's fastest untraced invocation: the additive noise of a young
    # JVM (compiler threads, GC, neighbours) only ever slows an op down.
    best = {}
    for op in res["ops"]:
        if not op["traced"]:
            best[op["row"]] = min(best.get(op["row"], math.inf), op["s"])
    pass_s = sum(best.values())
    geomean_s = math.exp(statistics.fmean(math.log(s) for s in best.values()))
    cal = res["calibration_s"]
    if args.trace:
        values = dict(res["layer"])
        values.update({"op_error_rate": len(failures) / len(res["ops"]), "run.pass_s": pass_s,
                       "run.op_geomean_s": geomean_s, "run.calibration_s": cal})
    else:
        # Divided by the reference job's time in the same JVM, so a shared
        # host's speed drift cancels (see Calibration.scala).
        values = {"pass_rel": pass_s / cal, "op_geomean_rel": geomean_s / cal,
                  "setup_s": (res["first_op_epoch_ms"] - launched_ms) / 1000.0,
                  "peak_rss_mb": res["peak_rss_mb"]}
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        die(f"metrics not measured: {missing}", 5)
    print(json.dumps({
        "correct": not failures,
        "attempted": len(res["ops"]),
        "failed": len(failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
