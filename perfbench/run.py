#!/usr/bin/env python3
"""One run of the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: geo_point_queries, pipeline_batch (see README.md).
The run builds the program if needed (build.py), writes the seeded inputs
into its own directory under .bench_build/runs, starts one JVM with one
client thread that sets up, warms up and then runs the closed loop for
--seconds, checks every result, deletes the run directory and prints two
JSON lines: the run record (host, inputs, set-up repetitions, the workload's
own figures, known-defect probes) and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end_to_end list of BENCHMARK.json, with
--trace 1 the per_layer list (layers a workload does not exercise read 0).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True  # write nothing outside .bench_build

import build  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("geo_point_queries", "pipeline_batch")
XMX = "2g"
RUN_LIMIT_S = 175  # one run, build excluded
GATE_TABLES = ("orders", "lineitem", "events", "documents")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classes, run_dir, args, facts, deadline):
    out = os.path.join(run_dir, "record.json")
    log = os.path.join(run_dir, "jvm.log")
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", run_dir, "--traces", os.path.join(build.BUILD_DIR, "traces"),
              "--out", out, "--corrupt", "1" if args.corrupt else "0"])
    for k, v in facts.items():
        cmd += ["--" + k.replace("_", "-"), str(v)]
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.isfile(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"run: JVM exited with {code}")
    with open(out) as f:
        return json.load(f)


def check_gates(run_dir, record, corrupt):
    """Replay each gate's oracle SQL in DuckDB over the same tables and compare
    it with the gate's first timed result, with tools/check_oracle.py's
    canonicalisation. Returns the ops that count as failed."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon, cmp_cell

    con = duckdb.connect()
    for t in GATE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run_dir}/tables/{t}.parquet'")
    with open(os.path.join(run_dir, "oracle.json")) as f:
        oracle = json.load(f)
    failed = 0
    for i, (name, sql) in enumerate(sorted(oracle.items())):
        res = os.path.join(run_dir, "results", name)
        if not os.path.isdir(res):
            continue  # the gate never completed; its ops already count as failed
        got, exp = con.sql(f"SELECT * FROM '{res}/*.parquet'"), con.sql(sql)
        g, gc = canon(got.fetchall(), list(got.columns))
        e, ec = canon(exp.fetchall(), list(exp.columns))
        gt = [str(t) for _, t in sorted(zip(got.columns, got.types))]
        et = [str(t) for _, t in sorted(zip(exp.columns, exp.types))]
        if corrupt and i == 0:
            e = e[1:]
        same = (gc == ec and gt == et and len(g) == len(e)
                and all(cmp_cell(a, b) for rg, re_ in zip(g, e) for a, b in zip(rg, re_)))
        if not same:
            sys.stderr.write(f"run: {name} differs from its oracle\n")
            failed += record["inputs"]["gate_runs"][name]
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="self-test: make one expected result wrong")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanups below
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build()

    started = time.time()
    deadline = started + RUN_LIMIT_S
    run_dir = os.path.join(build.BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.makedirs(os.path.join(run_dir, "tmp"))
        facts = {}
        if args.workload == "geo_point_queries":
            facts = inputs.write_tsv(os.path.join(run_dir, "wifi.tsv"), args.seed)
        elif args.workload == "pipeline_batch":
            os.makedirs(os.path.join(run_dir, "tables"))
            facts = inputs.write_gate_tables(os.path.join(run_dir, "tables"), args.seed)
        inputs_s = time.time() - started
        record = run_jvm(classes, run_dir, args, facts, deadline)
        failed = record["failed"]
        if args.workload == "pipeline_batch":
            failed = min(record["attempted"], failed + check_gates(run_dir, record, args.corrupt))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = record["attempted"]
    record["inputs"].update(facts)
    record["host"]["xmx"] = XMX
    record["host"]["inputs_s"] = inputs_s
    record["host"]["run_wall_s"] = time.time() - started
    record["failed_ops_share"] = failed / max(1, attempted)
    print(json.dumps({"run_record": record}))
    kind = "per_layer" if args.trace else "end_to_end"
    values = record.get(kind, {})
    unknown = set(values) - {m["name"] for m in spec[kind]}
    if unknown:
        raise SystemExit(f"run: metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[kind]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
