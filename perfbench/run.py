#!/usr/bin/env python3
"""The repository benchmark: one command, one workload, one seed.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
      --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):
  daily_pipeline      cold-directory Pipeline.runFromUrl over a seeded
                      CDC-shaped CSV served from a loopback HTTP stub
  incremental_append  5K-row daily deltas through Pipeline.appendCleaned,
                      then one readLatest and one compact
  query_tail          8 registry queries on a seeded TPC-H-ish fixture

The engine and the harness are compiled from source on the first run
(perfbench/build.py). Inputs are generated from --seed only. Every op's
outputs are checked; query results are compared with their DuckDB oracle
twins by tools/check_oracle.py. The last stdout line
is one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1
(a layer another workload runs reads 0). The line before it carries the
host context, the op and set-up samples, and every failure reason.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["daily_pipeline", "incremental_append", "query_tail"]
JVM_HEAP = "3g"
JAVA_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def oracle_failures(fixture, results):
    """Run tools/check_oracle.py over the query results: each Spark result
    against its DuckDB twin. Returns (the failed items its `FAIL <item>:`
    lines name, those lines, the number of queries compared)."""
    sys.path.insert(0, "tools")
    import check_oracle
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check_oracle.main(fixture, results)
    lines = [l for l in out.getvalue().splitlines() if "FAIL " in l]
    bad = {l.split("FAIL ", 1)[1].split(":")[0] for l in lines}
    n = len(json.load(open(os.path.join(results, "oracle_sql.json"))))
    return bad, lines, n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    if not os.path.isfile(os.path.join("tools", "check_oracle.py")):
        die("run from the repository root (tools/check_oracle.py not found)")
    spec = json.load(open("BENCHMARK.json"))
    sys.path.insert(0, HERE)
    import build
    if build.build() != 0:
        die("build failed")

    # Per-run work area inside the checkout; leftovers of an interrupted
    # earlier run are removed first so repetitions cannot fill the disk.
    work_root = os.path.join(".bench_build", "work")
    shutil.rmtree(work_root, ignore_errors=True)
    work = os.path.abspath(os.path.join(work_root, args.workload))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        cmd_extra = []
        if args.workload == "query_tail":
            from gen_fixture import generate
            t0 = time.perf_counter()
            fixture = os.path.join(work, "fixture")
            generate(fixture, args.seed)
            gen_s = time.perf_counter() - t0
            cmd_extra = ["--fixture", fixture, "--gen-s", repr(gen_s)]
        cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
                "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}",
                "-Dlog4j2.configurationFile=" +
                os.path.join(HERE, "log4j2.properties")]
               + [x for p in ADD_OPENS for x in ("--add-opens",
                                                 f"{p}=ALL-UNNAMED")]
               + ["-cp", build.classpath(), "graft.perfbench.Harness",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", repr(args.seconds), "--trace",
                  str(args.trace), "--work", work, "--cpus", str(nproc()),
                  "--traces", os.path.abspath(os.path.join(".bench_build",
                                                           "traces"))]
               + cmd_extra)
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                               timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"harness exceeded {JAVA_TIMEOUT_S} s")
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or not lines:
            die(f"harness exited {p.returncode} without a result")
        res = json.loads(lines[-1])
        failed, failures = res["failed"], list(res["failures"])
        if args.workload == "query_tail":
            bad, lines, n = oracle_failures(fixture,
                                            os.path.join(work, "results"))
            # A wrong result was wrong on every pass that produced it;
            # attempted counts one per query per pass.
            failed += res["attempted"] // n * len(bad)
            failures += lines
    finally:
        shutil.rmtree(work_root, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    metrics, unmeasured = {}, []
    for m in spec[kind]:
        name, got = m["name"], res["metrics"].get(m["name"])
        if got is None and (not args.trace
                            or name.startswith(args.workload + ".")):
            unmeasured.append(name)  # no op of this run passed its checks
        # A layer another workload runs reads 0 here.
        metrics[name] = {"value": 0.0 if got is None else got,
                         "unit": m["unit"]}
    print(json.dumps({"host": res["host"], "samples": res["samples"],
                      "setups": res["setups"], "failures": failures,
                      "unmeasured": unmeasured}))
    print(json.dumps({"correct": failed == 0 and not unmeasured,
                      "attempted": max(1, res["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
