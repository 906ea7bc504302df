#!/usr/bin/env python3
"""Wire→document benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the checkout root. Builds the engine and the benchmark program
(perfbench/build.py), runs the workload in one JVM at local[<half the CPUs>], and
prints a summary followed, as the last line, by one JSON object with
`correct`, `attempted`, `failed` and `metrics`.

--trace 0 reports the end-to-end metrics of BENCHMARK.json. --trace 1 runs
two shorter JVMs one after another: the traced run (its waves on three
fresh tables: half of them untraced as warm-up, all of them traced with the
per-layer probes after it, and all of them untraced again as the reference for
`trace.overhead_pct`) and a local[1] run as the single-thread baseline; it
reports the per-layer metrics and writes the span file under
.bench_build/trace/.
See perfbench/README.md for the workloads and what each metric should move.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("wire_upsert_csv", "wire_bulk_lookup")
JVM_TIMEOUT_S = 170
# the traced mode's loops are shorter than an untraced run's, so that its
# two JVMs stay well inside the time limit on a slow box
TRACE_WAVES = 8
BASELINE_WAVES = 3
# Spark runs on half the CPUs the process may use, and the JVM's GC and JIT
# threads are capped to match: the driver thread, generator, broker, JIT and
# GC then have the other half. At local[<all>] a run competed with its own
# helper threads and with other guests on a shared host; under the same
# contention, five interleaved pairs of runs read commit_p50_ms 389 to
# 1030 ms at local[4] and 422 to 584 ms at local[2] on a 4-vCPU box.
CORES = max(1, len(os.sched_getaffinity(0)) // 2)
# Spark 4 on JDK 17 outside spark-submit needs these opens (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(args, tag, deadline, trace=False, cores=None, extra=()):
    """Run one WireBench JVM and return its result object."""
    work = os.path.abspath(os.path.join(
        build.BUILD_DIR, "work", f"{args.workload}-{args.seed}-{os.getpid()}-{tag}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(build.BUILD_DIR, "logs", f"{args.workload}-{args.seed}-{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = ["java", "-Xmx2g", f"-XX:ParallelGCThreads={CORES}", "-XX:ConcGCThreads=1",
           "-XX:CICompilerCount=2", *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.abspath('perfbench/log4j2.properties')}",
           "-cp", build.classpath(), "perfbench.WireBench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "1" if trace else "0",
           "--cores", str(cores or CORES),
           "--work", work, "--out", out, *extra]
    try:
        with open(log, "w") as lf:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=lf, text=True,
                               timeout=max(1.0, deadline - time.monotonic()))
        sys.stdout.write(p.stdout)
        if not os.path.exists(out):
            sys.exit(f"perfbench: {tag} run wrote no result (exit {p.returncode}); see {log}")
        with open(out) as f:
            res = json.load(f)
        if trace:
            spans = os.path.join(build.BUILD_DIR, "trace", f"{args.workload}-seed{args.seed}.spans.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copyfile(out[:-len(".json")] + ".spans.json", spans)
            print(f"# spans: {spans}")
        return res
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {tag} run exceeded its time limit; see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def listed_metrics(trace):
    """The metric names BENCHMARK.json lists for this mode."""
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build.build()
    deadline = time.monotonic() + JVM_TIMEOUT_S
    if args.trace:
        traced = jvm(args, "traced", deadline, trace=True, extra=(
            "--waves", str(TRACE_WAVES), "--seconds", "0", "--setup-reps", "1"))
        base = jvm(args, "local1", deadline, cores=1, extra=(
            "--waves", str(BASELINE_WAVES), "--seconds", "0", "--setup-reps", "1"))
        runs = [traced, base]
        metrics = dict(traced["metrics"])
        metrics["baseline.local1_ingest_rps"] = dict(base["metrics"]["ingest_rps"])
    else:
        runs = [jvm(args, "untraced", deadline)]
        metrics = runs[0]["metrics"]
    names = listed_metrics(args.trace)
    missing = [n for n in names if n not in metrics]
    if missing:
        sys.exit(f"perfbench: the run reported no {', '.join(missing)}")
    metrics = {n: metrics[n] for n in names}

    for r in runs:
        print("# context " + json.dumps(r["context"], sort_keys=True))
    for name, m in metrics.items():
        print(f"# {name:36s} {m['value']:16.4f} {m['unit']}")
    print(json.dumps({
        "correct": all(r["correct"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
