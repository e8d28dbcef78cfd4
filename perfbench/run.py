#!/usr/bin/env python3
"""The connector's benchmark: one JVM per run, `local[4]`, 2 GiB heap.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each was chosen):
  ingest_drain    IngestMain mode=drain over a seeded backlog of Kafka-shaped messages
  query_light     SparkEntry q01-q16 over the seed-42 sf0.1 fixture tables

Each run builds the engine and the harness from source if needed
(`build.py`), makes its inputs from the seed, sets up and warms the JIT,
measures for `--seconds`, checks the outputs, and prints a report
followed by one JSON line. `--trace 0` reports the end-to-end metrics;
`--trace 1` runs the workload untraced and then traced, back to back on
the same seed and for half of `--seconds` each, and reports the traced
run's per-layer metrics plus `trace.overhead_pct`: its `latency_p50_ms`
over the untraced one's.

Heap and cores are pinned (HEAP, CORES below) so that runs on any box
measure the same configuration; the repo's sbt default heap (16 GiB) is
larger than a 15 GiB box. The query workload reads the tables in
`perfbench/fixtures/`. Build output, logs and the last traced run's spans
live under `.bench_build/`; each run's working files
(lakes, checkpoints, Spark scratch, JVM temp) go to a directory there
that is removed when the run ends.
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

HEAP = "2g"
CORES = 4
RUN_LIMIT_S = 175  # a run must end within 180 s, build excluded
FIXTURES = os.path.join(build.BENCH, "fixtures")
WORKLOADS = ("ingest_drain", "query_light")

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def jvm(classes, args, trace, deadline):
    """Run the harness once; return (report lines, result dict)."""
    work = os.path.join(build.BUILD, "work", f"{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{args.workload}-seed{args.seed}-trace{trace}.log")
    cmd = [build.java(), *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", build.classpath(classes), "perfbench.Harness",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace), "--cores", str(CORES),
           "--work", work, "--fixtures", FIXTURES,
           "--fingerprints", os.path.join(build.BENCH, "fingerprints.json")]
    try:
        with open(log, "w") as err:
            res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                 cwd=work, timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"run exceeded {RUN_LIMIT_S} s; see {log}")
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(build.BUILD, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(build.BUILD, "traces", f"{args.workload}.spans.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines or not lines[-1].startswith("{"):
        raise RuntimeError(f"harness exited {res.returncode}; see {log}")
    return lines[:-1], json.loads(lines[-1])


def metric(lines, name):
    for line in lines:
        parts = line.split()
        if len(parts) >= 3 and parts[0] == "metric" and parts[1] == name:
            return float(parts[2])
    raise RuntimeError(f"no {name} in the report")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    classes = build.ensure()
    deadline = time.monotonic() + RUN_LIMIT_S
    if args.trace:  # two JVMs share the window, so a traced run measures as long as any
        args.seconds = (args.seconds + 1) // 2
    lines, result = jvm(classes, args, 0, deadline)
    if args.trace:
        base = metric(lines, "latency_p50_ms")
        traced_lines, traced = jvm(classes, args, 1, deadline)
        with_trace = metric(traced_lines, "latency_p50_ms")
        overhead = 100.0 * (with_trace / base - 1.0)
        lines = [f"untraced: {l}" for l in lines] + traced_lines + [
            f"tracing overhead {overhead:.2f}% (latency_p50_ms {with_trace:.1f} traced, "
            f"{base:.1f} untraced)"]
        traced["metrics"]["trace.overhead_pct"] = {"value": overhead, "unit": "%"}
        result = {"correct": result["correct"] and traced["correct"],
                  "attempted": result["attempted"] + traced["attempted"],
                  "failed": result["failed"] + traced["failed"],
                  "metrics": traced["metrics"]}
    for line in lines:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    try:
        main()
    except (RuntimeError, OSError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)
