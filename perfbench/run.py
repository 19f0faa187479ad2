"""Benchmark of the file pipeline: one workload, one seed, one run.

    python3 perfbench/run.py --workload lpi_live --seed 1 --seconds 30 --trace 0

Builds the program from source if needed (``perfbench/build.py``), makes the
seeded inputs (``perfbench/plan.py``), runs them through the program in one
JVM (``graftbench.Main``), checks every output against its closed form, and
prints the metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run measures an
untraced and then a traced pass, and the metrics are the per-layer ones,
with self times and the tracing overhead. The line before it holds the
whole record: host-noise stamps, the tail percentile and sample count, and
any failed checks. The traced pass's spans are written to
``.bench_build/trace-<workload>-<seed>.json``.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

import build
import metrics
import plan as plans

JVM_TIMEOUT_S = 170
HEAP_MB = 1536


def run_jvm(classes, plan_path, work, raw_path, trace):
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    # a fixed, pre-touched heap: how far the collector grows the heap
    # depends on timing, so resident memory would spread between runs;
    # mem_mb takes the heap's share from a full collection instead
    cmd = [build.java(), "-Xms%dm" % HEAP_MB, "-Xmx%dm" % HEAP_MB, "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC",
           # compiler threads stay alive, so their CPU can be taken out
           "-XX:-UseDynamicNumberOfCompilerThreads",
           "-Djava.io.tmpdir=" + str(work),
           "-Dspark.sql.warehouse.dir=" + str(work / "warehouse"),
           "-Dderby.system.home=" + str(work),
           *build.JVM_OPENS,
           "-cp", "%s%s%s" % (classes, os.pathsep, build.spark_jars() / "*"),
           "graftbench.Main", "--plan", str(plan_path), "--work", str(work),
           "--out", str(raw_path), "--trace", str(trace)]
    # the JVM's own output goes to stderr: stdout carries only the result
    r = subprocess.run(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=JVM_TIMEOUT_S, cwd=str(work))
    if r.returncode != 0:
        raise RuntimeError("benchmark JVM exited with code %d" % r.returncode)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(plans.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classes = build.build()
    work = build.OUT / "run"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    plan = plans.make(a.workload, a.seed, a.seconds)
    plan_path, raw_path = build.OUT / "plan.json", build.OUT / "raw.json"
    plan_path.write_text(json.dumps(plan))
    try:
        run_jvm(classes, plan_path, work, raw_path, a.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    raw = json.loads(raw_path.read_text())

    cores = os.cpu_count() or 1
    base = raw["passes"][0]
    attempted, failed, reasons = 0, 0, []
    for p in raw["passes"]:
        n, bad, why = metrics.check(plan, p)
        attempted, failed, reasons = attempted + n, failed + bad, reasons + why
    if attempted == 0:
        raise RuntimeError("no input file was attempted")
    e2e, stamps = metrics.end_to_end(plan, base, raw["rss_peak_mb"], HEAP_MB)
    if a.trace:
        traced = raw["passes"][1]
        e2e_traced, _ = metrics.end_to_end(plan, traced, raw["rss_peak_mb"], HEAP_MB)
        out = metrics.per_layer(plan, traced, e2e, e2e_traced, cores)
        trace_path = build.OUT / ("trace-%s-%d.json" % (a.workload, a.seed))
        trace_path.write_text(json.dumps({"spans": traced["spans"],
                                          "progress": traced["progress"]}))
    else:
        out = e2e
    units = {n: u for n, u, *_ in metrics.END_TO_END + metrics.PER_LAYER}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "stamps": stamps,
              "failures": reasons[:20], "metrics": out}
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired) as e:
        sys.exit("benchmark failed: %s" % e)
