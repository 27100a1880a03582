"""Benchmark entry point.

    python3 perfbench/run.py --workload <analytics|portal> --seed <n>
        --seconds <s> --trace <0|1> [--clients <k>]

Builds the engine and the driver if needed (perfbench/build.py), generates
the seed's inputs, runs one workload in one JVM (Spark local[nproc]),
checks the outputs, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones from
a traced run. A run whose output check fails prints no metrics and exits
with 1. See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import plan as plans  # noqa: E402

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# fixed heap and young generation: the peak RSS then depends on what the
# run keeps live, not on how G1 happened to size its generations
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
# a run ends within this many seconds; a run that compiled gets longer
RUN_LIMIT_S, BUILD_RUN_LIMIT_S = 170, 880
# analytics tables, relative to the engine's sf0.1 fixture (portal starts
# from an empty store)
SCALE = 0.1
# A run measures a fixed number of whole units, so every seed runs the
# same op mix: `--seconds` divided by a unit's nominal warm cost on a
# 4-vCPU VM, and at least the units that put the median and the tail
# (the 11th-slowest op) inside clusters of same-type ops rather than on
# the boundary between two types: 3 `analytics` passes (36 ops; its
# rates are then medians of three) and 6 `portal` sessions (34 ops).
UNIT_SECONDS = {"analytics": 8.0, "portal": 4.5}
MIN_UNITS = {"analytics": 3, "portal": 6}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(plans.PLANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--clients", type=int, default=None,
                    help="portal client threads (default: the workload's)")
    return ap.parse_args(argv)


def history(workload, ops_per_s=None):
    """Record an untraced run's ops/s, or return the median of those
    recorded in this checkout (None if there are none): the base of a
    traced run's tracing overhead."""
    path = os.path.join(build.BUILD, f"untraced_{workload}.txt")
    if ops_per_s is not None:
        with open(path, "a") as fh:
            fh.write(f"{ops_per_s!r}\n")
        return None
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        xs = [float(x) for x in fh.read().split()]
    return statistics.median(xs) if xs else None


def cpu_times():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def jvm_command(classes, plan_file, result_file, tmp):
    cp = os.pathsep.join([classes] + build.spark_classpath())
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            HEAP + ["-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "graft.perfbench.Main", plan_file, result_file])


def main(argv):
    args = parse(argv)
    t_start = time.time()
    try:
        classes, compiled = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    t_setup = time.time()
    cpu0 = cpu_times()
    run_dir = os.path.join(build.BUILD, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        limit = BUILD_RUN_LIMIT_S if compiled else RUN_LIMIT_S
        return measure(args, classes, run_dir, data_dir, tmp,
                       t_start + limit, t_setup)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        # CPU time the hypervisor gave to other guests: timings taken
        # while it is high are slower and spread wider than the code is
        steal, total = (b - a for a, b in zip(cpu0, cpu_times()))
        print(f"# cpu steal during the run: "
              f"{100.0 * steal / max(1, total):.1f}%", file=sys.stderr)


def measure(args, classes, run_dir, data_dir, tmp, deadline, t_setup):
    units = max(MIN_UNITS[args.workload],
                round(args.seconds / UNIT_SECONDS[args.workload]))
    if args.workload == "analytics":
        datagen.write(data_dir, args.seed, SCALE)
        kw = {"event_rows": datagen.rows("events", SCALE), "passes": units}
    else:
        kw = {"sessions": units}
        if args.clients:
            kw["clients"] = args.clients
    p = {"workload": args.workload, "trace": bool(args.trace),
         "cpus": len(os.sched_getaffinity(0)), "data_dir": data_dir,
         "work_dir": run_dir,
         args.workload: plans.make(args.workload, args.seed, **kw)}
    plan_file = os.path.join(run_dir, "plan.json")
    result_file = os.path.join(run_dir, "result.json")
    with open(plan_file, "w") as fh:
        json.dump(p, fh)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            jvm_command(classes, plan_file, result_file, tmp), cwd=run_dir,
            stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(result_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"perfbench: driver JVM exited with {code}", file=sys.stderr)
        return 3
    with open(result_file) as fh:
        result = json.load(fh)

    failures = list(result["failures"])
    oracles = result["extra"].get("oracles", {})
    if oracles:
        failures += oracle.check(data_dir, os.path.join(run_dir, "results"),
                                 oracles)
    ops = result["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    if failures:
        for f in failures:
            print(f"perfbench: check failed: {f}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": max(1, attempted),
                          "failed": failed, "metrics": {}}))
        return 1

    setup_s = (result["window"]["t0"] / 1000.0) - t_setup
    if args.trace:
        spans_file = os.path.join(build.BUILD, "traces",
                                  f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(spans_file), exist_ok=True)
        with open(spans_file, "w") as fh:
            json.dump({k: result[k] for k in ("spans", "jobs", "batches")}, fh)
        print(f"# spans: {os.path.relpath(spans_file, build.ROOT)}")
        values = metrics.per_layer(result, args.workload,
                                   history(args.workload))
        notes = {}
    else:
        values, notes = metrics.end_to_end(result, args.workload, setup_s)
        history(args.workload, values["ops_per_s"][0])
    for name, text in notes.items():
        print(f"# {name}: {text}")
    errs = Counter((o["name"], o["err"]) for o in ops if not o["ok"])
    for (name, err), n in sorted(errs.items()):
        print(f"# failed: {name} {err} x{n}")
    print(f"# error_rate: {failed / max(1, attempted):.4f} "
          f"({failed} of {attempted} ops)")
    out = {name: {"value": v, "unit": u} for name, (v, u) in values.items()}
    print(json.dumps({"correct": True, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
