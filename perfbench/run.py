#!/usr/bin/env python3
"""graft benchmark: four closed-loop, single-driver workloads at
local[nproc], with output checks. See perfbench/README.md.

    python3 perfbench/run.py --workload frontier-lean --seed 1 --seconds 8 --trace 0

Run from the repo root. Builds the classes first (perfbench/build.py),
launches one JVM for the workload and prints its metric lines; the last
line is one JSON object:
    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end ones, with
--trace 1 its per_layer ones (the traced run also writes its spans to
.bench_build/spans/ and prints the tracing overhead against the last
untraced run of the same workload and seed). Exits non-zero when a check
fails. --smoke runs tiny sizes; --workload all runs every workload in one
JVM.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["frontier-lean", "content-rich", "drain-recrawl", "analytics"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.exit(code)


def metric_units(trace):
    """{name: unit} of BENCHMARK.json's per_layer or end_to_end metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(args, cp):
    for d in ("tmp", "logs", "state", "results"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    log = os.path.join(OUT, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
        "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
        "-cp", cp, "graft.perfbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace),
        "1" if args.smoke else "0", str(int(time.time() * 1000)), OUT,
        os.path.join(HERE, "data"), args.expected]
    results, lines = [], []
    with open(log, "w") as err:
        # Spark's scratch space stays in the checkout (spark.local.dir)
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=ROOT,
                             env=env)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the benchmark JVM ran over {JVM_TIMEOUT_S} s; log: {log}", 3)
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            results.append(json.loads(line[len("PERFBENCH_RESULT "):]))
        elif line.startswith("[perfbench]"):
            lines.append(line)
    if not results:
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"the benchmark JVM exited {p.returncode} without a result; log: {log}", 3)
    return results, lines


def contract(r, units, trace):
    metrics, filled = {}, []
    for n, unit in units.items():
        if n in r["metrics"]:
            metrics[n] = r["metrics"][n]
        elif trace:
            # a layer this workload does not exercise did no work
            metrics[n] = {"value": 0, "unit": unit}
            filled.append(n)
        elif r["correct"]:
            fail(f"{r['workload']}: end-to-end metric {n} was not measured", 3)
    if filled:
        print(f"[perfbench] {r['workload']}: not exercised, reported 0: {' '.join(filled)}")
    return {"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
            "metrics": metrics}


def tracing_overhead(r, names):
    """Print traced minus untraced end-to-end metrics, against the last
    untraced run of the same workload and seed."""
    path = os.path.join(OUT, "results", f"{r['workload']}-seed{r['seed']}.json")
    if not os.path.exists(path):
        print(f"[perfbench] tracing overhead: no untraced run of {r['workload']} "
              f"seed {r['seed']} recorded yet")
        return
    base = json.load(open(path))["metrics"]
    for n in names:
        if n in base and n in r["metrics"]:
            t, u = r["metrics"][n]["value"], base[n]["value"]
            rel = f" ({(t - u) / u * 100:+.1f}%)" if u else ""
            print(f"[perfbench] tracing overhead {n}: traced {t:.6g} - untraced {u:.6g} "
                  f"= {t - u:+.6g} {base[n]['unit']}{rel}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected"),
                    help="directory of expected outputs (default perfbench/expected)")
    args = ap.parse_args()
    args.expected = os.path.abspath(args.expected)
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    results, lines = run_jvm(args, cp)
    for line in lines:
        print(line)
    e2e = metric_units(False)
    units = metric_units(bool(args.trace))
    for r in results:
        if args.trace:
            tracing_overhead(r, e2e)
        elif not args.smoke:
            with open(os.path.join(OUT, "results", f"{r['workload']}-seed{r['seed']}.json"), "w") as fh:
                json.dump(r, fh)
    outs = [contract(r, units, bool(args.trace)) for r in results]
    if len(outs) > 1:
        for r, o in zip(results, outs):
            print(f"[perfbench] {r['workload']} " + json.dumps(o))
        final = {"correct": all(o["correct"] for o in outs),
                 "attempted": sum(o["attempted"] for o in outs),
                 "failed": sum(o["failed"] for o in outs), "metrics": {}}
    else:
        final = outs[0]
    print(json.dumps(final), flush=True)
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
