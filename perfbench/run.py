#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the
closed-loop driver (perfbench/src) in one JVM at a fixed heap, checks
every op's output (perfbench/check.py) and prints, as the last line of
standard output, {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a traced pass. Everything it writes stays under
.bench_build/ and .bench_work/ at the root of the checkout; the run's
own directory (inputs, Spark scratch, outputs) is removed at the end,
and .bench_work/<workload>.* keep the last run's log, op samples and
trace.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

HEAP = "3g"
# Canary time the end-to-end times are scaled to (see host_scaled)
CANARY_REF_S = 0.1
# a run, not counting a first build, ends within this
RUN_LIMIT_S = 170
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def host_scaled(seconds, canary_samples):
    """A wall time scaled to a host on which the canary job takes
    CANARY_REF_S: the canary is a fixed Spark job with no program code
    in it, run between ops, so the ratio removes the host's speed of the
    moment (steal, co-tenants) and keeps the program's."""
    return seconds * CANARY_REF_S / quantile(canary_samples, 0.5)


def unit_of(name):
    if name.endswith("events_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "util", "overhead")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_begin = time.time()

    classes = build.build()
    jars = os.path.join(build.spark_jars(), "*")
    t_built = time.time()
    out = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "work", "tmp"))
    inputs = os.path.join(out, "inputs")
    manifest = gen.generate(a.workload, a.seed, inputs)
    t_inputs = time.time()
    cpus = os.cpu_count() or 1
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={out}/work/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, jars]), "graftbench.Driver",
              f"workload={a.workload}", f"inputs={inputs}", f"out={out}",
              f"seconds={a.seconds}", f"trace={a.trace}", f"seed={a.seed}",
              f"cpus={cpus}"])
    log_path = os.path.join(ROOT, ".bench_work", f"{a.workload}.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(10, RUN_LIMIT_S - (time.time() - t_built)))
        except subprocess.TimeoutExpired:
            sys.exit(f"driver timed out; log in {log_path}")
    if r.returncode != 0 or not os.path.isfile(os.path.join(out, "result.json")):
        sys.exit(f"driver failed with code {r.returncode}; log in {log_path}")
    t_jvm = time.time()
    with open(os.path.join(out, "result.json")) as f:
        rec = json.load(f)
    if a.trace:
        shutil.copy(os.path.join(out, "trace.json"),
                    os.path.join(ROOT, ".bench_work", f"{a.workload}.trace.json"))

    failures = check.verify(rec, out, inputs)
    t_checked = time.time()
    ops = rec["ops"]
    bad = [o for o in ops if not o["ok"] or o["name"] in failures]
    for name in sorted({o["name"] for o in bad}):
        why = failures.get(name) or next(o["error"] for o in bad if o["name"] == name)
        print(f"FAILED {name}: {why}", file=sys.stderr)

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(rec["per_layer"].items())}
    else:
        walls = [o["wall_s"] for o in ops]
        can = rec["canary_s"]
        metrics = {
            "setup_s": {"value": host_scaled(quantile(rec["setup_s"], 0.5), can), "unit": "s"},
            "wall_s": {"value": host_scaled(quantile([p["wall_s"] for p in rec["passes"]], 0.5),
                                            can), "unit": "s"},
            "op_geomean_s": {"value": host_scaled(
                math.exp(sum(math.log(w) for w in walls) / len(walls)), can), "unit": "s"},
        }
    with open(os.path.join(ROOT, ".bench_work", f"{a.workload}.ops.json"), "w") as f:
        json.dump({"inputs": manifest, "ops": ops, "op_trace": rec.get("op_trace", []), "failures": failures,
                   "setup_s": rec["setup_s"],
                   "setup_parts": rec["setup_parts"], "passes": rec["passes"],
                   "canary_s": rec["canary_s"],
                   "run_s": {"build": t_built - t_begin, "inputs": t_inputs - t_built,
                             "jvm": t_jvm - t_inputs, "jvm_checks": rec["check_s"],
                             "duckdb_checks": t_checked - t_jvm}}, f)
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": not bad, "attempted": len(ops), "failed": len(bad),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
