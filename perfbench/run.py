#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload catalog_read --seed 1 --seconds 10 --trace 0
        [--inject-fail <op class>]

Builds graft and the benchmark from source when needed (perfbench/build.py),
then starts one JVM directly on the compiled classes (no sbt in any number)
with Spark local[min(4, nproc)] and one client thread. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list (a traced run also writes its spans under
<build dir>/traces/). A human-readable summary, the machine state at start
and any failed op go to standard error. The exit code is 0 only when every
op succeeded and every output check passed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing but results in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def machine_state():
    """nproc, load average and other live JVMs at start: a contended run
    shows in its own record."""
    me = os.getpid()
    jvms = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
        except OSError:
            continue
        if argv0.endswith(b"java"):
            jvms += 1
    return {"nproc": len(os.sched_getaffinity(0)), "load_avg_1m": os.getloadavg()[0],
            "other_jvms": jvms}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail", help="op class that throws in every attempt")
    a = ap.parse_args()

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    state = machine_state()
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"[graftbench] build failed: {e}")

    bdir = build.build_dir()
    work = os.path.join(bdir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out])
    if a.inject_fail:
        cmd += ["--inject-fail", a.inject_fail]
    print(f"[graftbench] {a.workload} seed={a.seed} machine={json.dumps(state)}",
          file=sys.stderr, flush=True)
    cmd += ["--launch-ms", repr(time.time() * 1000.0)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"[graftbench] {a.workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    try:
        with open(out) as f:
            res = json.load(f)
    except (OSError, ValueError) as e:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"[graftbench] JVM exited with {proc.returncode} and no result ({e})")
    shutil.rmtree(work, ignore_errors=True)

    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics = {}
    for m in listed:
        v = got.get(m["name"])
        if v is None:
            if not a.trace:
                res["correct"] = False
                res["failures"].append(f"metric {m['name']} not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in got.items():
        print(f"[graftbench]   {k:40s} {v:.6g} {units.get(k, '')}", file=sys.stderr)
    for f in res["failures"]:
        print(f"[graftbench]   FAILED {f}", file=sys.stderr)
    print(f"[graftbench]   attempted={res['attempted']} failed={res['failed']} "
          f"ops_failed_frac={res['failed'] / max(1, res['attempted']):.4f}", file=sys.stderr)
    correct = bool(res["correct"]) and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
