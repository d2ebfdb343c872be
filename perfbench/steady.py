#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed, and
print each end-to-end metric's median, quartiles and spread against its
bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload catalog_ingest --runs 10

Runs use seeds 1..N and BENCHMARK.json's run_seconds. The spread is
(Q3 - Q1) / median with the quartiles of Python's
statistics.quantiles(values, n=4). A metric is steady when its spread is
below a third of its bound. Every run's machine state at start (nproc, load
average, other live JVMs) is printed beside its numbers, so a contended run
shows. Exits non-zero when a run fails or a metric's spread reaches its
bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from run import machine_state  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    values = {m["name"]: [] for m in spec["end_to_end"]}
    ok = True
    for seed in range(1, a.runs + 1):
        state = machine_state()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else None
        if p.returncode != 0 or res is None or not res["correct"]:
            ok = False
            print(f"seed {seed}: FAILED (exit {p.returncode}) {lines[-1] if lines else ''}")
            continue
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
        shown = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: {shown} attempted={res['attempted']} machine={json.dumps(state)}",
              flush=True)

    print(f"\n{a.workload}: {a.runs} runs of {seconds:g} s")
    print(f"{'metric':16s} {'unit':6s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'spread':>7s} {'bound':>6s}  verdict")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            print(f"{m['name']:16s} too few runs")
            ok = False
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        if spread < m["bound"] / 3:
            verdict = "steady"
        elif spread < m["bound"]:
            verdict = "within bound, above a third of it"
        else:
            verdict = "NOT STEADY"
            ok = False
        print(f"{m['name']:16s} {m['unit']:6s} {med:10.4g} {q1:10.4g} {q3:10.4g} "
              f"{spread:7.3f} {m['bound']:6.2f}  {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
