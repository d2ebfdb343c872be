#!/usr/bin/env python3
"""Alternating before/after pairs of the benchmark of record.

    python3 tools/bench_pairs.py --parent DIR --change DIR \\
        --workload catalog_ingest --seeds 61-70 [--logs DIR]

Runs `perfbench/run.py --workload W --seed S --seconds <run_seconds>
--trace 0` once in each checkout per seed, switching which side runs first
on every pair, so slow drift on the host lands on both sides alike. Refuses
to run when `perfbench/` or `BENCHMARK.json` differ between the two
checkouts: a pair is only a comparison of the program if both sides measure
it the same way. Each run's stderr is kept as
`<logs>/<workload>-s<seed>-<side>.stderr`.

Prints, per end-to-end metric of BENCHMARK.json: each side's median and
quartiles (statistics.quantiles, n=4, as perfbench/steady.py), the pairs
the change won, the median ratio change/parent, and the verdict of the
gain rule: the change wins at least 9 of every 10 pairs, and the medians
differ, in the better direction, by more than the parent's interquartile
range. Then each run's failed count and the per-class p50 lines the runs
print on stderr (`<class> n=<ops> p50=<ms> ms`), as medians per side.
"""
import argparse
import filecmp
import json
import os
import re
import statistics
import subprocess
import sys

# "[graftbench]   52.34s commit.insert    n=   6 p50=    373.0 ms"
CLASS_LINE = re.compile(r"^\[graftbench\]\s+\S+s\s+(\S+)\s+n=\s*\d+\s+p50=\s*(\S+) ms")


def tree(root, rel):
    """Relative paths of the files under root/rel (or rel itself), skipping
    Python caches."""
    base = os.path.join(root, rel)
    if os.path.isfile(base):
        return {rel}
    out = set()
    for dirpath, dirs, files in os.walk(base):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if not f.endswith(".pyc"):
                out.add(os.path.relpath(os.path.join(dirpath, f), root))
    return out


def differing(parent, change):
    """Files of the benchmark definition that are not identical on both sides."""
    diff = []
    for rel in ("perfbench", "BENCHMARK.json"):
        a, b = tree(parent, rel), tree(change, rel)
        diff += sorted(a ^ b)
        diff += [p for p in sorted(a & b) if not filecmp.cmp(
            os.path.join(parent, p), os.path.join(change, p), shallow=False)]
    return diff


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds, log):
    with open(log, "w") as err:
        p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                            "--workload", workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", "0"],
                           cwd=checkout, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    return p.returncode, res, class_p50s(log)


def class_p50s(log):
    """Per-class p50 (ms) of one run, from the class lines on its stderr."""
    with open(log) as f:
        return {m.group(1): float(m.group(2)) for m in map(CLASS_LINE.match, f) if m}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--logs", default="bench_pairs_logs")
    a = ap.parse_args()

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    diff = differing(sides["parent"], sides["change"])
    if diff:
        sys.exit("refusing: the benchmark differs between the checkouts: " + ", ".join(diff))
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(a.logs, exist_ok=True)

    values = {s: {m["name"]: [] for m in spec["end_to_end"]} for s in sides}
    p50s = {s: {} for s in sides}
    failed = {s: [] for s in sides}
    ok = True
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            log = os.path.join(a.logs, f"{a.workload}-s{seed}-{side}.stderr")
            rc, res, p50 = run(sides[side], a.workload, seed, spec["run_seconds"], log)
            if rc != 0 or res is None:
                ok = False
                failed[side].append(res["failed"] if res else "no result")
                print(f"seed {seed} {side}: FAILED (exit {rc}), see {log}", flush=True)
                continue
            failed[side].append(res["failed"])
            got[side] = res["metrics"]
            for k, v in p50.items():
                p50s[side].setdefault(k, []).append(v)
        if len(got) == 2:
            for side in sides:
                for k in values[side]:
                    values[side][k].append(got[side][k]["value"])
        shown = " ".join(f"{s}:{k}={got[s][k]['value']:.4g}"
                         for s in order if s in got for k in got[s])
        print(f"seed {seed} first={order[0]} {shown}", flush=True)

    print(f"\n{a.workload}: seeds {a.seeds}, {spec['run_seconds']:g} s runs, "
          "pairs where both sides finished")
    print(f"{'metric':12s} {'side':7s} {'median':>10s} {'q1':>10s} {'q3':>10s}  "
          f"{'wins':>6s} {'ratio':>6s}  verdict")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par, chg = values["parent"][name], values["change"][name]
        if not par:
            print(f"{name:12s} no complete pair")
            continue
        q = {"parent": quartiles(par), "change": quartiles(chg)}
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        med_p, med_c = q["parent"][1], q["change"][1]
        iqr = q["parent"][2] - q["parent"][0]
        gain = (med_p - med_c) if lower else (med_c - med_p)
        holds = wins * 10 >= 9 * len(par) and gain > iqr
        verdict = (f"gain {'HOLDS' if holds else 'does not hold'} "
                   f"({wins}/{len(par)} wins, median gain {gain:.4g} vs parent IQR {iqr:.4g})")
        for side in ("parent", "change"):
            q1, med, q3 = q[side]
            tail = (f"  {wins:>3d}/{len(par):<2d} {med_c / med_p:6.3f}  {verdict}"
                    if side == "change" else "")
            print(f"{name:12s} {side:7s} {med:10.4g} {q1:10.4g} {q3:10.4g}{tail}")
    for side in sides:
        print(f"failed {side}: {failed[side]}")
    print("\nper-class p50 (median over runs, ms)")
    for k in sorted(set(p50s["parent"]) | set(p50s["change"])):
        cells = []
        for side in sides:
            xs = p50s[side].get(k, [])
            cells.append(f"{side} {statistics.median(xs):9.1f}" if xs else f"{side} {'-':>9s}")
        print(f"  {k:32s} " + "  ".join(cells))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
