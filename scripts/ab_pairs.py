#!/usr/bin/env python3
"""Run perfbench in alternating pairs on two checkouts and compare them.

    python3 scripts/ab_pairs.py --parent DIR --change DIR --workload session_ref \\
        --seeds 101-110 [--trace 0]

Each seed is one pair: both checkouts run `perfbench/run.py` with that
seed and the run length BENCHMARK.json sets, the parent first on odd
seeds and the change first on even ones, so a slow phase of the host
falls on both sides alike. Every run is
printed as it ends. Then, per metric: each side's quartiles (q1, median,
q3), the change's wins (pairs where it is better, by the direction
BENCHMARK.json declares; ties count for neither side), the median's
change, and whether that change is larger than the parent's IQR. A run
that fails, or is not `correct`, is printed and left out of the metrics.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    """'101-110' or '1,3,5' -> a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def benchmark(checkout):
    """BENCHMARK.json's run length in seconds, and its metric directions
    (name -> 'lower' or 'higher')."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["run_seconds"], {m["name"]: m.get("better", "lower")
                                 for key in ("end_to_end", "per_layer")
                                 for m in spec.get(key, [])}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def fmt(x):
    return f"{x:.1f}" if abs(x) < 1e4 else f"{x:.0f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 1,3,5")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    seconds, better = benchmark(sides["change"])
    pairs = []
    for seed in seeds(args.seeds):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        pair = {"seed": seed}
        for side in order:
            res = run(sides[side], args.workload, seed, seconds, args.trace)
            pair[side] = res
            if res is None:
                print(f"seed {seed} {side}: run failed", flush=True)
                continue
            vals = " ".join(f"{k}={fmt(v['value'])}" for k, v in res["metrics"].items())
            print(f"seed {seed} {side}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} {vals}", flush=True)
        pairs.append(pair)

    def ok(res):
        return res is not None and res["correct"]

    good = [p for p in pairs if ok(p["parent"]) and ok(p["change"])]
    print(f"\n{args.workload}: {len(good)} of {len(pairs)} pairs with both runs correct; "
          f"failed ops parent {sum(p['parent']['failed'] for p in good)}, "
          f"change {sum(p['change']['failed'] for p in good)}")
    names = good[0]["change"]["metrics"].keys() if good else []
    for name in names:
        par = [p["parent"]["metrics"][name]["value"] for p in good]
        chg = [p["change"]["metrics"][name]["value"] for p in good]
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0)
        losses = sum(1 for a, b in zip(par, chg) if sign * (b - a) < 0)
        pq, cq = quartiles(par), quartiles(chg)
        delta = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else None
        beyond_iqr = abs(cq[1] - pq[1]) > pq[2] - pq[0]
        print(f"{name}: parent {'/'.join(fmt(x) for x in pq)}  change "
              f"{'/'.join(fmt(x) for x in cq)} (q1/median/q3)  change better in "
              f"{wins}/{len(good)}, worse in {losses}  median "
              f"{'n/a' if delta is None else f'{delta:+.1f}%'}  "
              f"{'beyond' if beyond_iqr else 'within'} the parent IQR ({fmt(pq[2] - pq[0])})")


if __name__ == "__main__":
    main()
