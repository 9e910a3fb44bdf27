#!/usr/bin/env python3
"""Run every workload untraced and traced, check outputs, print a report.

    python3 perfbench/report.py [--seconds 15] [--seed 1]
                                [--workloads session_ref,...]
                                [--out FILE] [--compare OLD_REPORT]

For each workload this prints every end-to-end metric by name and unit
(under the workload's own names: `interaction_*` for the dashboard
sessions, `build_*` for the ETL, `pass_s` for dedup), the failed share,
the cache size, the host stamp, and the tracing overhead: traced minus
untraced median operation time. `--compare` prints the change against an
earlier report and refuses when the two ran on different core counts.
"""
import argparse
import json
import os
import subprocess
import sys

from run import BUILD, HERE, ROOT, WORKLOADS

RESULTS = os.path.join(BUILD, "results")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        return None
    with open(os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def named(workload, res):
    """End-to-end metrics under the workload's own names."""
    m = {k: v["value"] for k, v in res["metrics"].items()}
    out = {}
    if workload.startswith("session_"):
        out["interaction_p50_ms"] = (m.get("op_p50_ms"), "ms")
        out["interaction_tail_ms"] = (m.get("op_tail_ms"), "ms")
    elif workload == "etl_build":
        out["build_p50_ms"] = (m.get("op_p50_ms"), "ms")
        out["build_tail_ms"] = (m.get("op_tail_ms"), "ms")
    else:
        p50 = m.get("op_p50_ms")
        out["pass_s"] = (None if p50 is None else p50 / 1000, "s")
    out["setup_s"] = (m.get("setup_s"), "s")
    # the known defect fails a chart, not the result line's operation; count it here
    bad = sum(1 for o in res["ops"] if not o["ok"] or o["known_defect"])
    out["failed_share"] = (bad / max(res["attempted"], 1), "share")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--out", default=os.path.join(BUILD, "report.json"))
    ap.add_argument("--compare")
    args = ap.parse_args()

    old = None
    if args.compare:
        with open(args.compare) as fh:
            old = json.load(fh)

    report = {}
    ok = True
    for w in args.workloads.split(","):
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        if plain is None or traced is None:
            print(f"{w}: run failed")
            ok = False
            continue
        metrics = named(w, plain)
        layers = {k: v["value"] for k, v in traced["metrics"].items()}
        metrics["cache_mb"] = (layers.get("storage.cache_mb"), "MB")
        p50 = plain["metrics"].get("op_p50_ms", {}).get("value")
        tp50 = layers.get("trace.op_p50_ms")
        overhead = None if p50 is None or tp50 is None else tp50 - p50
        report[w] = {"metrics": metrics, "correct": plain["correct"] and traced["correct"],
                     "attempted": plain["attempted"], "failed": plain["failed"],
                     "known_defect_ops": plain["known_defect_ops"],
                     "samples": plain["samples"], "tail_percentile": plain["tail_percentile"],
                     "trace_overhead_ms": overhead, "host": plain["host"],
                     "failures": plain.get("failures", [])[:3], "layers": layers}
        ok = ok and report[w]["correct"]
        h = plain["host"]
        print(f"== {w}  (seed {args.seed}, {args.seconds}s, {plain['samples']} ok of "
              f"{plain['attempted']} ops, {plain['known_defect_ops']} hit the known defect, tail = p{plain['tail_percentile']:g}, "
              f"correct={report[w]['correct']})")
        base = old.get(w) if old else None
        if base and base["host"]["nproc"] != h["nproc"]:
            print(f"  REFUSED to compare: the old report ran on {base['host']['nproc']} "
                  f"cores, this one on {h['nproc']}")
            base = None
            ok = False
        for k, (v, unit) in metrics.items():
            line = f"  {k:<22} {v if v is None else round(v, 4):>12} {unit}"
            before = base["metrics"].get(k, (None,))[0] if base else None
            if before and v is not None:
                line += f"   ({(v - before) / before:+.1%} vs old)"
            print(line)
        if overhead is not None:
            print(f"  {'trace_overhead_ms':<22} {round(overhead, 1):>12} ms")
        print(f"  host: nproc={h['nproc']} heap={h['heap_max_mb']:.0f}MB "
              f"spark={h['spark_version']} load1={h['load1']} steal={h['steal_ticks']}")
        for f in report[w]["failures"]:
            print(f"  failure: {f[:160]}")

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"report written to {args.out}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
