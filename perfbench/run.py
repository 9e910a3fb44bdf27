#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (into the checkout's sbt target dirs) and
caches the classpath under `.bench_build/`; later runs start the JVM
directly. Everything a run writes stays under `.bench_build/` in the
checkout. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["session_ref", "session_sf01", "etl_build", "dedup_sf01"]
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the program's own
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when any source changed; return the classpath."""
    files = sources()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not any(
            "/src/main/" in f and not f.startswith(HERE) for f in files):
        fail("no program sources next to perfbench/ (run from a checkout root)")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    t = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    out = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not out:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        fail("build failed")
    cp = out[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t:.0f}s", file=sys.stderr)
    return cp


def heap():
    """Half the machine's memory, clamped to 2..6 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return max(2, min(6, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def run_jvm(cp, args, run_dir, result):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file in the system temp dir
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap()}g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--repo", ROOT, "--run", run_dir, "--out", result]
    env = dict(os.environ,
               # keep every scratch file inside the checkout
               GRAFT_SPARK_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
               GRAFT_TMPFS_MIN_FREE_GB="1e12",
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        # also on SIGTERM/SIGINT: never leave the JVM behind
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    log.close()
    if rc != 0 or not os.path.isfile(result):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc})")
    with open(result) as fh:
        return json.loads(fh.read())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(BUILD, "runs", name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_file = os.path.join(BUILD, "results", name + ".json")
    if os.path.exists(result_file):
        os.remove(result_file)
    try:
        res = run_jvm(cp, args, run_dir, result_file)
        if args.workload == "dedup_sf01":
            import oracle
            bad, compared, rows_only = oracle.check_dedup(
                os.path.join(run_dir, "sf01"), os.path.join(run_dir, "dedup_out"),
                os.path.join(run_dir, "oracle_sql.json"))
            res["oracle"] = {"compared": compared, "rows_only": rows_only}
            if bad:
                res["correct"] = False
                res["failures"] = res.get("failures", []) + bad
        if args.trace:
            spans = os.path.join(run_dir, "spans.jsonl")
            if os.path.isfile(spans):
                shutil.copy(spans, os.path.join(BUILD, "results", name + ".spans.jsonl"))
        with open(result_file, "w") as fh:
            json.dump(res, fh, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for f in res.get("failures", [])[:5]:
        print(f"perfbench: {f}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": declared(res, args.trace)}))


def declared(res, trace):
    """The metrics BENCHMARK.json declares for this mode, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    out = {}
    for m in spec:
        got = res["metrics"].get(m["name"])
        if got is None or not isinstance(got.get("value"), (int, float)):
            fail(f"run produced no value for metric {m['name']}")
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} measured in {got['unit']}, declared in {m['unit']}")
        out[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return out


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
