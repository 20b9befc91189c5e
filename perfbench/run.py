#!/usr/bin/env python3
"""Run one perfbench workload against the graft library in this checkout.

    python3 perfbench/run.py --workload first_day --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run builds the library and the
harness with sbt (offline) and caches the runtime classpath under
perfbench/.work; later runs reuse it until a source or build file changes.
The harness runs in one JVM with a local[nproc] Spark session; its last
stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end_to_end metrics of BENCHMARK.json (--trace 0) or its
per_layer metrics (--trace 1). Everything else the run measures is printed
above that line as `fact` and `metric` lines. An untraced run records its
cycle_s under perfbench/.work/untraced; a later traced run of the same
workload, built from the same sources, prints its tracing overhead against
that record (trace.overhead_s).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
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


def source_fingerprint():
    """Hash of every file the build reads, so a change forces a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames.sort()
            inputs += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for path in inputs:
        h.update(path[len(ROOT):].encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile (if stale); return the runtime classpath and the source
    fingerprint it was built from."""
    stamp_path = os.path.join(WORK, "build.stamp")
    cp_path = os.path.join(WORK, "classpath.txt")
    fp = source_fingerprint()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as f:
            if f.read().strip() == fp:
                with open(cp_path) as g:
                    return g.read().strip(), fp
    os.makedirs(WORK, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    try:
        out = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    except FileNotFoundError:
        fail("sbt is not on PATH")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if "perfbench" not in cp or ".jar" not in cp:
        sys.stderr.write(out.stdout[-4000:])
        fail("could not read the runtime classpath from sbt")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(fp)
    return cp, fp


def run_jvm(cp, args):
    work = os.path.join(WORK, "run")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # A fixed-size heap and the throughput collector keep GC behaviour, and
    # so run-to-run timings, as uniform as a shared 4-core box allows.
    # No perf-data file: the JVM would write it outside the checkout.
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--size", args.size,
            "--spans", os.path.join(WORK, "spans", f"{args.workload}-{args.seed}.jsonl")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out, err


def tracing_overhead(args, fp, result):
    """Record an untraced run's cycle_s; for a traced run, return the lines
    that report its overhead against the untraced runs recorded from the
    same sources and size."""
    rec_dir = os.path.join(WORK, "untraced", fp[:16], args.size)
    cycle = result["metrics"].get("cycle_s" if not args.trace else "trace.cycle_s")
    if cycle is None:
        return []
    if not args.trace:
        os.makedirs(rec_dir, exist_ok=True)
        with open(os.path.join(rec_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"cycle_s": cycle["value"]}, f)
        return []
    recs = {}
    if os.path.isdir(rec_dir):
        for name in os.listdir(rec_dir):
            wl, _, seed = name[:-len(".json")].rpartition("-")
            if wl == args.workload:
                with open(os.path.join(rec_dir, name)) as f:
                    recs[seed] = json.load(f)["cycle_s"]
    if not recs:
        return ["fact trace_overhead = no untraced run of this workload recorded"]
    base = statistics.median(recs.values())
    return [f"fact trace_overhead_basis = median cycle_s of {len(recs)} untraced runs",
            f"metric trace.overhead_s = {cycle['value'] - base:.6f} s (n={len(recs)})",
            f"metric trace.overhead_frac = {(cycle['value'] - base) / base:.6f} ratio (n={len(recs)})"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in (spec_path, os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a checkout of the repository")
    with open(spec_path) as f:
        spec = json.load(f)
    # day_steady runs but is not in BENCHMARK.json: the program fails its
    # ground truth (README, "Known program defect").
    if args.workload not in [w["name"] for w in spec["workloads"]] + ["day_steady"]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp, fp = build()
    code, out, err = run_jvm(cp, args)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if code != 0 or result is None:
        sys.stderr.write(err[-4000:])
        fail(f"harness exited {code} without a result")
    got = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    bad_unit = [m["name"] for m in wanted
                if m["name"] in got and got[m["name"]]["unit"] != m["unit"]]
    if missing or bad_unit:
        fail(f"metrics missing {missing} or with the wrong unit {bad_unit}")
    for line in tracing_overhead(args, fp, result):
        print(line)
    result["metrics"] = {m["name"]: got[m["name"]] for m in wanted}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
