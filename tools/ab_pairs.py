#!/usr/bin/env python3
"""Paired before/after benchmark of two commits on one box.

    python3 tools/ab_pairs.py --parent HEAD~1 [--change HEAD] [--pairs 10]
        [--seed 1000] [--workloads first_day,corpus_curation] [--seconds 30]
        [--dir DIR] [--trace]

Exports both commits with `git archive` into DIR (default: a new temporary
directory), then runs perfbench (`perfbench/run.py --trace 0`) as
alternating pairs per workload: parent seed S, change seed S, parent seed
S+1, change seed S+1, ... so host drift hits both sides alike. For every
end-to-end metric of BENCHMARK.json it prints the median and interquartile
range of each side, the relative change of the medians, and in how many
pairs the change was better. With --trace the runs are traced
(`--trace 1`) and it prints instead, for every `metric` line both sides
report (per-span counts such as `spark.views.jobs`, timings such as
`app.view_refresh_s`), the median of each side. Any run that did not
finish, was not `correct`, or reported `failed > 0` is listed. Run nothing
else on the box meanwhile.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             stdout=subprocess.PIPE, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns its result object with the values of its
    `metric` lines under "lines", or None if it failed."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if out.returncode == 0 and lines else None
    except ValueError:
        return None
    if result is not None:
        # "metric <name> = <value> <unit> (n=<samples>)"
        result["lines"] = {f[1]: float(f[3]) for f in map(str.split, lines[:-1])
                           if len(f) >= 4 and f[0] == "metric" and f[2] == "="}
    return result


def print_traced(results):
    """Median of each side for every metric line both sides report."""
    seen = {side: set().union(*(r["lines"] for r in rs if r))
            for side, rs in results.items()}
    for name in sorted(seen["parent"] & seen["change"]):
        par = [r["lines"][name] for r in results["parent"] if r and name in r["lines"]]
        chg = [r["lines"][name] for r in results["change"] if r and name in r["lines"]]
        print(f"  {name}: median {statistics.median(par):.6g} -> "
              f"{statistics.median(chg):.6g} (runs {len(par)}, {len(chg)})")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="the commit to compare against")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000, help="first seed")
    ap.add_argument("--workloads", help="comma-separated (default: BENCHMARK.json's)")
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--dir", help="where the two checkouts go")
    ap.add_argument("--trace", action="store_true",
                    help="traced runs; print the medians of every metric line")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    base = args.dir or tempfile.mkdtemp(prefix="ab_pairs_")
    sides = {"parent": os.path.join(base, "parent"),
             "change": os.path.join(base, "change")}
    export(args.parent, sides["parent"])
    export(args.change, sides["change"])
    print(f"checkouts under {base}: parent={args.parent} change={args.change}",
          flush=True)

    for workload in workloads:
        results = {"parent": [], "change": []}
        bad = []
        for i in range(args.pairs):
            seed = args.seed + i
            for side in ("parent", "change"):
                r = run(sides[side], workload, seed, args.seconds, args.trace)
                results[side].append(r)
                if r is None or not r.get("correct") or r.get("failed", 0) > 0:
                    bad.append(f"{side} seed {seed}: " + (
                        "no result" if r is None else
                        f"correct={r.get('correct')} failed={r.get('failed')}"))
                key = "trace.cycle_s" if args.trace else "cycle_s"
                cycle = r and r["metrics"].get(key, {}).get("value")
                print(f"  {workload} pair {i + 1}/{args.pairs} {side} seed {seed}: "
                      f"{key}={cycle}", flush=True)
        print(f"{workload}: {args.pairs} pairs, seeds {args.seed}..{args.seed + args.pairs - 1}")
        if args.trace:
            print_traced(results)
        for m in [] if args.trace else spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                     for p, c in zip(results["parent"], results["change"])
                     if p and c and name in p["metrics"] and name in c["metrics"]]
            if not pairs:
                print(f"  {name}: no complete pair")
                continue
            par, chg = [p for p, _ in pairs], [c for _, c in pairs]
            mp, mc = statistics.median(par), statistics.median(chg)
            wins = sum((c < p) if lower else (c > p) for p, c in pairs)
            (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
            rel = (mc - mp) / mp if mp else float("nan")
            print(f"  {name} [{m['unit']}, {m['better']} is better, bound {m['bound']}]: "
                  f"median {mp:.4f} -> {mc:.4f} ({rel:+.1%}); "
                  f"IQR parent {p3 - p1:.4f}, change {c3 - c1:.4f}; "
                  f"change better in {wins}/{len(pairs)} pairs")
        for line in bad:
            print(f"  FAILED RUN {line}")


if __name__ == "__main__":
    main()
