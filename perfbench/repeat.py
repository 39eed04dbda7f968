#!/usr/bin/env python3
"""Steadiness runner: run one workload N times with different seeds and
print each metric's median and quartiles, and the spread (Q3 - Q1) as a
share of the median. The bounds in BENCHMARK.json are set from this.

Usage (from the repository root):
    python3 perfbench/repeat.py --workload serve --runs 10
    python3 perfbench/repeat.py --workload ingest --runs 5 --with-trace

--with-trace also runs every seed traced and reports, per end-to-end
metric, how far the traced runs' median moved from the untraced runs'
median (the tracing overhead measured run against run).

Every result records nproc, memory and the git commit, and is written as
JSON under the build directory (or to --out).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402  (the benchmark's own launcher: build dir, commit, memory)


def one(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    code, out = run.run_child(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.exit("run failed: workload=%s seed=%d trace=%d exit=%d\n%s"
                 % (workload, seed, trace, code, "\n".join(lines[-20:])))
    result = json.loads(lines[-1])
    # the report lines every run prints: "e2e|metric <name> <value> <unit>"
    printed = {}
    for l in lines:
        p = l.split()
        if len(p) == 4 and p[0] in ("e2e", "metric"):
            printed[p[1]] = (float(p[2]), p[3])
    notes = [l for l in lines if l.startswith("# ")]
    return result, printed, wall, notes


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan"), "n": len(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--with-trace", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    gated, printed, traced, walls, notes = {}, {}, {}, [], {}
    for i in range(a.runs):
        seed = a.seed0 + i
        res, pr, wall, nt = one(a.workload, seed, seconds, 0)
        walls.append(wall)
        notes[seed] = nt
        if not res["correct"] or res["failed"]:
            sys.exit("seed %d: incorrect result %s" % (seed, res))
        for k, v in res["metrics"].items():
            gated.setdefault(k, []).append(v["value"])
        for k, (v, u) in pr.items():
            printed.setdefault((k, u), []).append(v)
        line = " ".join("%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())
        print("seed %d  %.0fs  %s" % (seed, wall, line), flush=True)
        if a.with_trace:
            _, tpr, twall, _ = one(a.workload, seed, seconds, 1)
            walls.append(twall)
            for k, (v, u) in tpr.items():
                traced.setdefault(k, []).append(v)

    print("\n%-24s %12s %12s %12s %8s %8s" % ("metric", "median", "q1", "q3", "spread", "bound"))
    report = {"workload": a.workload, "runs": a.runs, "seed0": a.seed0, "seconds": seconds,
              "nproc": os.cpu_count(), "mem_mb": run.mem_total_mb(), "commit": run.commit(),
              "run_wall_s": summary(walls), "end_to_end": {}, "reported": {},
              "tracing_overhead": {}, "run_notes": notes}
    for k, vs in gated.items():
        s = summary(vs)
        report["end_to_end"][k] = dict(s, values=vs)
        flag = "" if k == "setup_s" or s["spread"] <= bounds.get(k, 1) / 3 else "  <-- above bound/3"
        print("%-24s %12.5g %12.5g %12.5g %8.3f %8s%s"
              % (k, s["median"], s["q1"], s["q3"], s["spread"], bounds.get(k, "-"), flag))
    print("\nreported (not gated):")
    for (k, u), vs in printed.items():
        s = summary(vs)
        report["reported"][k] = dict(s, unit=u, values=vs)
        print("%-24s %12.5g %12.5g %12.5g %8.3f  %s" % (k, s["median"], s["q1"], s["q3"], s["spread"], u))
    if traced:
        print("\ntracing overhead, traced runs' median against untraced runs':")
        for (k, u), vs in printed.items():
            if k in traced:
                base = statistics.median(vs)
                diff = statistics.median(traced[k]) - base
                report["tracing_overhead"][k] = {"untraced": base, "traced": base + diff}
                print("%-24s %+12.5g %s (%+.1f%%)" % (k, diff, u, 100 * diff / base if base else 0))
    print("\nrun wall: median %.1fs  nproc=%s mem_mb=%s commit=%s"
          % (statistics.median(walls), report["nproc"], report["mem_mb"], report["commit"]))
    out = a.out or os.path.join(run.build_dir(), "repeat", "%s-%d.json" % (a.workload, int(time.time())))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print("written to", out)


if __name__ == "__main__":
    main()
