"""Steadiness report: run workloads repeatedly, one seed per run, and print
each metric's median, quartiles, min/max and inter-quartile spread (as a
share of the median) beside the bound BENCHMARK.json fixes for it.

    python3 perfbench/steadiness.py [--workloads a,b] [--seeds 1,2,3]
                                    [--runs 10] [--trace 0|1]

With --runs N the seeds are 1..N. Each run is `perfbench/run.py` with the
measuring time from BENCHMARK.json. The report is printed and written as
JSON to <build root>/perfbench/steadiness-<time>.json. A spread above a
third of its bound is marked "WIDE" (above the bound: "OVER").
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchstats  # noqa: E402
import build  # noqa: E402

ROOT = build.ROOT


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default=None)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    seeds = ([int(s) for s in a.seeds.split(",")] if a.seeds
             else list(range(1, a.runs + 1)))

    report = {}
    for w in a.workloads.split(","):
        values, failures, walls = {}, [], []
        for seed in seeds:
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                 "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failures.append(f"seed {seed}: exit {p.returncode}")
                continue
            res = json.loads(lines[-1])
            if not res["correct"]:
                failures.append(f"seed {seed}: {res['failed']}/{res['attempted']} failed")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: {walls[-1]:.0f} s", file=sys.stderr, flush=True)
        rows = {}
        for k, xs in values.items():
            q1, med, q3 = benchstats.quartiles(xs)
            sp = benchstats.spread(xs)
            b = bounds.get(k)
            flag = "" if b is None or k == "setup_s" else (
                "OVER" if sp > b else "WIDE" if sp > b / 3 else "ok")
            rows[k] = {"n": len(xs), "median": med, "q1": q1, "q3": q3,
                       "min": min(xs), "max": max(xs), "spread": sp,
                       "bound": b, "flag": flag, "values": xs}
        report[w] = {"metrics": rows, "failures": failures,
                     "run_wall_s": {"median": benchstats.median(walls), "max": max(walls)}}
        print(f"\n== {w}: {len(seeds)} runs, run wall median "
              f"{benchstats.median(walls):.0f} s, max {max(walls):.0f} s, "
              f"failures {failures or 'none'}")
        print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'min':>12} "
              f"{'max':>12} {'spread':>7} {'bound':>6}")
        for k, r in rows.items():
            print(f"{k:34} {r['median']:12.5g} {r['q1']:12.5g} {r['q3']:12.5g} "
                  f"{r['min']:12.5g} {r['max']:12.5g} {r['spread']:7.3f} "
                  f"{'' if r['bound'] is None else r['bound']:>6} {r['flag']}")
    out = os.path.join(build.build_root(), f"steadiness-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump({"seeds": seeds, "trace": a.trace, "workloads": report}, f, indent=1)
    print(f"\nwritten to {out}")


if __name__ == "__main__":
    main()
