#!/usr/bin/env python3
"""Steadiness report: repeated runs of one commit.

    python3 perfbench/steadiness.py [--workloads refinery,query_mix,ingest]
        [--seeds 1-10] [--traced 0] [--out .bench_build/steadiness.json]

Runs perfbench/run.py once per workload and seed (one run at a time, from
the repository root) and prints, per workload and end-to-end metric, the
median, the quartiles and the spread (Q3 - Q1) / median next to the
metric's bound from BENCHMARK.json. These are the figures the bounds rest
on. With --traced N it also makes N traced runs per workload and prints
the tracing overhead: traced minus untraced median of p50_ms and
throughput_per_s.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(".bench_build", "steadiness.json"))
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    names = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {}
    for w in names:
        plain = [run(w, s, spec["run_seconds"], 0) for s in seeds(a.seeds)]
        traced = [run(w, s, spec["run_seconds"], 1)
                  for s in seeds(a.seeds)[:a.traced]]
        out[w] = {"untraced": plain, "traced": traced}
        print(f"== {w}: {len(plain)} runs, all correct: "
              f"{all(r['correct'] for r in plain)}")
        for m in spec["end_to_end"]:
            v = [r["metrics"][m["name"]]["value"] for r in plain]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            print(f"  {m['name']:18s} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
                  f"spread={spread:.3f} bound={bounds[m['name']]} "
                  f"{'ok' if spread < bounds[m['name']] / 3 else 'WIDE'}")
        if traced:
            for k in ("p50_ms", "throughput_per_s"):
                t = statistics.median(r["metrics"][f"traced.{k}"]["value"]
                                      for r in traced)
                u = statistics.median(r["metrics"][k]["value"] for r in plain)
                print(f"  tracing overhead {k}: traced {t:.6g} - untraced {u:.6g}"
                      f" = {t - u:.6g} ({(t - u) / u:+.1%})")
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
