#!/usr/bin/env python3
"""Runs perfbench over several seeds and prints, per workload and metric,
the median and the quartile spread (Q3 - Q1 over the median, as
statistics.quantiles(values, n=4) gives the quartiles) next to the bound
in BENCHMARK.json.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 10] [--first-seed 1]
                                [--overhead]

--overhead runs every seed twice, untraced and traced, and prints the
traced-minus-untraced difference of each end-to-end metric's median (the
traced run's end-to-end figures come from its report lines).
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACED_E2E = re.compile(r"end-to-end \(traced\) (\S+) = (\S+) ")
STEAL = re.compile(r"host steal (\S+)%")


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run.py exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    values = {k: m["value"] for k, m in result["metrics"].items()}
    traced = {m.group(1): float(m.group(2)) for m in map(TRACED_E2E.search, lines) if m}
    result["wall_s"] = time.time() - t0
    steal = [m.group(1) for m in map(STEAL.search, lines) if m]
    result["steal"] = steal[0] if steal else "?"
    return result, values, traced


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else 0.0


def main():
    spec = bench_spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for w in a.workloads.split(","):
        plain, traced = {}, {}
        bad = 0
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            res, vals, _ = run(w, seed, spec["run_seconds"], 0)
            bad += 0 if res["correct"] else 1
            for k, v in vals.items():
                plain.setdefault(k, []).append(v)
            if a.overhead:
                res_t, _, e2e_t = run(w, seed, spec["run_seconds"], 1)
                bad += 0 if res_t["correct"] else 1
                for k, v in e2e_t.items():
                    traced.setdefault(k, []).append(v)
            print(f"{w} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"wall={res['wall_s']:.1f}s steal={res['steal']}% "
                  + " ".join(f"{k}={v:.4g}" for k, v in sorted(vals.items())), flush=True)
        print(f"== {w}: {a.seeds} seeds, {bad} incorrect runs")
        for k, vs in sorted(plain.items()):
            med, sp = spread(vs)
            b = bounds.get(k)
            flag = "" if b is None else f" bound {b} {'ok' if sp < b / 3 else 'WIDE'}"
            line = f"  {k:34s} median {med:12.6g}  spread {sp:.4f}{flag}"
            if k in traced:
                tmed = statistics.median(traced[k])
                line += f"  traced {tmed:.6g} (overhead {tmed - med:+.4g}, {100 * (tmed - med) / med:+.1f}%)"
            print(line, flush=True)


if __name__ == "__main__":
    main()
