#!/usr/bin/env python3
"""Repeat benchmark runs and summarize them.

    python3 perfbench/repeat.py [--workloads nemsis_load,corpus_curate]
        [--seeds 1-10] [--trace 0] [--out runs.jsonl]

Runs perfbench/run.py once per (workload, seed), one run at a time, from
the root of a checkout, and prints per workload and metric the median, the
first and third quartiles (statistics.quantiles, n=4) and the spread
(third minus first quartile, as a share of the median). It also prints the
share of failed operations of each run, which must be the same in every
run of a workload. Each run's result line is appended to --out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    for wl in args.workloads.split(","):
        values, shares = {}, []
        for seed in seeds_of(args.seeds):
            t = time.time()
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: run failed (exit {p.returncode})", flush=True)
                continue
            res = json.loads(lines[-1])
            res.update(workload=wl, seed=seed, wall_s=round(time.time() - t, 1))
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(res) + "\n")
            shares.append(res["failed"] / res["attempted"])
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{wl} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} wall={res['wall_s']}s", flush=True)
        print(f"\n{wl}: failed share per run {sorted(set(round(s, 6) for s in shares))}")
        print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for name, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(name)
            print(f"{name:34} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} {b if b is not None else '':>6}")
        print(flush=True)


if __name__ == "__main__":
    main()
