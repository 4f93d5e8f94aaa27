#!/usr/bin/env python3
"""Repeatability of the benchmark: two sets of ten runs.

    python3 perfbench/sets.py

Runs ``run.py`` once per (set, run, workload), each as its own
process with its own seed (set k, run i: seed = 1000 + 100 k + i),
untraced, for BENCHMARK.json's run length, workloads interleaved so
that drift of the host spreads over all of them. For every workload
and metric it prints each set's median, quartiles and spread
(quartile distance / median), the change of the median from the
first set, and the share of failed operations. Each run's output
line is appended to ``.work/sets-<time>.jsonl``.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS, SETS, SEED_BASE = 10, 2, 1000


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    log = os.path.join(HERE, ".work", f"sets-{int(time.time())}.jsonl")
    runs = {}  # (set, workload) -> list of result dicts
    for k in range(SETS):
        for i in range(RUNS):
            for w in workloads:
                seed = SEED_BASE + 100 * k + i
                t0 = time.time()
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"),
                     "--workload", w, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", "0"],
                    cwd=ROOT, capture_output=True, text=True)
                wall = time.time() - t0
                if p.returncode != 0:
                    print(f"set {k} seed {seed} {w}: exit {p.returncode}\n"
                          f"{p.stderr[-2000:]}", file=sys.stderr)
                    continue
                res = json.loads(p.stdout.strip().splitlines()[-1])
                runs.setdefault((k, w), []).append(res)
                with open(log, "a") as fh:
                    fh.write(json.dumps({"set": k, "seed": seed, "workload": w,
                                         "wall_s": wall, "result": res}) + "\n")
                print(f"set {k} seed {seed} {w:9s} {wall:5.1f}s "
                      f"correct={res['correct']} "
                      + " ".join(f"{m}={v['value']:.4g}"
                                 for m, v in res["metrics"].items()),
                      flush=True)
    print(f"\nruns logged to {log}\n")
    print(f"{'workload':9s} {'metric':32s} set  n   median       q1"
          f"       q3  spread  d_median  bound  failed")
    for w in workloads:
        metrics = sorted({m for k in range(SETS)
                          for r in runs.get((k, w), []) for m in r["metrics"]})
        for m in metrics:
            base = None
            for k in range(SETS):
                rs = runs.get((k, w), [])
                vs = [r["metrics"][m]["value"] for r in rs]
                if len(vs) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vs, n=4)
                med = statistics.median(vs)
                spread = (q3 - q1) / med if med else 0.0
                base = med if base is None else base
                dmed = (med - base) / base if base else 0.0
                fail = (sum(r["failed"] for r in rs),
                        sum(r["attempted"] for r in rs))
                print(f"{w:9s} {m:32s} {k:3d} {len(vs):2d} {med:8.4g} "
                      f"{q1:8.4g} {q3:8.4g} {spread:7.3f} {dmed:+9.3f} "
                      f"{bounds.get(m) or '':>5} {fail[0]}/{fail[1]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
