#!/usr/bin/env python3
"""Steadiness of the benchmark: sets of runs of one commit, compared.

    python3 perfbench/steady.py [--out .bench_build/steady.json]

Runs BENCHMARK.json's command on every workload, RUNS times per set
with a new seed each run, for SETS sets, from the root of a checkout.
For each workload x end-to-end metric it reports every set's median,
quartiles and spread (interquartile distance / median), whether each
spread stays within the metric's bound, and whether the second set's
median lies within the bound of the first set's, in either direction.
Each run also records nproc, the load average and a fixed-cost canary
(a pure-Python loop timed just before the run) as diagnostics; no run
is ever dropped. Exit code 0 when every check agrees.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETS = 2
RUNS = 10


def canary():
    """Seconds for a fixed pure-Python loop: machine noise, not the engine."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i % 7
    return time.perf_counter() - t


def run_once(bench, workload, seed, trace=0):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    diag = {"nproc": os.cpu_count(), "loadavg_1m": os.getloadavg()[0], "canary_s": canary()}
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    rec = {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
           "wall_s": time.time() - t, **diag}
    try:
        rec.update(json.loads(p.stdout.strip().splitlines()[-1]))
    except (IndexError, ValueError):
        rec["error"] = p.stderr.strip().splitlines()[-3:]
    return rec


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "steady.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]

    runs = []
    for s in range(SETS):
        for i in range(RUNS):
            for w in names:
                rec = run_once(bench, w, seed=1000 * (s + 1) + i)
                rec["set"] = s
                runs.append(rec)
                m = {k: round(v["value"], 4) for k, v in rec.get("metrics", {}).items()}
                print(f"set {s} {w} seed {rec['seed']}: exit {rec['exit']} "
                      f"wall {rec['wall_s']:.1f}s load {rec['loadavg_1m']:.2f} "
                      f"canary {rec['canary_s']:.3f}s {m}", flush=True)

    report, ok = {}, True
    for w in names:
        for metric in bench["end_to_end"]:
            name, bound = metric["name"], metric["bound"]
            sets = []
            for s in range(SETS):
                vals = [r["metrics"][name]["value"] for r in runs
                        if r["set"] == s and r["workload"] == w and "metrics" in r]
                sets.append(summary(vals) if len(vals) >= 2 else None)
            if any(x is None for x in sets):
                report[f"{w}/{name}"] = {"sets": sets, "agree": False}
                ok = False
                continue
            # drift > 0: the later set reads worse
            sign = 1 if metric["better"] == "lower" else -1
            base = sets[0]["median"]
            drift = [sign * (x["median"] - base) / base for x in sets[1:]]
            agree = (all(x["spread"] <= bound for x in sets)
                     and all(abs(d) <= bound for d in drift))
            ok &= agree
            report[f"{w}/{name}"] = {"bound": bound, "sets": sets, "drift": drift,
                                     "agree": agree}
            print(f"{w:14s} {name:12s} bound {bound:.2f} " + " | ".join(
                f"med {x['median']:.4g} spread {x['spread']:.3f}" for x in sets) +
                  f" | drift {' '.join(f'{d:+.3f}' for d in drift)} "
                  f"{'ok' if agree else 'DISAGREE'}")
    correct = all(r.get("correct") and r["exit"] == 0 for r in runs)
    print(f"all runs correct: {correct}")
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"runs": runs, "report": report, "correct": correct}, f, indent=1)
    sys.exit(0 if ok and correct else 1)


if __name__ == "__main__":
    main()
