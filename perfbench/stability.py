#!/usr/bin/env python3
"""Do two sets of benchmark runs of the same tree agree?

Run from the root of a checkout:

    python3 perfbench/stability.py [--seeds 10] [--workload NAME ...]

For every workload of BENCHMARK.json it makes two sets of untraced runs,
each with its own seeds, run alternately (1, 101, 2, 102, ...) so a change
in the machine's speed lands on both sets alike. For every end-to-end
metric it reports, per set,
the median and the spread (interquartile range over median, quartiles as
statistics.quantiles(values, n=4) gives them), and the change of the second
median against the first in the metric's worse direction. A metric agrees
when each spread (except setup_s's) and the change are within its bound.
Then one traced run per workload gives the per-layer metrics and the tracing
overhead: the traced run's op_p50_ms against the untraced median.

Writes perfbench/results/stability.json and perfbench/results/trace_<workload>/
and exits 1 if any metric disagrees or any run failed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

RESULTS = os.path.join("perfbench", "results")


def run(workload, seed, trace):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         workload, "--seed", str(seed), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    detail = json.loads(lines[-2]) if len(lines) > 1 else None
    print(f"  {workload} seed {seed} trace {trace}: exit {proc.returncode}, "
          f"{time.time() - t0:.0f} s", flush=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, result, detail, time.time() - t0


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]
    sets = [list(range(1, a.seeds + 1)),
            list(range(101, 101 + a.seeds))]
    report = {"seeds": sets, "workloads": {}}
    ok = True
    for w in workloads:
        values = [{m["name"]: [] for m in metrics} for _ in sets]
        runs = []
        print(f"{w}: sets 1 and 2, alternately", flush=True)
        for k, seed in ((k, seeds[i]) for i in range(a.seeds)
                        for k, seeds in enumerate(sets)):
            code, res, detail, secs = run(w, seed, 0)
            runs.append({"set": k + 1, "seed": seed, "exit": code,
                         "seconds": round(secs, 1),
                         "correct": bool(res and res["correct"]),
                         "named": detail and detail["metrics"],
                         "env": detail and detail["env"]})
            if code != 0 or not res or not res["correct"]:
                ok = False
                continue
            for m in metrics:
                values[k][m["name"]].append(res["metrics"][m["name"]]["value"])
        verdict = {}
        for m in metrics:
            name, bound = m["name"], m["bound"]
            a1, a2 = values[0][name], values[1][name]
            if len(a1) < 2 or len(a2) < 2:
                verdict[name] = {"agree": False, "why": "too few runs"}
                ok = False
                continue
            m1, m2 = statistics.median(a1), statistics.median(a2)
            worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            s1, s2 = spread(a1), spread(a2)
            agree = worse <= bound and (name == "setup_s" or
                                        (s1 <= bound and s2 <= bound))
            ok &= agree
            verdict[name] = {"unit": m["unit"], "bound": bound,
                             "median": [m1, m2], "spread": [s1, s2],
                             "worse": worse, "agree": agree,
                             "values": [a1, a2]}
            print(f"  {name:12s} median {m1:10.4g} {m2:10.4g}  spread "
                  f"{s1:6.3f} {s2:6.3f}  worse {worse:+6.3f}  bound {bound}  "
                  f"{'agree' if agree else 'DISAGREE'}", flush=True)
        # one traced run: the per-layer breakdown and its overhead
        code, res, detail, _ = run(w, 1, 1)
        trace = {"exit": code}
        if code == 0 and res:
            side = detail["trace_sidecar"]
            dest = os.path.join(RESULTS, f"trace_{w}")
            shutil.rmtree(dest, ignore_errors=True)
            shutil.copytree(side, dest)
            untraced = values[0]["op_p50_ms"][0] if values[0]["op_p50_ms"] else None
            traced = res["metrics"]["trace.op_p50_ms"]["value"]
            trace = {"exit": code, "correct": res["correct"],
                     "op_p50_ms_traced": traced,
                     "op_p50_ms_untraced_same_seed": untraced,
                     "overhead_frac": (traced / untraced - 1) if untraced else None,
                     "sidecar": dest}
            print(f"  traced op_p50_ms {traced:.1f} vs untraced {untraced:.1f} "
                  f"(seed 1): overhead {trace['overhead_frac']:+.3f}", flush=True)
        else:
            ok = False
        report["workloads"][w] = {"metrics": verdict, "runs": runs,
                                  "trace": trace}
    report["agree"] = ok
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, "stability.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")
    print("all metrics agree" if ok else "SOME METRICS DISAGREE OR RUNS FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
