#!/usr/bin/env python3
"""Steadiness check: run the benchmark with several seeds per workload and
report, per end-to-end metric, the median, the quartiles and the spread
(Q3 - Q1) / median, against the bound BENCHMARK.json gives the metric.

    python3 perfbench/steady.py --seeds 1-10 [--workloads ingest,search]
        [--trace 0|1] [--append perfbench/steadiness.jsonl] [--label text]

Run from the repository root. Each run's full result line is appended to
the --append file with its workload, seed and label, so the record keeps
every run made.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--append")
    ap.add_argument("--label", default="")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in names:
        values = {}
        for s in seeds(a.seeds):
            t0 = time.time()
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]), "--trace", a.trace]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print("%s seed %d: exit %d" % (w, s, p.returncode), flush=True)
                continue
            res = json.loads(lines[-1])
            info = [l for l in lines[:-1] if l.startswith("info ")]
            if a.append:
                with open(a.append, "a") as fh:
                    fh.write(json.dumps({"label": a.label, "workload": w, "seed": s,
                                         "trace": a.trace, "wall_s": round(wall, 1),
                                         "result": res, "info": info}) + "\n")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print("%s seed %d: %.0f s correct=%s attempted=%d failed=%d %s" % (
                w, s, wall, res["correct"], res["attempted"], res["failed"],
                " ".join("%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items()
                         if k in bounds)), flush=True)
        for k, xs in values.items():
            if k not in bounds or len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "ok" if spread < bounds[k] / 3 else ("WITHIN BOUND" if spread <= bounds[k] else "TOO WIDE")
            print("  %-8s %-16s median %.4g  q1 %.4g  q3 %.4g  spread %.3f  bound %.2f  %s" % (
                w, k, med, q1, q3, spread, bounds[k], flag), flush=True)
    sys.exit(0)


if __name__ == "__main__":
    main()
