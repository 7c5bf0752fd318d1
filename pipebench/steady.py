#!/usr/bin/env python3
"""Runs every workload on a range of seeds, alternating workloads, and
summarizes each end-to-end metric: median, first and third quartile, and
the spread (Q3 - Q1) as a share of the median, next to the metric's bound
in BENCHMARK.json; the same for the values before host-speed scaling.

    python3 pipebench/steady.py --seeds 10 --first-seed 1 --out runs.json

Run it from the root of a checkout of the repository, with nothing else
heavy running on the host. The raw results of every run and the summary
go to --out (JSON); the summary is also printed.
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


def quartiles(vals):
    q1, _, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def summarize(spec, runs):
    """Per workload and end-to-end metric: the quartiles of the reported
    values, and of the values before host-speed scaling ("unscaled")."""
    out = {}
    for w in spec["workloads"]:
        rs = [r for r in runs if r["workload"] == w["name"]]
        out[w["name"]] = {}
        for m in spec["end_to_end"]:
            s = quartiles([r["result"]["metrics"][m["name"]]["value"] for r in rs])
            s["bound"] = m["bound"]
            s["unscaled"] = quartiles([r["context"]["unscaled"][m["name"]] for r in rs])
            out[w["name"]][m["name"]] = s
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    runs = []
    # workloads alternate, so every workload samples the same stretch of
    # host weather
    for seed in range(a.first_seed, a.first_seed + a.seeds):
        for w in names:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                sys.exit(f"{w} seed {seed} failed:\n{p.stderr[-2000:]}")
            runs.append({"workload": w, "seed": seed, "wall_s": time.time() - t0,
                         "context": json.loads(lines[-2])["context"],
                         "result": json.loads(lines[-1])})
            print(f"{w} seed {seed}: {time.time() - t0:.0f} s "
                  f"correct={runs[-1]['result']['correct']}", file=sys.stderr)
    spec["workloads"] = [w for w in spec["workloads"] if w["name"] in names]
    summary = summarize(spec, runs)
    json.dump({"summary": summary, "runs": runs}, open(a.out, "w"), indent=1)
    def spread(x):
        return "-" if x is None else f"{x:.4f}"
    for w, ms in summary.items():
        for m, s in ms.items():
            print(f"{w:10s} {m:16s} median {s['median']:.6g}  q1 {s['q1']:.6g}  "
                  f"q3 {s['q3']:.6g}  spread {spread(s['spread'])}  bound {s['bound']}  "
                  f"(unscaled: median {s['unscaled']['median']:.6g} "
                  f"spread {spread(s['unscaled']['spread'])})")


if __name__ == "__main__":
    main()
