#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 pipebench/selftest.py

1. For each workload, a run with --corrupt (one expected digest or one
   expected lake record altered) must report correct=false, failed>0 and
   ok_frac<1.
2. In a directory that holds only BENCHMARK.json and pipebench/, run.py
   must exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, *args):
    return subprocess.run([sys.executable, "pipebench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def main():
    ok = True
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in (x["name"] for x in spec["workloads"]):
        r = run(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                "--trace", "0", "--corrupt")
        last = json.loads(r.stdout.strip().splitlines()[-1]) if r.returncode == 0 else {}
        good = (last.get("correct") is False and last.get("failed", 0) > 0 and
                last["metrics"]["ok_frac"]["value"] < 1.0)
        print(f"{'PASS' if good else 'FAIL'} corrupted expectation fails {w}: "
              f"correct={last.get('correct')} failed={last.get('failed')}")
        ok &= good
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "pipebench"),
                    ignore=shutil.ignore_patterns(".work", "target"))
    r = run(bare, "--workload", spec["workloads"][0]["name"], "--seed", "1",
            "--seconds", "1", "--trace", "0")
    good = r.returncode != 0 and '"metrics"' not in r.stdout
    print(f"{'PASS' if good else 'FAIL'} bare directory exits {r.returncode} without a result")
    shutil.rmtree(bare, ignore_errors=True)
    ok &= good
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
