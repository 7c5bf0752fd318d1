#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 pipebench/run.py --workload telemetry|warehouse \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout of the repository. The first run in a
checkout builds the library and the benchmark with sbt (offline); later
runs reuse that build. Each run generates its inputs from the seed into
pipebench/.work/, starts one JVM on the exported runtime classpath (and
the host-speed probe before and after it), checks the outputs and
prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics (a traced run also writes its spans
to pipebench/.work/traces/). The line before it holds the run context.

Maintenance flags: --record writes the expected digests of a batch
workload instead of checking them; --corrupt alters one expected digest
or count so the run must report a failure (see selftest.py).
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HEAP = "3g"
TIMEOUT_S = 165
K = min(4, os.cpu_count() or 1)
# The host's speed drifts by tens of percent over minutes while other
# tenants load it. Each run times pipebench.HostSpeed, a fixed CPU-bound
# probe that does not touch the library, before and after its JVM, and
# scales its time metrics to a host on which a HostSpeed burst takes
# REF_PROBE_MS (the median on a quiet 4-vCPU Xeon host): times by
# (REF_PROBE_MS / probe) ** 2, rates by the inverse. The exponent is the
# workloads' measured sensitivity to the probe: over 47 runs of both
# workloads on such a host, log(metric) against log(probe) had slopes of
# 1.7 to 2.5 (STEADINESS.md). The unscaled values are in the run context.
REF_PROBE_MS = 30.0
HOST_SCALED = {"setup_s": 2, "op_p50_ms": 2, "op_p90_ms": 2, "cpu_ms_per_item": 2,
               "items_per_s": -2}
# Nominal seconds of one timed pass (batch) or one pipeline replay
# (telemetry) on a 4-core host; --seconds / this gives the fixed number
# of passes of a run, so the work done never depends on how noisy the
# host is.
PASS_S = {"warehouse": 10.0, "telemetry": 20.0}
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    """Compiles library + benchmark once per checkout; returns the classpath."""
    stamp = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src")):
        fail(f"no library sources at {ROOT}: run from a checkout of the repository")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export pipebench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    lines = open(log).read().strip().splitlines()
    if r.returncode != 0 or not lines or ":" not in lines[-1]:
        fail(f"build failed, see {log}")
    # a run hides the library's scratch directory (see run_jvm), so class
    # directories under it are used from a copy
    shadow = library_scratch_dir()
    cp = lines[-1].split(":")
    for i, entry in enumerate(cp):
        if os.path.isdir(entry) and os.path.commonpath([entry, shadow]) == shadow:
            cp[i] = os.path.join(WORK, "classes", str(i))
            shutil.rmtree(cp[i], ignore_errors=True)
            shutil.copytree(entry, cp[i])
    open(stamp, "w").write(":".join(cp))
    return ":".join(cp)


def library_scratch_dir():
    """The absolute directory the library writes scratch files to, as
    Tables.scala spells it."""
    src = open(os.path.join(ROOT, "src/main/scala/graft/Tables.scala")).read()
    m = re.search(r'"(/[^"]+/target)/events_us"', src)
    if not m:
        fail("cannot find the library's scratch directory in Tables.scala")
    return m.group(1)


def host_probe_ms(cp):
    """Median burst time of pipebench.HostSpeed, in milliseconds."""
    r = subprocess.run(["java", "-Xmx256m", "-cp", cp, "pipebench.HostSpeed", str(K)],
                       cwd=WORK, capture_output=True, text=True, timeout=60,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail(f"host probe exited with {r.returncode}\n{r.stderr[-2000:]}")
    return float(r.stdout.split()[-1])


def run_jvm(cp, args, run_dir, deadline):
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "pipebench.Main"] + args
    # the library's scratch directory shows the run's own, in a private
    # mount namespace
    cmd = ["unshare", "--mount", "--propagation", "private", "sh",
           os.path.join(HERE, "jail.sh"), os.path.join(run_dir, "scratch"),
           library_scratch_dir()] + java
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("run exceeded its time limit")
    result = [l for l in out.splitlines() if l.startswith("PIPEBENCH ")]
    if p.returncode != 0 or not result:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-2000:]
        fail(f"JVM exited with {p.returncode}\n{tail}")
    return json.loads(result[-1][len("PIPEBENCH "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    cp = build()
    probe = [host_probe_ms(cp)]
    t0 = time.time()
    deadline = t0 + TIMEOUT_S
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "scratch", "data"):
        os.makedirs(os.path.join(run_dir, d))
    reps = max(1, round(a.seconds / PASS_S[a.workload]))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--reps", str(reps),
            "--trace", str(a.trace), "--work", run_dir]
    if a.workload != "telemetry":
        for sf in ("0.001", "0.1"):
            subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                            os.path.join(run_dir, "data", f"sf{sf}"), sf], check=True)
        items = os.path.join(HERE, "items", f"{a.workload}.txt")
        expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")
        args += ["--data", os.path.join(run_dir, "data"), "--items", items,
                 "--expected", expected]
        if a.record:
            os.makedirs(os.path.dirname(expected), exist_ok=True)
            args += ["--record", expected]
    if a.corrupt:
        args += ["--corrupt", "1"]
    if a.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        args += ["--trace-out",
                 os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")]

    try:
        r = run_jvm(cp, args, run_dir, deadline)
    finally:
        log = os.path.join(run_dir, "jvm.log")
        if os.path.exists(log):
            shutil.move(log, os.path.join(WORK, f"last-{a.workload}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    probe.append(host_probe_ms(cp))
    attempted, failed = int(r["attempted"]), int(r["failed"])
    raw = dict(r["e2e"])
    raw["setup_s"] = r["first_timed_ms"] / 1000.0 - t0
    raw["ok_frac"] = 1.0 - failed / max(attempted, 1)
    speed = REF_PROBE_MS / statistics.mean(probe)
    e2e = {n: v * speed ** HOST_SCALED.get(n, 0) for n, v in raw.items()}
    if a.trace:
        wanted, got = spec["per_layer"], r["layer"]
    else:
        wanted, got = spec["end_to_end"], e2e
    not_run = sorted(m["name"] for m in wanted if m["name"] not in got)
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    context = dict(r["context"], workload=a.workload, seed=a.seed, seconds=a.seconds,
                   trace=a.trace, heap=HEAP, host_probe_ms=probe,
                   host_speed=speed, unscaled=raw, layers_not_in_workload=not_run)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
