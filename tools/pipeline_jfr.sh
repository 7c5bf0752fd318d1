#!/bin/bash
# Usage: tools/pipeline_jfr.sh <seed>
#
# Runs the pipebench `telemetry` workload (a warm-up and one timed replay
# of the streaming Pipeline) in a JVM of its own under Java Flight
# Recorder, and prints for the timed replay alone:
#   - the processes the JVM started, by command (jdk.ProcessStart);
#   - the Janino compiles: classes Spark generated and compiled at run
#     time, each with the Spark class that asked for it (jdk.ClassDefine
#     events of Janino's class loader, with their stacks);
#   - HotSpot's JIT compile time (growth of jdk.CompilerStatistics'
#     totalTimeSpent);
#   - the CPU time of the JVM's threads by group: C2 and C1 compiler
#     threads, stream execution threads, executor task threads and the
#     rest, read from /proc/<pid>/task/*/stat of this script's own JVM
#     every 50 ms (a thread that ends between two reads loses at most
#     50 ms of its CPU);
#   - the share of JFR execution samples (jdk.ExecutionSample, every
#     2 ms, Java threads only) whose stack holds Hadoop's
#     Configuration.write/readFields, Spark's JsonToStructs or its
#     UnsafeExternalRowSorter.
# The timed replay runs from the workload's "warm-up done" line to its
# "replay 0 done" line. The run writes only under a new temp directory,
# named on the last line (keep it for `jfr print`, remove it after);
# `telemetry` never touches the library's target/ directory.
#
# The classpath is pipebench/.work/classpath.txt, which the first
# `python3 pipebench/run.py` in a checkout writes; if it is missing, this
# script builds it the same way (sbt, offline).
set -euo pipefail
seed=${1:?usage: tools/pipeline_jfr.sh <seed>}
root=$(cd "$(dirname "$0")/.." && pwd)
cpfile=$root/pipebench/.work/classpath.txt
if [ ! -f "$cpfile" ]; then
  (cd "$root/pipebench" && python3 -c 'import run; run.build()')
fi
w=$(mktemp -d "${TMPDIR:-/tmp}/pipeline_jfr.XXXXXX")
mkdir -p "$w/tmp"

cat > "$w/events.jfc" <<'EOF'
<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ProcessStart"><setting name="enabled">true</setting><setting name="stackTrace">false</setting></event>
  <event name="jdk.ClassDefine"><setting name="enabled">true</setting><setting name="stackTrace">true</setting></event>
  <event name="jdk.CompilerStatistics"><setting name="enabled">true</setting><setting name="period">1000 ms</setting></event>
  <event name="jdk.ExecutionSample"><setting name="enabled">true</setting><setting name="period">2 ms</setting></event>
</configuration>
EOF

opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
    java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
    sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
java -Xms3g -Xmx3g -Djava.io.tmpdir="$w/tmp" -Dspark.sql.session.timeZone=UTC "${opens[@]}" \
  -XX:FlightRecorderOptions:stackdepth=128 \
  -XX:StartFlightRecording=filename="$w/rec.jfr",settings="$w/events.jfc" \
  -cp "$(cat "$cpfile")" pipebench.Main \
  --workload telemetry --seed "$seed" --reps 1 --trace 0 --work "$w" >"$w/out.txt" 2>"$w/err.txt" &
jvm=$!

# CPU per thread group over the timed replay, from the JVM's /proc entries
cat > "$w/thread_cpu.py" <<'EOF'
import os, sys, time
pid, log = sys.argv[1], sys.argv[2]
tick = os.sysconf("SC_CLK_TCK")
# thread names as /proc shows them: the first 15 characters
GROUPS = [("C2 compiler", "C2 CompilerThre"), ("C1 compiler", "C1 CompilerThre"),
          ("stream execution", "stream executio"), ("executor tasks", "Executor task l")]

def threads():
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[tid] = (name, (int(rest[11]) + int(rest[12])) / tick)  # utime + stime
    return out

def logged(text):
    try:
        with open(log) as f:
            return text in f.read()
    except OSError:
        return False

while not logged(" warm-up done\n"):
    if not os.path.exists(f"/proc/{pid}"):
        sys.exit(0)
    time.sleep(0.05)
start, last = threads(), {}
while not logged(" replay 0 done in") and os.path.exists(f"/proc/{pid}"):
    last.update(threads())
    time.sleep(0.05)
cpu = {}
for tid, (name, s) in last.items():
    group = next((g for g, prefix in GROUPS if name.startswith(prefix)), "the rest")
    cpu[group] = cpu.get(group, 0.0) + s - start.get(tid, (name, 0.0))[1]
print(f"thread CPU in the timed replay: {sum(cpu.values()):.2f} s")
for g in [g for g, _ in GROUPS] + ["the rest"]:
    print(f"  {cpu.get(g, 0.0):6.2f} s  {g}")
EOF
python3 "$w/thread_cpu.py" "$jvm" "$w/err.txt" >"$w/thread_cpu.txt" || true
wait "$jvm" || { tail -20 "$w/err.txt" >&2; echo "telemetry run failed; logs: $w" >&2; exit 1; }

# the window, from the workload's own timestamped progress lines
t0=$(sed -n 's/^\[pipebench\] \([^ ]*\) warm-up done$/\1/p' "$w/err.txt")
t1=$(sed -n 's/^\[pipebench\] \([^ ]*\) replay 0 done in.*/\1/p' "$w/err.txt")

cat > "$w/JfrWindow.java" <<'EOF'
import java.nio.file.Path;
import java.time.Instant;
import java.util.Map;
import java.util.TreeMap;
import jdk.jfr.consumer.RecordedClassLoader;
import jdk.jfr.consumer.RecordedEvent;
import jdk.jfr.consumer.RecordedFrame;
import jdk.jfr.consumer.RecordingFile;

/** Summarizes one window of a recording: java JfrWindow.java <file> <from> <to>. */
public class JfrWindow {
  static final String GENERATED = "org.apache.spark.sql.catalyst.expressions.GeneratedClass";

  public static void main(String[] a) throws Exception {
    Instant from = Instant.parse(a[1]), to = Instant.parse(a[2]);
    Map<String, Integer> processes = new TreeMap<>(), generated = new TreeMap<>();
    int compiles = 0, samples = 0;
    Map<String, Integer> under = new java.util.LinkedHashMap<>();
    for (String k : MARKERS) under.put(k, 0);
    double jitFrom = Double.NaN, jitTo = Double.NaN;
    try (RecordingFile f = new RecordingFile(Path.of(a[0]))) {
      while (f.hasMoreEvents()) {
        RecordedEvent e = f.readEvent();
        Instant t = e.getStartTime();
        boolean in = !t.isBefore(from) && !t.isAfter(to);
        switch (e.getEventType().getName()) {
          case "jdk.CompilerStatistics": {
            double s = e.getDuration("totalTimeSpent").toNanos() / 1e9;
            if (!t.isAfter(from)) jitFrom = s;
            if (!t.isAfter(to)) jitTo = s;
            break;
          }
          case "jdk.ExecutionSample":
            if (!in) break;
            samples++;
            for (String k : markers(e)) under.merge(k, 1, Integer::sum);
            break;
          case "jdk.ProcessStart":
            if (in) processes.merge(e.getString("command").split(" ")[0], 1, Integer::sum);
            break;
          case "jdk.ClassDefine": {
            RecordedClassLoader l = e.getValue("definingClassLoader");
            if (!in || l == null || l.getType() == null
                || !l.getType().getName().startsWith("org.codehaus.")) break;
            String name = e.getClass("definedClass").getName();
            if (name.equals(GENERATED)) compiles++;
            generated.merge(name.replace(GENERATED, "GeneratedClass") + "  <- " + caller(e), 1,
                Integer::sum);
            break;
          }
          default:
        }
      }
    }
    System.out.printf("timed replay: %s .. %s%n", from, to);
    System.out.printf("process starts: %d%n", processes.values().stream().mapToInt(i -> i).sum());
    processes.forEach((c, n) -> System.out.printf("  %5d  %s%n", n, c));
    System.out.printf("Janino compiles: %d (classes defined, by the Spark class asking)%n", compiles);
    generated.forEach((c, n) -> System.out.printf("  %5d  %s%n", n, c));
    System.out.printf("HotSpot JIT time: %.1f s%n", jitTo - jitFrom);
    System.out.printf("Java execution samples: %d; with on the stack:%n", samples);
    final int n = Math.max(samples, 1);
    under.forEach((k, c) -> System.out.printf("  %5d  %4.1f%%  %s%n", c, 100.0 * c / n, k));
  }

  static final String[] MARKERS = {
      "Configuration.write/readFields", "JsonToStructs", "UnsafeExternalRowSorter"};

  /** The markers with a frame on the sample's stack. */
  static java.util.Set<String> markers(RecordedEvent e) {
    java.util.Set<String> found = new java.util.HashSet<>();
    if (e.getStackTrace() == null) return found;
    for (RecordedFrame fr : e.getStackTrace().getFrames()) {
      String c = fr.getMethod().getType().getName(), m = fr.getMethod().getName();
      if (c.equals("org.apache.hadoop.conf.Configuration")
          && (m.equals("write") || m.equals("readFields"))) found.add(MARKERS[0]);
      else if (c.equals("org.apache.spark.sql.catalyst.expressions.JsonToStructs")) found.add(MARKERS[1]);
      else if (c.endsWith(".UnsafeExternalRowSorter")) found.add(MARKERS[2]);
    }
    return found;
  }

  /** The first two Spark execution classes on the stack, each with its
    * first method there: the operator (and helper) that asked for the
    * class. */
  static String caller(RecordedEvent e) {
    if (e.getStackTrace() == null) return "?";
    Map<String, String> seen = new java.util.LinkedHashMap<>();
    for (RecordedFrame fr : e.getStackTrace().getFrames()) {
      String c = fr.getMethod().getType().getName();
      if (!c.startsWith("org.apache.spark.sql.execution.") || c.contains("$$Lambda")) continue;
      seen.putIfAbsent(c, c.substring(c.lastIndexOf('.') + 1) + "." + fr.getMethod().getName());
      if (seen.size() == 2) break;
    }
    return seen.isEmpty() ? "?" : String.join(" <- ", seen.values());
  }
}
EOF
java "$w/JfrWindow.java" "$w/rec.jfr" "$t0" "$t1"
cat "$w/thread_cpu.txt"
echo "recording and logs: $w"
