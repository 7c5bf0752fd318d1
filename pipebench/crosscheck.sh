#!/bin/sh
# Ties expected/warehouse.tsv to the DuckDB oracle, once per change of the
# item list or the generator:
#  1. graft.Verify dumps the listed queries' results over the generated
#     sf0.1 tables;
#  2. tools/check_oracle.py compares each dump with its oracle SQL in DuckDB;
#  3. DumpDigests recomputes each dump's digest and compares it with the
#     committed expected digest.
# Run from the repository root after one run.py call has built the
# benchmark. Output goes to pipebench/.work/crosscheck/.
set -u
here=$(cd "$(dirname "$0")" && pwd)
work=$here/.work/crosscheck
rm -rf "$work"; mkdir -p "$work/scratch" "$work/tmp"
lib=$(sed -n 's|.*"\(/[^"]*/target\)/events_us".*|\1|p' "$here/../src/main/scala/graft/Tables.scala")
cp=$(cat "$here/.work/classpath.txt")
python3 "$here/gen.py" "$work/sf0.1" 0.1
only=$(grep -v '^#' "$here/items/warehouse.txt" | paste -sd, -)
opens=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
    java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action \
    sun.util.calendar; do opens="$opens --add-opens java.base/$p=ALL-UNNAMED"; done
java="java -Xmx3g -Djava.io.tmpdir=$work/tmp -Dspark.sql.session.timeZone=UTC $opens -cp $cp"
(cd "$work" && SPARK_GRAFT_ONLY="$only" SPARK_GRAFT_CPUS=4 unshare --mount --propagation private \
  sh "$here/jail.sh" "$work/scratch" "$lib" $java graft.Verify "$work/sf0.1" "$work/verify") \
  > "$work/verify.log" 2>&1
echo "== DuckDB oracle (tools/check_oracle.py)"
python3 "$here/../tools/check_oracle.py" "$work/sf0.1" "$work/verify" "$only"
oracle=$?
echo "== expected digests (pipebench/expected/warehouse.tsv)"
(cd "$work" && $java pipebench.DumpDigests "$work/verify" "$here/items/warehouse.txt" \
  "$here/expected/warehouse.tsv" 2> "$work/digests.log")
digests=$?
echo "oracle exit $oracle, digests exit $digests"
