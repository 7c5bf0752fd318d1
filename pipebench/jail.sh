#!/bin/sh
# Usage: jail.sh <dir> <path> <command...>
# Runs <command> with the absolute directory <path> showing <dir>. The
# library keeps its scratch files (normalized events, lake snapshots,
# round-trip writes) under a fixed absolute directory; this keeps them
# inside the benchmark's run directory. Call it in a private mount
# namespace (unshare --mount --propagation private), so no other process
# sees the mounts and nothing outside <dir> is written.
set -eu
dir=$1
path=$2
shift 2
if [ -d "$path" ]; then
  mount --bind "$dir" "$path"
else
  # <path> does not exist: over its nearest existing ancestor, show a copy
  # of it in which <path> exists. The copy is a tmpfs holding bind mounts
  # of the ancestor's real entries.
  anc=$(dirname "$path")
  while [ ! -d "$anc" ]; do anc=$(dirname "$anc"); done
  top="$dir.view"
  mkdir -p "$top"
  mount -t tmpfs -o size=1m pipebench "$top"
  for e in "${anc%/}"/* "${anc%/}"/.[!.]* "${anc%/}"/..?*; do
    [ -e "$e" ] || continue
    n=${e##*/}
    if [ -d "$e" ]; then mkdir "$top/$n"
    elif [ -f "$e" ]; then : > "$top/$n"
    else continue
    fi
    mount --bind "$e" "$top/$n"
  done
  rest=${path#"${anc%/}"/}
  mkdir -p "$top/$rest"
  mount --bind "$dir" "$top/$rest"
  mount --rbind "$top" "$anc"
fi
exec "$@"
