#!/bin/bash
# Count the readlink/chmod/stat/ls processes a command starts, e.g. Hadoop's
# local filesystem shelling out per checkpoint file.
# Usage: tools/spawncount.sh <cmd> [args...]
# Puts logging shims for those four commands first on PATH (so only the
# command's own descendants are counted), runs the command, then prints the
# spawn counts by command and by checkpoint area to stderr. The area is the
# checkpoint subdirectory a spawn's path argument lies under (offsets,
# commits, sources, state, metadata), "other-checkpoint" for anything else
# under a `*-checkpoints/` or `*-cp*/` directory, and "elsewhere" for the rest
# (e.g. the Parquet sink's files). Exits with the command's status.
set -uo pipefail
if [ $# -eq 0 ]; then echo "usage: $0 <cmd> [args...]" >&2; exit 2; fi
SHIMS="$(mktemp -d "${TMPDIR:-/tmp}/spawncount.XXXXXX")"
trap 'rm -rf "$SHIMS"' EXIT
LOG="$SHIMS/spawns.log"
: >"$LOG"
for c in readlink chmod stat ls; do
  real="$(command -v "$c")" || continue
  printf '#!/bin/sh\nprintf "%%s\\t%%s\\n" %s "$*" >>"%s"\nexec "%s" "$@"\n' \
    "$c" "$LOG" "$real" >"$SHIMS/$c"
  chmod +x "$SHIMS/$c"
done

PATH="$SHIMS:$PATH" "$@"
status=$?

awk -F'\t' '
  { total++; by_cmd[$1]++
    area = "elsewhere"
    if ($2 ~ /-checkpoints\/|-cp[^\/]*\//) {
      area = "other-checkpoint"
      if (match($2, /\/(offsets|commits|sources|state)\//)) area = substr($2, RSTART + 1, RLENGTH - 2)
      else if ($2 ~ /\/metadata( |$)/) area = "metadata"
    }
    by_area[area]++ }
  END {
    printf "spawns: %d\n", total
    for (c in by_cmd) printf "  cmd  %-16s %d\n", c, by_cmd[c]
    for (a in by_area) printf "  area %-16s %d\n", a, by_area[a]
  }' "$LOG" >&2
exit $status
