#!/usr/bin/env bash
# Counts the helper processes a command forks, per helper binary.
#
#   tools/forkcount.sh <cmd> [args...]
#   tools/forkcount.sh python3 perfbench/run.py --workload cdc_tail --seed 901
#
# Puts a directory of shims first on PATH: each shim appends its
# arguments to <logdir>/<helper>.log and execs the real binary, so the
# command behaves as before. Java resolves ProcessBuilder commands
# (Hadoop's `chmod`, `readlink`, `stat`, ...) through PATH, so the JVM's
# helper forks are counted. Build first (a perfbench run that builds
# counts sbt's forks too). The command's exit status is kept; the
# counts go to stderr after it ends, and the logs stay under the temp
# dir printed with them. Per acked batch: divide by the number of
# `Flushed LSN` lines the job printed.
set -u
if [ $# -eq 0 ]; then
  echo "usage: $0 <cmd> [args...]" >&2
  exit 2
fi
helpers="readlink chmod chown ls stat df du id groups whoami uname hostname getent"
dir=$(mktemp -d "${TMPDIR:-/tmp}/forkcount.XXXXXX")
mkdir -p "$dir/bin" "$dir/log"
for h in $helpers; do
  real=$(command -v "$h") || continue
  cat > "$dir/bin/$h" <<EOF
#!/bin/sh
echo "\$*" >> "$dir/log/$h.log"
exec "$real" "\$@"
EOF
  chmod +x "$dir/bin/$h"
done
PATH="$dir/bin:$PATH" "$@"
status=$?
echo "forkcount: helper forks (logs in $dir/log):" >&2
for h in $helpers; do
  [ -x "$dir/bin/$h" ] || continue
  n=0
  [ -f "$dir/log/$h.log" ] && n=$(wc -l < "$dir/log/$h.log")
  printf 'forkcount: %-10s %d\n' "$h" "$n" >&2
done
exit $status
