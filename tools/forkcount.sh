#!/bin/bash
# Count the chmod, readlink, ls and stat processes one command starts.
# Usage: tools/forkcount.sh <command...>
#   e.g. tools/forkcount.sh sbt -batch "testOnly graft.etl.*"
# Logging wrappers for the four tools go first on the PATH of that command
# only, so its children (the JVMs sbt or perfbench start) inherit them;
# each wrapper records its name and its parent process's name, then runs
# the real tool. After the command exits, prints per tool the calls whose
# parent is a JVM (`java`) and those from any other parent (launcher
# scripts), and exits with the command's status.
set -uo pipefail
[ $# -gt 0 ] || { echo "usage: $0 <command...>" >&2; exit 2; }
WRAP=$(mktemp -d)
trap 'rm -rf "$WRAP"' EXIT
LOG="$WRAP/calls.log"
: > "$LOG"
TOOLS="chmod readlink ls stat"
for tool in $TOOLS; do
  real=$(command -v "$tool")
  cat > "$WRAP/$tool" <<WRAPPER
#!/bin/sh
read -r parent < /proc/\$PPID/comm
echo "$tool \$parent" >> "$LOG"
exec "$real" "\$@"
WRAPPER
  chmod +x "$WRAP/$tool"
done

PATH="$WRAP:$PATH" "$@"
status=$?
for tool in $TOOLS; do
  jvm=$(grep -c "^$tool java\$" "$LOG")
  all=$(grep -c "^$tool " "$LOG")
  printf 'forkcount %-8s java=%d other=%d\n' "$tool" "$jvm" $((all - jvm))
done >&2
exit $status
