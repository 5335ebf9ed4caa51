#!/bin/bash
# Count the classes Spark's CodeGenerator compiles while a command runs, and
# the time Janino spent on them.
# Usage: tools/codegencount.sh <cmd> [args...]
# Points JAVA_TOOL_OPTIONS at a temporary log4j2 config that sends
# CodeGenerator's "Code generated in N ms" lines (one per compile, that is
# per cache miss) to a temporary file and everything else at WARN to stderr,
# runs the command, then prints the compile count and the summed
# milliseconds to stderr. Every JVM the command starts logs to the same file,
# so run it on a checkout whose benchmark build is already cached if only the
# measured JVM should count. Exits with the command's status.
set -uo pipefail
if [ $# -eq 0 ]; then echo "usage: $0 <cmd> [args...]" >&2; exit 2; fi
TMP="$(mktemp -d "${TMPDIR:-/tmp}/codegencount.XXXXXX")"
trap 'rm -rf "$TMP"' EXIT
LOG="$TMP/codegen.log"
: >"$LOG"
cat >"$TMP/log4j2.properties" <<EOF
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{yy/MM/dd HH:mm:ss} %p %c{1}: %m%n
rootLogger.level = warn
rootLogger.appenderRef.console.ref = console
appender.codegen.type = File
appender.codegen.name = codegen
appender.codegen.fileName = $LOG
appender.codegen.append = true
appender.codegen.layout.type = PatternLayout
appender.codegen.layout.pattern = %m%n
logger.codegen.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
logger.codegen.level = info
logger.codegen.additivity = false
logger.codegen.appenderRef.codegen.ref = codegen
EOF

JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:+$JAVA_TOOL_OPTIONS }-Dlog4j2.configurationFile=$TMP/log4j2.properties" "$@"
status=$?

awk '/Code generated in [0-9.]+ ms/ {
    for (i = 1; i <= NF; i++) if ($i == "in") { ms += $(i + 1); n++; break } }
  END { printf "codegen: %d compiles, %.1f ms\n", n, ms }' "$LOG" >&2
exit $status
