#!/bin/bash
# Bench measurement legs: one graft.Bench JVM per leg, invoked via plain
# java on the compiled classes (no sbt lock; run `sbt compile` first).
#
#   scripts/legs.sh leg <heap> <sfdir> <out> [-Dspark.k=v ...] [key ...]
#   scripts/legs.sh settle
#   scripts/legs.sh fold
#
# leg     runs the named keys (all keys when none) on <sfdir> and writes
#         the full artifact to <out>. Leading -Dspark.* arguments become
#         JVM properties, i.e. session conf that graft.Session stamps
#         into the artifact's "conf" map, e.g.
#           -Dspark.sql.adaptive.coalescePartitions.initialPartitionNum=256
#           -Dspark.sql.autoBroadcastJoinThreshold=-1
#           -Dspark.sql.adaptive.logLevel=WARN   (AQE replans; with LEG_KEEP_LOG=1)
#         SPARK_GRAFT_CPUS passes through the environment.
#         LEG_KEEP_LOG=1 keeps the full JVM log as <out>.log.
# settle  sleeps 150 s: a big JVM's exit triggers minutes of kernel page
#         reclaim that inflates the next leg's early keys up to ~2x. Put
#         it between legs, and reject a leg whose probes[0] or probes[1]
#         reads well above the host's own idle probe.
# fold    folds target/bench.json into the newest BENCH_r*.json (those
#         records keep only a stdout tail; the file artifact is
#         authoritative).
#
# Legs are globally serialized: standing-index bench keys rebuild the
# same spark-warehouse tables, so two overlapping leg JVMs can make one
# fail and the other silently probe the wrong corpus's index.
set -euo pipefail
cd "$(dirname "$0")/.."

leg() { # heap sfdir out [-Dspark.k=v ...] [key ...]
  local heap="$1" sfdir="$2" out="$3"; shift 3
  local props=()
  while [ $# -gt 0 ] && [[ "$1" == -D* ]]; do props+=("$1"); shift; done
  # anchored on the java executable: a plain `pgrep -f graft.Bench`
  # self-matches shell wrappers whose argv embeds this script's text
  if pgrep -f "^java .*graft\.Bench" >/dev/null 2>&1; then
    echo "refusing to start: another graft.Bench JVM is alive (legs are serialized)" >&2
    exit 3
  fi
  echo "=== leg: $out (heap=$heap ${props[*]}) $*"
  local log st=0
  log=$(mktemp "${TMPDIR:-/tmp}/leg.XXXXXX.log")
  # capture the JVM's own exit status: `| grep || true` under pipefail
  # would swallow a crashed or OOMed leg
  SPARK_GRAFT_SF_DIR="$sfdir" SPARK_GRAFT_BENCH_OUT="$out" \
    java -Xmx"$heap" $(cat scripts/addopens.txt) "${props[@]}" \
    -cp "target/scala-2.13/classes:${SPARK_HOME:?SPARK_HOME must point at a Spark installation}/jars/*" \
    graft.Bench "$@" >"$log" 2>&1 || st=$?
  if [ "$st" -ne 0 ]; then
    echo "LEG FAILED (exit $st): $out — tail of log:" >&2
    tail -30 "$log" >&2
    exit 1
  fi
  grep -E "\[bench\]" "$log" || true
  if [ -n "${LEG_KEEP_LOG:-}" ]; then mv "$log" "${out%.json}.log"; else rm -f "$log"; fi
}

case "${1:?usage: legs.sh leg|settle|fold ...}" in
  leg) shift; [ $# -ge 3 ] || { echo "usage: legs.sh leg <heap> <sfdir> <out> [-Dspark.k=v ...] [key ...]" >&2; exit 2; }
    leg "$@" ;;
  settle) echo "--- settle 150 s (leg hygiene)"; sleep 150 ;;
  fold) python3 scripts/fold_bench.py "$(ls BENCH_r*.json | sort | tail -1)" target/bench.json ;;
  *) echo "unknown mode $1" >&2; exit 2 ;;
esac
