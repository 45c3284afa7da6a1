#!/bin/bash
# One-artifact sf10 gate (the round-12 recipe, scripted): run the FULL
# query registry through ONE graft.Verify JVM with file-spill stream
# sinks, check the handful of slow oracles as their outputs land, then
# drain the remainder with 4 parallel check.py workers.
#
# Usage: tools/gate_sf10.sh <sfDir> <outDir> <seedOracleJson> <resultLog>
#   sfDir          e.g. /tmp/graft_sf10p  (gen_sf.py output)
#   outDir         scratch dir for Verify parquet dumps
#   seedOracleJson oracle_sql.json from ANY prior Verify run — Verify
#                  only writes its own at the very END, and the overlap
#                  watcher needs the SQL before that
#   resultLog      where check.py lines accumulate (one line per query)
#
# Optional: $5 = comma-separated query subset (resume after a crash —
# pass the not-yet-dumped names and keep OUT in place); GATE_HEAP
# overrides the engine heap (default 64g, the round-13 sweet spot: 96g
# left no headroom beside the overlapped DuckDB oracle workers and the
# OOM killer took the engine mid-gate; smaller heaps evict under
# pressure, which is SAFE since the JvmOpens fix below but slower).
# CHECK_CACHE (default /tmp/graft_oracle_cache_sf10) memoizes the
# DuckDB oracle side keyed by (query, sql-hash, corpus fingerprint) —
# see tools/check.py; cache hits are marked in the result log.
set -u
SF=${1:?sfDir}
OUT=${2:?outDir}
SEED=${3:?seed oracle_sql.json}
LOG=${4:?result log}
ONLY=${5:-}
HEAP=${GATE_HEAP:-64g}
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"
mkdir -p "$OUT"
cp "$SEED" "$OUT/oracle_sql.json"
: > "$LOG"
export CHECK_CACHE=${CHECK_CACHE:-/tmp/graft_oracle_cache_sf10}

# Spark 4 on JDK 17 REQUIRES the launcher's --add-opens set: without it
# lazy Kryo init (first touched when memory pressure evicts a cached
# block) dies on java.nio.HeapByteBuffer and takes the SparkContext
# with it — the round-13 three-resume gate. Derived from Spark's own
# JavaModuleOptions via graft.JvmOpens so the list cannot drift; the
# engine ALSO fail-fasts at startup if launched without them.
CP="target/scala-2.13/classes:/opt/spark/jars/*"
JVM_OPTS=$(java -cp "$CP" graft.JvmOpens)

# crashed JVMs leak their blockmgr-* dirs in tmpfs (RAM): sweep them
# before a multi-hour run — but ONLY when no graft JVM is alive at all.
# Never per-dir fuser: a LIVE Spark JVM holds no open handle inside its
# blockmgr dir between shuffles, so a fuser-based sweep deleted a
# running replay's shuffle files on first contact (round 14). The pgrep
# guard alone has two holes (round-14 ADVICE #3): a JVM launched via
# @argfile/wrapper hides the class name from argv, and a gate started
# in the pgrep→rm window could delete a just-launched run's dirs — so
# additionally skip any dir younger than 2 hours (-mmin -120): a LIVE
# run's dirs keep fresh mtimes (shuffle/temp churn), while genuinely
# leaked dirs from a crashed JVM age past the guard and get swept on
# the next gate.
if ! pgrep -f 'graft\.(Verify|Bench|StreamBench|Audit|Explain)' >/dev/null; then
  for d in /dev/shm/graft_local/blockmgr-* /dev/shm/graft_local/spark-*; do
    [ -e "$d" ] || continue
    if [ -z "$(find "$d" -maxdepth 0 -mmin -120 2>/dev/null)" ]; then
      rm -rf "$d" 2>/dev/null
    fi
  done
fi

# oracles that take minutes at sf10 — checked as soon as each parquet
# dump's _SUCCESS lands so DuckDB overlaps the still-running engine
SLOW="dd_dup_clusters dd_ngram_jaccard dd_minhash_lsh tx_decontaminate j7_spatial_join sim_semantic_dedup a1_sliding_window s1_stream_window_agg"

SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
SPARK_GRAFT_STREAM_SINK=files \
  java $JVM_OPTS -Xmx"$HEAP" -cp "$CP" \
  graft.Verify "$SF" "$OUT" $ONLY >> "$OUT/verify.log" 2>&1 &
ENGINE=$!

declare -A started
while kill -0 $ENGINE 2>/dev/null; do
  for q in $SLOW; do
    if [[ -z "${started[$q]:-}" && -f "$OUT/$q/_SUCCESS" ]]; then
      started[$q]=1
      python3 tools/check.py "$SF" "$OUT" "$q" >> "$LOG" 2>&1 &
    fi
  done
  sleep 20
done
wait $ENGINE
ENGINE_EXIT=$?
# make sure every slow oracle was started even if it landed last
for q in $SLOW; do
  if [[ -z "${started[$q]:-}" && -f "$OUT/$q/_SUCCESS" ]]; then
    started[$q]=1
    python3 tools/check.py "$SF" "$OUT" "$q" >> "$LOG" 2>&1 &
  fi
done

# drain the remaining oracles 4-way (serial is ~1.5 queries/min at sf10)
REST=$(python3 - "$OUT" "$SLOW" <<'PY'
import json, sys, os
out = sys.argv[1]
slow = set(sys.argv[2].split())
qs = sorted(json.load(open(f"{out}/oracle_sql.json")))
qs = [q for q in qs if q not in slow and os.path.isdir(f"{out}/{q}")]
print("\n".join(qs))
PY
)
i=0
for chunk in $(echo "$REST" | paste -sd' ' - | tr ' ' '\n' | awk '{print $0}' | xargs -n 60 echo | tr ' ' ','); do
  python3 tools/check.py "$SF" "$OUT" $(echo "$chunk" | tr ',' ' ') >> "$LOG" 2>&1 &
  i=$((i+1))
done
wait
echo "engine_exit=$ENGINE_EXIT" >> "$LOG"
grep -c " PASS " "$LOG"
