#!/bin/bash
# Kill/rerun resumability evidence: start the pipeline, SIGKILL the forked
# JVM mid-run, rerun to completion, and validate the output table is exactly
# complete (no loss, no duplicates) with metrics consistent.
# Usage: tools/kill_rerun_test.sh [nDocs] [killAfterSeconds]
set -u
N=${1:-150000}
DELAY=${2:-18}
BASE=$(mktemp -d /tmp/graft-killtest-XXXX)
OUT="$BASE/out"; METRICS="$BASE/metrics"
echo "workdir $BASE  docs=$N  kill after ${DELAY}s"

GRAFT_PID_FILE="$BASE/runner.pid" sbt -batch "runMain graft.RunPipeline $N $OUT $METRICS" >"$BASE/run1.log" 2>&1 &
SBT_PID=$!
sleep "$DELAY"
# kill the forked runner JVM, hard. Its argv hides behind a java @argfile
# (pgrep/proc scans can't see the class name), so the runner writes its own
# pid to $GRAFT_PID_FILE at startup.
if [ -f "$BASE/runner.pid" ] && kill -0 "$(cat "$BASE/runner.pid")" 2>/dev/null; then
  RUN_PID=$(cat "$BASE/runner.pid")
  kill -9 "$RUN_PID" && echo "SIGKILLed runner JVM pid $RUN_PID"
  kill -9 "$SBT_PID" 2>/dev/null
else
  echo "runner already finished (or not yet forked) at kill time"
  kill -9 "$SBT_PID" 2>/dev/null
fi
wait "$SBT_PID" 2>/dev/null
echo "--- state after kill:"
ls "$OUT" 2>/dev/null | head; ls "$METRICS" 2>/dev/null | head

echo "--- rerun to completion:"
sbt -batch "runMain graft.RunPipeline $N $OUT $METRICS" 2>&1 | grep RUN_RESULT
echo "--- third run must be a no-op:"
sbt -batch "runMain graft.RunPipeline $N $OUT $METRICS" 2>&1 | grep RUN_RESULT

echo "--- validation (completeness, uniqueness, metrics consistency per snapshot):"
python3 - "$OUT" "$METRICS" "$N" <<'EOF'
import sys, glob, json, duckdb
out, metrics, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
con = duckdb.connect()
def chain(table):
    """Committed snapshots oldest first: (id, the data dir it added, its live dirs)."""
    snaps, sid = [], int(open(f"{table}/current").read().strip())
    while sid >= 0:
        snap = json.load(open(f"{table}/snap-{sid}.json"))
        snaps.append((sid, snap["dataDirs"][-1], snap["dataDirs"]))
        sid = snap["parentId"]
    return snaps[::-1]
def scan(table, dirs):
    return "read_parquet(['" + "', '".join(f"{table}/{d}/*.parquet" for d in dirs) + "'])"
docs_chain, metrics_chain = chain(out), chain(metrics)
docs_live, metrics_live = docs_chain[-1][2], metrics_chain[-1][2]
# every live metrics dir holds a parquet file (a dir without one cannot be scanned)
empty = [d for d in metrics_live if not glob.glob(f"{metrics}/{d}/*.parquet")]
print(f"metrics dirs without a parquet file: {empty}")
if empty:
    print("KILL/RERUN TEST: FAIL")
    sys.exit(1)
r = con.sql(f"SELECT count(*), count(DISTINCT doc_id), sum(len(spans)) FROM {scan(out, docs_live)}").fetchone()
mm = con.sql(f"SELECT sum(doc_count), sum(span_count) FROM {scan(metrics, metrics_live)}").fetchone()
print(f"docs rows={r[0]} distinct={r[1]} spans={r[2]}; metrics docs={mm[0]} spans={mm[1]}")
# each metrics snapshot's doc_count sum equals the rows its docs snapshot added
added = {s: con.sql(f"SELECT count(*) FROM {scan(out, [d])}").fetchone()[0] for s, d, _ in docs_chain}
counted = dict(con.sql(f"SELECT snapshot_id, sum(doc_count) FROM {scan(metrics, metrics_live)} GROUP BY 1").fetchall())
print(f"docs rows added per snapshot: {added}; metrics doc_count per snapshot: {counted}")
ok = (r[0] == n and r[1] == n and mm[0] == n and mm[1] == r[2]
      and [s for s, _, _ in metrics_chain] == list(added) and counted == added)
print("KILL/RERUN TEST:", "PASS" if ok else "FAIL")
sys.exit(0 if ok else 1)
EOF
