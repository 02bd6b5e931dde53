#!/usr/bin/env bash
# Reproducible smoke for the one-command dedup service (graft.DedupService).
#
# Leg A — 6 arrival waves, 6 cycles: the sf0.01 documents table split
#   into 6 doc_id-ordered parquet waves, copied into the stream dir one
#   per cycle (the script waits for cycle k's telemetry line before
#   releasing wave k+1). Cycle 3 runs the MAJOR merge, so the artifact
#   carries a real merge_s, and cycles 4-5 gate against the MERGED
#   index — landed_total == q123 keep proves the merge changed no gate
#   decision. Work dirs are checked to be zero-copy (manifest+symlinks).
#
# Leg B — kill-resume: the same stream offered all at once, the service
#   SIGKILLed mid-cycle (>=2 batch_id partitions landed, no _cycle_done),
#   restarted with the same root; the resumed cycle must land exactly
#   the q123 keep set.
#
# Output: service_smoke_a.log, service_smoke_b1.log, service_smoke_b2.log
# under $WORK; the caller assembles dedup_service_main.json from them.
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR=${SF_DIR:-/root/testdata/sf0.01}
WORK=${WORK:-/tmp/svc_smoke}
rm -rf "$WORK"; mkdir -p "$WORK/waves" "$WORK/stream_a" "$WORK/stream_b"

python3 - "$SF_DIR" "$WORK/waves" <<'EOF'
import duckdb, sys
sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
ids = [r[0] for r in con.sql(
    f"select doc_id from '{sf}/documents.parquet' order by doc_id").fetchall()]
n = len(ids)
for k in range(6):
    lo, hi = ids[k*n//6], (ids[(k+1)*n//6] if (k+1)*n//6 < n else ids[-1]+1)
    con.sql(f"""copy (select * from '{sf}/documents.parquet'
                where doc_id >= {lo} and doc_id < {hi} order by doc_id)
                to '{out}/wave_{k}.parquet' (format parquet)""")
print(f"prepared 6 waves over {n} docs")
EOF

# the q123 oracle drop set — BOTH legs assert landed == all - dropped
# (the keep set), not just "no doc landed twice": a resume bug that
# silently drops admitted docs must fail the smoke, not ship in it
sbt -batch "runMain graft.Verify $SF_DIR $WORK/q123 q123" \
  > "$WORK/q123_dump.log" 2>&1

# ---- Leg A: 6 waves, 6 cycles, merge at cycle 3 ----------------------
cp "$WORK/waves/wave_0.parquet" "$WORK/stream_a/"
( sbt -batch "runMain graft.DedupService $WORK/svc_a $WORK/stream_a \
    --max-cycles 6 --interval-ms 1500" > "$WORK/service_smoke_a.log" 2>&1 ) &
SBT_PID=$!
for k in 1 2 3 4 5; do
  prev=$((k-1))
  for i in $(seq 1 240); do
    grep -q "\"cycle\":$prev," "$WORK/service_smoke_a.log" && break
    sleep 1
  done
  grep -q "\"cycle\":$prev," "$WORK/service_smoke_a.log" \
    || { echo "FAIL: cycle $prev never reported"; exit 1; }
  # atomic release: cp is not atomic and the service polls every 1.5 s —
  # write under a non-.parquet temp name, then mv (rename) into place
  cp "$WORK/waves/wave_$k.parquet" "$WORK/stream_a/.wave_$k.tmp"
  mv "$WORK/stream_a/.wave_$k.tmp" "$WORK/stream_a/wave_$k.parquet"
done
wait $SBT_PID
grep '"service"' "$WORK/service_smoke_a.log"

# zero-copy check: every work dir holds ONLY a manifest, symlinks, and
# the done marker — no copied parquet bytes
for d in "$WORK"/svc_a/work/cycle_*; do
  [ -f "$d/_manifest.json" ] || { echo "FAIL: no manifest in $d"; exit 1; }
  for f in "$d"/*.parquet; do
    [ -L "$f" ] || { echo "FAIL: copied bytes at $f"; exit 1; }
  done
done
echo "zero-copy work dirs OK"

python3 - "$WORK/svc_a/landed" "$SF_DIR" "$WORK/q123" <<'EOF'
import duckdb, glob, sys
land, sf, q123 = sys.argv[1], sys.argv[2], sys.argv[3]
con = duckdb.connect()
total, ids = 0, set()
for d in sorted(glob.glob(f"{land}/cycle_*")):
    rows = con.sql(f"select doc_id from '{d}/*/*.parquet'").fetchall()
    total += len(rows); ids |= {r[0] for r in rows}
alldocs = {r[0] for r in con.sql(
    f"select doc_id from '{sf}/documents.parquet'").fetchall()}
dropped = {r[0] for r in con.sql(
    f"select doc_id from '{q123}/q123_arrival_dedup/*.parquet'").fetchall()}
keep = alldocs - dropped
print(f"landed_total={total} distinct={len(ids)} q123_keep={len(keep)}")
assert total == len(ids), "a doc landed twice"
assert ids == keep, (f"landed set != q123 keep set "
    f"(missing {len(keep-ids)}, extra {len(ids-keep)}) — the merge at "
    f"cycle 3 or a cycle boundary changed a gate decision")
EOF

# ---- Leg B: kill mid-cycle, restart, resume ---------------------------
# 24 small waves so the single cycle drains ~20+ s — a wide, reliable
# kill window (6 files drain faster than the 1 s poll can react)
python3 - "$SF_DIR" "$WORK/stream_b" <<'PYEOF'
import duckdb, sys
sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
ids = [r[0] for r in con.sql(
    f"select doc_id from '{sf}/documents.parquet' order by doc_id").fetchall()]
n = len(ids)
for k in range(24):
    lo, hi = ids[k*n//24], (ids[(k+1)*n//24] if (k+1)*n//24 < n else ids[-1]+1)
    con.sql(f"""copy (select * from '{sf}/documents.parquet'
                where doc_id >= {lo} and doc_id < {hi} order by doc_id)
                to '{out}/w{k:02d}.parquet' (format parquet)""")
PYEOF
( sbt -batch "runMain graft.DedupService $WORK/svc_b $WORK/stream_b \
    --max-cycles 1 --interval-ms 1500" > "$WORK/service_smoke_b1.log" 2>&1 ) &
n=0
for i in $(seq 1 300); do
  if [ -f "$WORK/svc_b/work/cycle_0/_cycle_done" ]; then
    echo "FAIL: cycle finished before the kill window — smoke is vacuous"
    exit 1
  fi
  # ls exits 2 while the glob is still empty — mask it or pipefail+set -e
  # kills the script silently on the first poll
  n=$({ ls -d "$WORK"/svc_b/landed/cycle_0/batch_id=* 2>/dev/null || true; } \
    | grep -c . || true)
  [ "$n" -ge 2 ] && break
  sleep 1
done
[ "$n" -ge 2 ] || { echo "FAIL: no batches landed before kill"; exit 1; }
# Kill via the service's OWN pid file: the forked run JVM's cmdline
# hides the main class behind an sbt @argfile, so neither pkill -f nor
# a /proc cmdline scan can find it — a missed kill leaves an orphan
# that finishes the cycle and collides with the resume
# (CONCURRENT_STREAM_LOG_UPDATE). Also kill the sbt launcher so it
# doesn't linger waiting on the dead fork.
SVC_PID=$(cat "$WORK/svc_b/service.pid")
kill -9 "$SVC_PID"
P1='graft.Dedup'; P2='Service'
pkill -9 -f "sbt.*${P1}${P2}" 2>/dev/null || true
for i in $(seq 1 30); do
  kill -0 "$SVC_PID" 2>/dev/null || break
  sleep 1
done
kill -0 "$SVC_PID" 2>/dev/null \
  && { echo "FAIL: service JVM $SVC_PID survived the kill"; exit 1; }
sleep 2
if [ -f "$WORK/svc_b/work/cycle_0/_cycle_done" ]; then
  echo "FAIL: cycle finished before kill — smoke is vacuous"; exit 1
fi
echo "killed mid-cycle with $n batches landed"
sbt -batch "runMain graft.DedupService $WORK/svc_b $WORK/stream_b \
  --max-cycles 1 --interval-ms 1500" > "$WORK/service_smoke_b2.log" 2>&1
grep '"service"' "$WORK/service_smoke_b2.log"
python3 - "$WORK/svc_b/landed" "$SF_DIR" "$WORK/q123" <<'EOF'
import duckdb, sys
land, sf, q123 = sys.argv[1], sys.argv[2], sys.argv[3]
con = duckdb.connect()
rows = con.sql(f"select doc_id from '{land}/cycle_0/*/*.parquet'").fetchall()
ids = {r[0] for r in rows}
alldocs = {r[0] for r in con.sql(
    f"select doc_id from '{sf}/documents.parquet'").fetchall()}
dropped = {r[0] for r in con.sql(
    f"select doc_id from '{q123}/q123_arrival_dedup/*.parquet'").fetchall()}
keep = alldocs - dropped
print(f"resumed landed={len(rows)} distinct={len(ids)} q123_keep={len(keep)}")
assert len(rows) == len(ids), "replayed batch double-landed"
assert ids == keep, (f"resumed landed set != q123 keep set "
    f"(missing {len(keep-ids)}, extra {len(ids-keep)}) — the restart "
    f"dropped or duplicated an admit decision")
EOF
echo "SMOKE OK — logs under $WORK"
