#!/bin/bash
# Full-suite decade campaign (r12 VERDICT #3): run the whole bench suite
# at a scaled corpus in N separate JVM slices so one long-lived driver
# cannot accumulate 60 GB of shuffle files (the r12 sf10d wall), with
# Spark's periodic driver GC reclaiming shuffle state on a clock.
#
# Usage: scripts/decade_campaign.sh <sfDir> <outTag> [nSlices] [classesDir]
#   scripts/decade_campaign.sh /tmp/sf10d sf10d 3
#
# Each slice runs from its own scratch cwd (BENCH_FULL.json lands there)
# and the script merges the slice files into /tmp/bench_<outTag>.json.
# Pass a frozen classesDir to keep the campaign pinned to one build while
# the repo is being edited/recompiled.
set -e
SFDIR="$1"; TAG="$2"; N="${3:-3}"
CLASSES="${4:-$(dirname "$0")/../target/scala-2.13/classes}"
# Resolve to an absolute path: each slice runs java after `cd` into its
# scratch dir, so a relative classesDir (including the default when the
# script is invoked by relative path) would ClassNotFound every slice.
CLASSES=$(cd "$CLASSES" && pwd)
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
# the shared JVM flags (build.sbt reads the same file); read before any cd
mapfile -t JVM_FLAGS < <(grep -Ev '^[[:space:]]*(#|$)' "$(dirname "$0")/jvm.flags")
MEM="${JRUN_MEM:-80g}"
ROOT=/tmp/bench_campaign_$TAG
rm -rf "$ROOT"; mkdir -p "$ROOT"

# Fixed probe set (r14 VERDICT #3): five stable heavyweight rows, timed
# ISOLATED (TimeQuery best-of-2 at sf0.1) immediately before slice 0 and
# after the last slice. Their ratios against the pinned idle references
# below give each campaign a measured container-speed window factor, so
# per-row campaign deltas can be adjudicated against measured drift
# instead of post-hoc. Refs: idle best-of-2 on the r15 entry container
# (calibration 0.93 vs the r9 driver baseline).
PROBE_SET="q_dsir,q_salted_join,q_hits,q_median_approx,q_weighted_pctl"
PROBE_SF="${PROBE_SF:-/root/testdata/sf0.1}"
run_probes() { # $1 = out file
  SPARK_GRAFT_CPUS=32 java -Xmx24g "${JVM_FLAGS[@]}" \
    -cp "$CP" graft.tools.TimeQuery "$PROBE_SF" "$PROBE_SET" 2 \
    2>/dev/null > "$1" || echo '{"probe":"FAILED"}' >> "$1"
}
echo "=== probes (before) $(date -u +%H:%M:%S) ==="
run_probes "$ROOT/probes_before.jsonl"
cat "$ROOT/probes_before.jsonl"
for i in $(seq 0 $((N-1))); do
  D="$ROOT/slice$i"; mkdir -p "$D"; cd "$D"
  echo "=== slice $i/$N start $(date -u +%H:%M:%S) ==="
  SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_SLICE="$i/$N" SPARK_GRAFT_PERIODIC_GC=5min \
  java -Xmx"$MEM" "${JVM_FLAGS[@]}" \
    -cp "$CP" graft.Bench > bench_line.txt 2> bench_err.log \
    || { echo "slice $i FAILED rc=$?"; tail -40 bench_err.log; touch FAILED; }
  echo "=== slice $i/$N done  $(date -u +%H:%M:%S) ==="
done
echo "=== probes (after) $(date -u +%H:%M:%S) ==="
run_probes "$ROOT/probes_after.jsonl"
cat "$ROOT/probes_after.jsonl"
python3 - "$ROOT" "$N" "$SFDIR" > "/tmp/bench_${TAG}.json" <<'EOF'
import json, sys, os
root, n, sf = sys.argv[1], int(sys.argv[2]), sys.argv[3]
q, skips, oob, failed = {}, {}, {}, []
# idle best-of-2 references for the fixed probe set, measured on the
# r15 container in a window whose calibration vs the r9 driver refs was
# ~1.09 — i.e. window_factor 1.0 means "the r15 probe window"; compare
# factors ACROSS runs, not to an absolute ideal
PROBE_REFS = {"q_dsir": 2.565, "q_salted_join": 1.894, "q_hits": 2.445,
              "q_median_approx": 2.175, "q_weighted_pctl": 2.090}
def read_probes(name):
    out = {}
    p = os.path.join(root, name)
    if os.path.exists(p):
        for line in open(p):
            try:
                j = json.loads(line)
                if "query" in j:
                    out[j["query"]] = j["best"]
            except json.JSONDecodeError:
                pass
    return out
pb, pa = read_probes("probes_before.jsonl"), read_probes("probes_after.jsonl")
def window_factor(p):
    rs = sorted(p[k] / PROBE_REFS[k] for k in p
                if PROBE_REFS.get(k))
    return round(rs[len(rs) // 2], 3) if rs else None
for i in range(n):
    d0 = os.path.join(root, f"slice{i}")
    p = os.path.join(d0, "BENCH_FULL.json")
    # A slice with a FAILED marker or a missing artifact must be visible
    # in the merged JSON itself — a partial campaign is not a zero-skip run.
    if os.path.exists(os.path.join(d0, "FAILED")) or not os.path.exists(p):
        failed.append(f"slice{i}")
        if not os.path.exists(p):
            continue
    d = json.load(open(p))
    q.update(d.get("queries", {}))
    skips.update(d.get("skips", {}))
    oob.update(d.get("out_of_band", {}))
print(json.dumps({"metric": "total", "value": round(sum(q.values()), 3),
                  "unit": "sec", "n_queries": len(q), "sf": sf,
                  "failed_slices": failed,
                  "probes_before": pb, "probes_after": pa,
                  "probe_window_factor_before": window_factor(pb),
                  "probe_window_factor_after": window_factor(pa),
                  "out_of_band": oob, "skips": skips, "queries": q}))
EOF
if grep -q '"failed_slices": \[\]' "/tmp/bench_${TAG}.json"; then
  echo "merged -> /tmp/bench_${TAG}.json"
else
  echo "merged WITH FAILED SLICES -> /tmp/bench_${TAG}.json"; exit 1
fi
