#!/usr/bin/env bash
# Executor-loss fault-tolerance proof for graft.materialize (see
# graft.FaultProof scaladoc and BASELINE.md "Round-16 executor-loss
# recovery"): runs the kill-an-executor scenario on a multi-JVM
# local-cluster under both conf values and expects
#   reliable -> serve survives DIRECTLY, hashes identical, rebuilt:false
#               (checkpoint files outlive the executor)
#   local    -> raw serve dies with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND,
#               then the Materialize.recovering boundary invalidates the
#               session caches and rebuilds ONCE: hashes identical,
#               rebuilt:true (r16 — was documented-fail before)
# Usage: tools/faultproof.sh [sfDir]   (default /root/testdata/sf0.01)
set -u
SF="${1:-/root/testdata/sf0.01}"
JAR="target/scala-2.13/mapreduce_codespark_2.13-0.1.0.jar"
[ -f "$JAR" ] || { echo "run 'sbt package' first"; exit 2; }
rc=0
for mode in reliable local; do
  echo "== faultproof mode=$mode =="
  # capture, don't pipe: a pipeline's status is the LAST command's, so
  # `spark-submit | grep '"proof"'` reported grep's success even when
  # FaultProof exited 1 on an expectation MISMATCH (the proof line
  # prints unconditionally) — green on exactly the failure this gate
  # exists to catch. Gate on FaultProof's own exit code AND the
  # expected_outcome field in the line itself.
  out=$(timeout 420 /opt/spark/bin/spark-submit \
    --master 'local-cluster[2,2,2048]' \
    --conf spark.ui.enabled=false \
    --class graft.FaultProof "$JAR" "$mode" "$SF" \
    2>"/tmp/faultproof_$mode.err")
  st=$?
  printf '%s\n' "$out" | grep '"proof"'
  if [ $st -ne 0 ] || \
     ! printf '%s\n' "$out" | grep -q '"expected_outcome":true'; then
    echo "FAIL mode=$mode exit=$st (see /tmp/faultproof_$mode.err)"
    rc=1
  fi
done
exit $rc
