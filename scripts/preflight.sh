#!/usr/bin/env bash
# Preflight gate — run before ANY snapshot/bench/end-of-round commit.
#
# Exists because of the r9 damage mode: the end-of-round snapshot commit
# captured a half-reverted working tree (main sources rolled back, specs
# and probe roster kept), leaving HEAD with a dead test suite and a
# ScaleProbe that crashed on its own roster. This gate makes that state
# loud BEFORE the commit:
#   (a) sbt Test/compile — main + every spec must compile;
#   (b) graft.SparkEntrySpec — the driver-contract checks, including the
#       probe-roster rot-check ("ScaleProbe roster names only registered
#       gates"): a roster entry whose gate is de-registered fails here
#       with the gate's NAME; and graft.sources.LocalFsForkSpec — a
#       parquet write, a FileContext rename and an AvailableNow
#       checkpointed batch start no process (the session's `file:` FS
#       must stay fork-free: no chmod, no readlink); and
#       graft.engine.RunJobsSpec — a JobRunner.run launches 2 Spark jobs
#       and no shuffle for either sink; graft.streaming.BoundaryJobsSpec —
#       each loop boundary kind (MinHash delta and compaction; assignment
#       and IVF-PQ delta, drift-retrain and census cut) launches its
#       pinned Spark job count; and graft.operators.TrainerJobsSpec — the
#       fixed-point k-means and PQ trainers launch theirs (the exactness
#       guard rides an aggregate they already run). A job added to any of
#       these paths fails here with the new count. And
#       graft.functions.MinHashSigSpec — the codegen'd MinHash signature,
#       the 60-bit MD5 hash and the word n-grams stay byte-identical to
#       the column forms they replaced, generated and interpreted.
# A deliberately-dangling roster entry (e.g. add "q999_nope" to
# ScaleProbe.DefaultProbes) fails step (b) — that is the self-test.
#   (c) the full gate suite executed + oracle-checked at sf0.001 — the
#       tri-SF sweep found two real bugs in r12 (gates green at sf0.01
#       but broken at the tiny SF's edge shapes: empty groups, single-
#       row lists), so the cheapest SF is structural, not optional.
#   (0) first, the one-session-builder rot check: a session is built in
#       exactly two places, GraftSession.create (the library posture)
#       and graft.Harness (every tool and the spec suite). A new tool
#       that re-copies a builder block fails here with its file:line.
#       Likewise the one-conf-shipping rule: executor code gets the
#       session's Hadoop conf from graft.sources.HadoopConf's broadcast
#       only, so a `SerializableConfiguration(` anywhere else under
#       src/main (a conf copy in every task closure) fails here. And
#       the one-record-codec rule: Avro container files are written only
#       by graft.sources.AvroRecordFiles, so a `DataFileWriter` anywhere
#       else under src/main (a second copy of the record-file writer)
#       fails here. And the one-portable-hash rule: the 60-bit MD5 hash
#       is graft.functions.Md5_64, read off the digest, so a
#       `conv(substring(md5(` under src/main (the hex-string round trip
#       it replaced) fails here.
set -euo pipefail
cd "$(dirname "$0")/.."
if grep -rn "SparkSession\.builder" src/ \
    | grep -v "^src/main/scala/graft/\(GraftSession\|Harness\)\.scala:"; then
  echo "preflight FAILED: SparkSession.builder() outside GraftSession.create and graft.Harness (above) — build the session with graft.Harness.session"
  exit 1
fi
if grep -rn "SerializableConfiguration(" src/main/ \
    | grep -v "^src/main/scala/graft/sources/HadoopConf\.scala:"; then
  echo "preflight FAILED: SerializableConfiguration outside graft.sources.HadoopConf (above) — ship the conf with HadoopConf.broadcast"
  exit 1
fi
if grep -rn "DataFileWriter" src/main/ \
    | grep -v "^src/main/scala/graft/sources/AvroRecordFiles\.scala:"; then
  echo "preflight FAILED: DataFileWriter outside graft.sources.AvroRecordFiles (above) — write record files with AvroRecordFiles.ContainerWriter"
  exit 1
fi
if grep -rn "conv(substring(md5(" src/main/; then
  echo "preflight FAILED: the MD5 hex round trip under src/main (above) — hash with PortableHash.md5_64 (the Md5_64 expression)"
  exit 1
fi
sbt -batch Test/compile "Test/testOnly graft.SparkEntrySpec graft.sources.LocalFsForkSpec graft.engine.RunJobsSpec graft.streaming.BoundaryJobsSpec graft.operators.TrainerJobsSpec graft.functions.MinHashSigSpec" 2>&1 | tail -20
OUT=$(mktemp -d /tmp/preflight_sf0001.XXXX)
LOG=$(mktemp /tmp/preflight_verify.XXXX.log)
trap 'rm -rf "$OUT" "$LOG"' EXIT
# run_verify's own exit status must surface directly — an sbt/JVM crash
# is a preflight failure in its own right, not a downstream check.py
# FileNotFoundError pointing at the wrong culprit
if ! scripts/run_verify.sh /root/testdata/sf0.001 "$OUT" > "$LOG" 2>&1; then
  echo "preflight FAILED: run_verify.sh exited non-zero"; tail -20 "$LOG"; exit 1
fi
if grep -E "\[verify\].*failed" "$LOG"; then
  echo "preflight FAILED: gate threw at sf0.001 (see above)"; exit 1
fi
python3 scripts/check.py /root/testdata/sf0.001 "$OUT" \
  | grep -E "^!!|/.* pass" # mismatch lines + the N/N tally (pipefail aborts on a miss)
#   (d) the correctness-artifact roster tripwire (r16 verdict #2): the
#       newest non-adjudicated CORRECTNESS_r*.json must cover the gate
#       roster the current tree just ran — an empty/truncated driver
#       artifact (the r16 `{}` damage mode) fails HERE instead of
#       waiting for a judge to open a 2-byte file. Selftest first:
#       prove the checker itself still fails on `{}`.
python3 scripts/roster_check.py --selftest
python3 scripts/roster_check.py . "$OUT"
echo "preflight OK: one session builder, one conf broadcast, one record-file writer, one portable hash, Test/compile green, driver contract + probe roster intact, sf0.001 sweep green, correctness-artifact roster tripwire armed"
