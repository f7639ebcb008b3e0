#!/usr/bin/env bash
# One-command round-close artifact ritual — the three things every
# round must leave in the repo (three of the last four verdicts flagged
# a missing or lossy one):
#   1. full-catalog correctness at sf0.01 (the driver-parity gate);
#   2. a COMPLETE per-query bench artifact at sf0.1
#      (bench_r<N>_session.json — the driver's own BENCH_r<N>.json
#      truncates to the stdout tail);
#   3. the paper pipeline's end-to-end numbers: one perfbench run per
#      workload (seed 1), its metric table printed to stderr;
#   4. optionally ("sf1"), the durable sf1.0 certification
#      (CORRECTNESS_sf1.json, merge-on-write) + bench_r<N>_sf1.json.
#
# Usage: tools/round_close.sh <round-number> [sf1]
#   tools/round_close.sh 14        # correctness sf0.01 + bench sf0.1 + perfbench
#   tools/round_close.sh 14 sf1    # ... + the sf1.0 sweep and bench
#
# Exits nonzero on the first failing gate. Run `sbt test` separately —
# it is part of the working loop, not the artifact ritual.
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: round_close.sh <round-number> [sf1]}"
WANT_SF1="${2:-}"
CPUS="${SPARK_GRAFT_CPUS:-32}"

echo "== [1/3] full-catalog correctness at sf0.01 =="
# scratch dirs, session caches and the recursive delete live in
# graft.Scratch alone; a copy anywhere else in src/main fails the gate
SCRATCH_LEAKS=$( {
  grep -rlF -e 'target/tmp' -e 'java.io.tmpdir' -e 'def rmTree' \
    --include='*.scala' src/main
  grep -lF 'ConcurrentHashMap' src/main/scala/graft/Queries*.scala
} | grep -v '^src/main/scala/graft/Scratch\.scala$' | sort -u || true)
if [ -n "$SCRATCH_LEAKS" ]; then
  echo "FATAL: scratch path, tmpdir, rmTree or Queries* session map outside Scratch.scala in:"
  echo "$SCRATCH_LEAKS"
  exit 1
fi
# graft.Sessions builds every session and sets its conf; library code
# changes no session conf (streaming's runMicroBatches width aside) and
# tools may set only what their caller asks for
SESSION_LEAKS=$( {
  grep -rlF 'SparkSession.builder()' --include='*.scala' src/main |
    grep -v '^src/main/scala/graft/Sessions\.scala$'
  grep -rlF 'conf.set(' --include='*.scala' src/main |
    grep -v -e '^src/main/scala/graft/Sessions\.scala$' \
      -e '^src/main/scala/graft/tools/' \
      -e '^src/main/scala/graft/streaming/EventStreams\.scala$'
} | sort -u || true)
if [ -n "$SESSION_LEAKS" ]; then
  echo "FATAL: SparkSession.builder() or conf.set( outside Sessions.scala in:"
  echo "$SESSION_LEAKS"
  exit 1
fi
# the paper pipelines read every extract with a declared schema: no
# inference scan, no header-peek job, and a dirty extract fails its read
SCHEMA_LEAKS=$(grep -rlE --include='*.scala' \
  -e 'inferSchema|dimensionCsv\(|spark\.read\.text\(' \
  -e 'Readers\.csv\([^,()]*,[^,()]*\)' \
  -e 'Readers\.xml\([^,()]*,[^,()]*,[^,()]*\)' \
  src/main/scala/graft/cli | sort -u || true)
if [ -n "$SCHEMA_LEAKS" ]; then
  echo "FATAL: an extract read without a declared schema (inferSchema, dimensionCsv," \
    "schema-less Readers.csv/Readers.xml or a spark.read.text header peek) in:"
  echo "$SCHEMA_LEAKS"
  exit 1
fi
# the at-least-once batch replay guard lives in
# QueriesStreaming.replayGuardedBatches alone: a batch-marker literal
# anywhere else in src/main is a hand-rolled copy and fails the gate
MARKER_LEAKS=$(grep -rnF --include='*.scala' '_applied"' src/main |
  grep -v '^src/main/scala/graft/QueriesStreaming\.scala:[0-9]*: *val marker = s"\.\${tag}_batch_\${batchId}_applied"$' ||
  true)
if [ -n "$MARKER_LEAKS" ]; then
  echo "FATAL: a batch replay marker outside QueriesStreaming.replayGuardedBatches:"
  echo "$MARKER_LEAKS"
  exit 1
fi
# the ANN gates' (id, v) corpus projection and its DuckDB twin live in
# QueriesSimilarity's shared helpers (idVectors, vecFromEmbeddings)
# alone: a copy anywhere else in src/main fails the gate
CORPUS_LEAKS=$(grep -rnF --include='*.scala' \
  -e 'embedding".cast("array<double>").as("v")' \
  -e 'CAST(embedding AS DOUBLE[]) AS v FROM embeddings' src/main |
  grep -v -e '^src/main/scala/graft/QueriesSimilarity\.scala:[0-9]*:    df\.select(\$"vec_id"\.as("id"), \$"embedding"\.cast("array<double>")\.as("v"))$' \
    -e '^src/main/scala/graft/QueriesSimilarity\.scala:[0-9]*:    "CAST(embedding AS DOUBLE\[\]) AS v FROM embeddings"$' ||
  true)
if [ -n "$CORPUS_LEAKS" ]; then
  echo "FATAL: an (id, v) embeddings projection outside QueriesSimilarity.idVectors/vecFromEmbeddings:"
  echo "$CORPUS_LEAKS"
  exit 1
fi
# the dedup-ingest gates' md5 bucket decode, md5-lane minhash, text
# normaliser and planted near copies live in QueriesText's shared
# text-dedup gate parts (md5Bits32Sql, minhashMinsSql, normSql,
# plantedArrivals) alone: a copy anywhere else in src/main fails the gate
DEDUP_HELPER_LINES=$(cat <<'LINES'
src/main/scala/graft/QueriesText.scala:      s"(instr('0123456789abcdef', substr($hexExpr, $p, 1)) - 1) * ${1L << (4 * (8 - p))}"
src/main/scala/graft/QueriesText.scala:    val src = if (j / 4 == 0) "md5(s)" else "md5('1:' || s)"
src/main/scala/graft/QueriesText.scala:  private[graft] final val normSql = """lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""
src/main/scala/graft/QueriesText.scala:        .select((i + 300000L).as(id), perturb(p).as(payload)))
LINES
)
DEDUP_LEAKS=$(grep -rnF --include='*.scala' -e "instr('0123456789abcdef'" \
  -e "md5('1:' || s)" -e 'val normSql = """' -e '+ 300000L' src/main |
  DEDUP_OK="$DEDUP_HELPER_LINES" awk '
    BEGIN { n = split(ENVIRON["DEDUP_OK"], a, "\n"); for (i = 1; i <= n; i++) ok[a[i]] = 1 }
    { f = $0; sub(/:.*/, "", f); l = $0; sub(/^[^:]*:[0-9]+:/, "", l)
      if (!((f ":" l) in ok)) print }' || true)
if [ -n "$DEDUP_LEAKS" ]; then
  echo "FATAL: an md5 bucket decode, md5-lane minhash, normSql or planted +300000 copy" \
    "outside QueriesText's shared text-dedup gate parts:"
  echo "$DEDUP_LEAKS"
  exit 1
fi
# each store family parses its on-disk layout in its own listing
# (StoreFs.listGenerationDirs, TextDedup.listDedupStore,
# EventStreams.listAggStore) and names its swap leftovers and overlay
# tables once; StoreDoctor audits those listings and parses nothing
# itself: a regex in StoreDoctor, or a layout literal anywhere else in
# src/main, fails the gate
LAYOUT_OWNER_LINES=$(cat <<'LINES'
src/main/scala/graft/streaming/EventStreams.scala:    val markerRe = "\\.gen_(\\d+)_committed".r
src/main/scala/graft/streaming/EventStreams.scala:    val dataRe = "batch_id=(\\d+)".r
src/main/scala/graft/sources/StoreFs.scala:  def swapSiblings(name: String): (String, String) = (name + "__tmp", name + "__old")
src/main/scala/graft/operators/NswIndex.scala:  private val droppedName = "tombstones_dropped"
LINES
)
LAYOUT_LEAKS=$( {
  grep -nE '\.r([^a-zA-Z0-9_]|$)|\.matches\(|Pattern\.quote' \
    src/main/scala/graft/tools/StoreDoctor.scala | sed 's|^|src/main/scala/graft/tools/StoreDoctor.scala:|'
  grep -rnF --include='*.scala' -e 'gen_(' -e 'batch_id=(' -e '__tmp"' \
    -e '__old"' -e 'tombstones_dropped' src/main |
    LAYOUT_OK="$LAYOUT_OWNER_LINES" awk '
      BEGIN { n = split(ENVIRON["LAYOUT_OK"], a, "\n"); for (i = 1; i <= n; i++) ok[a[i]] = 1 }
      { f = $0; sub(/:.*/, "", f); l = $0; sub(/^[^:]*:[0-9]+:/, "", l)
        if (!((f ":" l) in ok)) print }'
} || true)
if [ -n "$LAYOUT_LEAKS" ]; then
  echo "FATAL: a regex in StoreDoctor, or a store-layout literal (gen_(, batch_id=(," \
    "__tmp\", __old\", tombstones_dropped) outside its family's listing:"
  echo "$LAYOUT_LEAKS"
  exit 1
fi
rm -rf target/verify_close
SPARK_GRAFT_CPUS="$CPUS" sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 target/verify_close" \
  2>&1 | grep -E '\[verify\].*failed' && {
    echo "FATAL: Verify reported per-query failures"; exit 1; } || true
python3 tools/check_oracle.py /root/testdata/sf0.01 target/verify_close

echo "== [2/3] full per-query bench at sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$CPUS" \
  sbt -batch "runMain graft.Bench" > target/bench_close.log
grep '"metric"' target/bench_close.log > "bench_r${ROUND}_session.json"
grep BENCH_SUMMARY target/bench_close.log
# aim 2's size yardstick, read the same way every round
echo "MAIN_SCALA_LINES $(find src/main -name '*.scala' -exec cat {} + | wc -l)"
# public src/main members no other file references, and those nothing
# references at all (ROADMAP H)
python3 tools/unreferenced_defs.py | grep -E '^(UNREFERENCED|DEAD)_DEFS '
PREV=$(ls bench_r*_session.json 2>/dev/null | sort -V | tail -2 | head -1)
if [ -n "$PREV" ] && [ "$PREV" != "bench_r${ROUND}_session.json" ]; then
  echo "-- bench diff vs $PREV (host noise moves totals; read per-query pairs) --"
  python3 tools/bench_diff.py "$PREV" "bench_r${ROUND}_session.json" || true
fi

echo "== [3/3] paper pipeline benchmark (perfbench, seed 1) =="
for W in linkage_stays chartevents_dense; do
  python3 perfbench/run.py --workload "$W" --seed 1 --seconds 20 --trace 0 > /dev/null
done

if [ "$WANT_SF1" = "sf1" ]; then
  echo "== [sf1] full-catalog certification at sf1.0 =="
  rm -rf target/verify_sf1_close
  SPARK_GRAFT_CPUS="$CPUS" sbt -batch \
    "runMain graft.Verify /root/repo/target/sf1.0 target/verify_sf1_close" \
    2>&1 | grep -E '\[verify\].*failed' && {
      echo "FATAL: sf1.0 Verify reported per-query failures"; exit 1; } || true
  python3 tools/check_oracle_big.py /root/repo/target/sf1.0 \
    target/verify_sf1_close "" CORRECTNESS_sf1.json
  echo "== [sf1] bench at sf1.0 =="
  SPARK_GRAFT_SF_DIR=/root/repo/target/sf1.0 SPARK_GRAFT_CPUS="$CPUS" \
    sbt -batch "runMain graft.Bench" > target/bench_sf1_close.log
  grep '"metric"' target/bench_sf1_close.log > "bench_r${ROUND}_sf1.json"
  grep BENCH_SUMMARY target/bench_sf1_close.log
fi

echo "round_close: all gates green; artifacts:"
ls -la "bench_r${ROUND}_session.json" \
  $( [ "$WANT_SF1" = "sf1" ] && echo "bench_r${ROUND}_sf1.json CORRECTNESS_sf1.json" )
