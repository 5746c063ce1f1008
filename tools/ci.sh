#!/bin/bash
# CI gate — the `.github/workflows/ci.yml:27-34` analog (reference runs
# pytest + flake8 on every push). One command, run locally or from the
# workflow: compile, full ScalaTest suite, and a lint pass. Exits nonzero
# on the first failure so a red tree can't merge looking green — this is
# the gate that would have caught r8's 7 timestamp-vintage test failures
# at commit time instead of at the round boundary.
set -euo pipefail

REPO_DIR="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO_DIR"

echo "== lint =="
# No unimplemented stubs may ship in main source.
if grep -rn '???' src/main/scala --include='*.scala'; then
  echo "LINT FAIL: ??? stub in src/main" >&2
  exit 1
fi
# No focused/ignored tests left behind.
if grep -rnE '\b(ignore|it only)\(' src/test/scala --include='*.scala'; then
  echo "LINT FAIL: ignored/focused test in src/test" >&2
  exit 1
fi
# No tab characters (repo convention is 2-space indent).
if grep -rnP '\t' src --include='*.scala'; then
  echo "LINT FAIL: tab character in source" >&2
  exit 1
fi
# Working-tree leak gate: everything here derives from public knowledge
# only, so internal-looking hostnames / registries must never enter the
# tree (judge docs defang theirs as host.infra.***, which the trailing
# [a-z] deliberately does not match). Fails CI before any external
# scanner sees a reintroduction.
if grep -rniE '(artifactory|nexus)\.(infra|corp|internal)\.[a-z]|[a-z0-9-]+\.corp\.[a-z]+/|go/[a-z-]+-internal' \
    src tools README.md SURVEY.md PLANS.md PERF.md 2>/dev/null; then
  echo "LINT FAIL: internal-looking hostname/shortlink in working tree" >&2
  exit 1
fi
# One derived-artifact cache: every temp dir in src/main is made by
# `Artifacts.derive`, which owns the fingerprint key, the superseded-root
# delete, the pid-scoped namespace and its shutdown hook. A new
# createTempDirectory elsewhere is a hand-rolled cache growing back.
if grep -rn 'createTempDirectory' src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/Artifacts\.scala:'; then
  echo "LINT FAIL: createTempDirectory outside graft/Artifacts.scala (derive the artifact through Artifacts.derive)" >&2
  exit 1
fi
# One parquet loader for the tables and the derived-artifact roots:
# `Artifacts.read` serves each (session, path) frame while its fingerprint
# holds, so a warm key re-runs no schema-inference job. A direct read of
# an artifact root, or in the table loader, is a second loader growing
# back. (Streaming sources take the schema of the frame they staged,
# `StreamQueries.stagedSchema`, and read nothing back.)
if grep -rnE '\.read\.parquet\(s"\$(root|base)/' src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/Artifacts\.scala:'; then
  echo "LINT FAIL: parquet read of a derived-artifact root outside graft/Artifacts.scala (read it through Artifacts.read)" >&2
  exit 1
fi
if grep -n '\.read\.parquet' src/main/scala/graft/model/Tables.scala; then
  echo "LINT FAIL: .read.parquet in graft/model/Tables.scala (load the table through Artifacts.read)" >&2
  exit 1
fi
# No Column-API higher-order lambda in src/main: `filter`, `transform`,
# `exists`, `forall`, `aggregate` and `zip_with` over a Scala lambda are
# CodegenFallback expressions, interpreted per element, and they split
# the projection around them out of whole-stage codegen. A native
# expression (graft/expressions, planted through ColumnBridge) keeps the
# stage whole. Comment lines are skipped; collection methods
# (`xs.filter(x => …)`) have no array argument before the lambda.
if grep -rnE '(^|[^.[:alnum:]_]|functions\.)(filter|transform|exists|forall|aggregate|zip_with)\(.*,[[:space:]]*\(?[[:alnum:]_]+([[:space:]]*,[[:space:]]*[[:alnum:]_]+)?\)?[[:space:]]*=>' \
    src/main/scala --include='*.scala' | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(\*|//)'; then
  echo "LINT FAIL: Column-API higher-order lambda in src/main (write a native expression in graft/expressions)" >&2
  exit 1
fi
# One session recipe: every SparkSession in src/main is built by
# `graft.Session.local`, so no main measures a session the others don't.
if grep -rn 'SparkSession\.builder' src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/Session\.scala:'; then
  echo "LINT FAIL: SparkSession.builder outside graft/Session.scala (build the session with graft.Session.local)" >&2
  exit 1
fi
# The graft functions reach library code as typed columns
# (graft.expressions.GraftFunctions) and SQL text through GraftExtensions,
# installed at session build. A per-session registration, or a library
# call that resolves a graft function by its SQL name, would break on a
# session built without the extension.
if grep -rn 'GraftFunctions\.register' src etlbench --include='*.scala'; then
  echo "LINT FAIL: GraftFunctions.register (the functions are installed by GraftExtensions at session build)" >&2
  exit 1
fi
if grep -rnE 'expr\("[^"]*graft_(simhash16|minhash16|dotq|l2q|shingle3|nfc)\(' \
    src/main/scala --include='*.scala'; then
  echo "LINT FAIL: graft function called by SQL name in src/main (use the typed GraftFunctions column)" >&2
  exit 1
fi
# One round driver: every checkpointed loop in src/main runs through
# `graft.Iterate`, which owns the cap failure ("<tag> did not converge in
# <cap> rounds"). A cap message elsewhere is a hand-rolled loop growing
# back. Round plans come from `graft.Profile <key>`; the environment
# switch that used to print them is gone (the bracket keeps this file
# from matching its own pattern).
if grep -rnE 'did not (converge|stabilize)' src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/Iterate\.scala:'; then
  echo "LINT FAIL: loop cap failure outside graft/Iterate.scala (run the loop through Iterate.untilStable)" >&2
  exit 1
fi
if grep -rn 'SPARK_GRAFT_ROUND_[P]LANS' src tools; then
  echo "LINT FAIL: the round-plan environment switch is gone (graft.Profile prints each loop round-1 plan)" >&2
  exit 1
fi
# Window-partition lint (r10 VERDICT item 8): a window partitioned by a
# known low-cardinality column ALONE, or an unpartitioned Window.orderBy,
# sorts a fact-sized partition in one task at 100x. Legitimate sites
# (day-grain series, bucket-grain offset relations, value-grain collapsed
# inputs) carry a same-line `// lint:series-grain (<why>)` marker; a new
# unmarked site fails CI so the next accidental single-partition window
# over fact-grain input is caught at commit time, not at round judging.
LOWCARD='l_returnflag|o_orderpriority|o_orderstatus|l_linestatus|l_shipmode|o_orderdate|lang|source|event_type'
if grep -rnE "Window\.partitionBy\(col\(\"($LOWCARD)\"\)\)" \
    src/main/scala --include='*.scala' | grep -v 'lint:series-grain'; then
  echo "LINT FAIL: window partitioned by a low-cardinality key alone (add a value-grain collapse / RankedOver bucketing, or a lint:series-grain marker with justification)" >&2
  exit 1
fi
if grep -rnE 'Window\.(orderBy\(|partitionBy\(\))' \
    src/main/scala --include='*.scala' | grep -v 'lint:series-grain'; then
  echo "LINT FAIL: unpartitioned window (use RankedOver two-pass rank/lag, or add a lint:series-grain marker with justification)" >&2
  exit 1
fi
# Drift-protocol gate (r12 VERDICT item 8, hardened per r13 ADVICE):
# every key whose plan fingerprint changed vs the BASELINE artifact must
# be named in PERF.md (whole-word match) — an unexplained plan change
# cannot ship inside a bench refresh. Baseline = HEAD's copy when the
# working tree carries a refresh, otherwise the PREVIOUS commit that
# touched the artifact — so CI on an already-committed refresh still
# executes the gate instead of vacuously passing on a clean tree.
if ! git diff --quiet HEAD -- BENCH_LOCAL.json 2>/dev/null; then
  git show HEAD:BENCH_LOCAL.json > /tmp/ci_bench_prev.json
  python3 tools/bench_compare.py --fp-lint /tmp/ci_bench_prev.json \
    BENCH_LOCAL.json PERF.md
else
  PREV_TOUCH="$(git log -n 2 --format=%H -- BENCH_LOCAL.json | sed -n 2p)"
  if [ -n "$PREV_TOUCH" ]; then
    git show "$PREV_TOUCH:BENCH_LOCAL.json" > /tmp/ci_bench_prev.json
    python3 tools/bench_compare.py --fp-lint /tmp/ci_bench_prev.json \
      BENCH_LOCAL.json PERF.md
  fi
fi
echo "lint ok"

echo "== compile + test =="
sbt -batch compile Test/compile test

echo "CI PASSED"
