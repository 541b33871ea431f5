#!/usr/bin/env bash
# Round-end gate: compile -> test -> Verify -> Bench. Refuse the snapshot
# commit on any red. Born from the round-10 postmortem: the final commit
# landed an uncompiled source edit (GraphOps.scala:706 vs the new RegMax
# signature) and zeroed the round's correctness/bench artifacts. Run this
# BEFORE every end-of-round commit; it exits non-zero on the first red.
set -euo pipefail
cd "$(dirname "$0")/.."

# bench defaults to sf0.1 — the SF the driver benches and the committed
# BENCH_r*.json records use, so the regression tripwire below compares
# like with like
SF_VERIFY="${SPARK_GRAFT_VERIFY_SF:-/root/testdata/sf0.001}"
SF_BENCH="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
# fall back when the sf0.1 fixture is absent (round-12 advice: machines
# without it failed the gate at the bench step) — but ONLY for the
# default: an explicitly-set SPARK_GRAFT_SF_DIR that doesn't exist is a
# user error, not a fixture gap (round-13 advice), and the fallback
# must be LOUD because benchcmp then skips the regression compare
if [ ! -d "$SF_BENCH" ]; then
  if [ -n "${SPARK_GRAFT_SF_DIR:-}" ]; then
    echo "GATE RED: SPARK_GRAFT_SF_DIR=$SPARK_GRAFT_SF_DIR does not exist"; exit 1
  fi
  echo "WARN: bench fixture $SF_BENCH absent — falling back to sf0.01"
  echo "WARN: ######## bench REGRESSION COMPARE WILL BE SKIPPED (SF mismatch vs committed BENCH record) ########"
  SF_BENCH=/root/testdata/sf0.01
fi
OUT="${GATE_OUT:-/tmp/graft_gate}"
mkdir -p "$OUT"

echo "== gate: sbt compile+test =="
sbt -batch "set Test/testOptions += Tests.Argument(\"-oI\")" test \
  > "$OUT/test.log" 2>&1 || { tail -40 "$OUT/test.log"; echo "GATE RED: tests"; exit 1; }
tail -4 "$OUT/test.log"

echo "== gate: Verify (sf=$SF_VERIFY) =="
rm -rf "$OUT/verify"
sbt -batch "runMain graft.Verify $SF_VERIFY $OUT/verify" \
  > "$OUT/verify.log" 2>&1 || { tail -40 "$OUT/verify.log"; echo "GATE RED: verify"; exit 1; }
n_results=$(find "$OUT/verify" -mindepth 1 -maxdepth 1 -type d | wc -l)
n_fail=$(grep -c '\[verify\].*failed' "$OUT/verify.log" || true)
echo "verify wrote $n_results result dirs, $n_fail failures"
[ "$n_results" -gt 0 ] || { echo "GATE RED: verify wrote nothing"; exit 1; }
[ "$n_fail" = "0" ] || { grep '\[verify\].*failed' "$OUT/verify.log"; echo "GATE RED: verify failures"; exit 1; }

echo "== gate: DuckDB differential (sf=$SF_VERIFY) =="
# dirs-only counting misses value drift — run the full oracle compare at
# the verify SF (cheap: DuckDB over the small fixture; the driver runs
# the same compare at sf0.01, so this is the cross-SF early warning)
python3 tools/diffcheck.py "$SF_VERIFY" "$OUT/verify" > "$OUT/diffcheck.log" 2>&1 \
  || { grep -E "FAIL|Traceback" "$OUT/diffcheck.log" | head -20; echo "GATE RED: oracle diff"; exit 1; }
tail -2 "$OUT/diffcheck.log"

echo "== gate: Bench (sf=$SF_BENCH) =="
# GRAFT_DETAIL_OUT: the gate's full-run detail goes to the scratch dir —
# the COMMITTED bench_detail.json is the per-family-isolated record
# (tools/bench_detail.sh) and a full-run overwrite would silently
# re-poison it with cross-family cache pressure
SPARK_GRAFT_SF_DIR="$SF_BENCH" GRAFT_DETAIL_OUT="$OUT/bench_detail_fullrun.json" \
  sbt -batch "runMain graft.Bench" \
  > "$OUT/bench.log" 2>&1 || { tail -40 "$OUT/bench.log"; echo "GATE RED: bench"; exit 1; }
grep '"metric":"total"' "$OUT/bench.log" | tail -1
n_failed=$(grep '"metric":"total"' "$OUT/bench.log" | tail -1 | sed 's/.*"n_failed":\([0-9]*\).*/\1/')
[ "${n_failed:-1}" = "0" ] || { echo "GATE RED: bench n_failed=$n_failed"; exit 1; }

echo "== gate: benchcmp scenario self-test (calibration semantics) =="
# hermetic check that the normalization machinery still (a) excuses
# probe-matched uniform inflation, (b) REDs real regressions in calm
# windows, (c) refuses uncertifiable windows — so a benchcmp edit can
# never silently invert the gate's judgment
python3 tools/test_benchcmp.py > "$OUT/benchcmp_selftest.log" 2>&1 \
  || { cat "$OUT/benchcmp_selftest.log"; echo "GATE RED: benchcmp self-test"; exit 1; }
tail -1 "$OUT/benchcmp_selftest.log"

echo "== gate: bench-regression tripwire (vs last committed BENCH_r*.json) =="
# on red, re-run the offending families ONCE before flipping the gate:
# this host shows up to 3x contention swings on identical plans
# (round-12 advice) — a regression must survive a second, quieter sample
if ! python3 tools/benchcmp.py "$OUT/bench.log" | tee "$OUT/benchcmp.log"; then
  fams=$(sed -n 's/^RERUN_FAMILIES=//p' "$OUT/benchcmp.log" | tail -1)
  [ -n "$fams" ] || { echo "GATE RED: bench regression"; exit 1; }
  echo "== gate: benchcmp red — re-running families [$fams] once (contention check) =="
  SPARK_GRAFT_SF_DIR="$SF_BENCH" SPARK_GRAFT_FAMILIES="$fams" \
    GRAFT_DETAIL_OUT="$OUT/bench_detail_retry.json" \
    sbt -batch "runMain graft.Bench" > "$OUT/bench_retry.log" 2>&1 || true
  python3 tools/benchcmp.py "$OUT/bench.log" --retry "$OUT/bench_retry.log" \
    || { echo "GATE RED: bench regression (confirmed after family re-run)"; exit 1; }
fi

echo "== gate: committed-artifact staleness (bench_detail.json vs this tree) =="
# Round-13's #1 finding: the committed isolated per-family record went
# stale (no rows for the round's new queries, pre-change numbers for its
# edited ones) and the round's perf claims became unprovable. The gate
# now refuses a snapshot whose bench_detail.json (a) misses any query
# the Verify step just ran, (b) lost its isolated-mode marker, or
# (c) was recorded against a different src/main source hash. Mid-round
# (after adding a query, before the ~10 min re-record) set
# GATE_SKIP_DETAIL=1 consciously — the round-END gate must run full.
if [ "${GATE_SKIP_DETAIL:-0}" = "1" ]; then
  echo "WARN: ######## bench_detail staleness check SKIPPED (GATE_SKIP_DETAIL=1) — not valid for the round-end gate ########"
else
  SRC_HASH=$(bash tools/srchash.sh)
  # the committed record must be at the driver's bench SF regardless of
  # what this machine could bench (review finding: a record captured at
  # a fallback SF would otherwise pass every other staleness check)
  DETAIL_SF="${GRAFT_DETAIL_SF:-/root/testdata/sf0.1}"
  stale=$(python3 - "$OUT/verify" "$SRC_HASH" "$DETAIL_SF" <<'EOF'
import json, os, sys
vd, src_hash, want_sf = sys.argv[1], sys.argv[2], sys.argv[3]
names = sorted(d for d in os.listdir(vd) if os.path.isdir(os.path.join(vd, d)))
try:
    rec = json.load(open("bench_detail.json"))
except Exception as e:
    print(f"<unreadable: {e}>"); raise SystemExit
bad = [n for n in names if n not in rec.get("queries", {})]
if not rec.get("mode", "").startswith("isolated-family-jvm"):
    bad.append("<mode-not-isolated>")
if rec.get("src_hash") != src_hash:
    bad.append(f"<src_hash {rec.get('src_hash')} != tree {src_hash}>")
if rec.get("sf") != want_sf:
    bad.append(f"<sf {rec.get('sf')} != {want_sf}>")
# sample-adoption audit (round-15 brief #5): the committed record must
# carry every sample's sums, and the adopted numbers must (a) re-sum to
# the named sample and (b) BE the median — so min-selection can never
# quietly come back
samples = rec.get("samples")
if not isinstance(samples, dict) or not samples:
    bad.append("<no-samples-array>")
else:
    for fam, info in samples.items():
        sums, adopted = info.get("sums", []), info.get("adopted", -1)
        qs = {k: v for k, v in rec["queries"].items() if k.startswith(fam)}
        c = round(sum(v["cold"] for v in qs.values()
                      if isinstance(v.get("cold"), (int, float))), 3)
        w = round(sum(v["warm"] for v in qs.values()
                      if isinstance(v.get("warm"), (int, float))), 3)
        if not (0 <= adopted < len(sums)) or \
                abs(sums[adopted][0] - c) > 0.005 or abs(sums[adopted][1] - w) > 0.005:
            bad.append(f"<{fam}-adopted-sums-mismatch>")
        elif len(sums) >= 2:
            order = sorted(range(len(sums)),
                           key=lambda i: (sums[i][0] + sums[i][1], i))
            if order[len(sums) // 2] != adopted:
                bad.append(f"<{fam}-adopted-not-median>")
print(",".join(bad))
EOF
)
  if [ -n "$stale" ]; then
    echo "GATE RED: committed bench_detail.json is STALE: [$stale]"
    echo "  Re-record on this tree with tools/bench_detail.sh and commit it in the"
    echo "  same snapshot, or (mid-round only) re-run the gate with GATE_SKIP_DETAIL=1."
    exit 1
  fi
  echo "bench_detail.json matches this tree (all verify queries present, src_hash $SRC_HASH)"

  echo "== gate: PLANS.md staleness (src_hash vs this tree) =="
  # round-17 verdict #2: the committed plan dumps went one TextOps edit
  # stale; PlanDump stamps the tree hash it ran on, same binding the
  # bench records carry
  PLANS_HASH=$(sed -n 's/^src_hash: //p' PLANS.md | head -1)
  if [ "$PLANS_HASH" != "$SRC_HASH" ]; then
    echo "GATE RED: PLANS.md is STALE (src_hash ${PLANS_HASH:-<none>} != tree $SRC_HASH)"
    echo "  Regenerate on this tree: sbt \"runMain graft.PlanDump\" and commit it"
    echo "  in the same snapshot."
    exit 1
  fi
  echo "PLANS.md matches this tree (src_hash $PLANS_HASH)"
  # Cold-budget drift (round-14 brief #6): per-family cold sums of the
  # (freshly re-recorded) working-tree record vs the one at HEAD —
  # fresh-JVM cost regressions are invisible to every warm-focused
  # tripwire above. Family sums WARN only; a per-query MEMO-BUILD
  # regression (round-15 verdict #2: the warm readout hides the build)
  # flips the gate — a deliberate build change lands with its own
  # explanation, an accidental one gets caught here. bench_detail.sh
  # gives each family JVM an empty artifact dir, so an artifact-backed
  # query's cold is its forced rebuild.
  python3 tools/benchcmp.py --cold bench_detail.json \
    || { echo "GATE RED: memo-build regression (benchcmp --cold)"; exit 1; }
fi

echo "GATE GREEN"
