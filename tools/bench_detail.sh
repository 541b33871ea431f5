#!/usr/bin/env bash
# Re-record bench_detail.json under PER-FAMILY JVM ISOLATION (round-11
# brief #4): in the full-run record, early families' warm numbers read
# 2-3x high (g02 0.71->2.48 s, g11, e25-e27) because later families'
# persisted caches evict their storage-pool blocks — isolated JVMs
# measure each family's plans without that cross-family pressure, and
# the record carries its recording mode so readers need no commit
# archaeology. The driver's BENCH_r*.json stays the full-run record.
#
# SAMPLING (round-15 brief #5, mechanized; adoption rule per round-15
# advice): each family is recorded N times (default 3) and the ADOPTED
# block is the sample whose family cold+warm sum is the MEDIAN — whole
# family from one JVM run, never per-query mins (a min-of-samples
# reference biases low and makes future drift WARNs fire spuriously;
# the median is the typical-window estimate). All per-sample sums are
# embedded in the committed record under "samples" so the adoption is
# auditable from the artifact alone; tools/gate.sh recomputes the
# adopted sums and refuses a record whose adopted block does not equal
# its named sample or is not the median.
#
# FORCED REBUILDS: each family JVM gets its own empty GRAFT_ARTIFACT_DIR
# (removed when it exits), so a query served from a cross-run artifact
# pays the artifact's build in its cold pass and reads it in its warm
# pass — every memo-flagged query's cold IS its build, and
# tools/benchcmp.py --cold grades it per query. A shared artifact (or
# family g's shared Derby deployment) is charged to its first consumer
# in sorted order. ./artifacts is never read or written.
#
# Runs the families SEQUENTIALLY (two sbt servers collide on the
# socket); ~10 min per sample at sf0.1, so ~30 min total at N=3.
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
OUT="${BENCH_DETAIL_OUT:-/tmp/graft_bench_fams}"
N="${BENCH_DETAIL_SAMPLES:-3}"
mkdir -p "$OUT"

FAMS="e g k m p q s t v"
# leftovers from a previous recording (a retired family, renamed
# queries) must not merge stale numbers into a record stamped with the
# CURRENT src_hash — the merge globs detail_*.json below
rm -f "$OUT"/detail_*.json
ART=""
trap 'rm -rf "$ART"' EXIT
for s in $(seq 1 "$N"); do
  for f in $FAMS; do
    echo "== bench family $f sample $s/$N (sf=$SF) =="
    ART=$(mktemp -d "${TMPDIR:-/tmp}/graft_detail_art.XXXXXX")
    SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_FAMILIES="$f" GRAFT_ARTIFACT_DIR="$ART" \
      GRAFT_DETAIL_OUT="$OUT/detail_${f}_s${s}.json" \
      sbt -batch "runMain graft.Bench" > "$OUT/bench_${f}_s${s}.log" 2>&1 \
      || { tail -20 "$OUT/bench_${f}_s${s}.log"; echo "family $f sample $s FAILED"; exit 1; }
    rm -rf "$ART"
    grep -o '{"metric":"total".*' "$OUT/bench_${f}_s${s}.log" | tail -1
  done
done

# src_hash binds the record to the source tree it measured (round-13
# verdict #1: a stale committed record left the round's perf claims
# unprovable) — tools/gate.sh recomputes and refuses a mismatched snapshot
SRC_HASH=$(bash tools/srchash.sh)   # we cd'd to the repo root above

python3 - "$OUT" "$SF" "$SRC_HASH" "$N" <<'EOF'
import glob, json, re, sys
out, sf, src_hash, n = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])

def famsum(qs):
    """(cold_sum, warm_sum) over numeric entries, 3-decimal rounded."""
    c = sum(v["cold"] for v in qs.values() if isinstance(v.get("cold"), (int, float)))
    w = sum(v["warm"] for v in qs.values() if isinstance(v.get("warm"), (int, float)))
    return [round(c, 3), round(w, 3)]

queries, samples, calib, calib_fams, cpus = {}, {}, [], {}, None
for p in sorted(glob.glob(out + "/detail_*_s1.json")):
    fam = re.search(r"detail_(\w+)_s1\.json$", p).group(1)
    per, cals = [], []
    for s in range(1, n + 1):
        rec_s = json.load(open(f"{out}/detail_{fam}_s{s}.json"))
        per.append(rec_s["queries"])
        cals.append(rec_s.get("calib", []))
        cpus = rec_s.get("cpus", cpus)
    sums = [famsum(q) for q in per]
    # median by cold+warm total; ties resolve to the lowest sample index
    order = sorted(range(n), key=lambda i: (sums[i][0] + sums[i][1], i))
    adopted = order[n // 2]
    queries.update(per[adopted])
    # calib travels ONLY from adopted samples: the factor must describe
    # the windows whose query numbers the record actually carries —
    # rejected samples' probes would skew --cold's normalization toward
    # windows whose numbers were discarded (review finding, round 18)
    calib += cals[adopted]
    if cals[adopted]:
        calib_fams[fam] = cals[adopted]
    samples[fam] = {"sums": sums, "adopted": adopted}
    print(f"family {fam}: sums={sums} -> adopted sample {adopted + 1}")
rec = {"metric": "detail", "unit": "sec",
       "mode": "isolated-family-jvm (tools/bench_detail.sh): one JVM per "
               "query family, so no cross-family cache pressure inflates "
               "warm numbers; the driver's BENCH_r*.json remains the "
               "full-run record. Each family JVM starts on an empty "
               "artifact dir, so an artifact-served query's cold is its "
               "build. Per family the MEDIAN-by-cold+warm-sum of "
               f"{n} samples is adopted whole (never per-query mins); "
               "'samples' holds every sample's [cold_sum, warm_sum].",
       "src_hash": src_hash,
       "samples": samples,
       # ADOPTED samples' probe readings only (round-18 calibration):
       # benchcmp --cold normalizes by median(calib) over the pin for
       # this record's session config ("cpus" — round-19 keyed pins)
       "calib": calib,
       # the same probes LABELED by family (round 19): the flat list's
       # record-wide median under-normalizes a family whose adopted
       # sample ran hot while the rest were quiet (r19: t's sample at
       # probe 1.78/1.50 drew t13/t22 WARNs its quiet sibling refuted)
       # — benchcmp --cold prefers a family's own factor when present
       "calib_by_family": calib_fams,
       "cpus": cpus,
       "queries": dict(sorted(queries.items())), "sf": sf}
with open("bench_detail.json", "w") as f:
    f.write(json.dumps(rec, separators=(",", ":")) + "\n")
print(f"bench_detail.json: {len(queries)} queries merged (src_hash {src_hash})")
EOF
