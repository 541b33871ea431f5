#!/usr/bin/env python3
"""Bench-regression tripwire (round-11 brief #7): compare a fresh gate
bench run against the last committed BENCH_r*.json at the same SF and go
red above a 1.5x family-level jump — the driver's 2x budget gets the
same automation that protects compile/test.

Usage: python3 tools/benchcmp.py <gate_bench_log> [repo_root] [--retry <log>]
       python3 tools/benchcmp.py --cold <bench_detail.json> [repo_root]

--cold: per-family COLD-sum compare of a fresh isolated bench_detail
record against the one committed at HEAD (round-14 brief #6) — makes
fresh-JVM cost regressions visible round over round. Family sums stay
WARN-only (cold carries ingest/replay noise); per-QUERY memo-BUILD
regressions go RED (round-15 verdict #2 / advice #1): for memo-flagged
queries the warm is a readout, so the COLD number IS the build — a
build that doubles (>2x and >= +2.0s vs HEAD, on builds >= 0.5s)
exits 1 and the gate refuses the snapshot; >1.5x and >= +1.0s warns.
A deliberate build change re-records and commits both sides together,
which is exactly the audit trail we want.
SCOPE: tools/bench_detail.sh gives each family JVM an empty
GRAFT_ARTIFACT_DIR, so a cross-run-ARTIFACT query (s29/s31/s32,
t02/t03/v02/v43/...) builds its artifact in its cold pass, and family
g's Derby deployments are built per JVM. A shared artifact or
deployment is charged to its first consumer in sorted order.

--retry: a second bench log (gate re-ran the offending families in a
quieter window); each query takes the MIN of the two samples and the
total is adjusted by the same deltas — contention-only regressions
dissolve, real plan regressions survive. On red without --retry the
script prints `RERUN_FAMILIES=<letters>` so the gate knows what to
re-run.

CALIBRATION (round-17 verdict #1): every lane divides each side's
numbers by that side's own host-inflation factor — derived from the
fixed-cost probe Bench runs at start/middle/end — before thresholding.
See CALIB_REF_S below. Round 17 closed on a RED final gate waived in a
SCALE.md prose note; the probe makes the contention call the GATE's.

Sources:
- gate log: sbt stdout of `runMain graft.Bench` — family records
  {"f":"q","ds":[...]} (integer deciseconds; null = id gap, -1 = failed)
  and the {"metric":"total",...} headline.
- reference: the highest-numbered BENCH_r*.json in the repo whose run
  succeeded (rc=0); its "tail" field holds the same stdout lines.

Exit 0 (with a note) when there is no comparable reference — different
SF, no rc=0 record, or no family lines survived the tail clip. Exit 1
when total or any family with a reference subtotal >= 2.0 s regresses
beyond 1.5x. Families smaller than 2.0 s are noise at decisecond
resolution and only count toward the total.
"""
import glob
import json
import os
import re
import subprocess
import sys

THRESH = 1.5
FAMILY_FLOOR_S = 2.0
COLD_THRESH = 1.5
COLD_FLOOR_S = 3.0
# memo-flagged queries: cold IS the build — per-query regression gates
MEMO_RED_RATIO, MEMO_RED_ABS_S = 2.0, 2.0
MEMO_WARN_RATIO, MEMO_WARN_ABS_S = 1.5, 1.0
MEMO_BUILD_FLOOR_S = 0.5
# non-memo per-query cold drift (round-17 verdict #5: t04's isolated
# cold tripled with zero source diff and got no attribution sentence
# because only memo-flagged queries earned the WARN) — WARN-only,
# floor 1.0 s: every flagged query owes a SCALE.md attribution line
COLDQ_WARN_RATIO, COLDQ_WARN_ABS_S, COLDQ_FLOOR_S = 2.0, 1.0, 1.0

# Calibration probe (round-17 verdict #1): Bench times a deterministic
# plan-trivial workload (1.2G-row integer range-sum, CPU-bound, no IO)
# at run start/middle/end and emits {"metric":"calib","s":[...]} plus a
# "calib" field in the JSON records. The pin is the probe's
# QUIET-WINDOW cost on this host (floor of repeated samples - see
# SCALE.md "Host calibration probe"); inflation factor =
# max(1, median(samples) / pin), and family totals divide by it
# before thresholding, so REDs that survive normalization are real plan
# regressions, not host contention. The factor is clamped at 1 (a
# faster-than-pinned window never inflates numbers) and capped at
# CALIB_MAX_FACTOR (beyond that the window is too noisy to certify
# ANYTHING - the run should be re-recorded, so the residual inflation
# is left visible rather than silently absorbed).
#
# CONFIG-KEYED PINS (round-18 verdict #2): a pin is valid ONLY at the
# session config it was floored on - the probe's cost scales with
# local[N], and round 17's original mistake was exactly a cross-config
# pin (0.38 s measured at cpus=32 read a calm local[4] window as 2.6x
# inflated). Every record/line now carries "cpus"; the pin is looked up
# by it, records without the field assume the default-4 config every
# graded lane runs, and a config with NO pin gets NO normalization
# (factor 1, loud note) rather than a borrowed one. Comparisons across
# MISMATCHED configs refuse normalization on BOTH sides (different
# pins would discount the two sides asymmetrically and manufacture or
# mask regressions) and compare raw numbers with a loud note - the
# pre-r19 behavior, which r18's own gate exercised safely (local[4]
# gate runs vs the driver's cpus=32 records).
# Pin provenance (floors; an inflated pin UNDER-normalizes - the
# conservative direction; re-pin only with a SCALE.md note):
#   4: 2026-08-16 (round 18) - the floor of 60 local[4] idle-window
#      samples was 0.822 s (typical quiet in-run reads 0.82-1.19).
#      Re-validated 2026-08-19 (round 20): a 20-sample idle loop in a
#      mildly loaded window floored at 0.926 - the 0.82 pin stands
#      (the cache fix below does not move cpus=4: the idle loop's
#      probe class was never evicted, and 0.82 remains the floor).
#   32: 2026-08-19 (round 20) - RE-PINNED 0.42 -> 0.26 after the
#      codegen-cache fix (Harness pins codegen.cache.maxEntries=4096):
#      the r19 pin was floored while every IN-RUN probe recompiled its
#      generated class through the thrashed 100-entry cache; with the
#      class staying cached, the in-run protocol now reads at the idle
#      floor (pre-fix idle 0.241 - previously a different protocol
#      class, now the same). Evidence: post-fix in-run probes across
#      five quiet sf0.1 runs [0.345,0.259,0.215 / 0.367,0.230 /
#      0.389,0.237 / 0.329,0.209 / 0.481,0.211,0.258] - quiet medians
#      0.23-0.26; pinned 0.26 (the higher/conservative end; an
#      inflated pin UNDER-normalizes). Pre-r20 cpus=32 records carry
#      thrash-inflated probes and normalize LENIENTLY under this pin -
#      the conservative direction for cross-round compares.
# Re-pin procedure: GRAFT_CALIB_ONLY=<n> SPARK_GRAFT_CPUS=<c>
# `runMain graft.Bench` is the idle-loop measure; a single-family
# bench run at <c> gives in-run probes.
CALIB_REF_BY_CPUS = {4: 0.82, 32: 0.26}
DEFAULT_CPUS = 4
# legacy alias: the default-config pin (test_benchcmp scales by it)
CALIB_REF_S = CALIB_REF_BY_CPUS[DEFAULT_CPUS]
CALIB_MAX_FACTOR = 3.0


def _calib_lines(text, metric):
    """json.loads every stdout/tail line carrying the given calib
    metric (round-19 advice: the old position-sensitive regexes
    silently yielded None the moment a key was reordered or added —
    the lines are full JSON objects, so parse them as JSON). Yields
    dicts; lines that do not parse are skipped."""
    needle = '{"metric":"%s"' % metric
    for line in text.splitlines():
        i = line.find(needle)
        if i < 0:
            continue
        try:
            rec = json.loads(line[i:])
        except ValueError:
            continue
        if rec.get("metric") == metric:
            yield rec


def parse_calib(text):
    """Probe samples from bench stdout or a record's 'calib' field -
    accumulated across ALL calib lines (round-18 advice: last-match-only
    silently dropped every earlier probe set in a concatenated log)."""
    vals = []
    for rec in _calib_lines(text, "calib"):
        vals.extend(float(x) for x in rec.get("s", []))
    return vals


def parse_calib_fam(text):
    """{family: [probe samples]} pooled from every calib_fam line
    (round-19 verdict #2: the full-run lane now emits one probe between
    family groups; each family's pair of bracketing samples lets the
    gate localize a contended stretch to the families inside it)."""
    fams = {}
    for rec in _calib_lines(text, "calib_fam"):
        for f, ss in (rec.get("m") or {}).items():
            fams.setdefault(f, []).extend(float(x) for x in ss)
    return fams


def parse_cpus(text):
    """The session config ("cpus") from a log's calib lines. None when
    the key is ABSENT (pre-r19 logs - every graded lane ran the default
    config); the sentinel "unknown" when the key is present but null
    (a non-numeric config like local[*] - round-19 advice: such a run
    must NOT be normalized by the default-4 pin, the cross-config
    laundering the keyed-pin design refuses elsewhere); the sentinel
    "mixed" when the log concatenates runs of DIFFERENT configs - no
    single pin applies. Both sentinels make calib_factor's pin lookup
    fail loudly (factor 1) instead of silently borrowing a pin."""
    seen = set()
    for rec in _calib_lines(text, "calib"):
        if "cpus" in rec:
            seen.add("unknown" if rec["cpus"] is None else int(rec["cpus"]))
    if not seen:
        return None
    return seen.pop() if len(seen) == 1 else "mixed"


def calib_factor(samples, label="", cpus=None, quiet=False):
    """(divisor, uncertifiable) for a run that carried probe samples,
    against the pin for the run's OWN session config (None = the
    default config; an unpinned config normalizes by 1, loudly).
    uncertifiable = the raw factor exceeded CALIB_MAX_FACTOR: beyond
    the cap the window is too noisy for normalized thresholding to
    mean anything - the MAIN gate lane refuses such a run outright
    (re-record in a quieter window) instead of letting the capped
    divisor absorb up to cap x threshold of real regression."""
    eff_cpus = DEFAULT_CPUS if cpus is None else cpus
    pin = CALIB_REF_BY_CPUS.get(eff_cpus)
    if not samples or pin is None:
        if samples and pin is None and not quiet:
            print(f"calib{(' ' + label) if label else ''}: NO PIN for "
                  f"cpus={eff_cpus} - not normalizing (add a floored pin "
                  "to CALIB_REF_BY_CPUS with a SCALE.md provenance note)")
        return 1.0, False
    ss = sorted(samples)
    # true median: even-length lists average the middle pair - a
    # 2-probe single-family run must not adopt its WORST probe as the
    # "median" and over-normalize (review finding, round 18)
    med = ss[len(ss) // 2] if len(ss) % 2 else \
        (ss[len(ss) // 2 - 1] + ss[len(ss) // 2]) / 2.0
    raw = med / pin
    f = min(max(1.0, raw), CALIB_MAX_FACTOR)
    if not quiet:
        print(f"calib{(' ' + label) if label else ''}: probe median {med:.2f}s "
              f"vs pinned {pin:.2f}s (cpus {eff_cpus}) -> host inflation factor {f:.2f}"
              + (" (UNCERTIFIABLE - raw factor beyond the cap; re-record)"
                 if raw > CALIB_MAX_FACTOR else ""))
    return f, raw > CALIB_MAX_FACTOR


def record_factors(cur, head, lane):
    """Per-side inflation factors for a record-vs-record lane, each
    keyed by its record's OWN session config ("cpus"; absent = the
    default config). MISMATCHED configs refuse normalization on both
    sides — different pins would discount the two sides asymmetrically
    — and fall back to a raw compare with a loud note."""
    ccp, hcp = cur.get("cpus"), head.get("cpus")
    fac_cur, _ = calib_factor(cur.get("calib", []), "working-tree record", ccp)
    fac_head, _ = calib_factor(head.get("calib", []), "HEAD record", hcp)
    if (DEFAULT_CPUS if ccp is None else ccp) != \
            (DEFAULT_CPUS if hcp is None else hcp):
        print(f"{lane}: session-config mismatch (cpus {ccp} vs HEAD {hcp}) "
              "- normalization REFUSED on both sides; comparing raw numbers")
        return 1.0, 1.0
    return fac_cur, fac_head


def cold_sums(rec, names):
    """{family: cold-sum seconds} over exactly `names` — both records
    must sum the SAME query set or a query added/retired between rounds
    masquerades as (or masks) cold drift."""
    sums = {}
    for name in names:
        c = rec["queries"][name].get("cold")
        if isinstance(c, (int, float)):
            sums[name[:1]] = sums.get(name[:1], 0.0) + c
    return sums


def cold_drift(detail_path, root):
    """WARN-only compare (round-14 brief #6): per-family COLD sums of a
    fresh isolated bench_detail record vs the one committed at HEAD.
    Cold is what a fresh-JVM deployment pays before the session memos
    and cross-run artifacts amortize it — warm-focused tripwires never
    see it drift, so a 4x cold regression (s31 pre-artifact was 11.8 s)
    stays invisible until a judge reads the record. Family sums are
    WARN-only (cold numbers carry ingest/replay noise — this flags, a
    human decides); per-query MEMO-BUILD regressions exit 1 (see module
    docstring). SCALE.md's 'Per-family cold budget' table is the
    narrative companion."""
    try:
        cur = json.load(open(detail_path))
    except Exception as e:
        print(f"cold-drift: cannot read {detail_path}: {e}")
        return 0
    try:
        head = json.loads(subprocess.run(
            ["git", "-C", root, "show", "HEAD:bench_detail.json"],
            capture_output=True, text=True, check=True).stdout)
    except Exception as e:
        print(f"cold-drift: no committed bench_detail.json reference ({e}) — skipping")
        return 0
    if head.get("sf") != cur.get("sf"):
        print(f"cold-drift: SF mismatch ({cur.get('sf')} vs HEAD {head.get('sf')}) — skipping")
        return 0
    # normalize each record by its own probe inflation (records from
    # before round 18 carry no 'calib' → factor 1), each against the
    # pin for its own session config (round-19 keyed pins)
    fac_cur, fac_head = record_factors(cur, head, "cold-drift")
    # per-FAMILY factors (round 19): the flat calib list pools every
    # family's probes, so its record-wide median under-normalizes a
    # family whose adopted sample ran hot in an otherwise-quiet
    # recording (r19: t's sample at probe 1.78/1.50 vs record median
    # 1.12 drew t13/t22 WARNs that t's own quiet sibling sample
    # refuted). When a record labels probes by family
    # ('calib_by_family', written by bench_detail.sh since r19), that
    # family normalizes by ITS OWN window; unlabeled families (and
    # whole pre-r19 records) keep the record-wide factor. Skipped
    # entirely when the two records' session configs mismatch — the
    # same refusal record_factors just applied to the global factors.
    fam_fac_cur, fam_fac_head = {}, {}
    ccp, hcp = cur.get("cpus"), head.get("cpus")
    if (DEFAULT_CPUS if ccp is None else ccp) == \
            (DEFAULT_CPUS if hcp is None else hcp):
        for rec, out, rcp, side in ((cur, fam_fac_cur, ccp, "cur"),
                                    (head, fam_fac_head, hcp, "HEAD")):
            cbf = rec.get("calib_by_family")
            if isinstance(cbf, dict):
                for fam, ss in cbf.items():
                    if ss:
                        fac, unc = calib_factor(ss, cpus=rcp, quiet=True)
                        # a family bracket beyond the cap is UNCERTIFIABLE
                        # (round-20 advice: the capped divisor would excuse
                        # up to cap*THRESH of real regression) — leave the
                        # family unlabeled so it falls back to the
                        # record-wide factor, and say so
                        if unc:
                            print(f"cold-drift: family {fam} ({side}) probe "
                                  f"bracket beyond the {CALIB_MAX_FACTOR}x cap "
                                  "- uncertifiable; using the record-wide factor")
                        else:
                            out[fam] = fac
    if fam_fac_cur or fam_fac_head:
        fams_lbl = sorted(set(fam_fac_cur) | set(fam_fac_head))
        print("cold-drift family factors (cur/HEAD): " + ", ".join(
            f"{f} {fam_fac_cur.get(f, fac_cur):.2f}/"
            f"{fam_fac_head.get(f, fac_head):.2f}" for f in fams_lbl)
            + " — unlabeled families use the record-wide medians")

    def fam_key(facs, name):
        """Family key for a query name: the LONGEST calib_by_family key
        that prefixes it (round-19 advice: deriving via name[:1] would
        silently borrow another family's factor the day a family name
        grows past one character — the record side accepts \\w+)."""
        ks = [k for k in facs if name.startswith(k)]
        return max(ks, key=len) if ks else name[:1]

    def fc(name):
        return fam_fac_cur.get(fam_key(fam_fac_cur, name), fac_cur)

    def fh(name):
        return fam_fac_head.get(fam_key(fam_fac_head, name), fac_head)
    # common queries only, and only those with a NUMERIC cold in BOTH
    # records — a round's new queries must not inflate their family's
    # sum into a false WARN, and a "fail" cold on either side must drop
    # the query from BOTH sums (an asymmetric drop would shift one sum)
    both = [n for n in set(head.get("queries", {})) & set(cur.get("queries", {}))
            if isinstance(head["queries"][n].get("cold"), (int, float))
            and isinstance(cur["queries"][n].get("cold"), (int, float))]
    ref, now = cold_sums(head, both), cold_sums(cur, both)
    parts, warns = [], []
    for f in sorted(set(ref) & set(now)):
        parts.append(f"{f}:{ref[f]:.1f}->{now[f]:.1f}")
        rn, cn = ref[f] / fh(f), now[f] / fc(f)
        if rn >= COLD_FLOOR_S and cn > COLD_THRESH * rn:
            warns.append(f"family {f} cold {now[f]:.1f}s (norm {cn:.1f}s) > "
                         f"{COLD_THRESH}x ref {ref[f]:.1f}s (norm {rn:.1f}s)")
    print(f"cold-drift vs HEAD bench_detail.json (sf {cur.get('sf')}): " + ", ".join(parts))
    for w in warns:
        print(f"cold-drift WARN: {w} — a fresh JVM pays this; check whether an "
              "artifact/memo stopped amortizing or an ingest grew")
    if not warns:
        print("cold-drift OK (threshold {}x on families >= {}s)".format(COLD_THRESH, COLD_FLOOR_S))

    # memo-flagged queries (round-15 verdict #2): their warm is a memo
    # READOUT, so cold is the only number that sees the BUILD path —
    # compare it per query with a RED gate. Flag source is the CURRENT
    # record (it reflects this tree's SparkEntry.memoServed).
    reds = []
    for n in sorted(both):
        r = head["queries"][n]["cold"] / fh(n)
        c = cur["queries"][n]["cold"] / fc(n)
        if not cur["queries"][n].get("memo"):
            # non-memo queries get the WARN too (round-17 verdict #5:
            # t04's cold tripled with no source diff and no attribution
            # because only memo-flagged queries were watched) — every
            # trip owes a SCALE.md drift-attribution sentence
            if r >= COLDQ_FLOOR_S and c > COLDQ_WARN_RATIO * r \
                    and c - r >= COLDQ_WARN_ABS_S:
                print(f"cold-drift WARN (per-query): {n} cold "
                      f"{head['queries'][n]['cold']:.2f}s -> "
                      f"{cur['queries'][n]['cold']:.2f}s (norm {r:.2f} -> {c:.2f}) "
                      "— attribute it in SCALE.md (host window or real change)")
            continue
        if r < MEMO_BUILD_FLOOR_S:
            continue
        if c > MEMO_RED_RATIO * r and c - r >= MEMO_RED_ABS_S:
            reds.append(f"{n} build {r:.2f}s -> {c:.2f}s (calib-normalized)")
        elif c > MEMO_WARN_RATIO * r and c - r >= MEMO_WARN_ABS_S:
            print(f"memo-build WARN: {n} build (cold) {r:.2f}s -> {c:.2f}s "
                  f"(calib-normalized, > {MEMO_WARN_RATIO}x) — the warm "
                  "readout hides this; check the build pipeline")
    # flag sanity: a memo-flagged query whose warm costs a large share of
    # its cold is either mis-flagged or its memo stopped serving
    for n in sorted(cur.get("queries", {})):
        q = cur["queries"][n]
        w, c = q.get("warm"), q.get("cold")
        if q.get("memo") and isinstance(w, (int, float)) and \
                isinstance(c, (int, float)) and w >= 0.8 and w > 0.6 * c:
            print(f"memo-flag WARN: {n} is flagged memo-served but warm "
                  f"{w:.2f}s is {100 * w / c:.0f}% of cold {c:.2f}s — flag "
                  "suspect or memo not serving")
    if reds:
        for m in reds:
            print(f"memo-build RED: {m} (> {MEMO_RED_RATIO}x and >= "
                  f"+{MEMO_RED_ABS_S}s) — a memoized build path regressed; "
                  "fix it, or re-record and commit both sides with the "
                  "explaining change")
        return 1
    return 0


def parse_lines(text):
    """(total, sf, {family: ds list}) from bench stdout text."""
    total, sf, fams = None, None, {}
    for m in re.finditer(r'\{"metric":"total".*?\}', text):
        rec = json.loads(m.group(0))
        total, sf = rec["value"], rec.get("sf")
    for m in re.finditer(r'\{"f":"(\w)","ds":\[[^\]]*\]\}', text):
        rec = json.loads(m.group(0))
        fams[rec["f"]] = rec["ds"]
    return total, sf, fams


def common_subtotals(ref_ds, cur_ds):
    """Per-family subtotal seconds over POSITIONS valid in BOTH records —
    a query added or retired between rounds must not masquerade as (or
    mask) a regression in the queries both rounds actually ran."""
    n = min(len(ref_ds), len(cur_ds))
    pairs = [(r, c) for r, c in zip(ref_ds[:n], cur_ds[:n])
             if r is not None and c is not None and r >= 0 and c >= 0]
    return (sum(r for r, _ in pairs) / 10.0, sum(c for _, c in pairs) / 10.0)


def main():
    args = list(sys.argv[1:])
    if args and args[0] == "--cold":
        if len(args) < 2:
            print("usage: benchcmp.py --cold <bench_detail.json> [repo_root]")
            return 2
        root = args[2] if len(args) > 2 else os.path.dirname(
            os.path.dirname(os.path.abspath(__file__)))
        return cold_drift(args[1], root)
    retry_path = None
    if "--retry" in args:
        i = args.index("--retry")
        retry_path = args[i + 1]
        del args[i:i + 2]
    log_path = args[0]
    root = args[1] if len(args) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cur_text = open(log_path).read()
    cur_total, cur_sf, cur_fams = parse_lines(cur_text)
    if cur_total is None:
        print("benchcmp RED: gate bench log has no total line")
        return 1
    cur_cpus = parse_cpus(cur_text)
    fac_cur, uncertifiable = calib_factor(parse_calib(cur_text), "gate-run",
                                          cur_cpus)
    # set when a retry's mins are merged under a comparable config —
    # the per-family factor adoption below (round-20 advice) mirrors
    # the record-wide fac_retry rule and needs the retry's calib_fam
    retry_fam_text = None
    if retry_path and os.path.exists(retry_path):
        retry_text = open(retry_path).read()
        _, rsf, rfams = parse_lines(retry_text)
        # min-merged values come from whichever window was quieter —
        # normalize by the smaller (less aggressive) factor so the
        # discount is never applied twice; a quiet retry also clears
        # the uncertifiable flag (the merged mins came from it). A
        # retry with NO probe samples or a mismatched SF adopts
        # NOTHING: a crashed/empty retry log would otherwise read as
        # factor (1.0, certifiable) and launder an uncertifiable
        # refusal into a pass (review finding, round 18)
        retry_calib = parse_calib(retry_text)
        # the retry must also be the SAME session config — a factor from
        # a different config's pin is not comparable to fac_cur
        if retry_calib and rsf == cur_sf and parse_cpus(retry_text) == cur_cpus:
            fac_retry, unc_retry = calib_factor(retry_calib, "retry-run",
                                                cur_cpus)
            if fac_retry < fac_cur:
                fac_cur, uncertifiable = fac_retry, unc_retry
            retry_fam_text = retry_text
        if rsf == cur_sf:
            for f, rds in rfams.items():
                cds = cur_fams.get(f)
                if cds is None:
                    continue
                for i in range(min(len(cds), len(rds))):
                    c, r = cds[i], rds[i]
                    if c is not None and c >= 0 and r is not None and 0 <= r < c:
                        cur_total -= (c - r) / 10.0
                        cds[i] = r
            print(f"benchcmp: merged retry samples from {retry_path} "
                  f"(per-query min; adjusted total {cur_total:.1f}s). NOTE: the "
                  "retry JVM runs one family with less cache/storage pressure "
                  "than the full run — by policy, cross-family cache pressure "
                  "is host contention, not a plan cost, so the min may absorb "
                  "cache-interaction effects the full-run BENCH record keeps.")

    refs = sorted(glob.glob(os.path.join(root, "BENCH_r*.json")),
                  key=lambda p: int(re.search(r"r(\d+)", p).group(1)), reverse=True)
    ref = None
    for p in refs:
        rec = json.load(open(p))
        if rec.get("rc") == 0 and rec.get("tail"):
            ref = (p, rec)
            break
    if ref is None:
        print("benchcmp: no rc=0 BENCH_r*.json reference — skipping (first green round)")
        return 0
    ref_path, rec = ref
    ref_total, ref_sf, ref_fams = parse_lines(rec["tail"])
    if ref_total is None:
        print(f"benchcmp: {ref_path} tail clipped past every total line — skipping")
        return 0
    if ref_sf != cur_sf:
        print(f"benchcmp: SF mismatch (gate {cur_sf} vs {ref_path} {ref_sf}) — skipping")
        return 0
    # each side normalizes by ITS OWN inflation factor to a common
    # quiet-window basis (pre-r18 references carry no probe → factor 1).
    # NOTE (round-18 advice): references recorded in an inflated window
    # BEFORE the probe existed normalize by 1 and lean the compare
    # lenient until a post-r18 reference becomes the baseline — the
    # asymmetry self-heals as probe-carrying records accumulate.
    # The reference's config comes from the driver's top-level "cpus"
    # field when present (the driver lane records it), else from its
    # tail's calib line (r19+), else the default.
    ref_cpus = rec.get("cpus") if isinstance(rec.get("cpus"), int) \
        else parse_cpus(rec.get("tail", ""))
    fac_ref, _ = calib_factor(parse_calib(rec.get("tail", "")),
                              os.path.basename(ref_path), ref_cpus)
    if (DEFAULT_CPUS if cur_cpus is None else cur_cpus) != \
            (DEFAULT_CPUS if ref_cpus is None else ref_cpus):
        # round-19 keyed pins: normalizing the two sides by DIFFERENT
        # configs' pins would discount them asymmetrically — refuse and
        # compare raw (the pre-r18 behavior, which this lane ran safely
        # for the local[4]-gate-vs-cpus=32-driver pairing all of r18).
        # The CURRENT window's certification stands on its own pin: an
        # uncertifiable gate run still refuses.
        print(f"benchcmp: session-config mismatch (gate cpus {cur_cpus} vs "
              f"{os.path.basename(ref_path)} cpus {ref_cpus}) - "
              "normalization REFUSED on both sides; comparing raw numbers")
        fac_cur, fac_ref = 1.0, 1.0
        fam_fac_cur, fam_fac_ref = {}, {}
    else:
        # per-FAMILY factors (round-19 verdict #2): each side's calib_fam
        # lines label the probes bracketing every family group, so a
        # family that ran inside a contended stretch normalizes by ITS
        # OWN window instead of the record-wide median (the same
        # treatment cold_drift gives calib_by_family records). Unlabeled
        # families (pre-r20 references) keep the record-wide factor.
        # a family bracket beyond the cap is UNCERTIFIABLE (round-20
        # advice: calib_factor's refuse-beyond-cap policy applies per
        # family too — a silently capped divisor would excuse up to
        # cap*THRESH of real regression for that family while the
        # record-wide median still certifies the run). Such a family is
        # left unlabeled, falling back to the record-wide factor, loudly.
        def fam_factors(fam_calib, cpus, side):
            out = {}
            for f, ss in fam_calib.items():
                if not ss:
                    continue
                fac, unc = calib_factor(ss, cpus=cpus, quiet=True)
                if unc:
                    print(f"benchcmp: family {f} ({side}) probe bracket "
                          f"beyond the {CALIB_MAX_FACTOR}x cap - "
                          "uncertifiable; using the record-wide factor")
                else:
                    out[f] = fac
            return out
        fam_fac_cur = fam_factors(parse_calib_fam(cur_text), cur_cpus, "gate")
        fam_fac_ref = fam_factors(parse_calib_fam(rec.get("tail", "")),
                                  ref_cpus, "ref")
        # round-20 advice (low): when retry per-query mins were merged,
        # the gate run's hot family bracket must not divide subtotals
        # whose mins came from the quieter retry — that applies the
        # discount twice per family. Mirror the record-wide fac_retry
        # adoption: parse the retry's calib_fam lines (same SF + same
        # session config, checked at merge time) and take the min of the
        # two certifiable family factors.
        if retry_fam_text is not None:
            for f, ss in parse_calib_fam(retry_fam_text).items():
                if not ss:
                    continue
                fac_r, unc_r = calib_factor(ss, cpus=cur_cpus, quiet=True)
                if unc_r:
                    continue
                if f in fam_fac_cur:
                    fam_fac_cur[f] = min(fam_fac_cur[f], fac_r)
                else:
                    # the gate's bracket for f was uncertifiable (or
                    # unlabeled): the quiet retry's factor is the one
                    # matching where the merged mins came from
                    fam_fac_cur[f] = min(fac_r, fac_cur)
        if fam_fac_cur or fam_fac_ref:
            fams_lbl = sorted(set(fam_fac_cur) | set(fam_fac_ref))
            print("benchcmp family factors (cur/ref): " + ", ".join(
                f"{f} {fam_fac_cur.get(f, fac_cur):.2f}/"
                f"{fam_fac_ref.get(f, fac_ref):.2f}" for f in fams_lbl)
                + " — unlabeled families use the record-wide medians")

    red = []
    if uncertifiable:
        red.append("window uncertifiable: probe inflation beyond the "
                   f"{CALIB_MAX_FACTOR}x cap — normalized thresholding is "
                   "meaningless at this noise level; re-record in a quieter window")
    cur_tn, ref_tn = cur_total / fac_cur, ref_total / fac_ref
    if cur_tn > THRESH * ref_tn:
        red.append(f"total {cur_total:.1f}s (norm {cur_tn:.1f}s) > {THRESH}x "
                   f"ref {ref_total:.1f}s (norm {ref_tn:.1f}s) "
                   "(note: totals span each round's own query set)")
    common = {f: common_subtotals(ref_fams[f], cur_fams[f])
              for f in sorted(set(ref_fams) & set(cur_fams))}
    for f, (rv, cv) in common.items():
        rvn = rv / fam_fac_ref.get(f, fac_ref)
        cvn = cv / fam_fac_cur.get(f, fac_cur)
        if rvn >= FAMILY_FLOOR_S and cvn > THRESH * rvn:
            red.append(f"family {f} {cv:.1f}s (norm {cvn:.1f}s) > {THRESH}x "
                       f"ref {rv:.1f}s (norm {rvn:.1f}s) (common queries only)")
    print(f"benchcmp vs {os.path.basename(ref_path)} (sf {cur_sf}, calib "
          f"factors ref {fac_ref:.2f} cur {fac_cur:.2f}): "
          f"total {ref_total:.1f}s -> {cur_total:.1f}s; common-query families "
          + ", ".join(f"{f}:{r:.1f}->{c:.1f}" for f, (r, c) in common.items()))
    if red:
        print("benchcmp RED: " + "; ".join(red))
        if retry_path is None:
            # what the gate should re-sample: the flagged families, or —
            # on a total-only red — the biggest common-query growers
            flagged = sorted({r.split()[1] for r in red if r.startswith("family")})
            if not flagged:
                flagged = [f for f, (rv, cv) in
                           sorted(common.items(), key=lambda kv: kv[1][0] - kv[1][1])
                           if cv > rv][:3]
            if not flagged:
                # uncertifiable-only red with NO growers (round-18
                # advice): a quiet retry is exactly the remedy the
                # uncertifiable path adopts (a calmer re-probe clears
                # the flag) — re-sample the largest reference families
                # so the gate's single-retry path gets that chance
                # instead of hard-REDding without one
                flagged = [f for f, _ in
                           sorted(common.items(), key=lambda kv: -kv[1][0])[:3]]
            if flagged:
                print("RERUN_FAMILIES=" + ",".join(flagged))
        return 1
    print("benchcmp OK (threshold {}x)".format(THRESH))
    return 0


if __name__ == "__main__":
    sys.exit(main())
