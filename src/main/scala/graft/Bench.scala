package graft
object Bench {

  /** Fixed-known-cost CALIBRATION PROBE (round-17 verdict #1: the round
    * closed on a RED gate adjudicated in prose — contention vs plan
    * regression must be the GATE's call). A deterministic, plan-trivial
    * workload — integer range + modular sum, CPU-bound, no IO, no
    * shuffle beyond the final 32-partial combine — whose cost on this
    * host is pinned in tools/benchcmp.py (CALIB_REF_S, a quiet-window
    * floor). It runs at bench start, middle, and end; benchcmp divides
    * family totals by median(probe)/CALIB_REF_S (clamped ≥ 1) before
    * thresholding, so host inflation normalizes out and a RED that
    * survives is a real regression. Both the full-run and cleared
    * passes emit the samples ("calib" in the JSON records, a
    * {"metric":"calib"} stdout line before the final total). */
  private val CalibRows = 1200L * 1000 * 1000
  private def calibProbe(spark: org.apache.spark.sql.SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, CalibRows, 1L, 32)
      .selectExpr("sum(id % 7 + (id >> 2))").collect()
    (System.nanoTime() - t0) / 1e9
  }
  /** One untimed probe first — the probe's own codegen/JIT compiles on
    * first execution and would otherwise inflate the start sample. */
  private def calibStart(spark: org.apache.spark.sql.SparkSession)
      : scala.collection.mutable.Buffer[Double] = {
    calibProbe(spark)
    scala.collection.mutable.Buffer(calibProbe(spark))
  }
  private def calibJson(samples: Seq[Double]): String =
    samples.map(v => String.format(java.util.Locale.ROOT, "%.3f", v))
      .mkString("[", ",", "]")

  /** `s` as a JSON string literal: quotes, backslashes and control
    * characters escaped, so a query name can never break a record. */
  private[graft] def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** GRAFT_CLEARED_PASS=1 — the cleared-memo graded lane (round-16
    * brief #2, finishing round-15 advice #1): 63/294 graded warms are
    * memo/artifact READOUTS, so the full-run BENCH_r*.json increasingly
    * measures scans; the per-family isolated cold column was the only
    * automated guard on those queries' BUILD paths. This pass grades
    * exactly the memo-served queries (SparkEntry.memoServed), calling
    * Memos.clearAllKeepingSharedDeployments — every registered session
    * memo except the g09/g10/g21 shared armed deployment (round-19
    * brief #4: three readouts of ONE Derby lifetime; its build lands in
    * g09, the first consumer in sorted order) — BEFORE each one, so every number is an uncached build (or, for
    * g10/g21, a readout of the pass's shared deployment) in ONE
    * full-run record. tools/bench_cleared.sh runs it with
    * GRAFT_ARTIFACT_DIR pointed at a scratch dir, so cross-run
    * artifact-backed builds (s29/s31/s32, t67's postings, v43's index)
    * rebuild too — the forced-rebuild lane round-16 advice asked for
    * (the --cold memo gate only sees their artifact-READ cold).
    * Attribution note: within one pass the scratch artifact dir is NOT
    * wiped between queries, so a shared artifact's build cost lands in
    * its first consumer in sorted order — deterministic, hence
    * comparable round over round. tools/benchcmp.py --cleared compares
    * the committed bench_cleared.json builds against HEAD's and goes
    * RED on the same thresholds as the memo-build gate. */
  private def clearedPass(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, cpusJson: String): Unit = {
    val qs = SparkEntry.all.toSeq
      .filter { case (k, _) => SparkEntry.memoServed(k) }
      .sortBy(_._1)
    // untimed warmup (JIT/codegen/first-scan), then cleared so the
    // first graded query still pays its own build
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val calib = calibStart(spark)
    val rows = qs.zipWithIndex.map { case ((name, q), i) =>
      if (i == qs.size / 2) calib += calibProbe(spark)
      // keep the SHARED armed deployment across the pass (round-19
      // brief #4): g09/g10/g21 read one Derby lifetime — its build
      // cost lands in g09 (first consumer in sorted order), the same
      // attribution rule the un-wiped scratch artifact dir follows
      Memos.clearAllKeepingSharedDeployments()
      val t0 = System.nanoTime()
      val ok = try { q.fn(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      val t = (System.nanoTime() - t0) / 1e9
      name -> (t, ok)
    }
    calib += calibProbe(spark)
    def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val detail = rows.map { case (k, (t, ok)) =>
      jsonString(k) + ":{\"build\":" + (if (ok) ms(t) else "\"fail\"") + "}"
    }.mkString("{", ",", "}")
    val nFailed = rows.count(!_._2._2)
    val total = rows.collect { case (_, (t, true)) => t }.sum
    val line = s"""{"metric":"cleared","unit":"sec","mode":"cleared-memo-fullrun","queries":$detail,"calib":${calibJson(calib.toSeq)},"cpus":$cpusJson,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_DETAIL_OUT",
        s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_bench_cleared.json")),
      line + "\n")
    catch { case _: Throwable => println(line) }
    println(s"""{"metric":"calib","s":${calibJson(calib.toSeq)},"cpus":$cpusJson,"unit":"sec"}""")
    println(s"""{"metric":"cleared_total","value":${ms(total)},"unit":"sec","n_queries":${rows.size},"n_failed":$nFailed,"sf":"$sfDir"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // "cpus" is spliced into the JSON records/lines below; Harness also
    // accepts non-numeric configs (local[*]) — those record null, which
    // benchcmp treats as unknown-config, rather than corrupting the JSON
    val cpusJson = if (cpus.nonEmpty && cpus.forall(_.isDigit)) cpus else "null"
    // GRAFT_CALIB_ONLY=<n>: run ONLY the calibration probe n times and
    // emit one calib line — the re-pin procedure for benchcmp's
    // config-keyed CALIB_REF_BY_CPUS map (round-18 verdict #2: a pin is
    // valid only at the session config it was floored on; measure the
    // quiet-window floor AT that config, never extrapolate across one).
    sys.env.get("GRAFT_CALIB_ONLY").map(_.trim.toInt).foreach { n =>
      Harness.withSession(cpus) { spark =>
        calibProbe(spark) // untimed: absorb the probe's own JIT/codegen
        val xs = (1 to n).map(_ => calibProbe(spark))
        println(s"""{"metric":"calib","s":${calibJson(xs)},"cpus":$cpusJson,"unit":"sec"}""")
      }
      return
    }
    // SPARK_GRAFT_FAMILIES=t,v restricts the run to those query-family
    // prefixes — tools/bench_detail.sh uses it to record per-family
    // ISOLATED JVMs (the full-run record reads 2-3x high on queries that
    // lose their storage-pool blocks to later families' caches); the
    // driver never sets it, so BENCH_r*.json stays the full-run record
    val famFilter = sys.env.get("SPARK_GRAFT_FAMILIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // "f1" -> seconds from the newest rc=0 COMMITTED BENCH_r*.json at
    // this SF — the cross-round noise reference (see the second trigger
    // below). Best-effort: any parse failure just disables the trigger.
    // Candidates come from `git ls-files` (round-14 advice): the driver
    // writes the CURRENT round's BENCH_r*.json untracked into the repo
    // root before committing, so a directory listing would compare a
    // mid-round re-run against its own round's record — a self-
    // reference that can never show cross-round contention. Falls back
    // to the directory listing only when git itself is unavailable.
    val lastRoundRef: Map[String, Double] = try {
      // None = git itself unavailable (fall back to the listing);
      // Some(empty) = git answered "no committed records" (trust it —
      // a fresh repo has NO valid reference, and admitting the
      // current round's untracked file here would be the exact
      // self-reference this filter exists to prevent)
      val committed: Option[Set[String]] = try {
        Some(scala.sys.process.Process(Seq("git", "ls-files", "BENCH_r*.json"))
          .!!.linesIterator.map(_.trim).filter(_.nonEmpty).toSet)
      } catch { case _: Throwable => None }
      val files = Option(new java.io.File(".").listFiles(
        (_, n) => n.matches("BENCH_r\\d+\\.json") &&
          committed.forall(_.contains(n)))).getOrElse(Array.empty)
      files.sortBy(f => -"\\d+".r.findFirstIn(f.getName).get.toInt).iterator
        .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath)))
        .filter(_.matches("(?s).*\"rc\"\\s*:\\s*0.*"))
        // the family records live inside the JSON-escaped "tail" string
        .map(_.replace("\\\"", "\""))
        .filter(t => ("\"metric\":\"total\"[^}]*\"sf\":\"" +
          java.util.regex.Pattern.quote(sfDir) + "\"").r.findFirstIn(t).isDefined)
        .map { t =>
          "\\{\"f\":\"(\\w)\",\"ds\":\\[([^\\]]*)\\]\\}".r.findAllMatchIn(t).flatMap { m =>
            m.group(2).split(",").iterator.zipWithIndex.collect {
              // UNPADDED keys ("q5", "t63"), matched by the same
              // family-char + parsed-number derivation as the lookup
              // side — zero-padding + name.take(3) silently broke the
              // moment a family reached 100 queries (round-14 advice).
              // Sub-0.2 s references are skipped entirely: at 1 ds of
              // rounding a 0.0–0.1 s reference makes the ≥2× ratio
              // meaningless (any ≥0.5 s sample trips it forever), and
              // such queries are too cheap for contention to matter.
              case (v, i) if v.trim.matches("\\d+") && v.trim.toInt >= 2 =>
                m.group(1) + (i + 1) -> v.trim.toInt / 10.0
            }
          }.toMap
        }
        .find(_.nonEmpty).getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty[String, Double] }
    Harness.withSession(cpus) { spark =>
      if (sys.env.get("GRAFT_CLEARED_PASS").contains("1")) {
        clearedPass(spark, sfDir, cpusJson); return
      }
      // untimed warmup: absorbs JIT/codegen/first-scan costs so per-query
      // numbers measure the plan, not JVM cold start; sorted order keeps
      // runs comparable as the query set grows
      try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
      val calib = calibStart(spark)
      // two passes PER FAMILY, families in sorted order: pass 1 is the
      // COLD cost (first materialization of any memoized subtree —
      // t03/t11/t16/v02/s06/e08 share cached frames), pass 2 the warm
      // plan cost. Both are reported: min-of-2 alone made memoized
      // queries read as 0.1 s scans and hid their real cost.
      //
      // WHY per-family (round-12 brief #1b — eviction designed out, not
      // documented): the old whole-run cold sweep then whole-run warm
      // sweep meant a family's warm pass ran only after EVERY family's
      // caches were resident — peak storage pressure — and the r12
      // record showed q-family "regressions" (q36 0.4→3.6 s) that were
      // really later families' caches evicting q's blocks before its
      // warm pass. Now each family's warm numbers are recorded BEFORE
      // any later family builds its caches; once a family is recorded,
      // LRU eviction of its blocks is harmless. First-execution order
      // across queries is unchanged (alphabetical), so cold attribution
      // is comparable round over round, and cross-family memo reuse
      // (t15 building the cell-pair frame the v family later reads)
      // still happens exactly once.
      //
      // Each timing carries an ok flag: a throwing query must be COUNTED
      // (n_failed), never summed — its time-to-throw is not a plan cost,
      // and silently folding it in corrupts the cross-round perf trend.
      val families = SparkEntry.queries.toSeq
        .filter(kv => famFilter.forall(_.contains(kv._1.take(1))))
        .sortBy(_._1).groupBy(_._1.take(1)).toSeq.sortBy(_._1)
      def time(fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      // Per-family probe brackets (round-19 verdict #2): the full-run
      // lane — the record that adjudicates rounds — carried only 3
      // global probes and could not localize a contended stretch to the
      // families running inside it (r19's t/v/p/e question). Now one
      // sample lands BETWEEN every two family groups: famProbes(i) is
      // family i's left bracket, famProbes(i+1) its right. All samples
      // still pool into the global calib list (same record-wide median
      // semantics, denser sampling); the per-family pairs additionally
      // travel as "calib_by_family" in the detail record and as a
      // {"metric":"calib_fam"} stdout line, the same shape
      // tools/bench_detail.sh gave the cold lane in round 19.
      val famProbes = scala.collection.mutable.Buffer(calib.head)
      val (cold, warm) = {
        val c = scala.collection.mutable.Map.empty[String, (Double, Boolean)]
        val w = scala.collection.mutable.Map.empty[String, (Double, Boolean)]
        families.zipWithIndex.foreach { case ((_, qs), fi) =>
          if (fi > 0) { val v = calibProbe(spark); calib += v; famProbes += v }
          qs.foreach { case (name, fn) => c(name) = time(fn) }
          qs.foreach { case (name, fn) => w(name) = time(fn) }
          // Targeted third sample for NOISE SUSPECTS only, while the
          // family's caches are still hot: on this shared microVM a warm
          // pass can land 3× over the cold one on an identical frozen
          // plan (r8 published q25 warm 3.09 vs cold 0.57 — an inverted
          // pair that reads as a plan regression). A warm sample
          // materially above its own cold (≥ 2× and ≥ 0.5 s) is
          // contention by construction — the warm plan can only be
          // ≤ cold — so those few queries re-run once and the warm slot
          // takes the min. Whole-pass min-of-3 would cost ~40% more
          // bench time for numbers only the outliers need.
          // SECOND trigger (round-13 brief #5): contention that inflates
          // BOTH passes slips the warm≥2×cold rule (r13's g12 doubled,
          // 1.2→2.4 s, on an untouched plan with cold≈warm) — so a query
          // whose best-of-2 lands ≥2× (and ≥ +0.5 s) over its value in
          // the last committed BENCH_r*.json record at the same SF also
          // earns one more sample. A REAL plan regression survives the
          // re-sample (it is not host noise), so this can only remove
          // contention, never hide a change.
          // Both triggers require wok && cok: a FAILED pass must stay
          // "fail" in the detail record (a flaky throw is a finding,
          // not noise), so a re-sample may only ever refine numbers.
          // Cross-round re-samples are capped per family — if the whole
          // reference were incomparable (run-config drift, a mass plan
          // change), re-running every query would cost the whole-pass
          // min-of-3 this targeted design exists to avoid. The cap is
          // FAMILY-SIZE-AWARE (round-14 brief #2): a flat 6 was 55% of
          // the k family but 10% of the 63-query t family, and r14's t
          // drift (+1.7 s spread over untouched plans) is exactly the
          // signal a starved cap fails to resample — now ~20% of the
          // family, floor 6, so t gets 12 slots and small families keep
          // their old budget.
          var crossLeft = math.max(6, qs.size / 5)
          qs.foreach { case (name, fn) =>
            val (cv, cok) = c(name); val (wv, wok) = w(name)
            if (wok && cok) {
              // second branch (round-14 brief #4): s19's isolated warm
              // sat at 1.85×/+0.86 s — real contention just under the
              // 2× gate — so a large-absolute near-2× inversion (≥1.7×
              // AND +0.75 s) also earns the re-sample. Still impossible
              // to hide a plan change: warm ≤ cold by construction, so
              // any trip is host noise.
              val contentionSuspect = (wv >= 2 * cv && wv - cv >= 0.5) ||
                (wv >= 1.7 * cv && wv - cv >= 0.75)
              val refKey = {
                val dgt = name.drop(1).takeWhile(_.isDigit)
                if (dgt.isEmpty) "" else name.take(1) + dgt.toInt
              }
              val crossRound = crossLeft > 0 &&
                lastRoundRef.get(refKey).exists { r =>
                  val cur = math.min(cv, wv)
                  cur >= 2 * r && cur - r >= 0.5
                }
              if (crossRound && !contentionSuspect) crossLeft -= 1
              if (contentionSuspect || crossRound) {
                val (t3, ok3) = time(fn)
                if (ok3) w(name) = (math.min(wv, t3), true)
              }
            }
          }
        }
        (c.toMap, w.toMap)
      }
      calib += calibProbe(spark)
      famProbes += calib.last
      // {"e":[before,after],...} — each family's bracketing probe pair
      val calibFamJson = families.map(_._1).zipWithIndex.map { case (f, i) =>
        "\"" + f + "\":" + calibJson(Seq(famProbes(i), famProbes(i + 1)))
      }.mkString("{", ",", "}")
      // headline stays min-of-2 per query OVER SUCCESSFUL PASSES: the
      // host is a shared microVM with bursty contention (up to 3x swings
      // on identical plans), and the min is the contention-free estimate.
      // A query with no successful pass has no headline number at all.
      val best: Map[String, Double] = cold.flatMap { case (k, (c, cok)) =>
        val (w, wok) = warm(k)
        (cok, wok) match {
          case (true, true)   => Some(k -> math.min(c, w))
          case (true, false)  => Some(k -> c)
          case (false, true)  => Some(k -> w)
          case (false, false) => None
        }
      }
      val failed = cold.keys.toSeq.filterNot(best.contains).sorted
      // Locale.ROOT: the f interpolator honors the JVM default locale,
      // and a comma decimal separator would corrupt the JSON.
      def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
      // Full-name cold/warm detail goes ONLY to bench_detail.json in the
      // repo (which cannot clip however large the query surface grows) —
      // round 7 proved that printing it to stdout pushed the head family
      // records out of the driver's ~3 KB tail capture (BENCH_r07's tail
      // opened mid-`k`, losing e/g/k01–k06). Stdout is the fallback only
      // if the file write fails. No "value" field anywhere below, so a
      // consumer summing value across records can never double-count the
      // headline. Failed passes report "fail" instead of a number.
      // "memo":true marks queries whose warm is a memo/artifact READOUT
      // (SparkEntry.memoServed) — benchcmp grades their COLD (the honest
      // build) for regressions; a consumer comparing warms must skip them
      def cw(k: String, c: (Double, Boolean), w: (Double, Boolean)): String = {
        def one(t: (Double, Boolean)) = if (t._2) ms(t._1) else "\"fail\""
        val memo = if (SparkEntry.memoServed(k)) ",\"memo\":true" else ""
        "{\"cold\":" + one(c) + ",\"warm\":" + one(w) + memo + "}"
      }
      val detail = cold.toSeq.sortBy(_._1)
        .map { case (k, c) => jsonString(k) + ":" + cw(k, c, warm(k)) }
        .mkString("{", ",", "}")
      // the recording mode travels IN the record (round-11 advice: the
      // committed numbers get read without the commit message)
      // "-perfam" marks the round-13 warm-semantics change (advice):
      // warm passes run per family BEFORE later families build caches,
      // so r12-and-earlier "full-run" warm numbers (which included
      // cross-family eviction) are not comparable to these
      val mode = famFilter
        .map(f => "isolated-family-jvm:" + f.toSeq.sorted.mkString(""))
        .getOrElse("full-run-perfam")
      val detailLine =
        s"""{"metric":"detail","unit":"sec","mode":"$mode","queries":$detail,"calib":${calibJson(calib.toSeq)},"calib_by_family":$calibFamJson,"cpus":$cpusJson,"sf":"$sfDir"}"""
      // default destination is OUTSIDE the repo: the committed
      // bench_detail.json is the per-family-ISOLATED record
      // (tools/bench_detail.sh sets GRAFT_DETAIL_OUT explicitly), and a
      // casual full-run `runMain graft.Bench` from the repo root must
      // not silently re-poison it with cross-family cache pressure
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          sys.env.getOrElse("GRAFT_DETAIL_OUT",
            s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_bench_detail.json")),
        detailLine + "\n")
      catch { case _: Throwable => println(detailLine) }
      // The headline, then per-family records, then the headline AGAIN.
      // The driver's tail capture held ~2.2 KB in round 8 and the 9
      // name-keyed family maps (~2.4 KB) outgrew it, clipping g/k/m and
      // the head of s — so records are now POSITIONAL ARRAYS of integer
      // DECIseconds: {"f":"q","ds":[v1,v2,…]} where ds[i] is query
      // number i+1 of family f (all families number contiguously from
      // 01), null marks an id gap (q56 was retired), -1 marks a query
      // with no successful pass. ~1.1 KB for all nine records — the
      // whole emission fits the window with ~700 B of growth headroom.
      // Order is total-first + families DESCENDING by subtotal +
      // total-last (round-7's requested shape), so whichever END a
      // future clip takes, a headline line AND the expensive families
      // survive. The two total lines are byte-identical — a
      // deduplicating consumer sees one; nothing else carries a "value"
      // field to double-count. bench_detail.json remains the durable
      // full-precision name-keyed copy.
      val total = if (best.nonEmpty) best.values.sum else 0.0
      val totalLine =
        s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${best.size},"n_failed":${failed.size},"sf":"$sfDir"}"""
      println(totalLine)
      // NAMED per-query headline timings (round-20 verdict #2,
      // additions-only): the driver's PERF comparator joins rounds on
      // query NAMES, which the positional family arrays cannot provide —
      // PERF.per_query and .scaling sat empty for two rounds. Full
      // registry names, min-of-2 seconds, one line (~8 KB). Printed
      // HERE — before the family records — so the ~2 KB tail-clip
      // window still ends with the compact family/calib/total lines
      // (the tail cannot hold 301 named rows by construction; this
      // line serves full-stdout consumers). Queries with no successful
      // pass are absent, same rule as the headline total.
      val pqJson = best.toSeq.sortBy(_._1)
        .map { case (k, v) => jsonString(k) + ":" + ms(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"per_query","q":$pqJson,"cpus":$cpusJson,"unit":"sec","sf":"$sfDir"}""")
      // numOf is total: a name with no digits after the family char maps
      // to None and is skipped from the positional record (it still
      // appears in total and bench_detail.json) — '"".toInt' here used to
      // abort the whole emission mid-stream. Collisions on (family,
      // number) are resolved deterministically (sorted, last wins) so a
      // naming drift degrades one slot, never the record.
      val numOf = (k: String) => {
        val d = k.drop(1).takeWhile(_.isDigit)
        if (d.isEmpty) None else Some(d.toInt)
      }
      cold.keys.toSeq.groupBy(_.take(1)).toSeq
        .sortBy { case (_, ks) => -ks.flatMap(best.get).sum }
        .foreach { case (fam, ks) =>
          val byNum = ks.flatMap(k => numOf(k).map(_ -> k)).sorted.toMap
          if (byNum.nonEmpty) {
          val body = (1 to byNum.keys.max).map { n =>
            byNum.get(n) match {
              case None => "null"                       // id gap
              case Some(k) => best.get(k) match {
                case None => "-1"                       // no successful pass
                case Some(v) => math.round(v * 10).toString
              }
            }
          }.mkString("[", ",", "]")
          println(s"""{"f":"$fam","ds":$body}""")
          }
        }
      // calib travels adjacent to the trailing total so a tail clip
      // keeps both (benchcmp normalizes family totals by it); "cpus"
      // rides along so benchcmp can key the pin by the session config.
      // calib_fam precedes it (least load-bearing of the tail lines —
      // a clip that loses it still leaves the global-factor protocol).
      println(s"""{"metric":"calib_fam","m":$calibFamJson,"cpus":$cpusJson,"unit":"sec"}""")
      println(s"""{"metric":"calib","s":${calibJson(calib.toSeq)},"cpus":$cpusJson,"unit":"sec"}""")
      println(totalLine)
    }
  }
}
