package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan hygiene: the properties that matter at 100 TB, asserted
  * on the actual plans (the "explain and iterate" loop, frozen as specs).
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.session

  val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.all(name).fn(spark, d)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q02: filter and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters"), "filters must push down")
    assert(p.matches("(?s).*PushedFilters: \\[.*GreaterThan\\(l_quantity.*"), p)
    assert(p.matches("(?s).*PushedFilters: \\[.*EqualTo\\(l_returnflag,R\\).*"), p)
    // column pruning: the 11-column lineitem scan reads only what's needed
    assert(!p.contains("l_partkey"), "unused columns must be pruned from the scan")
  }

  test("q03: dimension join is broadcast, fact agg is partial") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), "nation must broadcast")
    assert(p.contains("HashAggregate"), "aggregation must be hash-based")
  }

  test("q05/q23: all dims broadcast — zero fact-table shuffles before agg") {
    assert(plan("q05_region_customer_count").contains("BroadcastHashJoin"))
    val p23 = plan("q23_brand_revenue")
    assert(p23.split("BroadcastHashJoin").length >= 3, "both dims broadcast")
    assert(!p23.contains("SortMergeJoin"), "no sort-merge for broadcastable dims")
  }

  test("q01: map-side partial aggregation + codegen after execution") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum"), "aggregation must be map-side partial")
    assert(p.contains("HashAggregate"))
    // AQE finalizes codegen spans only at execution time
    val df = graft.SparkEntry.all("q01_pricing_summary").fn(spark, d)
    df.collect()
    // "*(n)" is the WholeStageCodegen marker in the compact plan string
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("q08: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q08_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("v01: cosine top-k uses the codegen'd dot_d expression") {
    val p = plan("v01_cosine_topk")
    assert(p.contains("dot_d"), "custom expression must be in the plan")
    assert(p.contains("BroadcastNestedLoopJoin"), "10-row query side must broadcast")
  }

  test("q34: decorrelated subquery broadcasts the nation stats — no fact shuffle join") {
    val p = plan("q34_above_avg_spenders")
    assert(p.contains("BroadcastHashJoin"), "pre-aggregated stats must broadcast")
    assert(!p.contains("SortMergeJoin"), "the customer scan must never shuffle-join")
    assert(p.contains("partial_sum"), "nation stats must aggregate map-side first")
  }

  test("semi/anti joins plan as join strategies, not subquery re-execution") {
    assert(plan("q06_semi_join_big_spenders").contains("LeftSemi"))
    assert(plan("q07_anti_join_no_orders").contains("LeftAnti"))
  }

  test("t14: curation pipeline joins on keys — no cartesian, dedup is LeftAnti") {
    val p = plan("t14_corpus_curation")
    assert(p.contains("LeftAnti"), "near-dup removal must be an anti join")
    assert(!p.contains("CartesianProduct"), "no unkeyed join anywhere")
  }

  test("e08: events scanned once — calendar and types derive from the counts aggregate") {
    val p = plan("e08_gap_filled_series")
    val scans = "events\\.parquet".r.findAllIn(p).length
    assert(scans <= 1, s"expected at most 1 events scan, got $scans")
  }

  test("v10: coarse scan broadcasts the query side and both stages use dot_d") {
    val p = plan("v10_rerank_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), "10-row query side must broadcast")
    assert(p.contains("dot_d"), "both scoring stages must use the codegen expression")
    assert(!p.contains("SortMergeJoin"), "the corpus scan must never shuffle-join")
  }

  test("e09: funnel stages join on user_id — no cartesian, type filters pushed to the scan") {
    val p = plan("e09_funnel")
    assert(!p.contains("CartesianProduct"), "stage joins must be keyed")
    assert(p.matches("(?s).*PushedFilters: \\[.*EqualTo\\(event_type,signup\\).*"), p)
    assert(p.matches("(?s).*PushedFilters: \\[.*EqualTo\\(event_type,purchase\\).*"), p)
  }

  test("t16: consumers scan the checkpointed result — the iteration never re-runs") {
    val p = plan("t16_dup_clusters")
    assert(p.contains("ExistingRDD"),
      s"expected a checkpointed-RDD scan (the pre-localCheckpoint regression re-ran " +
        s"the whole label-propagation loop per consumer); got:\n$p")
  }

  test("t13: band keys are signature-derived 15-bit slices; candidate joins are keyed") {
    val p = plan("t13_simhash_near_dup")
    // the 4×15-bit pigeonhole bands must derive from the 60-bit
    // signature via integer shifts — a constant-cardinality band key
    // (the 16-bit predecessor's 32/32/64 buckets) is the scale-killer
    // this freezes out
    assert(p.contains("shiftright"),
      s"band keys must be shift/mask slices of simhash60:\n$p")
    assert(!p.contains("CartesianProduct"),
      "candidates must meet inside band buckets, never all-pairs")
  }

  test("t34: star-body clustering consumers scan the checkpointed result") {
    val p = plan("t34_cc_star_clusters")
    assert(p.contains("ExistingRDD"),
      s"expected a checkpointed-RDD scan (t16's loop discipline):\n$p")
  }

  test("t19: benchmark side broadcasts, no cartesian anywhere") {
    val p = plan("t19_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "benchmark grams must broadcast")
    assert(!p.contains("CartesianProduct"), "gram join must be keyed")
  }

  test("t18: top-200 selection is TakeOrderedAndProject; ranking window runs on the limited frame only") {
    val df = graft.SparkEntry.all("t18_vocab").fn(spark, d)
    val p = plan("t18_vocab")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-200 must plan as per-partition heaps, not a global sort:\n$p")
    // every Window must sit ABOVE the limit — i.e. have a Limit
    // descendant — so the full vocabulary never funnels through a
    // single-partition window (the r4 scale-killer)
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    val lp = df.queryExecution.optimizedPlan
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "rank/cum window must still exist")
    windows.foreach { w =>
      assert(w.exists(_.isInstanceOf[GlobalLimit]),
        s"window must consume the 200-row limited frame, not the full vocab:\n$w")
    }
  }

  test("t22: every window runs over a bounded frame — the corpus is selected by broadcast semi-joins") {
    val df = TextOps.tokenBudgetSelect(spark, d)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("LeftSemi"), "bucket/range selection must be semi-joins")
    assert(!p.contains("SortMergeJoin"),
      "the tiny bucket/range id lists must broadcast, never shuffle-join")
    // no Window may consume the raw documents scan directly: each must
    // sit above an Aggregate (the score/range histograms) or a Join
    // against the 1-row straddle frame — i.e. over a bounded input,
    // never the full corpus ordered by score (the naive prefix plan)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => LWindow}
    val lp = df.queryExecution.optimizedPlan
    val windows = lp.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "the histogram cumsums must exist")
    windows.foreach { w =>
      assert(w.child.exists(n => n.isInstanceOf[Aggregate] || n.isInstanceOf[Join]),
        s"window over an unbounded frame (the t18 anti-pattern):\n$w")
    }
  }

  test("t23: token self-join is keyed, vocabulary sizes broadcast") {
    val p = plan("t23_source_overlap")
    assert(!p.contains("CartesianProduct"), "pair generation must join on tok")
    assert(p.contains("BroadcastHashJoin"), "per-source sizes must broadcast")
    assert(p.contains("partial_count"), "intersection counts must partial-agg map-side")
  }

  test("t24: scrub is map-only — one scan, no joins, no mid-plan shuffle") {
    val p = plan("t24_pii_scrub")
    val scans = "documents\\.parquet".r.findAllIn(p).length
    assert(scans <= 1, s"expected a single documents scan, got $scans")
    assert(!p.contains("Join"), "redaction must not join")
    // only the presentation sort may exchange; nothing before it
    // (count tree nodes "Exchange (n)", not the detail section echoes)
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).length <= 1,
      s"map-only plan expected:\n$p")
  }

  test("v11: codebook broadcasts, assignment windows per vec_id, update is partial-agg") {
    val p = plan("v11_kmeans_round")
    assert(p.contains("BroadcastNestedLoopJoin"), "16-row codebook must broadcast")
    assert(p.contains("dot_d"), "assignment must use the codegen expression")
    assert(p.contains("partial_sum"), "centroid sums must partial-agg map-side")
    assert(!p.contains("CartesianProduct"), "never a shuffled cartesian")
  }

  test("t25: boilerplate survivor set broadcasts back — the gram stream never shuffles twice") {
    val p = plan("t25_boilerplate_share")
    assert(p.contains("BroadcastHashJoin"), "≥5-doc survivor set must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"), "gram→doc counts must partial-agg map-side")
  }

  test("t26: bloom probe filters the corpus gram stream BELOW every join") {
    val df = graft.SparkEntry.all("t26_bloom_decontaminate").fn(spark, d)
    val p = plan("t26_bloom_decontaminate")
    assert(p.contains("might_contain"), s"the codegen'd bloom probe must be in the plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), "exact confirm join must broadcast the benchmark")
    assert(!p.contains("CartesianProduct"))
    // the probe's subtree must be join-free: it prunes the gram stream
    // map-side on the scan side, not after the shuffle/join
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val probes = df.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.toString.contains("might_contain") => f
    }
    assert(probes.nonEmpty, "probe filter must survive optimization")
    probes.foreach(f => assert(!f.child.exists(_.isInstanceOf[Join]),
      s"bloom probe must run below every join:\n$f"))
  }

  test("t27: bottom-25 is TakeOrderedAndProject; the trigram model broadcasts") {
    val p = plan("t27_trigram_familiarity")
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k must plan as per-partition heaps, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), "charset³-bounded model must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("v12: PQ encode is partial min(struct), codebook + LUT broadcast, ADC sum partial-aggs") {
    // the candidate frame is memoized (pqCand) — assert its BUILD plan
    // via the uncached hook, not the cached scan (the t05 lesson)
    val pc = VectorOps.pqCandUncached(spark, d)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(pc.contains("BroadcastHashJoin"), s"codebook must broadcast in the build:\n$pc")
    assert(pc.contains("dot_d"), "candidate distances go through the codegen expression")
    assert(!pc.contains("CartesianProduct"))
    val p = plan("v12_pq_adc_topk")
    assert(p.contains("partial_min"),
      s"codeword assignment must be a map-side min(struct) agg, not a window:\n$p")
    assert(p.contains("partial_sum"), "ADC sums must partial-agg map-side")
    assert(p.contains("BroadcastHashJoin"), "the LUT must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("e19: attribution is one events scan + one user_id window — no purchase×touch self-join") {
    val p = plan("e19_last_touch_attribution")
    val scans = "events\\.parquet".r.findAllIn(p).length
    assert(scans <= 1, s"expected a single events scan, got $scans:\n$p")
    assert(!p.contains("Join"),
      s"last-touch must carry via the window, never join purchases to touches:\n$p")
    assert(p.contains("partial_sum"), "revenue census partial-aggs map-side")
  }

  test("v24: IVFPQ routes codes↔cells through ONE keyed join; LUT×probes broadcast; no cartesian") {
    // the affinity routing table is memoized (centroidAffinity) —
    // assert ITS build plan via the uncached hook (the t05 lesson)
    val pa = VectorOps.centroidAffinityUncached(spark, d)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(pa.contains("dot_d"), s"affinity cosines go through the codegen expression:\n$pa")
    assert(pa.contains("BroadcastNestedLoopJoin"),
      "the 16-row centroid frame broadcasts against the corpus")
    val p = plan("v24_ivfpq_topk")
    // codes ⋈ cell-assignment is the ONE corpus×corpus join — keyed on
    // vec_id, so it must plan as a hash/sort-merge EQUI join, and the
    // 2,560-row LUT×probe frame must broadcast against it
    assert(p.contains("BroadcastHashJoin"), s"LUT×probes must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      "nothing corpus-scale may cross-join (centroids broadcast is BNLJ-free here)")
    assert(p.contains("partial_min"),
      "PQ codeword assignment stays a map-side min(struct) agg (v12's shape)")
    assert(p.contains("partial_sum"), "ADC sums partial-agg map-side")
  }

  test("v25: residual IVFPQ — train update is keyed partial-agg, codebooks broadcast, no cartesian") {
    val p = plan("v25_ivfpq_residual_topk")
    assert(p.contains("partial_min"),
      "both assignment passes (seed + trained) stay map-side min(struct) aggs")
    assert(p.contains("partial_sum"),
      "the Lloyd member-mean update and ADC sums partial-agg map-side")
    assert(p.contains("BroadcastHashJoin"), "codebook/centroid/LUT frames broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("dot_d"), "all distances go through the codegen expression")
  }

  test("v32: three codebook rungs fan out from ONE candidate scan via a tiny broadcast") {
    val p = plan("v32_ivfpq_codebook_curve")
    // the K dimension joins in as a broadcast (3-row ks frame), never a
    // per-K rescan; encode argmins and hit counts stay partial
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 3-row ks frame must broadcast:\n$p")
    assert(p.contains("partial_min"), "per-rung encode is a map-side min(struct) agg")
    assert(!p.contains("CartesianProduct"))
  }

  test("v33: the OPQ rotation is the codegen'd fwht, not an n² expression tree") {
    val pb = VectorOps.pqCandOpqUncached(spark, d)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(pb.contains("fwht"), s"the rotation must go through the Fwht expression:\n$pb")
    assert(!pb.contains("aggregate(sequence"),
      "no higher-order-function matrix product (the 64 KB codegen blowout)")
    assert(pb.contains("dot_d"), "distances stay on the codegen expression")
  }

  test("e26: CUPED moments are ONE partial aggregate; the 1-row frames broadcast") {
    val p = plan("e26_cuped_lift")
    assert(p.contains("partial_sum"), "per-user and moment sums stay map-side partial")
    assert(p.split("BroadcastNestedLoopJoin").length >= 3,
      s"the midpoint and pooled-moment 1-row frames must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"), "no window anywhere — pure keyed aggregation")
  }

  test("q59: the compaction trigger is one conditional aggregate per table, no joins") {
    val p = plan("q59_compaction_trigger")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-table accounting partial-aggs map-side")
    assert(!p.contains("Join"), s"accounting unions, never joins:\n$p")
    assert(p.contains("Union"))
  }

  test("q39: unpivot plans as a map-side Expand over the aggregate — no join, no extra shuffle") {
    val p = plan("q39_unpivot_metrics")
    assert(p.contains("Expand"), s"native unpivot must plan as Expand:\n$p")
    assert(!p.contains("Join"), "melt must not join")
    assert(p.contains("partial_sum"), "the metric aggregate stays map-side partial")
  }

  test("t28: filter census is one scan, map-only rules, one partial agg") {
    val p = plan("t28_filter_census")
    val scans = "documents\\.parquet".r.findAllIn(p).length
    assert(scans <= 1, s"expected a single documents scan, got $scans")
    assert(!p.contains("Join"), "rule evaluation must not join")
    assert(p.contains("partial_sum"), "per-rule counts must partial-agg map-side")
  }

  test("v13: truncated-dim coarse stage broadcasts queries and both stages use dot_d") {
    val p = plan("v13_truncated_rerank")
    assert(p.contains("BroadcastNestedLoopJoin"), "query side must broadcast")
    assert(p.split("dot_d").length >= 3, "coarse prefix dot and exact rerank both codegen")
    assert(!p.contains("CartesianProduct"))
  }

  test("e10: spike test rides the densified aggregate — events scanned once, window per type") {
    val p = plan("e10_spike_detection")
    val scans = "events\\.parquet".r.findAllIn(p).length
    assert(scans <= 1, s"expected at most one events scan (counts are memoized/aggregated), got $scans")
    assert(p.contains("Window"), "rolling stats must be a window, not a self-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q40: LATERAL decorrelates to a ranked join — no nested re-execution, no cartesian") {
    val p = plan("q40_lateral_topn")
    assert(p.contains("Window"), s"per-nation top-2 must become a window, not a loop:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "the dependent join must plan as a real join strategy")
  }

  test("e11: cumulative reach windows over the daily frame — no distinct-over-history, no cartesian") {
    val p = plan("e11_cumulative_reach")
    assert(p.contains("Window"), "running reach must be a cumulative window")
    assert(!p.contains("CartesianProduct"))
    // first-touch restatement: distinct users come from an aggregation,
    // never a COUNT(DISTINCT)-style expand over the window frame
    assert(!p.contains("Expand"), "no distinct-expand in the windowed stage")
  }

  test("t29: band thresholds broadcast back — the corpus never shuffle-joins itself") {
    val p = plan("t29_length_band_filter")
    assert(p.contains("BroadcastHashJoin"), "the |langs|-row threshold frame must broadcast")
    assert(!p.contains("CartesianProduct"))
    // the ranking window cumulates the (lang, n_chars) histogram, which
    // sits above a partial aggregate — never a per-document global sort
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "histogram must aggregate map-side before the cumulative window")
  }

  test("v14: centroid matrix joins the metadata-scale means frame on pos — no cartesian") {
    val p = plan("v14_centroid_distances")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "per-(label,pos) means must aggregate map-side")
  }

  test("t30: passage extents — gram count partial-aggs, islands window per doc, no cartesian") {
    val p = plan("t30_dup_passage_extents")
    assert(p.contains("Window"), "extent merging must be a per-doc window, not a self-join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"), "≥2-doc gram count must aggregate map-side")
  }

  test("e12: delay percentiles window the bounded histogram, thresholds broadcast, no cartesian") {
    val p = plan("e12_funnel_delays")
    assert(p.contains("Window"), "cumulative ranks must window the (transition, delay) histogram")
    assert(p.contains("BroadcastHashJoin"), "per-transition totals must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("t31: lexical census is two keyed partial aggs — no join, no window") {
    val p = plan("t31_lexical_diversity")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "token frequencies must aggregate map-side")
    assert(!p.contains("Join"), "the census is aggregation-only")
    assert(!p.contains("Window"))
  }

  test("m07: chunk near-dup joins on digests only — candidates from rare chunks, no cartesian") {
    val df = graft.multimodal.Multimodal.chunkNearDup(spark, d)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), "candidate generation must be digest-keyed")
    assert(p.contains("partial_count"), "chunk-frequency and intersection counts must partial-agg")
  }

  test("q41: scalar subqueries decorrelate to grouped aggs + joins — no per-row re-execution") {
    val p = plan("q41_scalar_subqueries")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"), "each subquery must become ONE grouped aggregation")
    assert(p.split("BroadcastHashJoin").length >= 3,
      s"both decorrelated aggregates must join back (broadcast at this scale):\n$p")
    // the c_acctbal > 0 predicate must reach the customer scan
    assert(p.matches("(?s).*PushedFilters: \\[.*GreaterThan\\(c_acctbal.*"), p)
  }

  test("q35: EXISTS/NOT EXISTS pair plans as LeftSemi + LeftAnti, filters pushed, no shuffle join") {
    val p = plan("q35_exists_not_exists")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as an anti join")
    assert(!p.contains("SortMergeJoin"), "filtered order keys must broadcast")
    // the priority/status predicates reach the orders parquet scans
    assert(p.matches("(?s).*PushedFilters: \\[.*EqualTo\\(o_orderpriority,1-URGENT\\).*"), p)
    assert(p.matches("(?s).*PushedFilters: \\[.*EqualTo\\(o_orderstatus,F\\).*"), p)
  }

  test("t32: keyed label join AQE-converts to broadcast when labels are small") {
    val p = plan("t32_leakage_safe_split")
    assert(!p.contains("CartesianProduct"), p)
    // labels come from the checkpointed t16 frame — the CC iteration
    // never re-runs for the split
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "labels must scan the checkpointed clustering")
    // the join is declared keyed (scale-safe for a labels frame of
    // data-dependent size); at fixture scale AQE must convert it to a
    // broadcast join at runtime — assert on the EXECUTED plan
    val df = graft.SparkEntry.all("t32_leakage_safe_split").fn(spark, d)
    df.collect()
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin"),
      s"AQE should broadcast the small labels side at runtime:\n$exec")
  }

  test("t36: probe side reads the persisted bigram frame and LM model; no cartesian") {
    val p = plan("t36_bigram_lm_score")
    // scoring = the persisted bigram frame ⋈ the persisted trained
    // model — the corpus is never re-parsed and the model never
    // retrains per scoring run
    assert(p.split("InMemoryTableScan").length >= 4,
      s"probe side and model must both read persisted frames:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the only unkeyed join is the broadcast 1-row V scalar inside model training")
    // training (nested under the model's InMemoryRelation) aggregates
    // the bigram/context counts map-side
    assert(p.contains("partial_count"),
      "bigram/context counts must partial-aggregate map-side")
  }

  test("t37: PSI runs on the checkpointed bucket frame — the corpus is never rescanned") {
    val p = plan("t37_source_quality_drift")
    assert(p.contains("ExistingRDD"),
      s"the (source, bucket) counts must come from the materialized frame:\n$p")
    assert(!p.contains("Scan parquet"),
      s"everything downstream of the bucket counts is metadata-scale — a parquet " +
        s"scan here means the corpus re-parses per consumer:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the only unkeyed join is the broadcast 1-row total")
  }

  test("t39: top-20 merges are TakeOrderedAndProject; counts partial-aggregate") {
    val p = plan("t39_bpe_merge_candidates")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be per-partition heaps, not a global sort:\n$p")
    assert(p.contains("partial_count"),
      "the corpus-scale token count must aggregate map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("t38: both sides read the shared gram index; the history join is keyed") {
    val p = plan("t38_novelty_vs_snapshot")
    assert(p.split("InMemoryTableScan").length >= 4,
      s"new half and history must both read the memoized gram index:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the seen-gram join must stay keyed on gid")
    assert(p.contains("partial_count"),
      "per-doc gram counts must partial-aggregate map-side")
  }

  test("t40: argmax runs on the checkpointed cluster frame; quality joins keyed; no cartesian") {
    val p = plan("t40_quality_canonical_keep")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"clusters must scan the checkpointed t16 labeling — the CC loop never re-runs:\n$p")
    assert(p.contains("Window"),
      "survivor selection must be a per-cluster window, not a self-join")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t41: corpus reads the shared posGram index, benchmark side broadcasts, islands window per doc") {
    val p = plan("t41_contamination_extents")
    assert(p.split("InMemoryTableScan").length >= 3,
      s"both sides must read the memoized positioned-gram index:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval-suite-bounded benchmark gram set must broadcast:\n$p")
    assert(p.contains("Window"),
      "extent merging must be a per-doc window, not a self-join")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t43: composes checkpointed clusters + memoized posGrams; membership joins keyed; no cartesian") {
    val p = plan("t43_curation_v2")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"member/keeper sets must come from the checkpointed t16 labeling:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the scrub subtree must read the memoized positioned-gram index:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the corpus raw text is scanned a CONSTANT number of times (base
    // census + t40's quality scan; t42's token side reads the memoized
    // stop-word checkpoint since round 15, so it no longer re-scans
    // parquet) — composition must not multiply parquet scans per
    // stage. Counted on the operator tree, not the explain string:
    // formatted explain prints each InMemoryTableScan's CACHED build
    // plan (posGram's original parquet scan included), which
    // string-matching would miscount as live scans.
    val scans = graft.SparkEntry.all("t43_curation_v2").fn(spark, d)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.length
    assert(scans == 2, s"expected 2 live parquet scans (base + t40 quality), got $scans:\n$p")
  }

  test("v16: benchmark side broadcasts, corpus side is one dot_d scan, agg is partial") {
    val p = plan("v16_semantic_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the suite-bounded benchmark side must broadcast:\n$p")
    assert(p.contains("dot_d"), "cosines must go through the codegen expression")
    assert(p.contains("partial_max"),
      "per-vector max/count must partial-aggregate map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus never shuffle-joins for the decontamination scan")
  }

  test("t05: language scoring is ONE codegen marker_counts pass, no regex in the plan") {
    val p = TextOps.langId(spark, d)
      .queryExecution.executedPlan.toString
    assert(p.contains("marker_counts"),
      s"scores must come from the fused expression:\n$p")
    // the replace-diff restatement prints as length(replace(h, w, ''))
    // per marker — distinct from norm()'s legitimate regexp_replace pair
    assert(!p.contains("length(replace"),
      s"the replace-diff restatement must not survive into the scoring plan:\n$p")
    // and the fused call must not have been duplicated per CASE branch
    // by projection collapse (the 10×-slower shape consumers avoid by
    // filtering a checkpoint of this frame)
    val nCalls = "marker_counts".r.findAllIn(p).length
    assert(nCalls <= 4, s"marker_counts duplicated $nCalls times in the build plan:\n$p")
  }

  test("t49: BM25 doc length is map-only, idf broadcasts, top-20 is TakeOrderedAndProject") {
    // the registered t49 reads the memoized postings checkpoint (whose
    // plan shows zero Generate nodes), so the re-explode locks assert
    // on the index BUILD plans
    val dlP = TextOps.docLengths(spark, d).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!"""\(\d+\) Generate""".r.findAllIn(dlP).hasNext,
      s"doc length must be map-only size(split(...)), never an explode:\n$dlP")
    val tfP = TextOps.buildProbePostings(spark, d).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert("""\(\d+\) Generate""".r.findAllIn(tfP).length == 1,
      s"the postings build is exactly ONE corpus explode:\n$tfP")
    // the scoring plan over the index: top-20 via per-partition heaps
    val p = plan("t49_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-20 must never be a global sort:\n$p")
  }

  test("e16: quintile thresholds broadcast back; no global NTILE window over users") {
    val p = plan("e16_rfm_segments")
    assert(!p.contains("ntile"), "no NTILE — thresholds come from bounded histograms")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row threshold frames must broadcast:\n$p")
  }

  test("q42: bucketed fact-fact join has NO shuffle exchange on either fact side") {
    // the deployed layout (Bucketing.factTables) delivers the hash
    // distribution from the scan — SCALE.md's "both sides bucketed on
    // orderkey to delete that exchange too", frozen as a plan property.
    // Asserted on the EXECUTED plan operator tree so AQE can't hide an
    // exchange the formatted explain would miss.
    // string-based over the AQE final plan: AdaptiveSparkPlanExec hides
    // query-stage subtrees from TreeNode.collect, but the printed plan
    // shows them
    val df = graft.SparkEntry.all("q42_bucketed_revenue").fn(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"fact-fact join must stay sort-merge:\n$p")
    // the ONLY legal exchanges are the post-join aggregation/sort ones;
    // an exchange hash-partitioned on either orderkey means a fact side
    // shuffled — the exact thing the bucketed layout deletes
    assert(!p.contains("hashpartitioning(l_orderkey") &&
           !p.contains("hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle either fact side:\n$p")
    // both scans must carry the bucket distribution, all buckets selected
    assert("Bucketed: true".r.findAllIn(p).length >= 2,
      s"both fact scans must be bucketed:\n$p")
  }

  test("q43: data-derived probe keys dynamically prune the partitioned fact scan") {
    // the probe side (top-2 priorities BY COUNT) is not a literal, so
    // only DPP — a runtime dynamicpruning subquery feeding the scan's
    // PartitionFilters — can prune; a plan without it reads all 5
    // partitions for a 2-partition answer
    val df = graft.SparkEntry.all("q43_partition_pruned_revenue").fn(spark, d)
    val rows = df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"the partitioned scan must carry a dynamic pruning filter:\n$p")
    assert(rows.length == 2)
  }

  test("m09: band candidates hash-join on band keys; signature aggregates partially") {
    // against the UNCACHED build: the registered fn serves the
    // m_simhash_pairs artifact since round 18, so its plan is a scan
    // and any lock on it would be vacuous (the t49 vacuity rule)
    val p = graft.multimodal.Multimodal.chunkSimhashPairsUncached(spark, d)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"the 60 conditional sums must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must meet on band-key equality, never all-pairs")
  }

  test("k01: KMV K-smallest is the two-level salted tournament, never one global window") {
    val p = plan("k01_kmv_distinct")
    // two Window nodes: the salted level-1 and the bounded level-2
    assert(p.split("\\(\\d+\\) Window").length >= 3,
      s"both tournament levels must appear as Window nodes:\n$p")
    assert(p.contains("partial_"), "distinct + counts must partial-aggregate")
  }

  test("k02: the d x w sketch broadcasts; the build aggregates partially") {
    val p = plan("k02_cms_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"the structurally-bounded 2048-row sketch must broadcast:\n$p")
    assert(p.contains("partial_sum"), "bucket sums must combine map-side")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-10 candidate cut must be TakeOrderedAndProject, not a global sort")
  }

  test("k06: bitmap words partial-aggregate; no count-distinct over raw events") {
    val p = plan("k06_bitmap_window_distinct")
    assert(p.contains("partial_bit_or") || p.contains("bit_or"),
      s"bitmap OR must be an aggregate:\n$p")
    assert(p.contains("partial_sum"), "popcount sums must combine map-side")
    // the output COLUMN is named n_distinct; what must be absent is a
    // distinct AGGREGATE (planned as count(distinct ...))
    assert(!p.contains("count(distinct"),
      s"no distinct pass — OR idempotence replaces it:\n$p")
  }

  test("q45: dims broadcast under the view; the inc merge re-aggregates view-size partials") {
    val p = plan("q45_incremental_view")
    assert(p.contains("BroadcastHashJoin"), "customer x nation dims must broadcast")
    assert(p.contains("Union"), "the merge path must union the two partial aggregates")
    assert(p.contains("partial_sum"), "all three aggregates partial map-side")
  }

  test("q46: the Morton cover broadcasts; the box's bounding ranges reach the scan") {
    val p = plan("q46_zorder_box")
    assert(p.contains("BroadcastHashJoin"),
      s"the 51-cell cover must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "no shuffle join against a metadata-scale cover")
    // the z-range pushdown made literal (round 16): on a z-sorted layout
    // these PushedFilters are the file-skipping ranges
    assert(p.matches("(?s).*PushedFilters: \\[.*GreaterThanOrEqual\\(o_totalprice.*"),
      s"the box's price range must push down to the scan:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[.*o_orderdate.*"),
      s"the box's date range must push down to the scan:\n$p")
  }

  test("p01/p07: rank/degree frames join keyed (never forced broadcast); no cartesian") {
    for (df <- Seq(GraphOps.pagerank(spark, d), GraphOps.personalizedPagerank(spark, d))) {
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"message passing must ride equi-joins:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        "the top-k cut must be TakeOrderedAndProject")
    }
  }

  test("t65: permutation sorts stay per-(epoch, shard); the only range exchange is the readout") {
    val p = plan("t65_epoch_shuffle")
    assert(p.contains("hashpartitioning(epoch"),
      s"the window must exchange on (epoch, shard) — the shard is the parallel unit:\n$p")
    // the permutation sort (the one ordering by the salted hash `eh`)
    // must be partition-local: `Arguments: [... eh#... ...], false, 0`
    assert("Arguments: \\[epoch[^\\]]*eh#[^\\]]*\\], false, 0".r.findFirstIn(p).isDefined,
      s"the permutation sort must be partition-local (global=false):\n$p")
    assert("rangepartitioning".r.findAllMatchIn(p).size <= 1,
      s"more than one range exchange — a corpus-scale global sort crept in:\n$p")
  }

  test("p09/p10: register propagation ships BYTE-packed messages (binary payload, hash-agg merge)") {
    // the round-14 width cut: the |E|-row join output and the partial-
    // agg exchange must carry the 64-BYTE packed registers, never the
    // ~272 B array<int> encoding (the registered p09/p10 plans show
    // only checkpoint scans, so the lock runs on the round probe)
    val probe = GraphOps.hyperballRoundProbe(spark, d)
    assert(probe.schema("regsb").dataType ==
      org.apache.spark.sql.types.BinaryType,
      "messages must be binary-packed")
    val p = probe.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ObjectHashAggregate"),
      s"the RegMaxB merge must hash-aggregate (map-side partial):\n$p")
    assert(p.toLowerCase.contains("regmaxb"),
      s"the RegMaxB udaf must drive the merge:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("p04: loop joins read the cached pre-partitioned edges with NO per-round exchange") {
    // the SCALE.md claim "iterative loops shuffle the edge frame once,
    // ever": the edge frame's ONE intentional repartition lives inside
    // the InMemoryRelation (REPARTITION_BY_COL); a round that needed
    // the edges re-shuffled would carry an `Exchange
    // hashpartitioning(src…), ENSURE_REQUIREMENTS`. Asserted on the
    // EXECUTED plan (the initial plan still plants those exchanges —
    // the cached relation's partitioning is unknown until its stage
    // materializes — and AQE's re-optimization deletes them at runtime,
    // which is itself part of the claim), with broadcast joins disabled:
    // at fixture scale AQE would otherwise broadcast the tiny label
    // frame and the 100 TB-relevant SMJ path would go untested. Scoped
    // to p04 because its cache build plan is the one with NO legitimate
    // src exchange of its own (p01/p05 derive degree/self-loops inside
    // theirs, which the executed-plan string includes).
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // round 12: the adaptive loop materializes each round via
      // localCheckpoint, so the REGISTERED p04 plan is only the final
      // readout over a checkpoint scan — the probe rebuilds one full
      // round from the loop's own factored bodies over the same cached
      // edge frame, where the exchange discipline is assertable
      val df = GraphOps.lpFullRoundProbe(spark, d)
      df.collect() // materialize THIS plan (count() would plan its own)
      val full = df.queryExecution.executedPlan.toString
      // assert on the runtime FINAL plan only: AdaptiveSparkPlan prints
      // its pre-AQE "Initial Plan" after the final one (that section
      // legitimately carries the planted exchanges AQE then deletes).
      // The OUTER marker is the unindented one — nested cached
      // relations print their own indented Initial sections
      val cut = full.indexOf("\n+- == Initial Plan ==")
      val p = if (cut < 0) full else full.substring(0, cut)
      assert(p.contains("InMemoryTableScan"),
        s"p04 must read the persisted edge frame:\n$p")
      // shuffle_hash hint (round 11): the keyed join must engage as a
      // SHUFFLED HASH join — SMJ here would re-sort the full edge frame
      // every round for nothing (both sides arrive pre-partitioned)
      assert(p.contains("ShuffledHashJoin"),
        s"broadcast disabled: the keyed hash-join path must engage:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"the loop must not pay per-round edge sorts:\n$p")
      assert(p.matches("(?s).*hashpartitioning\\(src[^\\n]*REPARTITION_BY_COL.*"),
        s"p04 must carry the one intentional edge repartition:\n$p")
      assert(!p.matches("(?s).*hashpartitioning\\(src[^\\n]*ENSURE_REQUIREMENTS.*"),
        s"p04 re-shuffles the edge frame inside the loop:\n$p")
      // ONE exchange per round: the explicit dst repartition feeds BOTH
      // the (dst, lbl) count and the per-dst mode pick (hash on a
      // subset of the group keys clusters every group) — an
      // ENSURE_REQUIREMENTS exchange on dst would mean the agg pair
      // went back to shuffling twice per round
      assert(!p.matches("(?s).*hashpartitioning\\(dst[^\\n]*ENSURE_REQUIREMENTS.*"),
        s"p04's agg pair must ride the one explicit dst repartition:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("q58: observed metrics ride the result's own scan — CollectMetrics, ONE lineitem read") {
    val p = Relational2.observedShape(spark, d)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("CollectMetrics"),
      s"the observation must plan as a CollectMetrics node:\n$p")
    assert("lineitem\\.parquet".r.findAllIn(p).length <= 1,
      s"the audit must NOT re-scan the table (one scan total):\n$p")
    assert(p.contains("PushedFilters"), "the filter still pushes below the metrics node")
  }

  test("g16: the dimension filter pushes INTO the database scan") {
    val p = plan("g16_federated_join")
    assert(p.contains("JDBCRelation"),
      s"the dim side must be a real federated JDBC scan:\n$p")
    assert(p.contains("EqualTo(n_regionkey,1)"),
      s"the region filter must push into Derby's WHERE clause:\n$p")
    assert(p.contains("BroadcastHashJoin"), "the filtered 5-row dim must broadcast")
  }

  test("q48: typed top-k plans as a partial object aggregate, no window") {
    val p = plan("q48_typed_topk")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"the Aggregator must plan as a typed aggregate:\n$p")
    assert(!p.matches("(?s).*\\(\\d+\\) Window.*"),
      s"the bounded-buffer path must not fall back to a rank window:\n$p")
    assert(p.contains("partial"), "the ≤k buffer must combine map-side")
  }

  test("g20: the fact scan fans out as 8 ranged JDBC partitions") {
    val p = plan("g20_partitioned_fed_scan")
    assert(p.contains("JDBCRelation"),
      s"the fact side must be a real federated JDBC scan:\n$p")
    assert(p.contains("numPartitions=8"),
      s"the scan must carry the ranged 8-way fan-out (one stride query " +
        s"per task), not a single-connection read:\n$p")
  }

  test("g17: the aggregation executes inside the database relation") {
    val p = plan("g17_federated_agg_pushdown")
    assert(p.contains("JDBCRelation((SELECT"),
      s"the scan relation must BE the aggregate subquery (Derby computes it):\n$p")
    assert(p.contains("n_nations"),
      s"the database-computed count must flow from the relation:\n$p")
  }

  test("p02: adjacency closure rides hash equi-joins on oriented endpoints") {
    val df = graft.SparkEntry.all("p02_triangle_count").fn(spark, d)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"),
      s"triangle closure must be equi-join, never all-pairs:\n$p")
    assert(p.contains("array_intersect"),
      s"closure must be the in-partition adjacency intersection:\n$p")
  }

  test("t59: one documents scan; chunks meet by digest, never all-pairs") {
    val p = plan("t59_rag_chunking")
    // the chunk frame is localCheckpoint'ed once and feeds both the
    // census and the digest-share join — a second raw-text scan would
    // mean the explode re-runs per consumer
    assert(p.split("Scan parquet").length - 1 <= 1,
      s"documents must scan at most once (checkpoint reuse):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"chunk dedup must be digest-keyed, never all-pairs:\n$p")
  }

  test("v37: the probe expansion broadcasts the 4-row range; no corpus cartesian") {
    val p = plan("v37_ivf_probe_recall_curve")
    // the only nested-loop join allowed is against the 4-row n_probes
    // frame and the broadcast query sides — the corpus must never meet
    // itself outside cells
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the probe/query sides must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unbroadcast corpus pairing:\n$p")
    assert(p.contains("dot_d"), s"scoring must ride the codegen expression:\n$p")
  }

  test("v36: the trigger reads the routing artifact — no vector pair scan") {
    val df = graft.SparkEntry.all("v36_ivf_compaction_trigger").fn(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"v36 must read the memoized affinity frame:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"accounting is keyed aggregates, never pairs:\n$p")
  }

  test("t60: packing is one documents scan, shard-keyed windows, no join at all") {
    val p = plan("t60_sequence_packing")
    assert("documents\\.parquet".r.findAllIn(p).length <= 1,
      s"one corpus scan total:\n$p")
    assert(!p.contains("Join"), "packing is windows + aggregation — never a join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Window"), "per-shard prefix sums must plan as windows")
    // the shard hash is the ONE data exchange; the window partitioning
    // then serves the (shard, seq_id) aggregation (subset clustering),
    // and only the presentation sort may exchange after it
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).length <= 2,
      s"one shard exchange + the presentation sort, nothing more:\n$p")
  }

  test("q52: the signature self-join exchanges 64-bit keys, never name strings") {
    // the BUILD plan of the checkpointed candidate frame (the composed
    // q52 plan shows only the ExistingRDD scan)
    val p = Relational2.fuzzyCandUncached(
        graft.tables.Tables.customer(spark, d)
          .select(col("c_custkey").as("id"), col("c_name").as("nm")))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("xxhash64"),
      s"signatures must hash to 64-bit keys before the shuffle:\n$p")
    // every exchange key set must ride the hashed key (or the bare ids
    // downstream) — NEVER the raw string signature or the name (the
    // old shape shuffled the 19×-exploded (sig STRING, id, nm) rows).
    // At fixture scale AQE broadcasts the self-join itself, so the
    // stable invariant is the KEY COLUMNS of whatever exchanges remain.
    val keys = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
    assert(keys.exists(_.contains("sig64")),
      s"the signature dedup/join must key on the 64-bit hash:\n$p")
    assert(keys.forall(k => !k.contains("sig#") && !k.contains("nm#")),
      s"no exchange may key on the raw signature/name strings: $keys")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e05: top-5 cut is TakeOrderedAndProject; rank window runs on the 5-row frame only") {
    val df = graft.SparkEntry.all("e05_top_users_by_value").fn(spark, d)
    val p = plan("e05_top_users_by_value")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-5 must plan as per-partition heaps, not a global sort:\n$p")
    // every Window must sit ABOVE the limit — the old shape ran
    // row_number over the FULL per-user aggregate in one task (the
    // r12 bench tail's "Window operation!" WARN was this query)
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "the rank window must still exist")
    windows.foreach { w =>
      assert(w.exists(_.isInstanceOf[GlobalLimit]),
        s"window must consume the 5-row limited frame, not all users:\n$w")
    }
  }

  test("t62: the per-epoch gradient is ONE map-side partial aggregate — no joins, no feature matrix") {
    // the graded t62 frame is checkpoint-backed (training runs at build
    // time), so the pinned plan is the live gradient aggregate itself
    val p = TextOps.t62GradientProbe(spark, d)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("partial_sum"),
      s"gradient sums must combine map-side:\n$p")
    assert("documents\\.parquet".r.findAllIn(p).length <= 1,
      s"one feature scan per epoch, never more:\n$p")
    assert(!p.contains("Join"), "gradient epoch must not join")
    assert(!p.contains("Window"), "gradient epoch must not window")
    assert("Exchange \\(\\d+\\)".r.findAllIn(p).length <= 1,
      s"only the final 1-row agg exchange is allowed:\n$p")
  }

  test("t15's embedding signal: cell-keyed pair join — no theta self-join anywhere") {
    // the BUILD plan of the bucketed pair source (the memoized frame
    // would show only a checkpoint scan — the t05 cached-plan lesson)
    val b = VectorOps.cellCosineNearDupPairsUncached(spark, d)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!b.contains("CartesianProduct"),
      s"candidate pairs must meet in cells, never all-pairs:\n$b")
    assert(!b.contains("BroadcastNestedLoopJoin"),
      s"the corpus must never meet itself unkeyed:\n$b")
    assert(b.contains("dot_d"), "scoring must ride the codegen expression")
    // and the composed t15 plan itself carries no unkeyed join
    val p = plan("t15_multi_signal_dedup")
    assert(!p.contains("CartesianProduct"), s"t15 must stay fully keyed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"t15 must not ride the O(n²) calibration frame:\n$p")
  }
}
