package perfbench

import graft.queries._

/** The query surface `query-cold` draws from.
  *
  * `SparkEntry.all` cannot be built in a checkout without the reference
  * DDL script (`Generated.defs` parses it eagerly), and family `g` needs
  * that script anyway, so the registry here is the nine other modules.
  * [[MemoServed]] pins `SparkEntry.memoServed` minus its `g` names; a
  * pinned name that is no longer registered fails the run.
  */
object Registry {
  val MemoServed: Set[String] = Set(
    "p01_pagerank", "p04_label_propagation", "p07_personalized_pagerank",
    "p12_lp_delta_accounting",
    "q49_cow_upsert", "q51_basket_rules", "q52_fuzzy_blocked_match",
    "q55_mor_time_travel", "q57_mor_compaction",
    "t02_minhash_signatures", "t03_lsh_near_dup_pairs", "t13_simhash_near_dup",
    "t16_dup_clusters", "t22_token_budget_select", "t34_cc_star_clusters",
    "t42_stopword_quality", "t58_curation_waterfall", "t62_trained_quality_scorer",
    "t67_delta_dedup", "t68_index_roll", "t69_band_roll_roll",
    "t70_band_reap", "t71_nightly_maintenance", "t72_reaped_delta_dedup",
    "v02_cosine_near_dup_pairs", "v38_ivf_compaction_rebuild",
    "v43_ann_persisted_index", "v44_ann_index_roll", "v45_ann_rolled_serve",
    "v46_ann_roll_roll", "v47_ann_reap", "v48_ann_reaped_serve",
    "m07_chunk_near_dup", "m09_chunk_simhash_pairs", "m10_media_dup_clusters",
    "s06_stream_jdbc_sink", "s07_stream_restart_sessions", "s08_stream_near_dup",
    "s09_stream_decontaminate", "s11_stream_quality_gate",
    "s12_stream_sketch_maintenance", "s13_stream_chunk_census",
    "s14_stream_retrieval_score", "s15_stream_semantic_decontam",
    "s16_stream_index_maintenance", "s20_stream_view_maintenance",
    "s21_stream_late_accounting", "s22_stream_source_quota",
    "s23_stream_left_outer", "s24_stream_hll_distinct", "s25_stream_cusum_drift",
    "s26_stream_cdc_ingest", "s27_stream_compaction_trigger",
    "s28_stream_hist_quantiles", "s29_stream_edge_maintenance",
    "s30_stream_sequence_packing", "s31_stream_incremental_cc",
    "s32_stream_capped_adjacency", "s33_stream_trained_gate",
    "s34_stream_bpe_census")

  lazy val all: Map[String, QueryDef] = {
    val defs = Relational.defs ++ Relational2.defs ++ TextOps.defs ++ VectorOps.defs ++
      EventOps.defs ++ MediaOps.defs ++ StreamOps.defs ++ SketchOps.defs ++ GraphOps.defs
    val missing = MemoServed.diff(defs.keySet)
    require(missing.isEmpty, s"pinned memo-served names not registered: $missing")
    defs
  }

  /** The `query-cold` sample: one memo-served query from each of the four
    * largest memo-served families (q, s, t, v hold 53 of the 60 names).
    * Families m (3) and p (4) are left out, and the sample is kept to one
    * name per family, so that a cold pass fits the benchmark's time
    * budget. */
  val Cold: Seq[String] = Seq("q52_fuzzy_blocked_match", "s20_stream_view_maintenance",
    "t34_cc_star_clusters", "v45_ann_rolled_serve")
  require(Cold.forall(MemoServed), "the cold sample must be memo-served")
}
