package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** A registered query's result is never memoized, so every call builds
  * its answer. For each query whose result (or a result it composes)
  * used to be served from a session memo, a second call in the same
  * session must collect the same rows, must leave the cache manager no
  * fuller than the first call did and must leave no new `graft_*`
  * scratch dir behind. A persist without an owner can still hide from
  * the count — the cache manager keeps one entry per plan, and a repeat
  * call builds the same plans — so after `Memos.clearAll` the cache
  * manager must be back to its size before the first call: every frame
  * a call persists is held by a memo or released before it returns. */
class RepeatCallSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.session
  // the benchmark's byte-for-byte copy of the sf0.001 fixture, read only;
  // tests run from the repository root
  val d = "perfbench/fixture/sf0.001"

  // family g is out: its Derby deployments stay memoized, and its defs
  // parse the reference DDL script
  private lazy val defs: Map[String, QueryDef] =
    Relational.defs ++ Relational2.defs ++ TextOps.defs ++ VectorOps.defs ++
      EventOps.defs ++ MediaOps.defs ++ StreamOps.defs ++ SketchOps.defs ++ GraphOps.defs

  private val Names = Seq(
    "e08_gap_filled_series", "e12_funnel_delays",
    "m07_chunk_near_dup", "m09_chunk_simhash_pairs", "m10_media_dup_clusters",
    "p01_pagerank", "p04_label_propagation", "p06_common_neighbors",
    "p07_personalized_pagerank", "p12_lp_delta_accounting",
    "q49_cow_upsert", "q51_basket_rules", "q52_fuzzy_blocked_match",
    "q55_mor_time_travel", "q57_mor_compaction", "q58_observed_metrics",
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
    "s33_stream_trained_gate", "s34_stream_bpe_census",
    "t02_minhash_signatures", "t03_lsh_near_dup_pairs", "t05_lang_id",
    "t12_lang_confusion", "t13_simhash_near_dup", "t14_corpus_curation",
    "t16_dup_clusters", "t22_token_budget_select", "t27_trigram_familiarity",
    "t32_leakage_safe_split", "t34_cc_star_clusters", "t40_quality_canonical_keep",
    "t42_stopword_quality", "t43_curation_v2", "t47_split_integrity",
    "t49_bm25_topk", "t52_cc_auto_clusters", "t58_curation_waterfall",
    "t62_trained_quality_scorer", "t63_trained_gate_apply", "t67_delta_dedup",
    "t68_index_roll", "t69_band_roll_roll", "t70_band_reap",
    "t71_nightly_maintenance", "t72_reaped_delta_dedup",
    "v02_cosine_near_dup_pairs", "v25_ivfpq_residual_topk",
    "v38_ivf_compaction_rebuild", "v39_cell_pair_recall",
    "v41_sampled_pair_recall", "v42_hard_negative_mining",
    "v43_ann_persisted_index", "v44_ann_index_roll", "v45_ann_rolled_serve",
    "v46_ann_roll_roll", "v47_ann_reap", "v48_ann_reaped_serve")

  /** SHA-256 over the schema and the rows, the rows sorted by their
    * rendering so a tie in a query's own sort key cannot flake. */
  private def digest(df: org.apache.spark.sql.DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.schema.simpleString.getBytes("UTF-8"))
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.foreach(r => md.update(("\n" + r).getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Entries the session's cache manager holds (persisted plans). */
  private def cachedEntries: Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.immutable.IndexedSeq[_]].size
  }

  private def scratchDirs: Set[String] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.list()).toSet.flatten.filter(_.startsWith("graft_"))
  }

  test("the covered names are registered") {
    assert(Names.filterNot(defs.contains).isEmpty)
  }

  Names.foreach { name =>
    test(s"$name: a repeat call recomputes the same rows and leaks no cache entry or scratch dir") {
      val fn = defs(name).fn
      graft.Memos.clearAll()
      val cachedBefore = cachedEntries
      val first = digest(fn(spark, d))
      val cachedAfterFirst = cachedEntries
      val dirsAfterFirst = scratchDirs
      val second = digest(fn(spark, d))
      assert(second == first, s"$name: the repeat call collected different rows")
      assert(cachedEntries <= cachedAfterFirst,
        s"$name: the repeat call left ${cachedEntries - cachedAfterFirst} more cached plans")
      val leaked = scratchDirs -- dirsAfterFirst
      assert(leaked.isEmpty, s"$name: the repeat call left scratch dirs ${leaked.mkString(", ")}")
      graft.Memos.clearAll()
      assert(cachedEntries == cachedBefore,
        s"$name: ${cachedEntries - cachedBefore} persisted plans outlive the memos")
    }
  }
}
