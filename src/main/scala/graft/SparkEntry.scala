package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
import graft.queries.{EventOps, Generated, GraphOps, MediaOps, QueryDef, Relational, Relational2, SketchOps, StreamOps, TextOps, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query surface is assembled from the operator modules; each entry
  * pairs a Spark implementation with a DuckDB-oracle SQL twin (where the
  * op is expressible in portable SQL — see QueryDef).
  */
object SparkEntry {

  /** Queries whose repeat call skips their build because it reads state
    * that outlives the call — their WARM bench number measures a
    * readout, not the pipeline (the honest build cost is the COLD
    * number). Bench emits the flag into bench_detail.json and
    * tools/benchcmp.py grades these queries' COLD for build-path
    * regressions.
    *
    * Audit criterion (the memo keep rule): a registered query's RESULT
    * is never memoized — every fn computes its answer on each call. A
    * name stays here only when that answer reads state that outlives
    * the call:
    *  - a Derby deployment or live load held by family g's memos
    *    (Generated.liveCache/armedFullCache), which this checkout cannot
    *    verify without the reference DDL;
    *  - a cross-run ArtifactStore.loadOrBuild artifact whose build the
    *    first call pays: the answer is a sorted scan of it, a census
    *    over it, or the top-k served from it.
    * Queries that re-run real per-call work over shared input state
    * (scratch stream sources, gram/postings indexes, edge frames) are
    * not flagged — their warm IS the pipeline cost. */
  val memoServed: Set[String] = Set(
    // Derby deployments and live loads (family g)
    "g07_jdbc_roundtrip", "g08_armed_wave_load", "g09_armed_full_catalog",
    "g10_deferred_fk_link", "g13_merge_upsert", "g14_schema_evolution",
    "g15_idempotent_sink", "g18_transactional_rollback",
    "g19_optimistic_concurrency", "g21_partitioned_readback_audit",
    // a sorted scan of the query's own artifact: minhash_sig, lsh_pairs,
    // cos_pairs, m_simhash_pairs, media_clusters
    "t02_minhash_signatures", "t03_lsh_near_dup_pairs",
    "v02_cosine_near_dup_pairs", "m09_chunk_simhash_pairs",
    "m10_media_dup_clusters",
    // a census over a maintained index artifact: rolled_bands,
    // rolled_bands_s2, reaped_bands, rolled_ann, rolled_ann_s2,
    // reaped_ann, edge_maint, inc_cc, capped_adj2
    "t68_index_roll", "t69_band_roll_roll", "t70_band_reap",
    "v44_ann_index_roll", "v46_ann_roll_roll", "v47_ann_reap",
    "s29_stream_edge_maintenance", "s31_stream_incremental_cc",
    "s32_stream_capped_adjacency",
    // top-k served from an ANN index artifact: ann_index, rolled_ann,
    // reaped_ann
    "v43_ann_persisted_index", "v45_ann_rolled_serve", "v48_ann_reaped_serve")

  /** All registered operators of the engine. */
  val all: Map[String, QueryDef] = {
    val raw =
      Relational.defs ++ Relational2.defs ++ TextOps.defs ++ VectorOps.defs ++
        EventOps.defs ++ Generated.defs ++ MediaOps.defs ++ StreamOps.defs ++
        SketchOps.defs ++ GraphOps.defs
    val unknown = memoServed.diff(raw.keySet)
    require(unknown.isEmpty, s"memoServed names not registered: $unknown")
    raw
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops and for
    * an oracle that cannot be built (g12's, without the reference DDL). */
  def oracleSql: Map[String, String] = oracles((_, _) => ())

  /** [[oracleSql]], handing each oracle that throws to `onError`. */
  private[graft] def oracles(onError: (String, Throwable) => Unit): Map[String, String] =
    all.flatMap { case (k, v) =>
      try v.oracle.map(k -> _)
      catch { case NonFatal(e) => onError(k, e); None }
    }
}
