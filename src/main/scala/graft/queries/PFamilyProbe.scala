package graft.queries

/** Build-vs-readout attribution for the p family (round-15 brief #1):
  * times each SHARED derived frame's first materialization as its own
  * line, then every registered p query twice (first = core over warm
  * shared frames [+ result-memo build for p01/p04/p07/p12]; second =
  * what Bench's warm pass measures). All frames come from the
  * PRODUCTION cached builders — the Q52Probe rule: a copy-pasted probe
  * pipeline drifts from the real one within a round.
  *
  * Reading the output: `shared:` lines are paid ONCE per session and
  * land inside whichever registered query touches them first in a cold
  * sweep (alphabetical: p01 pays bipartite+pagerankEdges, p02 pays
  * partEdges, p03 partDegrees, p05 bfsEdges, p06 cappedAdj, p11
  * ssspEdges) — full-run graded numbers charge them to those queries.
  * `query:` pass-1 minus pass-2 is each query's own memo/build cost;
  * pass 2 is the per-invocation plan cost Bench grades.
  *
  * Usage: runMain graft.queries.PFamilyProbe [sfDir] */
object PFamilyProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    graft.Harness.withSession(cpus, logLevel = "ERROR") { spark =>
      def t(kind: String, label: String)(body: => Long): Unit = {
        val t0 = System.nanoTime()
        val rows = body
        println(f"[pprobe] $kind%-7s $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s ($rows rows)")
      }
      // shared frames, in the order a cold alphabetical sweep first
      // touches them (so line k's cost is marginal given lines < k)
      t("shared", "bipartite_artifact")(GraphOps.bipartiteEdges(spark, sfDir).count())
      t("shared", "pagerank_edges_persist")(GraphOps.pagerankEdgesCached(spark, sfDir).count())
      t("shared", "part_edges_artifact")(GraphOps.partEdges(spark, sfDir).count())
      t("shared", "part_degrees")(GraphOps.partDegrees(spark, sfDir).count())
      t("shared", "bfs_edges_persist")(GraphOps.bfsEdgesCached(spark, sfDir).count())
      t("shared", "lp_edges_persist")(GraphOps.lpEdgesCached(spark, sfDir).count())
      t("shared", "sssp_edges_persist")(GraphOps.weightedEdgesCached(spark, sfDir).count())
      val pq = graft.SparkEntry.all.toSeq.filter(_._1.startsWith("p")).sortBy(_._1)
      for (pass <- 1 to 2; (name, qd) <- pq)
        t(s"query$pass", name)(qd.fn(spark, sfDir).count())
    }
  }
}
