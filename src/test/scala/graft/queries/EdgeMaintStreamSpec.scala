package graft.queries

import graft.streaming.Replay
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once lock on s29's maintained edge index: the first-seen
  * dedup state must absorb BOTH at-least-once redelivery (the whole
  * source replayed in a second micro-batch) and genuine repeat trades
  * (the same pair on different lines), emitting every distinct edge to
  * the sink exactly once.
  */
class EdgeMaintStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.session

  test("doubled delivery and repeat pairs emit each edge exactly once") {
    graft.TempDirs.withTempDir("graft_em_spec") { root =>
      import spark.implicits._
      // order 1 (cust 100) trades supp 10 twice (two lines); order 2
      // (cust 200) trades supps 10 and 11 → 3 distinct edges
      val lines = Seq((1L, 10L), (1L, 10L), (2L, 10L), (2L, 11L))
        .toDF("l_orderkey", "l_suppkey").coalesce(1)
      val src = root.resolve("src").toString
      lines.write.parquet(src)                      // delivery 1
      lines.write.mode("append").parquet(src)       // redelivery (dup file)
      val ordersStatic = Seq((1L, 100L), (2L, 200L))
        .toDF("o_orderkey", "o_custkey")
      val r = Replay.drain(spark, src, lines.schema, Replay.Memory("graft_em_spec_edges"))(
        StreamOps.edgeMaintPlan(ordersStatic))
      val (edges, nBatches) = (r.out, r.batches)
      assert(nBatches >= 2, s"redelivery must arrive in its own micro-batch: $nBatches")
      val got = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val expected = Seq((200L, 21L), (400L, 21L), (400L, 23L))
      assert(got.sorted == expected.sorted,
        s"sink must hold each edge EXACTLY once (8 rows delivered): $got")
    }
  }
  test("artifact fold-shape tag is locked to the fold's source (the s31 rule)") {
    // the persisted edge set must be invalidated when the fold or the
    // replay changes — the tag is derived from the defs' source, so an
    // edit without a bump fails here and prints the value to paste
    val want = FoldTagLock.expectedTag("emf",
      "src/main/scala/graft/queries/StreamOps.scala",
      Seq("def liPairStreamSource", "def edgeMaintPlan", "def streamEdgeMaintenance"))
    assert(StreamOps.EdgeMaintFoldTag == want,
      s"fold source changed: bump StreamOps.EdgeMaintFoldTag to \"$want\" " +
        "(the persisted edge_maint artifact must be invalidated with it)")
  }
}
