package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Transactional-refresh lock on s20's view maintenance: merges are
  * exactly-once (the marker ledger refuses a replayed batch) and the
  * merge algebra is correct (two deltas fold to the same view as one
  * combined aggregation).
  */
class ViewMaintenanceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.session

  private def mkBatch(rows: Seq[(Long, Double)]) = {
    import spark.implicits._
    rows.toDF("user_id", "value")
  }

  test("replaying a committed batch leaves the view byte-identical") {
    graft.TempDirs.withTempDir("graft_vm_spec") { root =>
      val b0 = mkBatch(Seq((1L, 10.0), (2L, 5.5)))
      val b1 = mkBatch(Seq((1L, 2.25), (3L, 7.0)))
      StreamOps.applyViewDelta(spark, root, b0, 0L)
      StreamOps.applyViewDelta(spark, root, b1, 1L)
      def snap() = spark.read.parquet(root.resolve("view").toString)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDecimal(2).doubleValue())).sortBy(_._1).toSeq
      val before = snap()
      assert(before == Seq((1L, 2L, 12.25), (2L, 1L, 5.5), (3L, 1L, 7.0)),
        s"merge algebra broke: $before")
      // the retry: the restarted driver redelivers batch 0
      StreamOps.applyViewDelta(spark, root, b0, 0L)
      assert(snap() == before, "the ledger must refuse a committed batch")
      // a NEW batch still lands after the refusal
      StreamOps.applyViewDelta(spark, root, mkBatch(Seq((2L, 1.0))), 2L)
      assert(snap() == Seq((1L, 2L, 12.25), (2L, 2L, 6.5), (3L, 1L, 7.0)))
    }
  }
}
