package graft.queries

import org.apache.logging.log4j.core.LogEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once lock on s26's CDC ingest: the marker ledger refuses a
  * redelivered micro-batch, commits are order-free (the read formula
  * reconstructs the same snapshot for any batch split), and the MoR
  * upsert decomposition (tombstone + append) is correct per op type.
  * Reading the log logs no FileNotFoundException.
  */
class CdcIngestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.session

  private def mkBatch(rows: Seq[(String, Long, java.math.BigDecimal)]) = {
    import spark.implicits._
    rows.toDF("op", "k", "p").select(col("op"), col("k"),
      col("p").cast(graft.tables.Tables.Dec).as("p"))
  }

  private def dec(d: Double) = new java.math.BigDecimal(d)
    .setScale(2, java.math.RoundingMode.HALF_UP)

  test("replaying a committed CDC batch is refused; snapshot is batch-order-free") {
    graft.TempDirs.withTempDir("graft_cdc_spec") { root =>
      import spark.implicits._
      // base: keys 1..6 priced 10.00·k
      val base = (1L to 6L).map(k => (k, dec(k * 10.0))).toDF("k", "p")
        .select(col("k"), col("p").cast(graft.tables.Tables.Dec).as("p"))
      base.write.parquet(root.resolve("base").toString)
      // batch 0: delete k=2, update k=3 → 99.99; batch 1: insert k=-7
      val b0 = mkBatch(Seq(("D", 2L, null), ("U", 3L, dec(99.99))))
      val b1 = mkBatch(Seq(("I", -7L, dec(1.50))))
      StreamOps.applyCdcBatch(spark, root, b0, 0L)
      StreamOps.applyCdcBatch(spark, root, b1, 1L)
      def snap() = spark.read.parquet(root.resolve("base").toString)
        .join(StreamOps.cdcTombstones(spark, root), Seq("k"), "left_anti")
        .unionByName(StreamOps.cdcAppends(spark, root))
        .collect().map(r => (r.getLong(0), r.getDecimal(1).doubleValue()))
        .sortBy(_._1).toSeq
      val expected = Seq((-7L, 1.50), (1L, 10.0), (3L, 99.99),
        (4L, 40.0), (5L, 50.0), (6L, 60.0))
      val before = snap()
      assert(before == expected, s"MoR upsert decomposition broke: $before")
      // the retry: a restarted driver redelivers batch 0 — the ledger
      // must reduce it to a no-op (no duplicate tombstones/appends)
      def logRows() = (
        StreamOps.cdcTombstones(spark, root).count(),
        StreamOps.cdcAppends(spark, root).count())
      val rowsBefore = logRows()
      StreamOps.applyCdcBatch(spark, root, b0, 0L)
      assert(logRows() == rowsBefore, "the ledger must refuse a committed batch")
      assert(snap() == expected, "replay must leave the snapshot unchanged")
      // a NEW batch still lands after the refusal
      StreamOps.applyCdcBatch(spark, root, mkBatch(Seq(("D", 6L, null))), 2L)
      assert(snap() == expected.filterNot(_._1 == 6L))
      // the mid-commit crash: a dead attempt staged a partial write but
      // never renamed — nothing is visible, and the redelivery restages
      // wholesale (stale rows must NOT leak into the commit)
      val staleStage = root.resolve("cdc_stage_3")
      mkBatch(Seq(("D", 999L, null))).select("k")
        .write.parquet(staleStage.resolve("tombs").toString)
      assert(snap() == expected.filterNot(_._1 == 6L),
        "a staged-but-unrenamed batch must be invisible to readers")
      StreamOps.applyCdcBatch(spark, root, mkBatch(Seq(("U", 5L, dec(5.55)))), 3L)
      val afterCrash = snap()
      assert(afterCrash ==
        expected.filterNot(_._1 == 6L).map(x => if (x._1 == 5L) (5L, 5.55) else x),
        s"crashed-then-redelivered batch must land exactly once: $afterCrash")
      assert(!java.nio.file.Files.exists(staleStage),
        "the stage dir is consumed by the commit rename")
      assert(logRows() == (4L, 3L),
        s"stale staged rows leaked into the log: ${logRows()}")
    }
  }

  test("with no committed batch the CDC log reads empty, in its schema") {
    graft.TempDirs.withTempDir("graft_cdc_empty") { root =>
      val tombs = StreamOps.cdcTombstones(spark, root)
      val apnds = StreamOps.cdcAppends(spark, root)
      assert(tombs.count() == 0 && apnds.count() == 0)
      assert(tombs.columns.toSeq == Seq("k") && apnds.columns.toSeq == Seq("k", "p"))
    }
  }

  test("reading the CDC log logs no FileNotFoundException") {
    graft.TempDirs.withTempDir("graft_cdc_log") { root =>
      StreamOps.applyCdcBatch(spark, root, mkBatch(Seq(("D", 2L, null))), 0L)
      StreamOps.applyCdcBatch(spark, root, mkBatch(Seq(("I", 7L, dec(1.50)))), 1L)
      val logged = graft.LogCapture.during {
        assert(StreamOps.cdcTombstones(spark, root).count() == 1)
        assert(StreamOps.cdcAppends(spark, root).count() == 1)
      }
      def fileNotFound(e: LogEvent): Boolean =
        Iterator.iterate(e.getThrown)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[java.io.FileNotFoundException]) ||
          e.getMessage.getFormattedMessage.contains("FileNotFoundException")
      val bad = logged.filter(fileNotFound)
      assert(bad.isEmpty, bad.map(_.getMessage.getFormattedMessage).mkString("; "))
    }
  }
}
