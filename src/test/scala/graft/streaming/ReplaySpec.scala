package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stream driver's own contract: an exact batch count, the
  * multi-batch guard, and the scratch dir teardown. */
class ReplaySpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  private val ProgressWindow = "spark.sql.streaming.numRecentProgressUpdates"

  /** `n` one-file parquet writes of tiny (k, ts) rows under a fresh dir,
    * written in order, so each is one source file. */
  private def source(n: Int): Path = {
    import spark.implicits._
    val dir = tempDir("graft_replay_spec")
    (0 until n).foreach { i =>
      Seq((i.toLong, i * 3600L)).toDF("k", "sec")
        .select(col("k"), timestamp_seconds(col("sec")).as("ts"))
        .coalesce(1).write.mode("append").parquet(dir.toString)
    }
    dir
  }

  private def schemaOf(dir: Path) = spark.read.parquet(dir.toString).schema

  private def withWindow[T](n: Int)(body: => T): T = {
    val prev = spark.conf.get(ProgressWindow)
    spark.conf.set(ProgressWindow, n.toString)
    try body finally spark.conf.set(ProgressWindow, prev)
  }

  test("the batch count equals the file count when Spark keeps fewer progress records") {
    val dir = source(4)
    val seen = new AtomicLong
    val r = withWindow(2) {
      Replay.drain(spark, dir.toString, schemaOf(dir),
        Replay.EachBatch((_, _) => { seen.incrementAndGet(); () }))(identity)
    }
    assert(seen.get == 4, s"the sink saw ${seen.get} batches")
    assert(r.batches == 4, s"counted ${r.batches} of 4 one-file batches")
  }

  test("a one-file source asked for a multi-batch replay fails loudly") {
    val dir = source(1)
    val err = intercept[IllegalArgumentException] {
      Replay.drain(spark, dir.toString, schemaOf(dir),
        Replay.Memory("graft_replay_spec_one"))(identity)
    }
    assert(err.getMessage.contains("1 source files"), err.getMessage)
  }

  test("a run resumed from its checkpoint counts only its own batches") {
    val dir = source(2)
    val cp = tempDir("graft_replay_spec_cp")
    def run() = Replay.drain(spark, dir.toString, schemaOf(dir),
      Replay.EachBatch((_, _) => ()), checkpoint = Some(cp.toString))(identity).batches
    assert(run() == 2)
    import spark.implicits._
    Seq((9L, 0L)).toDF("k", "sec")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"))
      .coalesce(1).write.mode("append").parquet(dir.toString)
    assert(run() == 1)
  }

  test("the watermark-dropped total fails once a run outgrows the progress window") {
    val dir = source(3)
    val r = withWindow(2) {
      Replay.drain(spark, dir.toString, schemaOf(dir),
        Replay.Memory("graft_replay_spec_wm")) {
        _.withWatermark("ts", "1 minute").dropDuplicates("k", "ts")
      }
    }
    assert(r.batches == 3)
    intercept[IllegalArgumentException](r.droppedByWatermark)
  }

  test("the scratch dir is gone after the readout returns, and after one that throws") {
    import spark.implicits._
    var seen: Option[Path] = None
    val out = Replay.scratch("graft_replay_spec_scratch") { dir =>
      seen = Some(dir)
      Seq(1L, 2L).toDF("x").write.parquet(dir.resolve("t").toString)
      spark.read.parquet(dir.resolve("t").toString)
    }
    assert(seen.exists(!Files.exists(_)), s"$seen left behind")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "the readout must be materialized before its dir goes")
    seen = None
    intercept[IllegalStateException] {
      Replay.scratch("graft_replay_spec_scratch") { dir =>
        seen = Some(dir)
        throw new IllegalStateException("readout failed")
      }
    }
    assert(seen.exists(!Files.exists(_)), s"$seen left behind by a failed readout")
  }
}
