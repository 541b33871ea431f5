package graft.streaming

import graft.queries.EventOps
import graft.tables.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Stream/batch parity: the streaming plans replayed over the fixture
  * must agree with their batch twins in graft.queries.EventOps. */
class EventStreamSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  val sfDir = "/root/testdata/sf0.001"

  /** Stream source dir: fixture events re-written with µs timestamps
    * (the raw fixture is TIMESTAMP(NANOS), unreadable as a stream). */
  lazy val srcDir: String = {
    val d = tempDir("evstream").toString
    Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(d)
    d
  }

  /** The whole source drained as one batch through the session plan. */
  private def sessionsOf(dir: String, name: String) =
    Replay.drain(spark, dir, EventStream.schema, Replay.Memory(name),
      oneFilePerBatch = false)(EventStream.sessionize).out

  test("tumbling 5-min counts: stream == batch") {
    val streamed = Replay.drain(spark, srcDir, EventStream.schema, Replay.Memory("tumb"),
        OutputMode.Complete, oneFilePerBatch = false)(EventStream.tumblingCounts)
      .out.select("w_start_epoch", "event_type", "n")
      .orderBy("w_start_epoch", "event_type").collect().map(_.toSeq)
    val batch = EventOps.tumbling5min(spark, sfDir).collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("tumbling counts across MULTIPLE micro-batches == batch (incremental state)") {
    // 4 parquet files + maxFilesPerTrigger=1 → ≥4 micro-batches; the
    // windowed aggregation accumulates state across batches (Complete
    // mode keeps all windows), so the final table must equal the batch
    // twin no matter how the rows were sliced into batches
    val d4 = tempDir("evstream4").toString
    Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4).write.mode("overwrite").parquet(d4)
    val src = spark.readStream.schema(EventStream.schema).format("parquet")
      .option("path", d4).option("maxFilesPerTrigger", "1").load()
    val q = EventStream.tumblingCounts(src).writeStream
      .outputMode(OutputMode.Complete)
      .format("memory").queryName("tumb_mb").start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.map(_.batchId).max >= 3, "must replay as several micro-batches")
    val streamed = spark.table("tumb_mb")
      .orderBy("w_start_epoch", "event_type").collect().map(_.toSeq)
    val batch = EventOps.tumbling5min(spark, sfDir).collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("restart-from-checkpoint: kill boundary is spanned and sessions stitch across it") {
    // drive the s07 harness directly at fixture scale and assert the
    // property that makes it non-vacuous: at least one emitted session
    // STARTS before the kill point and ENDS at/after it — its state
    // crossed the stop/restart and was recovered from the checkpoint
    val stage = tempDir("evstream_rs")
    val src = stage.resolve("src").toString
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // kill inside the longest closed session (the s07 rule): the restart
    // must then stitch that session across the boundary or diverge
    val batch = EventOps.sessionize(spark, sfDir)
    val lastS = batch.groupBy("user_id").agg(max("sess_id").as("last_sess"))
    val pick = batch.join(lastS, "user_id")
      .filter(col("sess_id") < col("last_sess") && col("n_events") >= 2)
      .orderBy(col("n_events").desc, col("user_id"), col("sess_id"))
      .select("start_us", "end_us").limit(1).collect().head
    val midUs = (pick.getLong(0) + pick.getLong(1)) / 2 max (pick.getLong(0) + 1)
    ev.filter(unix_micros(col("ts")) < midUs)
      .coalesce(1).write.mode("overwrite").parquet(src)
    // two drains sharing one checkpoint: the stop between them is the crash
    def run() = Replay.drain(spark, src, EventStream.schema,
      Replay.Parquet(stage.resolve("out").toString),
      checkpoint = Some(stage.resolve("ckpt").toString),
      oneFilePerBatch = false)(EventStream.sessionize)
    val b1 = run().batches
    ev.filter(unix_micros(col("ts")) >= midUs)
      .coalesce(1).write.mode("append").parquet(src)
    val r2 = run()
    val b2 = r2.batches
    assert(b1 >= 1 && b2 >= 1, s"both runs must process batches, got $b1/$b2")
    val sessions = r2.out.select("user_id", "sess_id", "n_events", "start_us", "end_us", "sum_value")
      .collect()
    val spanning = sessions.count(r => r.getLong(3) < midUs && r.getLong(4) >= midUs)
    assert(spanning > 0,
      "no session spans the kill boundary — the restart recovered nothing worth testing")
    // and the stitched total equals the uninterrupted run (same plan, one query)
    val uninterrupted = sessionsOf(srcDir, "sess_unint")
      .select("user_id", "sess_id", "n_events", "start_us", "end_us", "sum_value")
      .collect().map(_.toSeq).toSet
    assert(sessions.map(_.toSeq).toSet == uninterrupted)
  }

  test("stateful sessionization: closed stream sessions == batch sessions") {
    val streamed = sessionsOf(srcDir, "sess")
      .select(col("user_id"), col("sess_id"), col("n_events"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    // batch twin, excluding each user's final (still-open) session
    val batch = EventOps.sessionize(spark, sfDir)
    val lastSess = batch.groupBy("user_id").agg(max("sess_id").as("last"))
    val closed = batch.join(lastSess, "user_id")
      .filter(col("sess_id") < col("last"))
      .select(col("user_id"), col("sess_id"), col("n_events"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(streamed == closed)
    assert(streamed.nonEmpty, "fixture must contain closed sessions")
  }
}
