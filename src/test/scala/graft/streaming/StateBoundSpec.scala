package graft.streaming

import graft.tables.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB streaming claim, measured instead of asserted in prose:
  * with a watermark, the windowed aggregation's state store holds only
  * OPEN windows — watermark-expired windows are evicted — so state stays
  * bounded no matter how many micro-batches the stream runs. A stream
  * whose state grows with total history (the no-watermark shape, or
  * Complete output mode) is the thing this spec exists to catch.
  *
  * Harness: the events fixture is split into 12 time-ordered slices
  * (each micro-batch advances event time, so the watermark advances
  * every batch) and drained with maxFilesPerTrigger=1 in Append mode.
  * The per-batch state-store metrics come from the query's own progress
  * records — numRowsTotal per batch IS the state bound. */
class StateBoundSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  val sfDir = "/root/testdata/sf0.001"
  val NSlices = 12

  test("watermarked tumbling agg: state plateaus across ≥10 micro-batches") {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val Array(tsMin, tsMax) = ev
      .agg(unix_micros(min("ts")), unix_micros(max("ts")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val width = (tsMax - tsMin) / NSlices + 1
    // one file per time slice, written oldest-first so the file source's
    // modification-time order replays event time monotonically
    val dir = tempDir("statebound").toString
    (0 until NSlices).foreach { i =>
      ev.filter(unix_micros(col("ts")).between(tsMin + i * width,
          tsMin + (i + 1) * width - 1))
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(30) // distinct mtimes → deterministic replay order
    }
    val progresses = Replay.withStatePartitions(spark) {
      val src = spark.readStream.schema(EventStream.schema).format("parquet")
        .option("path", dir).option("maxFilesPerTrigger", "1").load()
      // Append mode: a window emits (and its state row is EVICTED) once
      // the watermark passes its end — the bounded-state configuration
      val q = EventStream.tumblingCounts(src).writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("statebound").start()
      try { q.processAllAvailable() } finally q.stop()
      q.recentProgress.toSeq
    }
    val stateRows = progresses
      .flatMap(p => p.stateOperators.headOption.map(o => p.batchId -> o.numRowsTotal))
      .toMap.toSeq.sortBy(_._1).map(_._2)
    assert(stateRows.length >= 10,
      s"expected ≥10 micro-batches with state metrics, got ${stateRows.length}")
    // ground truth: every (5-min window × event_type) group the whole
    // fixture produces — the size an UNBOUNDED state would converge to
    val totalGroups = ev
      .groupBy(window(col("ts"), "5 minutes"), col("event_type")).count().count()
    val maxState = stateRows.max
    assert(maxState < totalGroups / 2,
      s"state not bounded: peak $maxState rows vs $totalGroups total groups " +
        "— watermark eviction is not happening")
    // plateau, not monotone growth: the peak is reached mid-stream and
    // the final batches hold no more than the peak (eviction keeps pace
    // with arrival once the watermark starts moving)
    assert(stateRows.last <= maxState,
      s"state still growing at the end: ${stateRows.mkString(",")}")
    assert(stateRows.takeRight(3).forall(_ < totalGroups / 2),
      s"tail batches hold unbounded state: ${stateRows.mkString(",")}")
    // and rows actually flowed + emitted (the stream did real work)
    assert(spark.table("statebound").count() > 0, "no finalized windows emitted")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
