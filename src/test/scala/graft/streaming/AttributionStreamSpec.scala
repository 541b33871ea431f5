package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The attribution state machine (s17) must carry each user's last
  * touch ACROSS micro-batch boundaries and apply the 7-day lookback at
  * the purchase — pinned here on a planted two-slice replay where every
  * interesting pair (cross-slice in-window, cross-slice out-of-window,
  * no-touch, same-µs tie) is hand-known. The real-fixture hash parity
  * with batch e19 is the graded query. */
class AttributionStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.session

  private val DayUs = 86400000000L

  private def ts(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  test("cross-slice carry, lookback expiry, no-touch, and same-µs ties") {
    import spark.implicits._
    graft.TempDirs.withTempDir("graft_attr_spec") { dir =>
      // slice 0 (early event time): the touches
      val slice0 = Seq(
        (1L, ts(0L), 1L, "click", 0.0, "{}"),            // u1 touch
        (2L, ts(0L), 2L, "view", 0.0, "{}"),             // u2 touch (will expire)
        (5L, ts(10L * DayUs), 4L, "signup", 0.0, "{}"),  // u4 touch, same µs as its purchase
        (6L, ts(10L * DayUs), 4L, "purchase", 7.0, "{}") // u4: tie — touch id 5 < 6 wins
      ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // slice 1 (later event time): the purchases
      val slice1 = Seq(
        (10L, ts(1L * DayUs), 1L, "purchase", 5.0, "{}"), // u1: click, in window
        (11L, ts(9L * DayUs), 2L, "purchase", 3.0, "{}"), // u2: 9d after view → direct
        (12L, ts(9L * DayUs), 3L, "purchase", 2.0, "{}")  // u3: no touch ever → direct
      ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      for ((df, i) <- Seq(slice0, slice1).zipWithIndex) {
        val sub = dir.resolve(s"build$i")
        df.coalesce(1).write.mode("overwrite").parquet(sub.toString)
        val part = java.nio.file.Files.list(sub).filter(p =>
          p.getFileName.toString.endsWith(".parquet")).findFirst().get()
        val dst = dir.resolve(s"slice$i.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 2000L))
        Replay.rmrf(sub)
      }
      val r = Replay.drain(spark, dir.toString, EventStream.schema,
        Replay.Memory("graft_attr_spec"))(EventStream.attribute)
      val (rows, nBatches) = (r.out, r.batches)
      assert(nBatches == 2, s"both slices must replay as their own micro-batch: $nBatches")
      val got = rows.select("user_id", "event_id", "channel", "value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      assert(got == Set(
        (1L, 10L, "click", 5.0),   // state carried slice 0 → slice 1
        (2L, 11L, "direct", 3.0),  // touch exists but 9d old → lookback expires it
        (3L, 12L, "direct", 2.0),  // never touched
        (4L, 6L, "signup", 7.0)    // same-µs tie resolves by event_id like the batch window
      ), s"got $got")
    }
  }
}
