package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed locks on the bounded-histogram scoring pair: e16's
  * quintile thresholds (q_k = min v with cum·5 ≥ k·n, boundary ties land
  * LOW) and e17's Lorenz deciles (partial-bucket mass is exact because
  * co-bucketed users share one total). Ten users with values 10·1..10·10
  * make every expected number readable by eye.
  */
class RfmLorenzSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  // user u (1..10) has u events on day u-1 (so recency = 10-u ... 0) and
  // total value u*10 (u events of value 10)
  private lazy val dir: String = {
    import spark.implicits._
    val d = tempDir("graft_rfm")
      .toFile.getAbsolutePath
    val rows = for {
      u <- 1 to 10
      e <- 1 to u
    } yield (
      (u * 100 + e).toLong,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond((u - 1) * 86400L + e * 60L)),
      u.toLong, "click", 10.0, """{"k":1}""")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("e16: quintile thresholds and scores on a readable fixture") {
    // recency: user u → 10-u days ∈ {9..0}; freq: u; mon: 10u.
    // All three dimensions have 10 distinct values, one user each →
    // thresholds split 2/2/2/2/2 and scores follow the value order.
    val rows = EventOps.rfmSegments(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    // 10 distinct values split 2 per quintile (q_k = the 2k-th value, so
    // exactly two users sit at-or-below each threshold run): users 9+10
    // land in (5,5,5), users 1+2 in (1,1,1), perfectly aligned across
    // the three dimensions → 5 cells of 2
    assert(rows.get((5, 5, 5)).contains(2L), rows.toString)
    assert(rows.get((1, 1, 1)).contains(2L), rows.toString)
    assert(rows.values.sum == 10L && rows.size == 5, rows.toString)
  }

  test("e17: Lorenz deciles equal k(k+1)/2 / 55 on the triangular fixture") {
    // user u holds mass 10u; total 550. The poorest k users hold
    // 10·k(k+1)/2 → share = k(k+1)/110 exactly.
    val rows = EventOps.lorenzDeciles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 10, rows.toSeq.toString)
    for ((k, nUsers, cumValue, share) <- rows) {
      assert(nUsers == k, s"decile $k must cover $k of 10 users: $nUsers")
      assert(cumValue == 10 * k * (k + 1) / 2,
        s"decile $k cum mass: $cumValue")
      // share is rounded to the 1e-6 grid by the operator
      assert(math.abs(share - (k * (k + 1)).toDouble / 110.0) < 5e-7,
        s"decile $k share: $share")
    }
  }
}
