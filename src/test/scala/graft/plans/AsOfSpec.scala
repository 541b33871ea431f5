package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native AsOfJoin plan node: semantics against a hand-derivable
  * planted frame (strict vs inclusive, unmatched lefts, null keys/times,
  * candidate reuse, key transitions), multi-partition execution, and the
  * frozen physical shape (AsOfJoinExec fed by exchanges+sorts, no
  * window, no union). */
class AsOfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.session

  import java.lang.{Long => JLong}
  private def L(v: Long): JLong = JLong.valueOf(v)

  // left: (lid, k, t)    right: (rid, rk, rt)
  private def frames() = {
    import spark.implicits._
    val left = Seq[(Long, JLong, JLong)](
      (1L, L(10), L(100)),  // before any right row for key 10 → unmatched
      (2L, L(10), L(200)),  // exactly at right t=200 → strict: miss, inclusive: hit
      (3L, L(10), L(250)),  // after 200 → hit 200 (reuse of the retained row)
      (4L, L(10), L(350)),  // after 200 AND 300 → hit 300 (advance past 200)
      (5L, L(20), L(500)),  // key transition; hits key-20's t=400
      (6L, L(30), L(999)),  // key with no right rows at all → unmatched
      (7L, null, L(50)),    // null key → unmatched
      (8L, L(20), null))    // null time → unmatched
      .toDF("lid", "k", "t")
    val right = Seq[(Long, JLong, JLong)](
      (101L, L(10), L(200)),
      (102L, L(10), L(300)),
      (103L, L(20), L(400)),
      (104L, L(20), null),   // null right time: never a match
      (105L, null, L(1)))    // null right key: never a match
      .toDF("rid", "rk", "rt")
    (left, right)
  }

  private def run(strict: Boolean): Map[Long, Option[Long]] = {
    val (left, right) = frames()
    AsOfJoin.join(left.repartition(5), right.repartition(3),
        keys = Seq(("k", "rk")), leftTime = "t", rightTime = "rt",
        strict = strict)
      .select("lid", "rid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
  }

  test("strict as-of: latest right strictly before each left, nulls never match") {
    assert(run(strict = true) == Map(
      1L -> None, 2L -> None, 3L -> Some(101L), 4L -> Some(102L),
      5L -> Some(103L), 6L -> None, 7L -> None, 8L -> None))
  }

  test("inclusive as-of: equality at the boundary matches") {
    assert(run(strict = false) == Map(
      1L -> None, 2L -> Some(101L), 3L -> Some(101L), 4L -> Some(102L),
      5L -> Some(103L), 6L -> None, 7L -> None, 8L -> None))
  }

  test("matches a composed window reference on a random-ish dense frame") {
    import spark.implicits._
    // deterministic pseudo-random frame: every (key, time) pair unique
    val left = (0 until 400).map { i =>
      (i.toLong, (i * 7 % 13).toLong, ((i * 31) % 97 * 10).toLong)
    }.toDF("lid", "k", "t")
    val right = (0 until 150).map { i =>
      (1000L + i, (i * 5 % 13).toLong, ((i * 17) % 89 * 11).toLong)
    }.toDF("rid", "rk", "rt")
    val native = AsOfJoin.join(left, right, Seq(("k", "rk")), "t", "rt",
        strict = false)
      .select("lid", "rid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // reference: plain join + max-by — O(n·m) but obviously correct
    val ref = left.collect().map { lr =>
      val (lid, k, t) = (lr.getLong(0), lr.getLong(1), lr.getLong(2))
      val best = right.collect()
        .filter(rr => rr.getLong(1) == k && rr.getLong(2) <= t)
        .sortBy(rr => (rr.getLong(2), rr.getLong(0))).lastOption
      lid -> best.map(_.getLong(0)).getOrElse(-1L)
    }.toMap
    assert(native == ref)
    assert(native.size == 400, "every left row appears exactly once")
  }

  test("executed plan: AsOfJoinExec fed by per-side exchanges+sorts; no window, no union") {
    val (left, right) = frames()
    val df = AsOfJoin.join(left, right, Seq(("k", "rk")), "t", "rt", strict = true)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("\n\\+\\- == Initial Plan ==").head
    assert(p.contains("AsOfJoin"), s"custom exec must plan:\n$p")
    assert(!p.toLowerCase.contains("window"), s"no window in the native plan:\n$p")
    assert(!p.toLowerCase.contains("union"), s"no union in the native plan:\n$p")
    assert(p.contains("Sort"), "EnsureRequirements supplies the (key, time) sorts")
  }

  test("multi-key as-of: keys pair independently") {
    import spark.implicits._
    val left = Seq((1L, 1L, 10L, 100L), (2L, 1L, 20L, 100L), (3L, 2L, 10L, 100L))
      .toDF("lid", "k1", "k2", "t")
    val right = Seq((101L, 1L, 10L, 50L), (102L, 1L, 20L, 60L), (103L, 2L, 99L, 1L))
      .toDF("rid", "rk1", "rk2", "rt")
    val out = AsOfJoin.join(left, right,
        Seq(("k1", "rk1"), ("k2", "rk2")), "t", "rt", strict = false)
      .select("lid", "rid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out == Map(1L -> 101L, 2L -> 102L, 3L -> -1L),
      s"both key columns must participate: $out")
  }

  test("AsOfPushDown: left-only filters reach the left scan; right filters stay above") {
    val (left, right) = frames()
    val df = AsOfJoin.join(left, right, Seq(("k", "rk")), "t", "rt", strict = false)
      .filter(col("lid") > 2 && col("rid").isNull)
    df.collect()
    val optimized = df.queryExecution.optimizedPlan.toString
    // the left-only conjunct pushed INSIDE the AsOfJoin node; the
    // right-referencing conjunct (null-checking the outer side) stayed
    // above it
    val joinIdx = optimized.indexOf("AsOfJoin")
    val lidIdx = optimized.indexOf("lid#")
    assert(joinIdx >= 0, optimized)
    assert(optimized.substring(joinIdx).contains("(lid#"),
      s"left filter must sit below the join:\n$optimized")
    assert(optimized.substring(0, joinIdx).contains("isnull"),
      s"right-side filter must stay above the join:\n$optimized")
    // semantics unchanged by the pushdown
    val got = df.select("lid").collect().map(_.getLong(0)).toSet
    assert(got == Set(6L, 7L, 8L), s"rows after pushdown: $got")
  }

  test("column resolution honors spark.sql.caseSensitive (conf-aware resolver)") {
    // an ISOLATED child session: the resolver reads the conf of the
    // session owning the left frame, and suites run in parallel — a
    // caseSensitive toggle on the shared TestSpark session could be
    // observed by another suite resolving columns during the window.
    // newSession() shares the SparkContext but owns its SQLConf.
    val s2 = spark.newSession()
    import s2.implicits._
    val left = Seq((1L, 1L, 10L)).toDF("lid", "K", "T")
    val right = Seq((9L, 1L, 5L)).toDF("rid", "rk", "rt")
    // default case-INsensitive: differently-cased caller names resolve,
    // exactly as normal DataFrame resolution would
    val out = AsOfJoin.join(left, right, Seq(("k", "RK")), "t", "RT",
        strict = false)
      .select("lid", "rid").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 9L)))
    // case-SENSITIVE: the same lookup must now fail like the analyzer's.
    // The resolver reads the thread-local SQLConf.get, so s2 must be the
    // ACTIVE session on THIS thread — setActiveSession is thread-local,
    // so concurrent suites (their threads resolve via the default
    // session) never observe the toggle.
    s2.conf.set("spark.sql.caseSensitive", "true")
    SparkSession.setActiveSession(s2)
    try {
      val err = intercept[IllegalArgumentException] {
        AsOfJoin.join(left, right, Seq(("k", "rk")), "t", "rt", strict = false)
      }
      assert(err.getMessage.contains("not found"), err.getMessage)
    } finally SparkSession.setActiveSession(spark)
  }

  test("the strategy injects via GraftExtensions (no explicit register)") {
    // a dedicated session: extensions bind at session construction, and
    // getOrCreate would silently return the ACTIVE or DEFAULT session
    // (where earlier tests' register() already added the strategy —
    // vacuous). getActiveSession is thread-local, so stop BOTH.
    SparkSession.getActiveSession.foreach(graft.Harness.stop)
    SparkSession.getDefaultSession.foreach(graft.Harness.stop)
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    try {
      // non-vacuity: a fresh session has NO experimental strategies —
      // if register() had leaked in (recycled session), this catches it
      assert(org.apache.spark.sql.GraftSqlBridge.experimentalStrategies(s2).isEmpty,
        "test session must be fresh — extension injection would be untested")
      import s2.implicits._
      val l = Seq((1L, 1L, 10L)).toDF("lid", "k", "t")
      val r = Seq((9L, 1L, 5L)).toDF("rid", "rk", "rt")
      // build the plan node directly — planning must succeed WITHOUT
      // AsOfJoin.register (the strategy came from the extension)
      val lp = org.apache.spark.sql.GraftSqlBridge.planOf(l)
      val rp = org.apache.spark.sql.GraftSqlBridge.planOf(r)
      val plan = AsOfJoin(lp, rp,
        Seq(lp.output(1)), Seq(rp.output(1)), lp.output(2), rp.output(2),
        strict = false)
      val out = org.apache.spark.sql.GraftSqlBridge.ofRows(s2, plan)
        .select("lid", "rid").collect()
      assert(out.map(r0 => (r0.getLong(0), r0.getLong(1))).toSeq == Seq((1L, 9L)))
    } finally s2.stop() // later suites getOrCreate a fresh default session
  }
}
