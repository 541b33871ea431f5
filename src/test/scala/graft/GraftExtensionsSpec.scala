package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** Extensions wiring: a session built with GraftExtensions can call the
  * engine's custom expressions straight from SQL. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("dot_d is injected and codegen-evaluates from SQL") {
    // a dedicated session: extensions bind at session construction
    SparkSession.getActiveSession.foreach(Harness.stop)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = spark.sql(
        "SELECT dot_d(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
        .collect().head.getDouble(0)
      assert(r == 32.0)
      // null propagation (nullIntolerant)
      val n = spark.sql("SELECT dot_d(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS d")
        .collect().head
      assert(n.isNullAt(0))
      // type check rejects mismatches at analysis time
      intercept[Exception] {
        spark.sql("SELECT dot_d(array('a'), array(1.0D))").collect()
      }
    } finally spark.stop() // later suites getOrCreate a fresh default session
  }

  test("nibble_counts is injected, counts both nibbles, rejects non-binary") {
    SparkSession.getActiveSession.foreach(Harness.stop)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      // 'A' = 0x41 → nibbles 4 and 1, twice each for "AA"
      val r = spark.sql(
        "SELECT nibble_counts(CAST('AA' AS BINARY)) AS nc")
        .collect().head.getSeq[Long](0)
      assert(r.length == 16 && r(4) == 2L && r(1) == 2L && r.sum == 4L, r.toString)
      val n = spark.sql("SELECT nibble_counts(CAST(NULL AS BINARY)) AS nc")
        .collect().head
      assert(n.isNullAt(0))
      intercept[Exception] {
        spark.sql("SELECT nibble_counts('AA')").collect() // string, not binary
      }
    } finally spark.stop()
  }

  test("bloom_agg/bloom_contains are injected and round-trip from SQL") {
    SparkSession.getActiveSession.foreach(Harness.stop)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      // the sketch argument must be foldable or a scalar subquery — the
      // same contract Spark's own runtime-filter rewrite satisfies
      val rows = spark.sql(
        """SELECT
          |  bloom_contains((SELECT bloom_agg(CAST(x AS LONG), 10L, 1024L)
          |                  FROM VALUES (1), (2), (3) AS t(x)), 2L) AS hit,
          |  bloom_contains((SELECT bloom_agg(CAST(x AS LONG), 10L, 1024L)
          |                  FROM VALUES (1), (2), (3) AS t(x)), 99999L) AS miss""".stripMargin)
        .collect().head
      assert(rows.getBoolean(0), "inserted key must probe true")
      assert(!rows.getBoolean(1), "distant key must probe false at this sizing")
    } finally spark.stop()
  }

  test("marker_counts is injected, counts non-overlapping, rejects bad types") {
    SparkSession.getActiveSession.foreach(Harness.stop)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      // 'aaaa' vs 'aa' → 2 (non-overlapping left-to-right, replace's
      // semantics); multi-byte CJK markers count by character
      val r = spark.sql(
        "SELECT marker_counts(' aaaa the 的的 ', array('aa', ' the ', '的', 'zz')) AS c")
        .collect().head.getSeq[Int](0)
      assert(r == Seq(2, 1, 2, 0), r.toString)
      val n = spark.sql(
        "SELECT marker_counts(CAST(NULL AS STRING), array('a')) AS c")
        .collect().head
      assert(n.isNullAt(0))
      intercept[Exception] {
        spark.sql("SELECT marker_counts('x', 7)").collect()
      }
    } finally spark.stop()
  }

  test("ASOF JOIN SQL syntax lowers to the native as-of operator (q60's semantics)") {
    SparkSession.getActiveSession.foreach(Harness.stop)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import spark.implicits._
      val left = Seq((1L, 1L, 10L), (2L, 1L, 5L), (3L, 2L, 7L))
        .toDF("lid", "k", "t")
      val right = Seq((100L, 1L, 5L), (101L, 1L, 8L), (102L, 3L, 1L))
        .toDF("rid", "rk", "rt")
      left.createOrReplaceTempView("asof_l")
      right.createOrReplaceTempView("asof_r")
      def run(sql: String) = spark.sql(sql)
      // inclusive LEFT form: each left row takes the latest right row at
      // or before its time; unmatched left rows survive with nulls
      val incl = run(
        """SELECT l.lid, r.rid FROM asof_l l
          |ASOF LEFT JOIN asof_r r ON l.k = r.rk AND l.t >= r.rt
          |ORDER BY l.lid""".stripMargin)
      // the SQL path must produce the NATIVE plan, not a window rewrite
      assert(incl.queryExecution.executedPlan.toString.contains("AsOfJoin"),
        incl.queryExecution.executedPlan.toString)
      val got = incl.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
      assert(got == Seq((1L, 101L), (2L, 100L), (3L, -1L)), got.toString)
      // strict form (q60's spelling): > excludes the equal timestamp
      val strict = run(
        """SELECT l.lid, r.rid FROM asof_l l
          |ASOF LEFT JOIN asof_r r ON l.k = r.rk AND l.t > r.rt
          |ORDER BY l.lid""".stripMargin)
        .collect().map(r =>
          (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
      assert(strict == Seq((1L, 101L), (2L, -1L), (3L, -1L)), strict.toString)
      // inner form drops unmatched left rows
      val inner = run(
        """SELECT l.lid, r.rid FROM asof_l l
          |ASOF JOIN asof_r r ON l.k = r.rk AND l.t >= r.rt
          |ORDER BY l.lid""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(inner == Seq((1L, 101L), (2L, 100L)), inner.toString)
      // SQL text and the DataFrame builder must agree row for row —
      // the two entrances to rung (c) share one operator
      val api = graft.plans.AsOfJoin.join(left, right,
          Seq(("k", "rk")), "t", "rt", strict = true)
        .select(col("lid"), coalesce(col("rid"), lit(-1L)).as("rid"))
        .orderBy("lid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(api == strict, s"SQL vs API drift: $api vs $strict")
      // a malformed ON clause fails with the operator's own message
      val err = intercept[Exception] {
        run("""SELECT l.lid FROM asof_l l
              |ASOF LEFT JOIN asof_r r ON l.k = r.rk""".stripMargin).collect()
      }
      assert(err.getMessage.contains("time inequality"), err.getMessage)
      // a CTE right side resolves through the stock path (the rewrite
      // leaves the relation name in place, so CTESubstitution sees it)
      val cte = run(
        """WITH recent AS (SELECT rid, rk, rt FROM asof_r WHERE rt >= 5)
          |SELECT l.lid, r.rid FROM asof_l l
          |ASOF LEFT JOIN recent r ON l.k = r.rk AND l.t >= r.rt
          |ORDER BY l.lid""".stripMargin)
      assert(cte.queryExecution.executedPlan.toString.contains("AsOfJoin"),
        cte.queryExecution.executedPlan.toString)
      val cteGot = cte.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
      assert(cteGot == Seq((1L, 101L), (2L, 100L), (3L, -1L)), cteGot.toString)
      // an UNALIASED multipart right side keeps its qualifier: the
      // rewrite must not invent an alias (a forced `AS asof_r` would
      // replace the [global_temp, asof_r] qualifier and break the
      // fully-qualified column spelling below)
      right.createOrReplaceGlobalTempView("asof_r")
      val qual = run(
        """SELECT l.lid, global_temp.asof_r.rid AS rid FROM asof_l l
          |ASOF LEFT JOIN global_temp.asof_r
          |  ON l.k = global_temp.asof_r.rk AND l.t >= global_temp.asof_r.rt
          |ORDER BY l.lid""".stripMargin)
      assert(qual.queryExecution.executedPlan.toString.contains("AsOfJoin"),
        qual.queryExecution.executedPlan.toString)
      val qualGot = qual.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
      assert(qualGot == Seq((1L, 101L), (2L, 100L), (3L, -1L)), qualGot.toString)
      // the rewrite must not touch ASOF-join-shaped text inside string
      // literals or comments
      val literal = run(
        """SELECT 'x ASOF JOIN t ON y' AS label -- ASOF JOIN c ON d
          |FROM asof_l /* ASOF LEFT JOIN b ON c */ LIMIT 1""".stripMargin)
        .collect().head.getString(0)
      assert(literal == "x ASOF JOIN t ON y", literal)
      // a parenthesized SUBQUERY right side lowers through the same
      // balanced-paren rewrite (nested parens + a literal containing a
      // paren must not derail the scan)
      val subq = run(
        """SELECT l.lid, r.rid FROM asof_l l
          |ASOF LEFT JOIN (SELECT rid, rk, rt FROM asof_r
          |                WHERE rt >= (SELECT MIN(rt) + 0 FROM asof_r)
          |                  AND ')' = ')') r
          |  ON l.k = r.rk AND l.t >= r.rt
          |ORDER BY l.lid""".stripMargin)
      assert(subq.queryExecution.executedPlan.toString.contains("AsOfJoin"),
        subq.queryExecution.executedPlan.toString)
      val subqGot = subq.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
      assert(subqGot == Seq((1L, 101L), (2L, 100L), (3L, -1L)), subqGot.toString)
      // a comment may sit between the subquery, its alias, and ON; and
      // an ASOF subquery may NEST inside another ASOF subquery's body
      // (the rewrite recurses into the interior)
      val nested = run(
        """SELECT l.lid, r.rid FROM asof_l l
          |ASOF LEFT JOIN (SELECT x.rid, x.rk, x.rt
          |                FROM asof_r x
          |                ASOF JOIN (SELECT rk AS yk, rt AS yt FROM asof_r) y
          |                  ON x.rk = y.yk AND x.rt >= y.yt) /* keep */ r
          |  ON l.k = r.rk AND l.t >= r.rt
          |ORDER BY l.lid""".stripMargin)
      assert("AsOfJoin".r.findAllIn(nested.queryExecution.executedPlan.toString)
          .length >= 2, // the outer AND the nested lowering
        nested.queryExecution.executedPlan.toString)
      val nestedGot = nested.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
      assert(nestedGot == Seq((1L, 101L), (2L, 100L), (3L, -1L)), nestedGot.toString)
      // an ASOF head the rewrite cannot complete (no ON clause) fails
      // at parse with the operator's own guidance, not a bare stock
      // parser error
      val remnant = intercept[Exception] {
        run("SELECT 1 FROM asof_l ASOF JOIN asof_r USING (k)").collect()
      }
      assert(remnant.getMessage.contains("could not be lowered"),
        remnant.getMessage)
      // a key type mismatch surfaces the DEDICATED message even though
      // analyzer coercion wraps the attributes in casts first
      Seq((1L, "1", 10L)).toDF("xid", "k_str", "xt")
        .createOrReplaceTempView("asof_mis")
      val mis = intercept[Exception] {
        run("""SELECT l.lid FROM asof_l l
              |ASOF LEFT JOIN asof_mis m ON l.k = m.k_str AND l.t >= m.xt""".stripMargin)
          .collect()
      }
      assert(mis.getMessage.contains("type mismatch"), mis.getMessage)
      assert(mis.getMessage.contains("cast before joining"), mis.getMessage)
    } finally spark.stop()
  }
}
