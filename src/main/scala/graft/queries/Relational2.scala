package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Second relational batch: operators beyond the reference's own surface
  * that a complete engine needs (as-of join, range join, grouping sets,
  * deterministic sampling) — each chosen for an exact cross-engine
  * semantics contract.
  */
object Relational2 {

  /** As-of join: each view event → most recent earlier purchase by the
    * same user. Spark lacks a native as-of join; the scalable
    * composition is a single user-partitioned sort + running
    * last(ignoreNulls) — one shuffle on user_id, no self-join, no
    * per-row subquery (which is how the oracle states the semantics).
    * Strict ordering ties break on event_id, so both engines agree. */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .withColumn("p_id",
        when(col("event_type") === "purchase", col("event_id")))
      .withColumn("last_purchase", last(col("p_id"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "view")
      // views before any purchase → -1 sentinel (keeps the output column
      // non-nullable: nullable int64 → pandas float64 coercion would make
      // the oracle hash-compare fragile)
      .select(col("event_id"), col("user_id"),
        coalesce(col("last_purchase"), lit(-1L)).as("last_purchase"))
      .orderBy("event_id")
  }

  /** q60 — q24's as-of semantics through the NATIVE AsOfJoin plan node
    * (graft.plans: custom LogicalPlan + SparkStrategy + SparkPlan —
    * the §2.7 ladder's rung (c), demonstrated where it genuinely buys a
    * better plan). q24 rides the window-over-union composition: one
    * sort of ALL events at union width. Here the two sides shuffle and
    * sort separately on their own narrow schemas — the right side is
    * ALREADY the deduped (user, ts) purchase frame, orders of magnitude
    * smaller than the event stream — and one forward-merge pass with
    * O(1) state pairs them. Strict (<) time comparison = "most recent
    * purchase strictly before the view"; right dedup to unique
    * (user, ts) by max(event_id) makes the tie rule explicit in both
    * engines. The oracle is DuckDB's own native ASOF LEFT JOIN — the
    * two engines' independent as-of implementations must agree row for
    * row. AsOfSpec freezes the executed shape: AsOfJoinExec fed by one
    * exchange + one sort per side, no window, no union. */
  def asofJoinNative(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max(col("event_id")).as("p_id"))
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("p_id"))
    graft.plans.AsOfJoin.join(views, purchases,
        keys = Seq(("user_id", "p_user")), leftTime = "ts", rightTime = "p_ts",
        strict = true)
      .select(col("event_id"), col("user_id"),
        coalesce(col("p_id"), lit(-1L)).as("last_purchase"))
      .orderBy("event_id")
  }

  /** q61 — q60's semantics driven from SQL TEXT: the ASOF LEFT JOIN
    * syntax (rung (d) of the §2.7 ladder — graft.plans.AsOfSql's
    * delegating parser + scalar `graft_asof_flag()` marker function +
    * lowering rule; NOT a table function — that shape was rejected
    * because its UnresolvedRelation surfaced after CTESubstitution,
    * breaking CTE right sides) parses
    * in a GraftExtensions session and lowers to the SAME native plan
    * node q60 builds through the DataFrame API, so the two entrances
    * are graded against the identical oracle (DuckDB's own native ASOF
    * LEFT JOIN — three independent as-of implementations must agree
    * row for row). Requires a session built with GraftExtensions
    * (Harness sessions are). */
  def asofJoinSql(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
      .createOrReplaceTempView("graft_q61_views")
    ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max(col("event_id")).as("p_id"))
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("p_id"))
      .createOrReplaceTempView("graft_q61_purchases")
    s.sql(
      """SELECT v.event_id, v.user_id,
        |  coalesce(p.p_id, -1L) AS last_purchase
        |FROM graft_q61_views v
        |ASOF LEFT JOIN graft_q61_purchases p
        |  ON v.user_id = p.p_user AND v.ts > p.p_ts
        |ORDER BY v.event_id""".stripMargin)
  }

  /** Range join: lineitems shipped within 60 days of their order date —
    * equi key plus range predicate; the equi key carries the join, the
    * range is a post-filter (no interval blow-up). */
  def rangeJoinShipLag(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        asDbl(sum(dec("l_extendedprice"))).as("sum_price"))
      .orderBy("o_orderpriority")

  /** Deterministic 10% sample: md5-derived bucket on the key — the
    * portable twin of TABLESAMPLE (reference analogue: TOP-1000 capped
    * scans, run_engine.py:149). Same rows in every engine and run. */
  def deterministicSample(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .filter(pmod(conv(substring(md5(col("c_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(10L)) === 0)
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** GROUPING SETS via the SQL surface (spark.sql over a temp view) —
    * the §2.9 grouping-sets capability, stated in SQL on both engines. */
  def groupingSetsEvents(s: SparkSession, d: String): DataFrame = {
    events(s, d).createOrReplaceTempView("events_v")
    s.sql(
      """SELECT COALESCE(event_type, 'ALL') AS etype,
        |       COALESCE(yr, -1) AS yr, COUNT(*) AS n
        |FROM (SELECT event_type, CAST(YEAR(ts) AS INT) AS yr FROM events_v)
        |GROUP BY GROUPING SETS ((event_type), (yr), ())
        |ORDER BY etype, yr""".stripMargin)
  }

  /** Exact interpolated percentiles (both engines implement the
    * standard (n−1)·p linear interpolation over the sorted values). */
  def percentiles(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Pearson correlation assembled from exact decimal sums — the
    * order-independent formulation (built-in corr() accumulates float
    * moments in partial-agg order and is NOT hash-stable): every Σ is
    * exact decimal, the float formula runs once on identical operands
    * in both engines. */
  def manualCorr(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(dec("l_quantity")).as("sx"),
        sum(dec("l_extendedprice")).as("sy"),
        sum(dec("l_quantity") * dec("l_extendedprice")).as("sxy"),
        sum(dec("l_quantity") * dec("l_quantity")).as("sxx"),
        sum(dec("l_extendedprice") * dec("l_extendedprice")).as("syy"))
      .select(col("l_returnflag"), col("n"),
        round((col("n") * asDbl(col("sxy")) - asDbl(col("sx")) * asDbl(col("sy"))) /
          (sqrt(col("n") * asDbl(col("sxx")) - asDbl(col("sx")) * asDbl(col("sx"))) *
            sqrt(col("n") * asDbl(col("syy")) - asDbl(col("sy")) * asDbl(col("sy")))), 6)
          .as("corr_qty_price"))
      .orderBy("l_returnflag")

  /** Deterministic collect-aggregation: sorted distinct list rendered as
    * a string (collect_set alone is order-nondeterministic — sorting is
    * what makes it a verifiable operator). */
  def sortedCollect(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(concat_ws(",", sort_array(collect_set(col("c_mktsegment")))).as("segments"),
        count(lit(1)).as("n_cust"))
      .orderBy("n_name")

  /** Pivot: order counts per priority × status, statuses as columns
    * (Spark's relational pivot; the oracle states it as conditional
    * aggregation — the same plan both ways). */
  def pivotStatus(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderpriority")

  /** Bag-semantics union (UNION ALL) beside the set-semantics q13:
    * row counts per source tag prove duplicates are preserved. */
  def unionAllNations(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_nationkey").as("nationkey"))
      .unionAll(supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .groupBy("nationkey").agg(count(lit(1)).as("n"))
      .orderBy("nationkey")

  /** Window navigation family: first/last/lead/nth over per-supplier
    * shipment history in one pass of the same window frame. */
  def windowNavigation(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    lineitem(s, d)
      .withColumn("first_ship", first(col("l_shipdate")).over(full))
      .withColumn("last_ship", last(col("l_shipdate")).over(full))
      .withColumn("next_qty", lead(col("l_quantity"), 1, -1d).over(w))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_suppkey"), col("first_ship"), col("last_ship"),
        col("l_quantity").as("first_qty"), col("next_qty"))
      .orderBy("l_suppkey")
  }

  /** Decorrelated scalar subquery: customers whose balance is above
    * their nation's average. The oracle states the semantics as a
    * correlated scalar subquery per row; the engine decorrelates it into
    * a pre-aggregation (map-side partial, |nations| rows) broadcast back
    * onto the scan — no per-row subquery, no fact-table shuffle. The
    * above-average test is stated division-free in exact decimals
    * (bal·n > Σbal), so the row set is bit-identical in both engines. */
  def aboveAvgSpenders(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).select(col("c_nationkey"), dec("c_acctbal").as("bal"))
    val stats = c.groupBy("c_nationkey")
      .agg(sum(col("bal")).as("nat_sum"), count(lit(1)).as("nat_n"))
    // conditional aggregation over ALL customers (not filter-then-count):
    // a nation where nobody is strictly above the average still emits its
    // row with n_above = 0, matching the correlated oracle's row set
    c.join(broadcast(stats), "c_nationkey")
      .groupBy("c_nationkey")
      .agg(
        sum(when(col("bal") * col("nat_n") > col("nat_sum"), 1L).otherwise(0L))
          .as("n_above"),
        count(lit(1)).as("n_total"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_above"), col("n_total"))
      .orderBy("n_name")
  }

  /** Correlated EXISTS / NOT EXISTS pair: customers with at least one
    * urgent order and no finished order. The oracle states both
    * predicates as correlated subqueries; the engine expresses them as a
    * LeftSemi plus a LeftAnti join with each priority/status filter
    * pushed below its join — the filtered order sides collapse to small
    * key sets, so both joins broadcast and the customer scan never
    * shuffles. */
  def existsNotExists(s: SparkSession, d: String): DataFrame = {
    val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("uk"))
    val finished = orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("fk"))
    customer(s, d)
      .join(urgent, col("c_custkey") === col("uk"), "left_semi")
      .join(finished, col("c_custkey") === col("fk"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Salted skew join on the graded surface: lineitem ⋈ supplier with
    * the fact side salted 8 ways (deterministic xxhash64 salt from the
    * row identity, dim exploded per salt). The oracle is the PLAIN join
    * — matching it proves salting is semantically invisible, which is
    * the whole point: at 100 TB you salt the hot keys and results must
    * not move. */
  def saltedSkewJoin(s: SparkSession, d: String): DataFrame =
    graft.operators.SkewJoin.saltedJoin(
        lineitem(s, d).select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity"),
        supplier(s, d).select(col("s_suppkey").as("l_suppkey"), col("s_nationkey")),
        "l_suppkey", Seq("l_orderkey", "l_linenumber"), numSalts = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), asDbl(sum(dec("l_quantity"))).as("sum_qty"))
      .orderBy("s_nationkey")

  /** RANGE-frame window (value-based frame, distinct from the ROWS
    * frames of q10/e01): per-customer rolling 30-day order spend. RANGE
    * includes all peers of the current order's date, so the frame is a
    * deterministic SET regardless of intra-date row order — with exact
    * decimal summation that makes the rolling value hash-stable. */
  def rangeFrameWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("day_epoch"))
      .rangeBetween(-30, 0)
    orders(s, d)
      .withColumn("day_epoch",
        datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).cast("long"))
      .withColumn("rolling_30d", asDbl(sum(dec("o_totalprice")).over(w)))
      .select("o_orderkey", "o_custkey", "day_epoch", "rolling_30d")
      .orderBy("o_orderkey")
  }

  /** Ranking-function family in one frame: ntile / percent_rank /
    * cume_dist over per-priority price order (ties broken by orderkey so
    * the ORDER BY is total and every rank is deterministic; the two
    * ratio functions are single divisions of exact integer ranks —
    * bit-identical in every engine). */
  def rankFamily(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(s, d)
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .select("o_orderkey", "o_orderpriority", "quartile", "pct_rank", "cume")
      .orderBy("o_orderkey")
  }

  /** Wide→long unpivot (melt): the per-flag aggregate metrics rotated
    * into (flag, metric, value) rows — the reshape every metrics store
    * and feature table performs. Spark's native `unpivot` plans as an
    * Expand (each input row fans out to |metrics| rows map-side, no
    * join, no shuffle); at 100 TB the rotation runs over the
    * |groups|-row aggregate, never the fact table. Metric values are
    * exact-decimal sums cast once to double, so the long format is
    * bit-identical to the wide one. */
  def unpivotMetrics(s: SparkSession, d: String): DataFrame = {
    val agg = lineitem(s, d).groupBy("l_returnflag")
      .agg(asDbl(sum(dec("l_quantity"))).as("sum_qty"),
        asDbl(sum(dec("l_extendedprice"))).as("sum_price"),
        count(lit(1)).cast("double").as("n_items"))
    agg.unpivot(
      Array(col("l_returnflag")),
      Array(col("sum_qty"), col("sum_price"), col("n_items")),
      "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  /** Correlated LATERAL subquery through the SQL surface: each nation
    * pairs with its own top-2 customers by balance — the per-group
    * top-n stated as a dependent join rather than a window. Catalyst's
    * DecorrelateInnerQuery + RewriteLateralSubquery turn it into a
    * ranked join, so the nested re-execution the syntax implies never
    * happens — at 100 TB the plan is one customer shuffle + window,
    * same cost class as q09's explicit window, which is exactly why
    * exposing the LATERAL syntax is free. */
  def lateralTopCustomers(s: SparkSession, d: String): DataFrame = {
    nation(s, d).createOrReplaceTempView("nation_v")
    customer(s, d).createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation_v n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer_v c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name ASC LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin)
  }

  /** Scalar correlated subqueries through the SQL surface — the third
    * correlation shape after EXISTS/NOT EXISTS (q35) and LATERAL (q40):
    * per-nation scalar aggregates written as dependent subqueries in the
    * SELECT list. Catalyst decorrelates them
    * (RewriteCorrelatedScalarSubquery) into ONE grouped aggregation
    * left-joined back, so the per-outer-row re-execution the syntax
    * implies never exists in the plan — at 100 TB the inner table is
    * scanned once per subquery, not once per outer row. COUNT(*) keeps
    * its empty-group = 0 semantics through the rewrite (Catalyst patches
    * the join's NULL with the aggregate's default), which is the classic
    * decorrelation trap this query pins. */
  def scalarSubqueryStats(s: SparkSession, d: String): DataFrame = {
    nation(s, d).createOrReplaceTempView("nation_sq_v")
    customer(s, d).createOrReplaceTempView("customer_sq_v")
    s.sql(
      """SELECT n.n_name,
        |  (SELECT COUNT(*) FROM customer_sq_v c
        |   WHERE c.c_nationkey = n.n_nationkey) AS n_customers,
        |  (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |   FROM customer_sq_v c
        |   WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 0) AS pos_acctbal
        |FROM nation_sq_v n ORDER BY n.n_name""".stripMargin)
  }

  /** q47 — deletion-cascade impact report (the GDPR/right-to-be-
    * forgotten pass a training-data pipeline must run before a rebuild):
    * a deterministic ~1% customer deletion list cascades along the FK
    * chain (customers → their orders → those orders' lineitems), and the
    * report partitions every table plus revenue into deleted/kept.
    *
    * Scale: the deletion list is data-dependent (grows with the
    * customer table) so it joins KEYED as semi/anti — never forced
    * broadcast; the cascade rides the FK equi-keys (custkey, orderkey),
    * exactly the joins the tables are bucketed by at deployment; all
    * counts/sums are partial aggregates. The md5 gate makes the
    * "deletion request sample" rerunnable in both engines (k03's
    * discipline). */
  def forgetCascade(s: SparkSession, d: String): DataFrame = {
    val delCust = customer(s, d)
      .filter(pmod(conv(substring(md5(concat(col("c_custkey").cast("string"), lit(":forget"))), 1, 8), 16, 10)
        .cast("long"), lit(101L)) === 0)
      .select(col("c_custkey").as("k"))
    val o = orders(s, d)
    val oDel = o.join(delCust, col("o_custkey") === col("k"), "left_semi")
    val oKeep = o.join(delCust, col("o_custkey") === col("k"), "left_anti")
    val li = lineitem(s, d)
    val liDel = li.join(oDel.select(col("o_orderkey").as("dk")),
      col("l_orderkey") === col("dk"), "left_semi")
    val liKeep = li.join(oDel.select(col("o_orderkey").as("dk")),
      col("l_orderkey") === col("dk"), "left_anti")
    val cc = delCust.agg(count(lit(1)).as("n_cust_del"))
    val oc = oDel.agg(count(lit(1)).as("n_orders_del"),
        asDbl(sum(dec("o_totalprice"))).as("rev_deleted"))
      .crossJoin(oKeep.agg(count(lit(1)).as("n_orders_kept"),
        asDbl(sum(dec("o_totalprice"))).as("rev_kept")))
    val lc = liDel.agg(count(lit(1)).as("n_li_del"))
      .crossJoin(liKeep.agg(count(lit(1)).as("n_li_kept")))
    // three 1-row audit frames — scalar crossJoins, the standard pattern
    cc.crossJoin(oc).crossJoin(lc)
      .select("n_cust_del", "n_orders_del", "n_orders_kept",
        "n_li_del", "n_li_kept", "rev_deleted", "rev_kept")
  }

  /** q48 — typed-Aggregator top-k ON the graded surface: per-nation
    * top-3 customers by balance through `functions.ScoredTopK`
    * (Aggregator[IN, BUF, OUT], SURVEY §2.7) — the bounded-buffer
    * PARTIAL top-k whose per-executor state is ≤ k rows merged
    * associatively, vs. the window formulation that shuffles and sorts
    * every group row (q09's shape; the oracle states exactly that
    * formulation, so the two must agree ranking for ranking). This is
    * the 100 TB answer when groups are huge and k is small: map-side
    * combine folds each partition to k rows before anything moves. */
  def typedTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = customer(s, d)
      .select(col("c_nationkey").cast("long"), col("c_custkey").cast("long"),
        col("c_acctbal").cast("double"))
      .as[(Long, Long, Double)]
    ds.groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(graft.functions.ScoredTopK(3).toColumn.name("top"))
      .toDF("n_nationkey", "top")
      .select(col("n_nationkey"), posexplode(col("top")))
      .select(col("n_nationkey"), (col("pos") + 1).cast("long").as("rk"),
        col("col._1").as("c_custkey"), col("col._2").as("acctbal"))
      .orderBy("n_nationkey", "rk")
  }

  /** q50 — gaps-and-islands interval coalescing: each shipment opens a
    * 7-day activity interval for its supplier; overlapping intervals
    * merge into maximal islands (the canonical relational coalescing
    * op behind uptime accounting, session stitching, validity merging).
    * The islands derive from one running-max window per supplier: an
    * interval starts a new island iff its start exceeds every earlier
    * interval's end — no self-join, no recursion.
    *
    * Scale: the single window partitions by supplier (the e01 shape —
    * one hash shuffle on the natural key serves everything); intervals
    * dedup on (supplier, start) first so the window walks distinct
    * starts; island aggregation is a keyed partial agg. */
  def intervalIslands(s: SparkSession, d: String): DataFrame = {
    val iv = lineitem(s, d)
      .select(col("l_suppkey").as("supp"),
        expr("unix_micros(l_shipdate) div 86400000000").as("d0"))
      .distinct()
      .withColumn("d1", col("d0") + 6)
    val w = Window.partitionBy("supp").orderBy("d0")
    val isl = iv
      .withColumn("prev_max_end",
        max("d1").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull || col("d0") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    isl.groupBy("supp", "island")
      .agg(min("d0").as("i0"), max("d1").as("i1"))
      .groupBy("supp")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i1") - col("i0") + 1).as("covered_days"),
        (max("i1") - min("i0") + 1).as("span_days"))
      .orderBy("supp")
  }

  /** q51 — market-basket association rules: the top-20 part pairs by
    * co-purchase support, each graded with confidence (P(b|a)) and lift
    * (support ratio over independence) — the classic
    * frequent-itemset-mining readout at the pair level. All counting is
    * exact integer; the three ratios are single float divisions rounded
    * once (the engine's float discipline), so both engines reproduce
    * the rule table bit for bit.
    *
    * Scale: baskets dedup keyed on (order, part); the pair explosion is
    * the p02 shape — a keyed self-join whose fan-out is bounded by
    * basket size, never corpus size; pair/item supports are partial
    * counts; the top-20 cut is TakeOrderedAndProject. */
  def basketRules(s: SparkSession, d: String): DataFrame = {
    // ONE explicit ok-shuffle serves the dedup AND the pair self-join
    // (the p04 agg-pair rule: HashPartitioning on a SUBSET of the dedup
    // keys clusters every (ok, pk) group, and the self-join keys on ok)
    // — a localCheckpoint would drop partitioning (Scan ExistingRDD)
    // and the join would re-shuffle BOTH sides. persist keeps the
    // partitioning; the 20-row result is checkpointed so the persisted
    // baskets release before the call returns.
    val items = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(col("ok"))
      .dropDuplicates("ok", "pk") // feeds baskets, item + pair supports
      .persist()
    try basketRulesOn(items).localCheckpoint() finally items.unpersist()
  }

  /** The rule table over the deduplicated (ok, pk) baskets. */
  private def basketRulesOn(items: DataFrame): DataFrame = {
    val nBaskets = items.select("ok").distinct().count()
    val itemCnt = items.groupBy(col("pk").as("item")).agg(count(lit(1)).as("cnt"))
    val pairs = items.join(items.withColumnRenamed("pk", "pk2"), "ok")
      .filter(col("pk") < col("pk2"))
      .groupBy(col("pk").as("a"), col("pk2").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .orderBy(col("n_ab").desc, col("a").asc, col("b").asc).limit(20)
    pairs
      .join(itemCnt.select(col("item").as("a"), col("cnt").as("n_a")), "a")
      .join(itemCnt.select(col("item").as("b"), col("cnt").as("n_b")), "b")
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab") / lit(nBaskets.toDouble), 6).as("support"),
        round(col("n_ab") / col("n_a").cast("double"), 6).as("confidence"),
        round((col("n_ab") * lit(nBaskets.toDouble)) /
          (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
      .orderBy(col("n_ab").desc, col("a").asc, col("b").asc)
  }

  // --- q52: symmetric-delete blocked fuzzy match ------------------------

  /** q52 — entity-resolution fuzzy matching with SymSpell-style
    * symmetric-delete blocking: every name emits its |name| delete-one-
    * char signatures PLUS itself as the distance-0 signature (classic
    * SymSpell). Candidate pairs are names SHARING a signature — a
    * substitution pair shares a delete-1 (delete the substituted
    * position); an insert/delete pair shares the shorter name itself
    * (it IS a delete-1 signature of the longer) — so every pair at
    * edit distance ≤ 1 shares one. The exact `levenshtein` check then
    * keeps distance ≤ 1. Emits the census (candidates generated vs
    * matches kept — the blocking's realized precision) plus the top-20
    * matched pairs; the per-pair distance column grades that both
    * engines' levenshtein agree edit for edit.
    *
    * Scale: the all-pairs O(n²) name comparison never happens —
    * signatures are a linear 19× row explosion shuffled once on the
    * signature key, and candidate volume is Σ|block|² over blocks whose
    * size the delete-1 keyspace bounds; the exact verify runs only on
    * candidates. This is t03's shingle-LSH discipline applied to EDIT
    * distance. */
  def fuzzyBlockedMatch(s: SparkSession, d: String): DataFrame =
    // the VERIFIED candidate frame (id, id2, dist) is checkpointed: the
    // readout's census and top-20 both read it
    fuzzyReadout(fuzzyCandUncached(
        customer(s, d).select(col("c_custkey").as("id"), col("c_name").as("nm")))
      .localCheckpoint())

  /** Core over an explicit (id, nm) frame — factored so DqDiffSpec can
    * plant unequal-length names and prove recall 1 against a true
    * Levenshtein brute force (the fixture's c_name is fixed-length, so
    * insert/delete pairs never occur there).
    *
    * Shuffle diet (round-12 brief #4): the signature self-join — the
    * hottest exchange on the r12 board at 4.8 s warm — used to carry
    * (sig STRING, id, nm) rows, i.e. the full ~25-char name and its
    * ~24-char signature through a 19×-exploded shuffle. The exchange
    * now carries (sig64 BIGINT, id BIGINT) ONLY: signatures hash to
    * xxhash64 keys before the join, the pair set dedups as bare id
    * pairs, and names join back by key on the candidate-scale frame.
    * A 64-bit hash can collide (≈n²/2⁶⁴), which would inflate the
    * n_candidates census the oracle grades — so candidates pass an
    * EXACT arrays_overlap recheck of the two delete-1 signature sets,
    * a per-pair O(len²) char computation on the blocked (bounded)
    * candidate set, never a second corpus shuffle. Collisions thus
    * cost a recheck, never a wrong row, at any scale. */
  /** The candidate-pair BUILD plan (everything below the checkpoint) —
    * exposed so PlanSpec can lock the hashed-key exchange shape. */
  /** The pipeline's stage frames, exposed as a group so Q52Probe times
    * each cumulative prefix of the SAME frames the production query
    * runs (a copy-pasted probe pipeline drifted from the real one
    * within a single round — round-15 review finding). */
  private[queries] final case class FuzzyStages(
      withSig: DataFrame, sigs: DataFrame, candIds: DataFrame,
      joined: DataFrame)

  private[queries] def fuzzyCandUncached(c: DataFrame): DataFrame = {
    val st = fuzzyStages(c)
    // the recheck SHORT-CIRCUITS behind the fused distance (round-14
    // brief #1): a pair at distance ≤ 1 provably shares a TRUE
    // signature — identical names share the distance-0 signature; a
    // substitution pair shares the delete-at-the-substituted-position
    // signature; an insert/delete pair shares the shorter name itself —
    // so `dist <= 1 OR overlap` equals `overlap` exactly (dist ≤ 1 ⟹
    // overlap), and the O(len²)-ish array probe runs only on the ~2/3
    // of candidates at distance ≥ 2. Collision-borne pairs (the
    // recheck's prey) are ~never at distance ≤ 1, and when one is, it
    // shares a true signature and IS a legitimate candidate.
    st.joined
      .filter(col("dist") <= 1 ||
        arrays_overlap(col("sig_arr"), col("sig_arr2")))
      .select("id", "id2", "dist")
  }

  private[queries] def fuzzyStages(c: DataFrame): FuzzyStages = {
    // delete-1 signatures + the name itself (distance-0 signature),
    // as an array expression reused by the exact collision recheck
    def sigSet(nmCol: String): String =
      s"array_append(transform(sequence(1, length($nmCol)), " +
        s"i -> concat(substring($nmCol, 1, i - 1), substring($nmCol, i + 1))), $nmCol)"
    // the signature array is built ONCE PER CORPUS ROW here, below the
    // candidate joins (round-13 verdict: the first diet shape rebuilt
    // BOTH arrays inline in the recheck filter, per candidate row —
    // ~50 substring+concat calls × 2 sides × |candidates|, and q52
    // graded 3.3 → 5.5 s). The array rides the corpus frame through the
    // id join-backs (a linear pass — never the 19×-exploded shuffle the
    // diet removed), so the recheck filter reads two columns.
    val withSig = c.select(col("id"), col("nm"), expr(sigSet("nm")).as("sig_arr"))
    val sigs = withSig
      .select(col("id"), explode(col("sig_arr")).as("sig"))
      .select(col("id"), xxhash64(col("sig")).as("sig64"))
      .distinct() // deleting duplicate chars yields the same signature
    val candIds = sigs
      .join(sigs.select(col("sig64"), col("id").as("id2")), "sig64")
      .filter(col("id") < col("id2"))
      .select("id", "id2").distinct()
    // dist is computed IN the same codegen stage as the recheck filter
    // fuzzyCandUncached applies above this frame
    val joined = candIds
      .join(withSig, "id")
      .join(withSig.select(col("id").as("id2"), col("nm").as("nm2"),
        col("sig_arr").as("sig_arr2")), "id2")
      .withColumn("dist", levenshtein(col("nm"), col("nm2")))
    FuzzyStages(withSig, sigs, candIds, joined)
  }

  private[queries] def fuzzyBlockedMatchOn(c: DataFrame): DataFrame =
    fuzzyReadout(fuzzyCandUncached(c).localCheckpoint())

  /** Census + top-20 readout over the (id, id2, dist) candidate frame.
    * The expensive subtree (signature self-join + dedup) feeds THREE
    * consumers — the match filter, the candidate census, and through
    * matches the top-20 — which is why the frame arrives CHECKPOINTED
    * (re-executing it per consumer measured q52 warm 4.6 → ~3.0 s at
    * sf0.1). The exact distance is computed IN the build pass so the
    * pinned frame is three ints per candidate, never two ~25-char
    * names (~60 B → 24 B per row), and no consumer re-touches
    * strings. */
  private def fuzzyReadout(cand: DataFrame): DataFrame = {
    val matches = cand.filter(col("dist") <= 1)
    val census = cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(matches.agg(count(lit(1)).as("n_matches")))
    matches
      .orderBy(col("id").asc, col("id2").asc).limit(20)
      .crossJoin(broadcast(census))
      .select(col("id").as("a"), col("id2").as("b"), col("dist"),
        col("n_candidates"), col("n_matches"))
      .orderBy("a", "b")
  }

  private val FuzzyMatchDuck: String =
    """WITH c AS (SELECT c_custkey AS id, c_name AS nm FROM customer),
      |sigs AS (SELECT DISTINCT id, nm, sig FROM (
      |  SELECT id, nm,
      |    substr(nm, 1, CAST(i AS INT) - 1) || substr(nm, CAST(i AS INT) + 1) AS sig
      |  FROM (SELECT id, nm, unnest(generate_series(1, length(nm))) AS i FROM c)
      |  UNION ALL SELECT id, nm, nm AS sig FROM c)),
      |cand AS (SELECT DISTINCT s1.id, s1.nm, s2.id AS id2, s2.nm AS nm2
      |  FROM sigs s1 JOIN sigs s2 ON s1.sig = s2.sig AND s1.id < s2.id),
      |m AS (SELECT id, id2, levenshtein(nm, nm2) AS dist FROM cand
      |      WHERE levenshtein(nm, nm2) <= 1),
      |census AS (SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
      |                  (SELECT COUNT(*) FROM m) AS n_matches),
      |top AS (SELECT id, id2, dist FROM m ORDER BY id, id2 LIMIT 20)
      |SELECT t.id AS a, t.id2 AS b, t.dist, c.n_candidates, c.n_matches
      |FROM top t, census c ORDER BY a, b""".stripMargin

  // --- q53: data-quality expectation suite ------------------------------

  /** q53 — the Deequ-style EXPECTATION LEDGER a pipeline gates a load
    * on: named checks over lineitem/orders, each a (check, observed,
    * threshold, pass) row — PK uniqueness, FK orphan count, null
    * counts, a value-range violation count, a cross-table date
    * ordering, and a minimum row count. The reference re-counts every
    * table after each load (its row-count audit); this is that audit
    * grown into a contract.
    *
    * Scale: all row-level checks fold into ONE conditional-aggregate
    * pass per table (mergeable sums — never one scan per check); the
    * two join checks key on orderkey. Observations are exact integers,
    * so pass/fail can never float-drift. */
  def dqExpectations(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val o = orders(s, d)
    // one pass: row count + range violations + nulls
    val rowChecks = li.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("qty_viol"),
      sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("null_flag"))
    val dupPk = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_dup"))
    val joined = li.select("l_orderkey", "l_shipdate")
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("orphans"),
        sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L))
          .as("ship_before_order"))
    def check(name: String, observed: Column, threshold: Long, geq: Boolean = false) =
      struct(lit(name).as("check"), observed.cast("long").as("observed"),
        lit(threshold).as("threshold"),
        (if (geq) observed >= threshold else observed <= threshold)
          .cast("int").as("pass"))
    rowChecks.crossJoin(dupPk).crossJoin(joined)
      .select(explode(array(
        check("01_pk_unique", col("n_dup"), 0L),
        check("02_fk_orphans", col("orphans"), 0L),
        check("03_null_returnflag", col("null_flag"), 0L),
        check("04_qty_in_range", col("qty_viol"), 0L),
        check("05_ship_after_order", col("ship_before_order"), 0L),
        check("06_min_rows", col("n_rows"), 1L, geq = true))).as("r"))
      .select("r.check", "r.observed", "r.threshold", "r.pass")
      .orderBy("check")
  }

  private val DqExpectationsDuck: String =
    """WITH rowchecks AS (SELECT COUNT(*) AS n_rows,
      |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_viol,
      |    CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_flag
      |  FROM lineitem),
      |duppk AS (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_dup FROM (
      |    SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
      |  WHERE c > 1),
      |joined AS (SELECT
      |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphans,
      |    CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS ship_before_order
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |ledger AS (
      |  SELECT '01_pk_unique' AS "check", n_dup AS observed, 0 AS threshold FROM duppk
      |  UNION ALL SELECT '02_fk_orphans', orphans, 0 FROM joined
      |  UNION ALL SELECT '03_null_returnflag', null_flag, 0 FROM rowchecks
      |  UNION ALL SELECT '04_qty_in_range', qty_viol, 0 FROM rowchecks
      |  UNION ALL SELECT '05_ship_after_order', ship_before_order, 0 FROM joined
      |  UNION ALL SELECT '06_min_rows', n_rows, 1 FROM rowchecks)
      |SELECT "check", observed, CAST(threshold AS BIGINT) AS threshold,
      |  CAST(CASE WHEN "check" = '06_min_rows'
      |       THEN (observed >= threshold) ELSE (observed <= threshold) END AS INT) AS pass
      |FROM ledger ORDER BY "check"""".stripMargin

  // --- q54: snapshot diff (CDC derivation) ------------------------------

  /** q54 — table-diff / CDC derivation: given today's orders and a
    * DERIVED next snapshot (every key ≡ 0 mod 97 repriced +10.00, every
    * key ≡ 0 mod 101 deleted, a new negative-key row inserted per key ≡
    * 0 mod 103), emit the change census per type with key-range
    * evidence — the "what changed between snapshots" primitive a
    * lakehouse derives incrementally-maintainable feeds from when the
    * source has no change log. Both engines derive the SAME synthetic
    * snapshot, so the diff itself is what's graded.
    *
    * Scale: ONE full-outer join keyed on the PK; change classification
    * compares typed columns directly (exact-decimal price equality —
    * no row-hash, whose string formatting would be the cross-engine
    * hazard); census is a metadata-scale aggregate. Deletes/inserts
    * surface as one-sided rows — the standard snapshot-diff shape. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val cur = orders(s, d).select(col("o_orderkey").as("k"),
      dec(col("o_totalprice")).as("price"), col("o_orderstatus").as("status"))
    val nxt = cur
      .filter(pmod(col("k"), lit(101)) =!= 0)
      .withColumn("price",
        when(pmod(col("k"), lit(97)) === 0, col("price") + dec(lit(10.00)))
          .otherwise(col("price")))
      .unionByName(cur.filter(pmod(col("k"), lit(103)) === 0)
        .select((-col("k")).as("k"), col("price"), col("status")))
    val diff = cur.select(col("k"), col("price").as("p0"), col("status").as("s0"))
      .join(nxt.select(col("k"), col("price").as("p1"), col("status").as("s1")),
        Seq("k"), "full_outer")
      .withColumn("change_type",
        when(col("p0").isNull, "insert")
          .when(col("p1").isNull, "delete")
          .when(col("p0") =!= col("p1") || col("s0") =!= col("s1"), "update")
          .otherwise("unchanged"))
    diff.groupBy("change_type")
      .agg(count(lit(1)).as("n_rows"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      .orderBy("change_type")
  }

  private val SnapshotDiffDuck: String =
    """WITH cur AS (SELECT o_orderkey AS k,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price, o_orderstatus AS status
      |  FROM orders),
      |nxt AS (
      |  SELECT k,
      |    CASE WHEN k % 97 = 0 THEN price + CAST(10.00 AS DECIMAL(18,2)) ELSE price END AS price,
      |    status
      |  FROM cur WHERE k % 101 != 0
      |  UNION ALL
      |  SELECT -k, price, status FROM cur WHERE k % 103 = 0),
      |diff AS (SELECT
      |    CASE WHEN c.k IS NULL THEN 'insert'
      |         WHEN n.k IS NULL THEN 'delete'
      |         WHEN c.price != n.price OR c.status != n.status THEN 'update'
      |         ELSE 'unchanged' END AS change_type,
      |    COALESCE(c.k, n.k) AS k
      |  FROM cur c FULL OUTER JOIN nxt n ON c.k = n.k)
      |SELECT change_type, COUNT(*) AS n_rows,
      |  MIN(k) AS min_key, MAX(k) AS max_key
      |FROM diff GROUP BY change_type ORDER BY change_type""".stripMargin

  // --- q58: observed metrics (CollectMetrics on the result's own scan) --

  /** q58 — pipeline observability through Spark's Observation API: the
    * q01-shaped pricing aggregate runs with `observe()` metrics riding
    * its OWN scan (a CollectMetrics node feeding accumulators — ZERO
    * extra passes), and the graded row places the observed input-side
    * metrics NEXT TO the result-side aggregates they must reconcile
    * with: rows scanned vs rows in groups, input quantity mass vs
    * grouped quantity mass. The reference re-COUNTS its tables after
    * every load to audit them (a second full scan per table); this is
    * that audit at zero marginal cost — at 100 TB the difference
    * between auditing and re-reading. Exact decimals make the
    * reconciliation a hard equality, graded by the oracle stating both
    * sides from the same table. An Observation binds to one action, so
    * every call builds its own. */
  /** The observed plan SHAPE, pre-action — PlanSpec's hook for the
    * zero-extra-pass claim (the graded frame is post-action and
    * carries no plan). */
  private[queries] def observedShape(s: SparkSession, d: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation(s"q58_shape_${System.nanoTime()}")
    lineitem(s, d)
      .filter(col("l_quantity") >= 10)
      .observe(obs,
        count(lit(1)).as("n_scanned"),
        sum(dec("l_quantity")).as("qty_mass"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum(dec("l_quantity")).as("qty"))
  }

  def observedMetrics(s: SparkSession, d: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation(
      s"q58_${System.nanoTime()}") // names are once-per-run
    val grouped = lineitem(s, d)
      .filter(col("l_quantity") >= 10)
      .observe(obs,
        count(lit(1)).as("n_scanned"),
        sum(dec("l_quantity")).as("qty_mass"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum(dec("l_quantity")).as("qty"))
    val res = grouped.agg(count(lit(1)).as("n_groups"),
        sum(col("n_rows")).as("n_in_groups"), asDbl(sum(col("qty"))).as("qty_grouped"))
      .collect()(0) // the action the observation rides
    val m = obs.get
    import s.implicits._
    Seq((res.getLong(0), res.getLong(1), res.getDouble(2),
      m("n_scanned").asInstanceOf[Long],
      m("qty_mass").asInstanceOf[java.math.BigDecimal].doubleValue()))
      .toDF("n_groups", "n_in_groups", "qty_grouped", "n_scanned_observed",
        "qty_mass_observed")
  }

  private val ObservedMetricsDuck: String =
    """WITH f AS (SELECT l_returnflag, CAST(l_quantity AS DECIMAL(18,2)) AS q
      |  FROM lineitem WHERE l_quantity >= 10),
      |g AS (SELECT l_returnflag, COUNT(*) AS n_rows, SUM(q) AS qty FROM f GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM g) AS n_groups,
      |  (SELECT CAST(SUM(n_rows) AS BIGINT) FROM g) AS n_in_groups,
      |  (SELECT CAST(SUM(qty) AS DOUBLE) FROM g) AS qty_grouped,
      |  (SELECT COUNT(*) FROM f) AS n_scanned_observed,
      |  (SELECT CAST(SUM(q) AS DOUBLE) FROM f) AS qty_mass_observed""".stripMargin

  // --- q46: Z-order (Morton) clustering + cell-aligned box query --------

  /** Bits per dimension of the Morton code. Price cells 0–9 need 4; the
    * 80-month date range needs 7; 8 covers both with headroom. */
  private val ZBits = 8

  /** Interleave the low `ZBits` of x (even positions) and y (odd): the
    * Morton code, in pure integer shift/mask ops — identical in every
    * engine, no float anywhere. */
  private def zInterleave(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  private def zInterleaveDuck(x: String, y: String): String =
    (0 until ZBits).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Orders bucketized onto the 2-D grid the Z-curve runs over:
    * xb = price/50k cell (0–9), yb = months since 1995-01 (0–79),
    * zval = Morton(xb, yb). */
  private[queries] def zGrid(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .withColumn("xb", floor(col("o_totalprice") / 50000.0).cast("long"))
      .withColumn("yb",
        ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1).cast("long"))
      .withColumn("zval", zInterleave(col("xb"), col("yb")))

  /** q46 — Z-order box query: a 2-D predicate (price cells 2–4 × months
    * 24–40) answered through the Morton-code cover of the box. The
    * engine enumerates the box's cells (3×17 = 51 — metadata-scale, by
    * construction of a cell-ALIGNED box), Morton-codes each, and
    * semi-joins the fact on zval; the oracle states the plain 2-D
    * filter over raw columns — the curve must be result-invisible.
    *
    * Why this is the 100 TB layout op: sorted/partitioned by zval, ONE
    * clustering key gives file-level min/max pruning on BOTH dimensions
    * at once (a price-sorted layout prunes nothing for a date
    * predicate); the box cover is the set of z-ranges a reader would
    * push down. ZOrderSpec quantifies the locality win on real files.
    * Output carries zval so the interleave math itself is graded. */
  def zorderBoxQuery(s: SparkSession, d: String): DataFrame = {
    val cover = spark_cells(s)
    // the z-range pushdown made LITERAL (round 16): the box's bounding
    // raw-column ranges — derived from the SAME BoxX/BoxY constants the
    // cover enumerates, so they cannot drift — reach the parquet scan
    // as PushedFilters (PlanSpec locks it). On a z-sorted layout these
    // are exactly the file-skipping ranges; the broadcast cover join
    // stays the EXACT cell filter (here redundant since the box is
    // cell-aligned and contiguous, but the join is what generalizes to
    // a non-contiguous Morton cover — and the oracle's plain 2-D filter
    // keeps both honest).
    zGrid(s, d)
      .filter(col("o_totalprice") >= lit(BoxXLo * 50000.0) &&
        col("o_totalprice") < lit((BoxXHi + 1) * 50000.0) &&
        col("o_orderdate") >= lit(monthStart(BoxYLo)) &&
        col("o_orderdate") < lit(monthStart(BoxYHi + 1)))
      .join(broadcast(cover), "zval") // ≤ |box cells| rows — structurally bounded
      .groupBy("xb", "yb", "zval")
      .agg(count(lit(1)).as("n_orders"), asDbl(sum(dec("o_totalprice"))).as("sum_price"))
      .orderBy("zval")
  }

  /** The box: price cells [BoxXLo, BoxXHi] × month cells [BoxYLo,
    * BoxYHi] — single-sourced between the cover enumeration and the
    * scan-pushdown ranges above. */
  private val BoxXLo = 2L
  private val BoxXHi = 4L
  private val BoxYLo = 24L
  private val BoxYHi = 40L

  /** First instant of month cell m (months since 1995-01) — fixture
    * o_orderdate is TIMESTAMP. Built UTC-explicitly: yb (year/month)
    * and the DuckDB oracle evaluate in the UTC session timezone, so the
    * bound must be an instant, not a JVM-default-TZ wall time (on a
    * host west of UTC `Timestamp.valueOf` would land hours late and
    * drop orders dated on the first UTC day of the cell). */
  private def monthStart(m: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(
      java.time.LocalDate.of(1995, 1, 1).plusMonths(m)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant)

  /** The box's Morton cover: every (x, y) cell of the cell-aligned box,
    * coded. Built from ranges — never touches the fact table. */
  private def spark_cells(s: SparkSession): DataFrame = {
    import s.implicits._
    (for { x <- BoxXLo to BoxXHi; y <- BoxYLo to BoxYHi } yield (x, y))
      .toDF("cx", "cy")
      .select(zInterleave(col("cx"), col("cy")).as("zval"))
  }

  private val D = "DECIMAL(18,2)"

  val defs: Map[String, QueryDef] = Map(
    "q52_fuzzy_blocked_match" -> QueryDef(fuzzyBlockedMatch _, FuzzyMatchDuck),
    // merge-on-read time travel: the oracle restates the three logical
    // snapshots over raw parquet — the tombstone/append log layout must
    // be result-invisible (q42/q43's layout-invisibility rule)
    "q55_mor_time_travel" -> QueryDef(
      graft.operators.MergeOnRead.morTimeTravel _,
      graft.operators.MergeOnRead.oracle),
    // (the query id space intentionally skips q56 — a round-7 draft id
    // that was never shipped; nothing is missing)
    "q57_mor_compaction" -> QueryDef(
      graft.operators.MergeOnRead.morCompaction _,
      graft.operators.MergeOnRead.compactionOracle),
    "q59_compaction_trigger" -> QueryDef(
      graft.operators.MergeOnRead.compactionTrigger _,
      graft.operators.MergeOnRead.triggerOracle),
    // the SQL-syntax entrance to the same native operator shares q60's
    // oracle verbatim — parse path and builder path must agree
    "q61_asof_sql" -> QueryDef(asofJoinSql _,
      """WITH v AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'view'),
        |p AS (SELECT user_id AS p_user, ts AS p_ts,
        |    CAST(MAX(event_id) AS BIGINT) AS p_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT v.event_id, v.user_id,
        |  CAST(COALESCE(p.p_id, -1) AS BIGINT) AS last_purchase
        |FROM v ASOF LEFT JOIN p
        |  ON v.user_id = p.p_user AND v.ts > p.p_ts
        |ORDER BY v.event_id""".stripMargin),
    // two native as-of implementations, one per engine, must agree
    "q60_asof_native" -> QueryDef(asofJoinNative _,
      """WITH v AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'view'),
        |p AS (SELECT user_id AS p_user, ts AS p_ts,
        |    CAST(MAX(event_id) AS BIGINT) AS p_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT v.event_id, v.user_id,
        |  CAST(COALESCE(p.p_id, -1) AS BIGINT) AS last_purchase
        |FROM v ASOF LEFT JOIN p
        |  ON v.user_id = p.p_user AND v.ts > p.p_ts
        |ORDER BY v.event_id""".stripMargin),
    "q58_observed_metrics" -> QueryDef(observedMetrics _, ObservedMetricsDuck),
    "q53_dq_expectations" -> QueryDef(dqExpectations _, DqExpectationsDuck),
    "q54_snapshot_diff" -> QueryDef(snapshotDiff _, SnapshotDiffDuck),
    // exact-integer supports; ratios are single rounded divisions
    "q51_basket_rules" -> QueryDef(basketRules _,
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |nb AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM items),
        |ic AS (SELECT pk AS item, COUNT(*) AS cnt FROM items GROUP BY pk),
        |pr AS (SELECT x.pk AS a, y.pk AS b, COUNT(*) AS n_ab
        |  FROM items x JOIN items y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY x.pk, y.pk
        |  ORDER BY n_ab DESC, a ASC, b ASC LIMIT 20)
        |SELECT p.a, p.b, p.n_ab, ia.cnt AS n_a, ib.cnt AS n_b,
        |  round(CAST(p.n_ab AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE), 6) AS support,
        |  round(CAST(p.n_ab AS DOUBLE) / CAST(ia.cnt AS DOUBLE), 6) AS confidence,
        |  round((p.n_ab * CAST(nb.n_baskets AS DOUBLE)) /
        |        CAST(ia.cnt * ib.cnt AS DOUBLE), 6) AS lift
        |FROM pr p
        |JOIN ic ia ON ia.item = p.a
        |JOIN ic ib ON ib.item = p.b, nb
        |ORDER BY p.n_ab DESC, p.a ASC, p.b ASC""".stripMargin),

    // the oracle restates the same running-max island derivation
    "q50_interval_islands" -> QueryDef(intervalIslands _,
      """WITH iv AS (SELECT DISTINCT l_suppkey AS supp,
        |    epoch_us(l_shipdate) // 86400000000 AS d0 FROM lineitem),
        |ext AS (SELECT supp, d0, d0 + 6 AS d1 FROM iv),
        |mk AS (SELECT supp, d0, d1,
        |    MAX(d1) OVER (PARTITION BY supp ORDER BY d0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM ext),
        |fl AS (SELECT supp, d0, d1,
        |    CASE WHEN pme IS NULL OR d0 > pme THEN 1 ELSE 0 END AS ni FROM mk),
        |isl AS (SELECT supp, d0, d1,
        |    SUM(ni) OVER (PARTITION BY supp ORDER BY d0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM fl),
        |agg AS (SELECT supp, island, MIN(d0) AS i0, MAX(d1) AS i1
        |  FROM isl GROUP BY supp, island)
        |SELECT supp, COUNT(*) AS n_islands,
        |  CAST(SUM(i1 - i0 + 1) AS BIGINT) AS covered_days,
        |  CAST(MAX(i1) - MIN(i0) + 1 AS BIGINT) AS span_days
        |FROM agg GROUP BY supp ORDER BY supp""".stripMargin),

    // the oracle restates the MERGED semantics over raw parquet: the
    // copy-on-write partition rewrite must be result-invisible (the
    // physical untouched-files claim is CowUpsertSpec's half)
    "q49_cow_upsert" -> QueryDef(graft.operators.CopyOnWrite.cowUpsert _,
      s"""WITH merged AS (SELECT o_orderpriority,
         |    CASE WHEN o_orderpriority = '1-URGENT'
         |          AND ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':cow'), 1, 8))::BIGINT % 10 = 0
         |         THEN CAST(o_totalprice AS $D) + 1000 ELSE CAST(o_totalprice AS $D) END AS price,
         |    CASE WHEN o_orderpriority = '1-URGENT'
         |          AND ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':cow'), 1, 8))::BIGINT % 10 = 0
         |         THEN 1 ELSE 0 END AS upd
         |  FROM orders)
         |SELECT o_orderpriority AS grp, COUNT(*) AS n_orders,
         |  CAST(SUM(price) AS DOUBLE) AS sum_price,
         |  CAST(SUM(upd) AS BIGINT) AS n_updated
         |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),

    // the oracle states the WINDOW formulation the bounded-buffer
    // aggregator replaces — both must rank identically, ties on id
    "q48_typed_topk" -> QueryDef(typedTopK _,
      """SELECT c_nationkey AS n_nationkey, rk, c_custkey, acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal AS acctbal,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rk
        |  FROM customer) r
        |WHERE rk <= 3 ORDER BY n_nationkey, rk""".stripMargin),

    // the oracle states the cascade as IN/NOT-IN subqueries — the
    // semi/anti join strategy must be result-invisible
    "q47_forget_cascade" -> QueryDef(forgetCascade _,
      s"""WITH del AS (SELECT c_custkey AS k FROM customer
         |  WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':forget'), 1, 8))::BIGINT % 101 = 0),
         |odel AS (SELECT * FROM orders WHERE o_custkey IN (SELECT k FROM del)),
         |okeep AS (SELECT * FROM orders WHERE o_custkey NOT IN (SELECT k FROM del)),
         |ldel AS (SELECT * FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM odel)),
         |lkeep AS (SELECT * FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM odel))
         |SELECT (SELECT COUNT(*) FROM del) AS n_cust_del,
         |  (SELECT COUNT(*) FROM odel) AS n_orders_del,
         |  (SELECT COUNT(*) FROM okeep) AS n_orders_kept,
         |  (SELECT COUNT(*) FROM ldel) AS n_li_del,
         |  (SELECT COUNT(*) FROM lkeep) AS n_li_kept,
         |  (SELECT CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) FROM odel) AS rev_deleted,
         |  (SELECT CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) FROM okeep) AS rev_kept""".stripMargin),

    // the oracle is the PLAIN 2-D box filter: the Morton cover the
    // engine routes through must be result-invisible; zval in the
    // output grades the interleave bit math on both engines
    "q46_zorder_box" -> QueryDef(zorderBoxQuery _, {
      val zx = zInterleaveDuck("xb", "yb")
      s"""WITH g AS (SELECT
         |    CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS xb,
         |    CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
         |         + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS yb,
         |    o_totalprice
         |  FROM orders)
         |SELECT xb, yb, CAST($zx AS BIGINT) AS zval, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS $D)) AS DOUBLE) AS sum_price
         |FROM g WHERE xb BETWEEN 2 AND 4 AND yb BETWEEN 24 AND 40
         |GROUP BY xb, yb ORDER BY zval""".stripMargin
    }),

    "q41_scalar_subqueries" -> QueryDef(scalarSubqueryStats _,
      s"""SELECT n.n_name,
         |  (SELECT COUNT(*) FROM customer c
         |   WHERE c.c_nationkey = n.n_nationkey) AS n_customers,
         |  (SELECT CAST(SUM(CAST(c_acctbal AS $D)) AS DOUBLE)
         |   FROM customer c
         |   WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 0) AS pos_acctbal
         |FROM nation n ORDER BY n.n_name""".stripMargin),

    "q40_lateral_topn" -> QueryDef(lateralTopCustomers _,
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name ASC LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin),

    "q39_unpivot_metrics" -> QueryDef(unpivotMetrics _,
      s"""WITH a AS (SELECT l_returnflag,
         |    CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) AS sum_qty,
         |    CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) AS sum_price,
         |    CAST(COUNT(*) AS DOUBLE) AS n_items
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, metric, value FROM (
         |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
         |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM a
         |  UNION ALL SELECT l_returnflag, 'n_items', n_items FROM a) u
         |ORDER BY l_returnflag, metric""".stripMargin),
    "q32_union_all" -> QueryDef(unionAllNations _,
      """SELECT nationkey, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin),

    "q33_window_navigation" -> QueryDef(windowNavigation _,
      """SELECT l_suppkey, first_ship, last_ship, first_qty, next_qty FROM (
        |  SELECT l_suppkey, l_quantity AS first_qty,
        |    FIRST_VALUE(l_shipdate) OVER w2 AS first_ship,
        |    LAST_VALUE(l_shipdate) OVER w2 AS last_ship,
        |    COALESCE(LEAD(l_quantity, 1) OVER w1, -1) AS next_qty,
        |    ROW_NUMBER() OVER w1 AS rn
        |  FROM lineitem
        |  WINDOW w1 AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber),
        |         w2 AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |WHERE rn = 1 ORDER BY l_suppkey""".stripMargin),
    "q31_pivot_status" -> QueryDef(pivotStatus _,
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    "q28_percentiles" -> QueryDef(percentiles _,
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    "q29_manual_corr" -> QueryDef(manualCorr _,
      s"""WITH a AS (SELECT l_returnflag, COUNT(*) AS n,
         |    SUM(CAST(l_quantity AS $D)) AS sx,
         |    SUM(CAST(l_extendedprice AS $D)) AS sy,
         |    SUM(CAST(l_quantity AS $D) * CAST(l_extendedprice AS $D)) AS sxy,
         |    SUM(CAST(l_quantity AS $D) * CAST(l_quantity AS $D)) AS sxx,
         |    SUM(CAST(l_extendedprice AS $D) * CAST(l_extendedprice AS $D)) AS syy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, n,
         |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         |     sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         |    AS corr_qty_price
         |FROM a ORDER BY l_returnflag""".stripMargin),

    "q30_sorted_collect" -> QueryDef(sortedCollect _,
      """SELECT n_name,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
        |  COUNT(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    "q24_asof_join" -> QueryDef(asofJoin _,
      """SELECT v.event_id, v.user_id,
        |  COALESCE((SELECT p.event_id FROM events p
        |   WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
        |     AND (p.ts < v.ts OR (p.ts = v.ts AND p.event_id < v.event_id))
        |   ORDER BY p.ts DESC, p.event_id DESC LIMIT 1), -1) AS last_purchase
        |FROM events v WHERE v.event_type = 'view' ORDER BY v.event_id""".stripMargin),

    "q25_range_join" -> QueryDef(rangeJoinShipLag _,
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  AND l_shipdate >= o_orderdate
         |  AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    "q26_deterministic_sample" -> QueryDef(deterministicSample _,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE (('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 10) = 0
        |ORDER BY c_custkey""".stripMargin),

    "q34_above_avg_spenders" -> QueryDef(aboveAvgSpenders _,
      // the semantics contract, stated correlated (DuckDB decorrelates
      // internally; the engine decorrelates explicitly — same rows)
      s"""SELECT n_name,
         |  CAST(SUM(CASE WHEN CAST(c.c_acctbal AS $D) *
         |      (SELECT COUNT(*) FROM customer c2
         |       WHERE c2.c_nationkey = c.c_nationkey)
         |    > (SELECT SUM(CAST(c3.c_acctbal AS $D)) FROM customer c3
         |       WHERE c3.c_nationkey = c.c_nationkey)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
         |  COUNT(*) AS n_total
         |FROM customer c JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin),

    "q35_exists_not_exists" -> QueryDef(existsNotExists _,
      // stated correlated on purpose — DuckDB decorrelates internally;
      // the engine states it as semi/anti joins — same row set
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |        WHERE o.o_custkey = c.c_custkey
        |          AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |        WHERE o2.o_custkey = c.c_custkey
        |          AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    "q36_salted_skew_join" -> QueryDef(saltedSkewJoin _,
      // the UNSALTED join: hash-matching it proves the salt changed nothing
      s"""SELECT s_nationkey, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),

    "q37_range_frame_window" -> QueryDef(rangeFrameWindow _,
      s"""SELECT o_orderkey, o_custkey,
         |  date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_epoch,
         |  CAST(SUM(CAST(o_totalprice AS $D)) OVER (
         |    PARTITION BY o_custkey
         |    ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
         |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_30d
         |FROM orders ORDER BY o_orderkey""".stripMargin),

    "q38_rank_family" -> QueryDef(rankFamily _,
      """SELECT o_orderkey, o_orderpriority,
        |  NTILE(4) OVER w AS quartile,
        |  round(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |  round(CUME_DIST() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_orderkey""".stripMargin),

    "q27_grouping_sets" -> QueryDef(groupingSetsEvents _,
      """SELECT COALESCE(event_type, 'ALL') AS etype,
        |       COALESCE(yr, -1) AS yr, COUNT(*) AS n
        |FROM (SELECT event_type, CAST(YEAR(ts) AS INT) AS yr FROM events)
        |GROUP BY GROUPING SETS ((event_type), (yr), ())
        |ORDER BY etype, yr""".stripMargin)
  )
}
