package graft.queries

import graft.ddl.{Catalog, DdlParser}
import graft.gen.{GeneratePipeline, Generator}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Memos

/** The reference's flagship capability — DDL introspection + deterministic
  * FK-consistent generation (SURVEY.md §3.1) — exposed through the graded
  * query surface.
  *
  * Every query here carries a literal-VALUES oracle: generation is fully
  * deterministic (seeded hashes, fixed epoch), so expected outputs are
  * frozen constants any SQL engine can produce — g03 freezes the raw
  * generated Banka rows themselves (the formula is xxhash64-derived and
  * not portable SQL, but the output is).
  */
object Generated {

  private val Script = "/root/reference/script.sql"
  @volatile private var cached: Catalog = _
  private def catalog: Catalog = {
    if (cached == null) {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(Script)))
        throw new java.io.FileNotFoundException(s"reference DDL absent: $Script")
      cached = DdlParser.parseFile(Script)
    }
    cached
  }

  /** Catalog inventory: the parsed-DDL census (SURVEY.md §5 corpus test). */
  def catalogInventory(s: SparkSession, d: String): DataFrame = {
    val cat = catalog
    val targets = cat.order.filterNot(GeneratePipeline.skipTable)
    import s.implicits._
    Seq((
      cat.order.size.toLong,
      cat.tables.values.map(_.schema.size).sum.toLong,
      cat.allFks.size.toLong,
      cat.tables.values.flatMap(_.schema.fields)
        .count(_.metadata.getBoolean(DdlParser.MetaIdentity)).toLong,
      cat.allFks.count(_.onDeleteCascade).toLong,
      targets.size.toLong,
      graft.deps.Deps.waves(targets, cat.allFks).size.toLong
    )).toDF("n_tables", "n_columns", "n_fks", "n_identity", "n_cascade_fks",
      "n_generated_tables", "n_waves")
  }

  /** The FK graph as (parent, child) edges with self-edges dropped,
    * plus the roots — the acyclic load-dependency DAG (85 nodes, 119
    * edges, 324 total root paths: UNION ALL recursion is bounded). */
  private lazy val fkDag: (Seq[(String, String)], Seq[String]) = {
    val cat = catalog
    val edges = cat.allFks.filter(f => f.table != f.refTable)
      .map(f => (f.refTable, f.table)).distinct
    val hasParent = edges.map(_._2).toSet
    (edges, cat.order.filterNot(hasParent))
  }

  /** FK load depth via Spark's RECURSIVE CTE (new in Spark 4): each
    * table's longest parent chain — the wave index the armed loader
    * (g08/g09) schedules by, here computed by the SQL surface itself.
    * Both engines run the SAME recursion over the SAME edge list and
    * must agree node for node; GeneratorSpec additionally pins the
    * result to Deps.waves' assignment, so the declarative recursion,
    * the driver-side topo logic, and DuckDB's recursive engine form a
    * three-way cross-check. UNION ALL (Spark's only recursive mode)
    * is safe here because the DAG's path count is 324 — per-node MAX
    * collapses path multiplicity after the fixpoint. */
  def fkDepthRecursive(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (edges, roots) = fkDag
    edges.toDF("parent", "child").createOrReplaceTempView("g12_edges")
    roots.toDF("tbl").createOrReplaceTempView("g12_roots")
    s.sql("""
      WITH RECURSIVE dpt AS (
        SELECT tbl, 0 AS depth FROM g12_roots
        UNION ALL
        SELECT e.child AS tbl, dpt.depth + 1 AS depth
        FROM dpt JOIN g12_edges e ON e.parent = dpt.tbl
      )
      SELECT tbl, MAX(depth) AS depth FROM dpt GROUP BY tbl ORDER BY tbl""")
  }

  private lazy val G12Oracle: String = {
    val (edges, roots) = fkDag
    s"""WITH RECURSIVE e(parent, child) AS (
       |  SELECT * FROM (VALUES ${edges.map { case (p, c) => s"('$p', '$c')" }.mkString(",\n    ")})),
       |r(tbl) AS (SELECT * FROM (VALUES ${roots.map(t => s"('$t')").mkString(", ")})),
       |dpt AS (
       |  SELECT tbl, 0 AS depth FROM r
       |  UNION ALL
       |  SELECT e.child AS tbl, dpt.depth + 1 AS depth
       |  FROM dpt JOIN e ON e.parent = dpt.tbl)
       |SELECT tbl, MAX(depth) AS depth FROM dpt GROUP BY tbl ORDER BY tbl""".stripMargin
  }

  private val SliceTables = Seq("Ulke", "Il", "Banka", "VergiDairesi", "BankaSube")

  private[queries] def sliceCatalog: Catalog = {
    val cat = catalog
    val keep = SliceTables.filter(cat.tables.contains).toSet
    Catalog(
      cat.tables.view.filterKeys(keep).toMap.map { case (k, v) =>
        k -> v.copy(fks = v.fks.filter(f => keep(f.refTable)))
      },
      cat.order.filter(keep))
  }

  /** Generation-slice summary: per table of the Ulke→Banka FK chain,
    * row count / distinct-PK count / FK-integrity violations of the
    * deterministically generated frame (seed 42, 15 rows — the
    * reference's ROW_COUNT, run_engine.py:18). */
  def generationSlice(s: SparkSession, d: String): DataFrame = {
    // TrieMap: the sink runs concurrently for tables of the same wave
    val frames = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    GeneratePipeline.run(s, sliceCatalog, rowCount = 15, seed = 42,
      (t, df) => frames(t) = df.cache())
    val cat = sliceCatalog
    val summaries = frames.toSeq.sortBy(_._1).map { case (t, df) =>
      val td = cat(t)
      val pk = td.pk.head
      val fkBad: Long = td.fks.filter(f => frames.contains(f.refTable)).map { f =>
        df.select(col(f.column)).filter(col(f.column).isNotNull)
          .join(frames(f.refTable).select(col(f.refColumn).as(f.column)),
            Seq(f.column), "left_anti").count()
      }.sum
      (t, df.count(), df.select(pk).distinct().count(), fkBad)
    }
    import s.implicits._
    summaries.toDF("table_name", "n_rows", "n_pk_distinct", "n_fk_violations")
      .orderBy("table_name")
  }

  /** Raw generated rows for Banka (identity PK + FK into Ulke) —
    * deterministic; checked rows-only by the driver, property-checked in
    * GeneratorSpec. */
  def generatedBanka(s: SparkSession, d: String): DataFrame = {
    val cat = catalog
    Generator.tableDf(s, cat("Banka"), 15, 42,
      (child, parent) => Option.when(child == "Banka" && parent == "Ulke")(cat("Ulke")))
      .orderBy("Id")
  }

  /** S5-equivalent catalog scan: per-SQL-type column census of the
    * parsed schema (the engine's INFORMATION_SCHEMA.COLUMNS relation,
    * aggregated — run_engine.py:87-99 recast over the DDL catalog). */
  def columnTypeCensus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    catalog.tables.values.flatMap(_.schema.fields).toSeq
      .groupBy(_.metadata.getString(DdlParser.MetaSqlType))
      .map { case (t, fs) => (t, fs.size.toLong) }.toSeq
      .toDF("sql_type", "n_cols")
      .orderBy("sql_type")
  }

  /** Live JDBC round-trip audit (K1/K4/S9 against embedded Derby):
    * deploy retargeted DDL → generate → bulk-append → re-arm constraints
    * → read back + integrity audit. pk_rearmed=false rows are the
    * faithful reference quirk (degenerate truncated PKs collide;
    * run_engine.py:73,252-253 — Derby, unlike MSSQL's no-revalidate
    * CHECK CONSTRAINT all, refuses to arm a violated constraint). */
  def jdbcRoundTrip(s: SparkSession, d: String): DataFrame =
    liveCache(s, "g07") {
      import s.implicits._
      graft.load.JdbcRoundTrip.run(s, sliceCatalog, rowCount = 15, seed = 42)
        .toDF().orderBy("table_name")
    }

  /** Armed-constraint wave load (the reference's v1 posture,
    * fill_db.py:137-139, and the §7.4 fallback for targets that refuse
    * constraint disabling): deploy a FULLY-constrained empty schema on
    * Derby, load in FK-topo wave order with every PK/FK validated live
    * per INSERT, then audit independently. Frames are deduplicated on
    * their PK before the append — the posture's precondition (the
    * reference's degenerate truncated PKs collide; see g02/g07 notes). */
  def armedWaveLoad(s: SparkSession, d: String): DataFrame =
    liveCache(s, "g08") {
      import s.implicits._
      graft.load.JdbcRoundTrip.runArmed(s, sliceCatalog, rowCount = 15, seed = 42)
        .toDF().orderBy("table_name")
    }

  /** Staged MERGE upsert round-trip — the incremental-refresh posture
    * the reference's append-only loads (g07–g10) stop short of: a
    * synthetic delta (half updates, half new rows) lands in a staging
    * table through the same per-partition JDBC writer, then ONE MERGE
    * statement reconciles it into the constrained target — update
    * matched, insert unmatched — and Spark audits the database content
    * back. This is the standard exactly-once-ish upsert shape for
    * relational sinks at scale: the expensive distributed work is the
    * bulk stage append (partition-parallel), and the transactional
    * reconcile is one set-based statement on the database side, never
    * row-at-a-time from the driver. */
  def mergeUpsert(s: SparkSession, d: String): DataFrame =
    liveCache(s, "g13") {
      import graft.load.{JdbcRoundTrip, JdbcSink}
      import s.implicits._
      val url = s"jdbc:derby:memory:graft_g13_${System.nanoTime()}"
      val target = JdbcSink.Target(url, "", "")
      JdbcRoundTrip.ensureDatabase(url)
      try {
        JdbcSink.execute(target, Seq(
          """CREATE TABLE "dim_target" ("id" BIGINT PRIMARY KEY, "name" VARCHAR(40), "score" BIGINT, "version" BIGINT)""",
          """CREATE TABLE "dim_stage" ("id" BIGINT, "name" VARCHAR(40), "score" BIGINT)"""))
          .flatten.foreach(e => sys.error(s"g13 ddl failed: $e"))
        val base = (1L to 20L).map(i => (i, s"row$i", i * 10, 1L))
          .toDF("id", "name", "score", "version")
        base.write.mode("append").jdbc(url, "\"dim_target\"", JdbcSink.props(target))
        val delta = ((2L to 20L by 2).map(i => (i, s"row$i", i * 100)) ++
          (21L to 25L).map(i => (i, s"row$i", i * 10)))
          .toDF("id", "name", "score")
        delta.write.mode("append").jdbc(url, "\"dim_stage\"", JdbcSink.props(target))
        JdbcSink.execute(target, Seq(
          """MERGE INTO "dim_target" t USING "dim_stage" s ON t."id" = s."id"
            |WHEN MATCHED THEN UPDATE SET t."score" = s."score", t."version" = t."version" + 1
            |WHEN NOT MATCHED THEN INSERT ("id", "name", "score", "version") VALUES (s."id", s."name", s."score", 1)""".stripMargin))
          .flatten.foreach(e => sys.error(s"g13 merge failed: $e"))
        s.read.jdbc(url, "\"dim_target\"", JdbcSink.props(target))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("version") === 2, 1L).otherwise(0L)).as("n_updated"),
            sum(when(col("version") === 1, 1L).otherwise(0L)).as("n_base_or_inserted"),
            sum(col("score")).as("sum_score"))
          .localCheckpoint() // materialize before the database is dropped
      } finally JdbcRoundTrip.dropDatabaseQuietly(url)
    }

  /** Live idempotent-retry sink — the exactly-once posture every
    * foreachBatch JDBC sink (s06) needs under retries: a BATCH LEDGER
    * table whose PRIMARY KEY is the arbiter of "already committed".
    * Each write claims its batch_id in the ledger FIRST; a retry of a
    * committed batch hits the PK violation and skips the data write —
    * no read-then-write race, the constraint decides. The replay here
    * is real: batch 1, batch 2, then batch 1 AGAIN (the
    * restarted-driver case); the audit proves the retry was refused and
    * the data has no duplicates. Scaladoc note for deployment: ledger-
    * first is at-most-once under a crash between the two statements —
    * a transactional sink does both in one txn; the LEDGER mechanism
    * (and the graded refusal) is identical either way. */
  def idempotentSink(s: SparkSession, d: String): DataFrame =
    liveCache(s, "g15") {
      import graft.load.{JdbcRoundTrip, JdbcSink}
      import s.implicits._
      val url = s"jdbc:derby:memory:graft_g15_${System.nanoTime()}"
      val target = JdbcSink.Target(url, "", "")
      JdbcRoundTrip.ensureDatabase(url)
      try {
        JdbcSink.execute(target, Seq(
          """CREATE TABLE "fact_sink" ("batch_id" BIGINT, "id" BIGINT, "val" BIGINT)""",
          """CREATE TABLE "batch_ledger" ("batch_id" BIGINT PRIMARY KEY)"""))
          .flatten.foreach(e => sys.error(s"g15 ddl failed: $e"))
        // one exactly-once attempt: claim the ledger row, write on success
        def attempt(batchId: Long, rows: Seq[(Long, Long, Long)]): Boolean = {
          val claim = JdbcSink.execute(target,
            Seq(s"""INSERT INTO "batch_ledger" VALUES ($batchId)""")).flatten
          if (claim.isEmpty) {
            rows.toDF("batch_id", "id", "val")
              .write.mode("append").jdbc(url, "\"fact_sink\"", JdbcSink.props(target))
            true
          } else false // PK violation: batch already committed — refused
        }
        def batch(b: Long) = (1L to 10L).map(i => (b, b * 100 + i, i))
        val outcomes = Seq(attempt(1L, batch(1L)), attempt(2L, batch(2L)),
          attempt(1L, batch(1L))) // the retry
        val nCommitted = outcomes.count(identity).toLong
        val nRefused = outcomes.count(!_).toLong
        s.read.jdbc(url, "\"fact_sink\"", JdbcSink.props(target))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("batch_id")).as("n_batches"),
            // duplicate probe: every (batch_id, id) must appear once
            (count(lit(1)) - countDistinct(col("batch_id"), col("id"))).as("n_dups"),
            sum(col("val")).as("sum_val"))
          .select(lit(3L).as("n_attempts"), lit(nCommitted).as("n_committed"),
            lit(nRefused).as("n_refused"), col("n_rows"), col("n_batches"),
            col("n_dups"), col("sum_val"))
          .localCheckpoint() // materialize before the database is dropped
      } finally JdbcRoundTrip.dropDatabaseQuietly(url)
    }

  /** g16 — FEDERATED join: the parquet fact tables joined against a
    * dimension living in a REAL relational database (Derby), in one
    * plan — the lakehouse-meets-OLTP shape every enterprise deployment
    * runs (fact history in files, reference data in the operational
    * DB). The dimension filter pushes INTO the database as SQL
    * (PushedFilters on the JDBCRelation scan — PlanSpec freezes it), so
    * the DB ships only matching rows; the 25-row dim then broadcasts
    * under the fact join. Unlike g07–g15 the database STAYS ALIVE for
    * the session (the g09 memoized-lifetime pattern) and the returned
    * frame is LAZY — each run re-plans the true federated scan, which
    * is also what lets PlanSpec see the pushdown instead of a
    * checkpointed RDD. */
  private val fedDbCache =
    Memos.memo[String, String](graft.load.JdbcRoundTrip.dropDatabaseQuietly)

  /** The session-lifetime federated DB's URL (built on first use). */
  private def fedDb(s: SparkSession, d: String): String = {
    import graft.load.{JdbcRoundTrip, JdbcSink}
    fedDbCache(s, d) {
      val u = s"jdbc:derby:memory:graft_g16_${System.nanoTime()}"
      val target = JdbcSink.Target(u, "", "")
      JdbcRoundTrip.ensureDatabase(u)
      JdbcSink.execute(target, Seq(
        """CREATE TABLE "dim_nation" ("n_nationkey" BIGINT, "n_name" VARCHAR(32), "n_regionkey" BIGINT)"""))
        .flatten.foreach(e => sys.error(s"g16 ddl failed: $e"))
      graft.tables.Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .write.mode("append").jdbc(u, "\"dim_nation\"", JdbcSink.props(target))
      u
    }
  }

  def federatedJoin(s: SparkSession, d: String): DataFrame = {
    val url = fedDb(s, d)
    val props = graft.load.JdbcSink.props(graft.load.JdbcSink.Target(url, "", ""))
    val dim = s.read.jdbc(url, "\"dim_nation\"", props)
      .filter(col("n_regionkey") === 1) // pushes into Derby's WHERE clause
    graft.tables.Tables.orders(s, d)
      .join(graft.tables.Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(countDistinct("c_custkey").as("n_customers"),
        count(lit(1)).as("n_orders"),
        graft.tables.Tables.asDbl(sum(graft.tables.Tables.dec("o_totalprice"))).as("revenue"))
      .orderBy("n_name")
  }

  /** g17 — federation with AGGREGATE pushdown: Spark's JDBC source
    * pushes filters but not aggregates, so the engine ships the
    * aggregation INTO the database explicitly as a query-as-table
    * (`(SELECT ... GROUP BY) t`) — Derby computes its per-region
    * nation counts and ships 5 rows instead of 25; Spark joins that
    * database-side aggregate with the parquet-side revenue rollup.
    * The classic federation optimization for a dimension too large to
    * ship raw (a 10^9-row operational table aggregates to |groups|
    * before crossing the wire). Shares g16's session-lifetime DB. */
  def federatedAggPushdown(s: SparkSession, d: String): DataFrame = {
    val url = fedDb(s, d)
    val props = graft.load.JdbcSink.props(graft.load.JdbcSink.Target(url, "", ""))
    // the aggregation executes IN Derby: the scan relation is the
    // subquery, so only |regions| rows cross the JDBC boundary
    val dimAgg = s.read.jdbc(url,
      """(SELECT "n_regionkey", COUNT(*) AS "n_nations"
        |   FROM "dim_nation" GROUP BY "n_regionkey") t""".stripMargin, props)
    val factAgg = graft.tables.Tables.orders(s, d)
      .join(graft.tables.Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(graft.tables.Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_regionkey").as("r"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n_orders"),
        graft.tables.Tables.asDbl(sum(graft.tables.Tables.dec("o_totalprice"))).as("revenue"))
    factAgg.join(broadcast(dimAgg), col("r") === col("n_regionkey"))
      .select(col("r").as("region_key"), col("n_nations").cast("long").as("n_nations"),
        col("n_orders"), col("revenue"))
      .orderBy("region_key")
  }

  /** g20 — PARTITIONED parallel JDBC scan: the fact slice lives in the
    * session-lifetime federated DB and Spark reads it back through the
    * ranged-partition JDBC source (partitionColumn + bounds +
    * numPartitions = 8), so the scan plans EIGHT concurrent connections,
    * each shipping its own `WHERE o_orderkey >= lo AND < hi` stride into
    * the database — the posture that moves a 10^9-row operational table
    * into the lake without a single-connection bottleneck (g16/g17 push
    * filters/aggregates; this parallelizes the wire itself). Spark
    * leaves the first and last strides UNBOUNDED, so keys outside the
    * sampled [lo, hi] still land in a partition — the graded aggregate
    * (rows, exact-decimal sum, key range) over the partitioned read
    * against the raw-parquet restatement proves stride coverage is
    * gap- and overlap-free, and n_partitions pins the fan-out. Bounds
    * derive from the data (one metadata-scale min/max collect — the
    * same statistics query any production ranged ingest issues). */
  private val partScanCache = Memos.memo[String, (String, Long, Long)]()
  // the build thunk MUTATES the federated DB (CREATE TABLE + append);
  // a memo build may run a racing thunk twice, and a second
  // run dies on "table already exists" — serialize the build
  private val partScanLock = new Object

  def partitionedFedScan(s: SparkSession, d: String): DataFrame = {
    import graft.load.JdbcSink
    val (url, lo, hi) = partScanLock.synchronized { partScanCache(s, d) {
      val u = fedDb(s, d)
      val target = JdbcSink.Target(u, "", "")
      JdbcSink.execute(target, Seq(
        """CREATE TABLE "fact_orders" ("o_orderkey" BIGINT, "o_totalprice" DOUBLE)"""))
        .flatten.foreach(e => sys.error(s"g20 ddl failed: $e"))
      val slice = graft.tables.Tables.orders(s, d)
        .filter(pmod(col("o_orderkey"), lit(20)) === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      slice.write.mode("append").jdbc(u, "\"fact_orders\"", JdbcSink.props(target))
      val b = slice.agg(min("o_orderkey"), max("o_orderkey")).collect()(0)
      (u, b.getLong(0), b.getLong(1))
    } }
    val props = graft.load.JdbcSink.props(graft.load.JdbcSink.Target(url, "", ""))
    // quoted column name: Spark splices it verbatim into each stride's
    // WHERE text, and the Derby DDL above created it case-sensitive
    val scan = s.read.jdbc(url, "\"fact_orders\"", "\"o_orderkey\"",
      lo, hi, 8, props)
    scan.agg(count(lit(1)).as("n_rows"),
        graft.tables.Tables.asDbl(sum(graft.tables.Tables.dec("o_totalprice")))
          .as("sum_price"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .select(lit(scan.rdd.getNumPartitions.toLong).as("n_partitions"),
        col("n_rows"), col("sum_price"), col("min_key"), col("max_key"))
  }

  /** g18 — transactional ATOMICITY on the live sink: a batch that
    * violates a constraint mid-flight must leave NOTHING behind. With
    * autocommit off, five good rows insert and the sixth hits the PK —
    * the transaction rolls back and the audit proves the five good rows
    * vanished with it (the all-or-nothing contract g15's ledger
    * presumes; together they are exactly-once = atomic ∧ idempotent).
    * A clean batch then commits to show the connection state survived
    * the rollback. The reference's per-table try/except
    * (run_engine.py:181-186) skips a failed table but cannot undo its
    * partial rows — this is the posture it stops short of. */
  def transactionalRollback(s: SparkSession, d: String): DataFrame =
    liveCache(s, "g18") {
      import graft.load.{JdbcRoundTrip, JdbcSink}
      import s.implicits._
      val url = s"jdbc:derby:memory:graft_g18_${System.nanoTime()}"
      val target = JdbcSink.Target(url, "", "")
      JdbcRoundTrip.ensureDatabase(url)
      try {
        JdbcSink.execute(target, Seq(
          """CREATE TABLE "tx_sink" ("id" BIGINT PRIMARY KEY, "val" BIGINT)"""))
          .flatten.foreach(e => sys.error(s"g18 ddl failed: $e"))
        def insertBatch(rows: Seq[(Long, Long)]): Boolean = {
          val conn = java.sql.DriverManager.getConnection(url)
          try {
            conn.setAutoCommit(false)
            val st = conn.prepareStatement("""INSERT INTO "tx_sink" VALUES (?, ?)""")
            try {
              rows.foreach { case (i, v) =>
                st.setLong(1, i); st.setLong(2, v); st.executeUpdate()
              }
              conn.commit(); true
            } catch {
              case _: java.sql.SQLException => conn.rollback(); false
            } finally st.close()
          } finally conn.close()
        }
        // poisoned batch: five good rows then a PK duplicate of row 1
        val poisoned = insertBatch((1L to 5L).map(i => (i, i * 10)) :+ (1L, 999L))
        val afterPoison = s.read.jdbc(url, "\"tx_sink\"", JdbcSink.props(target)).count()
        // clean batch on the same mechanism: the rollback must not have
        // wedged anything
        val clean = insertBatch((11L to 15L).map(i => (i, i * 10)))
        s.read.jdbc(url, "\"tx_sink\"", JdbcSink.props(target))
          .agg(count(lit(1)).as("n_rows"), sum(col("val")).as("sum_val"))
          .select(lit(if (poisoned) 1L else 0L).as("poisoned_committed"),
            lit(afterPoison).as("rows_after_poison"),
            lit(if (clean) 1L else 0L).as("clean_committed"),
            col("n_rows"), col("sum_val"))
          .localCheckpoint() // materialize before the database is dropped
      } finally JdbcRoundTrip.dropDatabaseQuietly(url)
    }

  /** Live optimistic-concurrency round-trip — the TWO-WRITER posture
    * after g13's single-writer MERGE: each writer updates rows through a
    * VERSION-CHECKED statement (`… SET version = version + 1 WHERE id =
    * ? AND version = <read>`); the affected-row count — the database's
    * own answer, no read-then-check race — is the conflict detector.
    * The interleaving here is the classic lost-update setup: both
    * writers snapshot at v1, writer B commits keys 1–6 first, writer
    * A's stale pass over keys 4–10 then MUST conflict on exactly the
    * 4–6 overlap and succeed on 7–10, and A's re-read-and-retry of the
    * conflicted keys lands at v3. The graded audit proves no update was
    * lost (every increment is in the final balances) and no conflict
    * went undetected.
    *
    * Deployment note: this is how a Spark writer back-fills into a LIVE
    * operational table other services mutate — per-row version checks
    * compose with idempotent batch ledgers (g15); a serializable txn
    * would serialize the whole batch instead. */
  def optimisticConcurrency(s: SparkSession, d: String): DataFrame =
    liveCache(s, "g19") {
      import graft.load.{JdbcRoundTrip, JdbcSink}
      val url = s"jdbc:derby:memory:graft_g19_${System.nanoTime()}"
      val target = JdbcSink.Target(url, "", "")
      JdbcRoundTrip.ensureDatabase(url)
      try {
        JdbcSink.execute(target, Seq(
          """CREATE TABLE "acct" ("id" BIGINT PRIMARY KEY, "balance" BIGINT, "version" BIGINT)"""))
          .flatten.foreach(e => sys.error(s"g19 ddl failed: $e"))
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val ins = conn.prepareStatement("""INSERT INTO "acct" VALUES (?, ?, 1)""")
          try (1L to 10L).foreach { i =>
            ins.setLong(1, i); ins.setLong(2, i * 100); ins.executeUpdate()
          } finally ins.close()
          def readVersions(ids: Seq[Long]): Map[Long, Long] = {
            val st = conn.createStatement()
            try {
              val rs = st.executeQuery(
                s"""SELECT "id", "version" FROM "acct" WHERE "id" IN (${ids.mkString(",")})""")
              val b = Map.newBuilder[Long, Long]
              while (rs.next()) b += rs.getLong(1) -> rs.getLong(2)
              b.result()
            } finally st.close()
          }
          // version-checked increment; the DB's affected-row count IS
          // the conflict signal
          def cas(id: Long, delta: Long, readV: Long): Boolean = {
            val st = conn.prepareStatement(
              """UPDATE "acct" SET "balance" = "balance" + ?, "version" = "version" + 1
                |WHERE "id" = ? AND "version" = ?""".stripMargin)
            try {
              st.setLong(1, delta); st.setLong(2, id); st.setLong(3, readV)
              st.executeUpdate() == 1
            } finally st.close()
          }
          // both writers snapshot at version 1
          val snapA = readVersions(4L to 10L)
          val snapB = readVersions(1L to 6L)
          // writer B commits first: keys 1–6 at +5
          val bOk = (1L to 6L).count(i => cas(i, 5L, snapB(i)))
          // writer A's stale pass: keys 4–10 at +7 — 4–6 must conflict
          val aFirst = (4L to 10L).map(i => i -> cas(i, 7L, snapA(i))).toMap
          val conflicted = aFirst.collect { case (i, false) => i }.toSeq.sorted
          // A re-reads ONLY the conflicted keys and retries
          val snapA2 = readVersions(conflicted)
          val retried = conflicted.count(i => cas(i, 7L, snapA2(i)))
          val audit = s.read.jdbc(url, "\"acct\"", JdbcSink.props(target))
            .agg(count(lit(1)).as("n_rows"),
              sum(when(col("version") === 2, 1L).otherwise(0L)).as("n_v2"),
              sum(when(col("version") === 3, 1L).otherwise(0L)).as("n_v3"),
              sum(col("balance")).as("sum_balance"))
          audit.select(lit(bOk.toLong).as("b_committed"),
              lit(aFirst.values.count(identity).toLong).as("a_first_pass"),
              lit(conflicted.size.toLong).as("n_conflicts"),
              lit(retried.toLong).as("n_retried"),
              col("n_rows"), col("n_v2"), col("n_v3"), col("sum_balance"))
            .localCheckpoint() // materialize before the database is dropped
        } finally conn.close()
      } finally JdbcRoundTrip.dropDatabaseQuietly(url)
    }

  /** Live schema-evolution round-trip — the day-2 posture after the
    * reference's deploy-then-fill (apply_mssql.py deploys a frozen DDL;
    * real schemas then MOVE): widen a loaded table with ALTER TABLE ADD
    * COLUMN WITH DEFAULT, backfill part of the history with ONE
    * set-based UPDATE, append new rows through the same partition-
    * parallel JDBC writer now carrying the widened schema, and
    * RE-INTROSPECT the live catalog (Derby's SYS.SYSCOLUMNS — the S5
    * column-metadata scan against a moving target) to prove the engine
    * sees the evolution it performed. The audit pins: both catalog
    * snapshots' column counts, the backfilled/default-remainder split
    * (a partial backfill is the realistic migration state), and the
    * exact post-evolution content sum. */
  def schemaEvolution(s: SparkSession, d: String): DataFrame =
    liveCache(s, "g14") {
      import graft.load.{JdbcRoundTrip, JdbcSink}
      import s.implicits._
      val url = s"jdbc:derby:memory:graft_g14_${System.nanoTime()}"
      val target = JdbcSink.Target(url, "", "")
      JdbcRoundTrip.ensureDatabase(url)
      try {
        JdbcSink.execute(target, Seq(
          """CREATE TABLE "dim_evo" ("id" BIGINT PRIMARY KEY, "name" VARCHAR(40))"""))
          .flatten.foreach(e => sys.error(s"g14 ddl failed: $e"))
        def nCols: Long = s.read.jdbc(url,
            """(SELECT c.COLUMNNAME FROM SYS.SYSCOLUMNS c
              |  JOIN SYS.SYSTABLES t ON t.TABLEID = c.REFERENCEID
              |  WHERE t.TABLENAME = 'dim_evo') sc""".stripMargin,
            JdbcSink.props(target)).count()
        val base = (1L to 20L).map(i => (i, s"row$i")).toDF("id", "name")
        base.write.mode("append").jdbc(url, "\"dim_evo\"", JdbcSink.props(target))
        val colsV1 = nCols
        JdbcSink.execute(target, Seq(
          """ALTER TABLE "dim_evo" ADD COLUMN "score" BIGINT WITH DEFAULT -1""",
          // partial backfill: the realistic mid-migration state
          """UPDATE "dim_evo" SET "score" = "id" * 10 WHERE "id" <= 15"""))
          .flatten.foreach(e => sys.error(s"g14 evolution failed: $e"))
        val colsV2 = nCols
        val fresh = (21L to 25L).map(i => (i, s"row$i", i * 10))
          .toDF("id", "name", "score")
        fresh.write.mode("append").jdbc(url, "\"dim_evo\"", JdbcSink.props(target))
        s.read.jdbc(url, "\"dim_evo\"", JdbcSink.props(target))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("score") === -1L, 1L).otherwise(0L)).as("n_default_left"),
            sum(when(col("score") =!= -1L, 1L).otherwise(0L)).as("n_scored"),
            sum(col("score")).as("sum_score"))
          .select(lit(colsV1).as("n_cols_v1"), lit(colsV2).as("n_cols_v2"),
            col("n_rows"), col("n_scored"), col("n_default_left"),
            col("sum_score"))
          .localCheckpoint() // materialize before the database is dropped
      } finally JdbcRoundTrip.dropDatabaseQuietly(url)
    }

  /** Armed wave load at the reference's ACTUAL scope (fill_db.py:137-139
    * iterates every table of the live DB): the FULL 85-table catalog (77
    * after the F1 skips), deployed fully constrained on Derby, loaded in
    * the 8 FK-topo waves with every armable PK/FK validated live per
    * INSERT, then independently audited from Spark. Output is the
    * one-row audit aggregate (per-table detail is g08's job on the
    * slice; here the catalog-wide totals are the contract). */
  // Live-Derby runs (g07/g08/g09+g10) are ~2–20 s of real database work
  // each and fully deterministic given (catalog, rowCount, seed) —
  // memoize per session so Verify/Bench pay each load once. Bench's
  // cold/warm split keeps the true cost visible (the t16/s06
  // bench-honesty convention); Harness tears the memos down with the
  // session.
  private[queries] val liveCache = Memos.memo[String, DataFrame]()

  // g09/g10/g21 are three readouts of this ONE deployment: its build
  // lands in g09's cold, the first consumer in sorted order. The
  // single-query lifetimes in liveCache are never shared — their
  // isolation IS the semantics under grade (idempotency, rollback, OCC).
  private[queries] val armedFullCache = Memos.memo[Unit, (DataFrame, DataFrame, DataFrame)]()

  private def armedFull(s: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    armedFullCache(s, ())(armedFullLoadUncached(s))
  }

  def armedFullLoad(s: SparkSession, d: String): DataFrame = armedFull(s)._1

  /** Deferred-FK linking epilogue over the SAME full-catalog armed load
    * (one Derby lifetime, memoized with g09): the self-FK / same-wave
    * cycle-fallback columns that loaded as NULL are linked to the
    * parent's MIN key by a second UPDATE pass, then each edge the
    * parent's armed PK can back is constrained LATE — Derby revalidates
    * the linked values on ADD CONSTRAINT (unlike MSSQL's WITH NOCHECK),
    * so fk_armed_late=true rows carry a database-checked guarantee. */
  def deferredFkLink(s: SparkSession, d: String): DataFrame = armedFull(s)._2

  /** g21 — g20's partitioned JDBC scan generalized into the LOAD path:
    * partition-parallel read-back VERIFICATION of the full armed catalog
    * (g09 audits through one connection per table; this reads every
    * table back through predicate strides on its PK — 4 concurrent
    * connections for strideable PKs, the 100-TB reload-audit posture)
    * and joins the per-table stride counts against the armed load's own
    * generation accounting. n_mismatched = tables whose stride union
    * disagrees with n_loaded — gap/overlap-free coverage and load
    * fidelity in one integer; n_strided/n_strides pin the fan-out so a
    * silent fallback to single-connection scans cannot pass unnoticed.
    * Same memoized Derby lifetime as g09/g10 — the load is paid once. */
  def partitionedReadbackAudit(s: SparkSession, d: String): DataFrame = armedFull(s)._3

  private def armedFullLoadUncached(s: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val (reports, links, parts) =
      graft.load.JdbcRoundTrip.runArmedLinked(s, catalog, rowCount = 15, seed = 42)
    val audit = Seq((
      reports.size.toLong,
      (reports.map(_.wave).max + 1).toLong,
      reports.map(_.n_generated).sum,
      reports.map(_.n_loaded).sum,
      reports.map(_.n_fk_bad).sum,
      reports.count(_.pk_armed).toLong,
      reports.map(_.n_fks_armed.toLong).sum
    )).toDF("n_tables", "n_waves", "n_generated", "n_loaded",
      "n_fk_bad", "n_pk_armed", "n_fks_armed")
    val linkDf = links.toDF().orderBy("table_name", "fk_column")
    // g21: the partitioned scans joined against the load accounting —
    // the driver-side join is over two 77-entry report lists (metadata
    // scale; the data-scale work happened inside the stride scans)
    val loadedBy = reports.map(r => r.table_name -> r.n_loaded).toMap
    val partAudit = Seq((
      parts.size.toLong,
      parts.count(_.n_strides > 1).toLong,
      parts.map(_.n_strides.toLong).sum,
      reports.map(_.n_loaded).sum,
      parts.map(_.n_rows).sum,
      parts.count(p => loadedBy.get(p.table_name).forall(_ != p.n_rows)).toLong
    )).toDF("n_tables", "n_strided_tables", "n_strides", "n_loaded",
      "n_readback", "n_mismatched")
    (audit, linkDf, partAudit)
  }

  /** Config-drift audit (S3 × §2.8 composition): the slice catalog is
    * exported as a JSONL schema description with three PLANTED drifts —
    * the faithful config matches the DDL exactly, so (t24's planted-PII
    * convention) drift is injected deterministically: one column dropped
    * from the config, one retyped, one config-only extra — then read
    * back through the PERMISSIVE JSONL source and full-outer-diffed
    * against the parsed DDL. This is the pre-deploy gate a config-driven
    * generator runs before trusting its config against a live schema
    * (generate_config_v2.py writes exactly this JSONL from the DB). */
  def configDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cat = sliceCatalog
    val ddl = cat.order.flatMap(t => cat(t).schema.fields.toSeq.map(f =>
      (t, f.name, f.metadata.getString(DdlParser.MetaSqlType))))
      .toDF("table_name", "column_name", "ddl_type")
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg_drift")
    try {
      val lines = cat.order.map { t =>
        val cols = cat(t).schema.fields.toSeq.flatMap { f =>
          val typ = f.metadata.getString(DdlParser.MetaSqlType)
          (t, f.name) match {
            case ("Banka", "Ad") => None // planted: dropped from the config
            case ("Il", "Kod") => // planted: retyped
              Some("""{"column_name":"Kod","description_tr":"","data_type":"int"}""")
            case _ =>
              Some(s"""{"column_name":"${f.name}","description_tr":"","data_type":"$typ"}""")
          }
        } ++ (if (t == "Banka") // planted: config-only column
          Seq("""{"column_name":"PlantedExtra","description_tr":"","data_type":"nvarchar"}""")
        else Nil)
        // real FK entries (the faithful generate_config_v2 shape; also
        // anchors the inferred JSON schema so foreign_keys is a struct
        // array even for tables without FKs)
        val fks = cat(t).fks.map(f =>
          s"""{"column":"${f.column}","references":"${f.refTable}.${f.refColumn}"}""")
        s"""{"table_name":"$t","columns":[${cols.mkString(",")}],"foreign_keys":[${fks.mkString(",")}]}"""
      }
      val file = dir.resolve("schema.jsonl")
      java.nio.file.Files.write(file,
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val cfg = graft.sources.SchemaJsonl
        .columnRelation(graft.sources.SchemaJsonl.load(s, file.toString))
        .select(col("table_name"), col("column_name"),
          col("data_type").as("cfg_type"))
      ddl.join(cfg, Seq("table_name", "column_name"), "full_outer")
        .withColumn("status",
          when(col("ddl_type").isNull, "missing_in_ddl")
            .when(col("cfg_type").isNull, "missing_in_config")
            .when(col("ddl_type") =!= col("cfg_type"), "type_drift")
            .otherwise("match"))
        .filter(col("status") =!= "match")
        .select("table_name", "column_name", "ddl_type", "cfg_type", "status")
        .orderBy("table_name", "column_name")
        .localCheckpoint() // pin BEFORE the temp JSONL is deleted
    } finally {
      // the frame is pinned, so the source file can go now
      graft.streaming.Replay.rmrf(dir)
    }
  }

  /** S6/A1-equivalent FK-catalog aggregation: inbound-FK fan-in per
    * parent table, top 10 (the sys.foreign_keys join, aggregated). */
  def fkFanout(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    catalog.allFks.groupBy(_.refTable)
      .map { case (p, fks) => (p, fks.size.toLong) }.toSeq
      .toDF("parent_table", "n_inbound")
      .orderBy(col("n_inbound").desc, col("parent_table"))
      .limit(10)
  }

  /** Bulk-generation summary: scale-dependent row count (250k rows at
    * the bench SF, 5k at the correctness SF) over the 76-column
    * CariHareket — the generator's throughput surface. Output is an
    * aggregate so Verify writes a one-row summary, not the bulk data;
    * values are deterministic (frozen oracle for the sf0.01 path). */
  def generationBulk(s: SparkSession, d: String): DataFrame = {
    val rows = if (d.contains("sf0.1")) 250000L else 5000L
    val df = Generator.tableDf(s, catalog("CariHareket"), rows, seed = 42)
    df.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("Id")).as("n_ids"),
      countDistinct(col("TenantId")).as("n_tenants"),
      min(length(col("BelgeNo"))).as("min_belgeno_len"),
      max(length(col("BelgeNo"))).as("max_belgeno_len"))
  }

  def defs: Map[String, QueryDef] = Map(
    "g06_generation_bulk" -> QueryDef(generationBulk _,
      // frozen for the sf0.01 branch (5000 rows, seed 42): GUID PK and
      // tenant ids are md5-derived per row — fully distinct; BelgeNo is
      // a keyword-free nvarchar(20) → title-cased word, 3..9 chars
      """SELECT * FROM (VALUES (CAST(5000 AS BIGINT), CAST(5000 AS BIGINT),
        |  CAST(5000 AS BIGINT), 4, 8))
        |t(n_rows, n_ids, n_tenants, min_belgeno_len, max_belgeno_len)""".stripMargin),
    "g04_column_type_census" -> QueryDef(columnTypeCensus _, G04Oracle),
    "g05_fk_fanout" -> QueryDef(fkFanout _, G05Oracle),
    // NOT a frozen-VALUES oracle: DuckDB re-runs the recursion over the
    // same embedded edge list with its own recursive engine
    "g12_fk_depth_recursive" -> QueryDef(fkDepthRecursive _, Some(G12Oracle)),
    // frozen oracle: 25 rows (20 base + 5 inserted), 10 updated (even
    // ids re-scored ×100), sum = 1000 (odd) + 11000 (updated even) +
    // 1150 (inserts 21-25)
    // the oracle restates the federated semantics over pure parquet:
    // the dimension's residence (live Derby vs file) must be
    // result-invisible — only the PLAN differs (JDBCRelation + pushed
    // dim filter, frozen by PlanSpec)
    "g16_federated_join" -> QueryDef(federatedJoin _,
      s"""SELECT n_name, COUNT(DISTINCT c_custkey) AS n_customers,
         |  COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE n_regionkey = 1
         |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // oracle = pure-parquet restatement; only the PLAN differs (the
    // aggregate executes in Derby behind a query-as-table relation)
    "g17_federated_agg_pushdown" -> QueryDef(federatedAggPushdown _,
      s"""WITH dim AS (SELECT n_regionkey, COUNT(*) AS n_nations
         |  FROM nation GROUP BY n_regionkey),
         |fact AS (SELECT n.n_regionkey AS r, COUNT(*) AS n_orders,
         |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |  FROM orders
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n ON c_nationkey = n.n_nationkey
         |  GROUP BY n.n_regionkey)
         |SELECT f.r AS region_key, CAST(d.n_nations AS BIGINT) AS n_nations,
         |  f.n_orders, f.revenue
         |FROM fact f JOIN dim d ON d.n_regionkey = f.r
         |ORDER BY f.r""".stripMargin),

    // oracle = pure-parquet restatement of the slice the 8 ranged JDBC
    // strides must reassemble gap- and overlap-free
    "g20_partitioned_fed_scan" -> QueryDef(partitionedFedScan _,
      """SELECT CAST(8 AS BIGINT) AS n_partitions, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 20 = 0""".stripMargin),

    // frozen deterministic audit: the poisoned batch leaves ZERO rows
    // (atomicity), the clean batch lands 5 with Σval = 10·(11+..+15)
    "g18_transactional_rollback" -> QueryDef(transactionalRollback _,
      """SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(1 AS BIGINT), CAST(5 AS BIGINT), CAST(650 AS BIGINT)))
        |  t(poisoned_committed, rows_after_poison, clean_committed, n_rows, sum_val)""".stripMargin),

    // frozen deterministic audit: 3 attempts, 2 committed, 1 refused by
    // the ledger PK; 20 rows = 2 batches × 10, zero duplicate
    // (batch_id, id) pairs, Σval = 2 · (1+..+10) = 110
    "g15_idempotent_sink" -> QueryDef(idempotentSink _,
      """SELECT * FROM (VALUES (CAST(3 AS BIGINT), CAST(2 AS BIGINT),
        |  CAST(1 AS BIGINT), CAST(20 AS BIGINT), CAST(2 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(110 AS BIGINT)))
        |  t(n_attempts, n_committed, n_refused, n_rows, n_batches, n_dups, sum_val)""".stripMargin),

    // frozen deterministic audit: B commits 6; A's stale pass lands 4 of
    // 7 with 3 conflicts (the 4–6 overlap), all 3 retries land. Final:
    // keys 1–3 at v2 (+5), 4–6 at v3 (+12), 7–10 at v2 (+7) →
    // n_v2 = 7, n_v3 = 3, Σbalance = 5500 + 15 + 36 + 28 = 5579
    "g19_optimistic_concurrency" -> QueryDef(optimisticConcurrency _,
      """SELECT * FROM (VALUES (CAST(6 AS BIGINT), CAST(4 AS BIGINT),
        |  CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(10 AS BIGINT),
        |  CAST(7 AS BIGINT), CAST(3 AS BIGINT), CAST(5579 AS BIGINT)))
        |  t(b_committed, a_first_pass, n_conflicts, n_retried, n_rows,
        |    n_v2, n_v3, sum_balance)""".stripMargin),

    "g13_merge_upsert" -> QueryDef(mergeUpsert _,
      """SELECT * FROM (VALUES (CAST(25 AS BIGINT), CAST(10 AS BIGINT),
        |  CAST(15 AS BIGINT), CAST(13150 AS BIGINT)))
        |  t(n_rows, n_updated, n_base_or_inserted, sum_score)""".stripMargin),

    // frozen deterministic audit: 2 → 3 catalog columns, 15 backfilled
    // + 5 on the ALTER default + 5 appended wide = 25 rows,
    // Σ = 10·(Σ1..15) − 5 + 10·(Σ21..25) = 2345
    "g14_schema_evolution" -> QueryDef(schemaEvolution _,
      """SELECT * FROM (VALUES (CAST(2 AS BIGINT), CAST(3 AS BIGINT),
        |  CAST(25 AS BIGINT), CAST(20 AS BIGINT), CAST(5 AS BIGINT),
        |  CAST(2345 AS BIGINT)))
        |  t(n_cols_v1, n_cols_v2, n_rows, n_scored, n_default_left, sum_score)""".stripMargin),
    "g01_catalog_inventory" -> QueryDef(catalogInventory _,
      """SELECT * FROM (VALUES (CAST(85 AS BIGINT), CAST(1431 AS BIGINT),
        |  CAST(131 AS BIGINT), CAST(4 AS BIGINT), CAST(19 AS BIGINT),
        |  CAST(77 AS BIGINT), CAST(8 AS BIGINT)))
        |t(n_tables, n_columns, n_fks, n_identity, n_cascade_fks,
        |  n_generated_tables, n_waves)""".stripMargin),

    "g02_generation_slice" -> QueryDef(generationSlice _, GenSliceOracle),

    "g03_generated_banka" -> QueryDef(generatedBanka _, G03Oracle),

    "g07_jdbc_roundtrip" -> QueryDef(jdbcRoundTrip _,
      // frozen audit of the Derby round-trip (deterministic: seed 42,
      // 15 rows): every table loads and reads back 15 rows with zero FK
      // violations; PKs re-arm only where generated keys are distinct
      // (Banka/BankaSube identity); FKs re-arm only onto armed PKs
      // (BankaSube→Banka is the one armed edge).
      """SELECT * FROM (VALUES
        |  ('Banka', CAST(15 AS BIGINT), CAST(15 AS BIGINT), CAST(0 AS BIGINT), TRUE, 1, 0),
        |  ('BankaSube', CAST(15 AS BIGINT), CAST(15 AS BIGINT), CAST(0 AS BIGINT), TRUE, 2, 1),
        |  ('Il', CAST(15 AS BIGINT), CAST(15 AS BIGINT), CAST(0 AS BIGINT), FALSE, 1, 0),
        |  ('Ulke', CAST(15 AS BIGINT), CAST(15 AS BIGINT), CAST(0 AS BIGINT), FALSE, 0, 0),
        |  ('VergiDairesi', CAST(15 AS BIGINT), CAST(15 AS BIGINT), CAST(0 AS BIGINT), FALSE, 1, 0))
        |t(table_name, n_loaded, n_readback, n_fk_bad, pk_rearmed, n_fks, n_fks_rearmed)
        |ORDER BY table_name""".stripMargin),

    "g08_armed_wave_load" -> QueryDef(armedWaveLoad _, G08Oracle),

    "g09_armed_full_catalog" -> QueryDef(armedFullLoad _, G09Oracle),
    "g21_partitioned_readback_audit" ->
      QueryDef(partitionedReadbackAudit _, G21Oracle),

    "g10_deferred_fk_link" -> QueryDef(deferredFkLink _, G10Oracle),

    // the three planted drifts ARE the contract: the diff must find
    // exactly them, and nothing else, across the whole slice schema
    "g11_config_drift" -> QueryDef(configDrift _, Some(
      """SELECT * FROM (VALUES
        |  ('Banka', 'Ad', 'nvarchar', CAST(NULL AS VARCHAR), 'missing_in_config'),
        |  ('Banka', 'PlantedExtra', CAST(NULL AS VARCHAR), 'nvarchar', 'missing_in_ddl'),
        |  ('Il', 'Kod', 'nvarchar', 'int', 'type_drift'))
        |t(table_name, column_name, ddl_type, cfg_type, status)
        |ORDER BY table_name, column_name""".stripMargin))
  )

  /** Frozen deferred-FK linking audit (deterministic: seed 42 full-catalog
    * armed load; re-freeze via `runMain graft.Dump g10_deferred_fk_link`
    * if generation/load logic changes). The catalog's only deferred edges
    * are CariHesap's two self-FKs (FaturaHesapId, MusterekHesapId →
    * CariHesap.Id): all 15 surviving rows link, zero NULLs remain, and
    * both constraints arm late with Derby revalidating every row. */
  private lazy val G10Oracle: Option[String] = Some(
    """SELECT * FROM (VALUES
      |  ('CariHesap', 'FaturaHesapId', 'CariHesap',
      |   CAST(15 AS BIGINT), CAST(0 AS BIGINT), TRUE),
      |  ('CariHesap', 'MusterekHesapId', 'CariHesap',
      |   CAST(15 AS BIGINT), CAST(0 AS BIGINT), TRUE))
      |t(table_name, fk_column, ref_table, n_linked, n_null_after, fk_armed_late)
      |ORDER BY table_name, fk_column""".stripMargin)

  /** Frozen catalog-wide armed-load audit (deterministic: seed 42, 15
    * generated rows per table, PK-deduplicated before insert). 77 tables
    * over 8 waves; n_loaded 997 < 1155 generated is the reference's
    * degenerate truncated-PK collapse (run_engine.py:73,252-253)
    * surviving the armed posture's dedup; every table's PK armed, 122 of
    * the 131 catalog FK edges armed live (the rest: parents skipped by
    * F1, or self/same-wave edges deferred as NULL); zero FK violations
    * across ALL audited edges, armed or not. */
  // frozen from the deterministic (rowCount 15, seed 42) armed load:
  // re-freeze via `sbt "runMain graft.Dump g21_partitioned_readback_audit"`
  // if generation or load logic changes (the G09 convention)
  private lazy val G21Oracle: Option[String] = Some(
    """SELECT * FROM (VALUES (CAST(77 AS BIGINT), CAST(75 AS BIGINT),
      |  CAST(302 AS BIGINT), CAST(997 AS BIGINT), CAST(997 AS BIGINT),
      |  CAST(0 AS BIGINT)))
      |t(n_tables, n_strided_tables, n_strides, n_loaded,
      |  n_readback, n_mismatched)""".stripMargin)

  private lazy val G09Oracle: Option[String] = Some(
    """SELECT * FROM (VALUES (CAST(77 AS BIGINT), CAST(8 AS BIGINT),
      |  CAST(1155 AS BIGINT), CAST(997 AS BIGINT), CAST(0 AS BIGINT),
      |  CAST(77 AS BIGINT), CAST(122 AS BIGINT)))
      |t(n_tables, n_waves, n_generated, n_loaded, n_fk_bad,
      |  n_pk_armed, n_fks_armed)""".stripMargin)

  /** Frozen audit of the armed-constraint wave load (deterministic: seed
    * 42, 15 generated rows, PK-deduplicated before insert — distinct-PK
    * counts match g02's n_pk_distinct). Waves: Ulke→{Il,Banka}→
    * {VergiDairesi,BankaSube}; every PK and FK armed BEFORE the first
    * row, zero violations — the database itself validated every INSERT. */
  private lazy val G08Oracle: Option[String] = Some(
    """SELECT * FROM (VALUES
      |  ('Banka', 1, CAST(15 AS BIGINT), CAST(15 AS BIGINT), CAST(0 AS BIGINT), TRUE, 1),
      |  ('BankaSube', 2, CAST(15 AS BIGINT), CAST(15 AS BIGINT), CAST(0 AS BIGINT), TRUE, 2),
      |  ('Il', 1, CAST(15 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), TRUE, 1),
      |  ('Ulke', 0, CAST(15 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), TRUE, 0),
      |  ('VergiDairesi', 2, CAST(15 AS BIGINT), CAST(8 AS BIGINT), CAST(0 AS BIGINT), TRUE, 1))
      |t(table_name, wave, n_generated, n_loaded, n_fk_bad, pk_armed, n_fks_armed)
      |ORDER BY table_name""".stripMargin)

  /** Frozen from the deterministic generator output (seed 42, 15 rows;
    * re-freeze via `runMain graft.Dump g03_generated_banka` if generation
    * logic changes). The reference quirks are intentional: KOD-keyword
    * truncation collapses Kod/UlkeNumKod to 'AUT' (run_engine.py:73,
    * 252-253), Ad draws from the first-name lexicon. */
  private lazy val G03Oracle: Option[String] = Some(
    """SELECT * FROM (VALUES
      |  (1, 'AUT', 'Selin', 'AUTO-220', 'AUT', '063ae07b-de23-43d3-b34f-13bd61c37767'),
      |  (2, 'AUT', 'Kemal', 'AUTO-859', 'AUT', 'f91bf92e-70d6-4ad3-38f8-571deb7a89a0'),
      |  (3, 'AUT', 'Ayşe', 'AUTO-225', 'AUT', 'dc4c3901-5136-41e1-668a-19c737997ce4'),
      |  (4, 'AUT', 'Osman', 'AUTO-727', 'AUT', '0a670be7-e0de-49f9-362f-cd4ad3001cba'),
      |  (5, 'AUT', 'Selin', 'AUTO-774', 'AUT', 'c76bc4d7-e5e6-4981-74c3-cdb2c54dab0f'),
      |  (6, 'AUT', 'Zeynep', 'AUTO-988', 'AUT', 'b8446d6b-4136-4bac-2455-1ce2d9d47896'),
      |  (7, 'AUT', 'Ali', 'AUTO-218', 'AUT', '1d7e4bea-9b6a-458c-8238-6c648bd10a10'),
      |  (8, 'AUT', 'Kemal', 'AUTO-914', 'AUT', '953f61e8-2730-423c-d21f-b892ea8184e2'),
      |  (9, 'AUT', 'Zeynep', 'AUTO-332', 'AUT', '02616e07-f801-4ca1-a778-ee504ae84031'),
      |  (10, 'AUT', 'Gül', 'AUTO-955', 'AUT', '6d2a599f-f7b4-4324-4eab-0ff71a5d5ce9'),
      |  (11, 'AUT', 'Murat', 'AUTO-752', 'AUT', '44a8761f-2b79-43db-0268-61655602cca0'),
      |  (12, 'AUT', 'Mehmet', 'AUTO-909', 'AUT', '04fdfda5-5efd-45f6-7fed-7cd54427cd06'),
      |  (13, 'AUT', 'Cem', 'AUTO-557', 'AUT', '053b4922-5a6c-4133-3868-f6ec1eb17d41'),
      |  (14, 'AUT', 'Ali', 'AUTO-946', 'AUT', '1382bec1-b63f-4499-9466-0d7b5cdee2f6'),
      |  (15, 'AUT', 'Fatma', 'AUTO-796', 'AUT', '708aedad-c4b8-484e-ed84-5cd3c6e54694'))
      |t(Id, Kod, Ad, SwiftKodu, UlkeNumKod, TenantId) ORDER BY Id""".stripMargin)

  /** Frozen from the parsed corpus (SURVEY.md §1.2 type table). */
  private lazy val G04Oracle: Option[String] = Some(
    """SELECT * FROM (VALUES
      |  ('bigint', CAST(1 AS BIGINT)), ('bit', CAST(25 AS BIGINT)),
      |  ('date', CAST(42 AS BIGINT)), ('datetime2', CAST(20 AS BIGINT)),
      |  ('datetimeoffset', CAST(1 AS BIGINT)), ('int', CAST(141 AS BIGINT)),
      |  ('numeric', CAST(181 AS BIGINT)), ('nvarchar', CAST(610 AS BIGINT)),
      |  ('real', CAST(20 AS BIGINT)), ('smallint', CAST(112 AS BIGINT)),
      |  ('time', CAST(1 AS BIGINT)), ('timestamp', CAST(53 AS BIGINT)),
      |  ('uniqueidentifier', CAST(223 AS BIGINT)), ('varbinary', CAST(1 AS BIGINT)))
      |t(sql_type, n_cols) ORDER BY sql_type""".stripMargin)

  /** Frozen fan-in of the most-referenced parents (placeholder values
    * are confirmed by the differential run before each commit). */
  private lazy val G05Oracle: Option[String] = Some(
    """SELECT * FROM (VALUES
      |  ('CariHesap', CAST(30 AS BIGINT)), ('Il', CAST(9 AS BIGINT)),
      |  ('Stok', CAST(9 AS BIGINT)), ('Ulke', CAST(8 AS BIGINT)),
      |  ('StokHareket', CAST(7 AS BIGINT)), ('SatisBelge', CAST(6 AS BIGINT)),
      |  ('AspNetUsers', CAST(5 AS BIGINT)), ('CariHareket', CAST(5 AS BIGINT)),
      |  ('FaturaBelge', CAST(5 AS BIGINT)), ('Banka', CAST(4 AS BIGINT)))
      |t(parent_table, n_inbound) ORDER BY n_inbound DESC, parent_table LIMIT 10""".stripMargin)

  /** Frozen from a reference run (deterministic — see class doc).
    * n_pk_distinct of 1 for Ulke/VergiDairesi is faithful reference
    * behavior: KOD-keyword values truncate to the tiny declared PK
    * length and collide (run_engine.py:73,252-253). */
  private lazy val GenSliceOracle: Option[String] = Some(
    """SELECT * FROM (VALUES
      |  ('Banka', CAST(15 AS BIGINT), CAST(15 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('BankaSube', CAST(15 AS BIGINT), CAST(15 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('Il', CAST(15 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('Ulke', CAST(15 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('VergiDairesi', CAST(15 AS BIGINT), CAST(8 AS BIGINT), CAST(0 AS BIGINT)))
      |t(table_name, n_rows, n_pk_distinct, n_fk_violations)
      |ORDER BY table_name""".stripMargin)
}
