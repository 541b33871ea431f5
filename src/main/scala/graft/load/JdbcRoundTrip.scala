package graft.load

import java.sql.DriverManager
import graft.ddl.Catalog
import graft.gen.GeneratePipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

/** One row of the load audit (g07's schema). */
final case class TableLoadReport(table_name: String, n_loaded: Long,
    n_readback: Long, n_fk_bad: Long, pk_rearmed: Boolean,
    n_fks: Int, n_fks_rearmed: Int)

/** One row of the armed-constraint wave-load audit (g08's schema). */
final case class ArmedLoadReport(table_name: String, wave: Int,
    n_generated: Long, n_loaded: Long, n_fk_bad: Long,
    pk_armed: Boolean, n_fks_armed: Int)

/** One deferred FK edge after the post-load linking pass (g10's schema):
  * self-FKs and same-wave cycle-fallback edges load as NULL (no parent
  * sample exists when the child generates), then a second UPDATE pass
  * links them to a real parent key and — where the parent's PK backs the
  * edge — arms the constraint late, letting the DATABASE validate the
  * linked values. */
final case class DeferredLinkReport(table_name: String, fk_column: String,
    ref_table: String, n_linked: Long, n_null_after: Long,
    fk_armed_late: Boolean)

/** One row of the partition-parallel read-back audit (g21's raw input):
  * the table was read back through `n_strides` CONCURRENT JDBC
  * connections (predicate strides on its PK) and the strides saw
  * `n_rows` rows in total — gap- and overlap-free coverage shows as
  * n_rows equalling the load accounting. */
final case class PartReadbackReport(table_name: String, n_strides: Int,
    n_rows: Long)

/** The reference's flagship behavior — bulk-append into a LIVE relational
  * database with constraints out of the way (run_engine.py:227-260) —
  * run for real against embedded Derby:
  *
  *   probe/create DB (S9, apply_mssql.py:27-43) → deploy retargeted DDL
  *   (§2.8) → generate FK-consistent rows → distributed JDBC append (K1)
  *   → re-arm constraints (K4) → read back through spark.read.jdbc and
  *   audit counts + referential integrity.
  *
  * In-memory Derby is a local-mode harness (executors share the JVM); on
  * a real cluster the same code points the URL at a network database and
  * nothing else changes — the writer is one connection per partition,
  * `batchsize` rows per round trip.
  */
object JdbcRoundTrip {

  private val dbCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  def run(spark: SparkSession, catalog: Catalog, rowCount: Long = 15,
      seed: Long = 42): Seq[TableLoadReport] = {
    val db = s"graft_rt_${dbCounter.incrementAndGet()}_${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db"
    try runOn(spark, catalog, url, rowCount, seed)
    finally dropDatabase(url)
  }

  /** The OTHER reference execution posture (fill_db.py:137-139 / SURVEY
    * §7.4 fallback): constraints armed from the FIRST row, load in
    * FK-topo waves so parents always land before children. Used when the
    * target refuses `NOCHECK CONSTRAINT all` — every INSERT is validated
    * live by the database. The armed posture requires unique PKs, so each
    * frame is deduplicated on its PK before the append (at 100 TB this is
    * the same `dropDuplicates` shuffle any constrained bulk load needs —
    * you dedup in Spark, not by bouncing rows off the database). */
  def runArmed(spark: SparkSession, catalog: Catalog, rowCount: Long = 15,
      seed: Long = 42): Seq[ArmedLoadReport] = {
    // load-only: the deferred-FK linking epilogue (UPDATE + late ADD
    // CONSTRAINT, each a live-Derby failure mode) runs ONLY for callers
    // that consume link reports (runArmedLinked / g10) — a pure load
    // consumer like g08 must not inherit the epilogue's work or errors
    val db = s"graft_arm_${dbCounter.incrementAndGet()}_${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db"
    try runArmedOn(spark, catalog, url, rowCount, seed, link = false)._1
    finally dropDatabase(url)
  }

  /** g21's read path, generalized from g20's ranged fact scan to the
    * WHOLE catalog: every table reads back through PREDICATE-partitioned
    * JDBC (`spark.read.jdbc(url, table, predicates, …)` — one concurrent
    * connection per stride), which is the posture a 100 TB reload audit
    * needs: the verification scan parallelizes the wire per table
    * instead of draining 77 tables through one connection each. Stride
    * scheme per PK head column type, each PROVABLY gap- and overlap-free:
    *  - string PK (the GUID majority): 4 half-open first-character
    *    ranges with unbounded ends (< '4' … >= 'c'), so any value —
    *    hex or not — lands in exactly one stride;
    *  - integral PK: MOD(pk, 4) = 0..3;
    *  - multi-column, non-strideable, or absent PK: one full stride
    *    (recorded as n_strides = 1 — no silent cap).
    * Counts reduce through ONE unioned collect, not one action per
    * table. */
  private def partitionedReadback(spark: SparkSession, url: String,
      target: JdbcSink.Target, catalog: Catalog, targets: Seq[String])
      : Seq[PartReadbackReport] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, StringType}
    val framed: Seq[(String, Int, DataFrame)] = targets.sorted.map { t =>
      val td = catalog(t)
      val preds: Array[String] = td.pk.headOption
        .filter(td.schema.fieldNames.contains)
        .map(pc => (pc, td.schema(pc).dataType)) match {
        case Some((pc, StringType)) if td.pk.size == 1 =>
          val c = s"SUBSTR(${DerbyDdl.q(pc)}, 1, 1)"
          Array(s"$c < '4'", s"$c >= '4' AND $c < '8'",
            s"$c >= '8' AND $c < 'c'", s"$c >= 'c'")
        case Some((pc, IntegerType | LongType | ShortType)) if td.pk.size == 1 =>
          // ABS around MOD, not around the PK: Derby's MOD keeps the
          // dividend's sign, so a negative key would satisfy NO stride
          // and silently drop from the audit; |MOD| ≤ 3 can't overflow
          // where ABS(Long.MinValue) would
          val c = s"ABS(MOD(${DerbyDdl.q(pc)}, 4))"
          Array(s"$c = 0", s"$c = 1", s"$c = 2", s"$c = 3")
        case _ => Array("1=1")
      }
      (t, preds.length,
        spark.read.jdbc(url, DerbyDdl.q(t), preds, JdbcSink.props(target)))
    }
    val counts: Map[String, Long] = framed
      .map { case (t, _, df) =>
        df.agg(count(lit(1)).as("n")).select(lit(t).as("table_name"), col("n"))
      }
      .reduceOption(_ unionAll _).map(_.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
    framed.map { case (t, n, _) => PartReadbackReport(t, n, counts(t)) }
  }

  /** Armed wave load + the deferred-FK linking epilogue (g10) + the
    * partition-parallel read-back audit (g21): all three run against ONE
    * Derby lifetime, so the (expensive) load is paid once. */
  def runArmedLinked(spark: SparkSession, catalog: Catalog,
      rowCount: Long = 15, seed: Long = 42)
      : (Seq[ArmedLoadReport], Seq[DeferredLinkReport], Seq[PartReadbackReport]) = {
    val db = s"graft_awl_${dbCounter.incrementAndGet()}_${System.nanoTime()}"
    val url = s"jdbc:derby:memory:$db"
    try runArmedOn(spark, catalog, url, rowCount, seed, link = true)
    finally dropDatabase(url)
  }

  /** S9: existence probe — can the database be opened as-is? */
  def databaseExists(url: String): Boolean =
    try { DriverManager.getConnection(url).close(); true }
    catch { case _: java.sql.SQLException => false }

  /** CREATE DATABASE if absent (apply_mssql.py:27-43). */
  def ensureDatabase(url: String): Unit =
    if (!databaseExists(url)) DriverManager.getConnection(s"$url;create=true").close()

  private def dropDatabase(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: java.sql.SQLException => () } // 08006 == dropped OK

  /** Public teardown for callers that manage their own scratch DB
    * (e.g. the streaming JDBC sink). */
  def dropDatabaseQuietly(url: String): Unit = dropDatabase(url)

  private def runOn(spark: SparkSession, catalog: Catalog, url: String,
      rowCount: Long, seed: Long): Seq[TableLoadReport] = {
    val target = JdbcSink.Target(url, "", "")
    ensureDatabase(url)

    // Deploy bare tables (constraints unarmed = "disabled" posture).
    val targets = catalog.order.filterNot(GeneratePipeline.skipTable)
    JdbcSink.execute(target, targets.map(t => DerbyDdl.createTableSql(catalog(t))))
      .zip(targets).foreach { case (err, t) =>
        err.foreach(e => sys.error(s"create $t failed: $e"))
      }

    // Generate + bulk-append (K1). Constraints are not armed, so the
    // writes need no toggling; the pipeline sinks in its FK waves anyway.
    // TrieMap: the sink runs concurrently for tables of the same wave
    val loaded = scala.collection.concurrent.TrieMap.empty[String, Long]
    val results = GeneratePipeline.run(spark, catalog, rowCount, seed, (t, df) => {
      JdbcSink.appendGenerated(df, catalog(t), target, toggleConstraints = false,
        quoteTable = DerbyDdl.q)
      loaded(t) = rowCount
    })
    results.filterNot(_.ok).foreach(r => sys.error(s"generate ${r.table}: ${r.error.mkString}"))
    rearmAndAudit(spark, catalog, target, targets, loaded.toMap)
  }

  /** Re-arm constraints on loaded tables (K4 "enable" equivalent), then
    * read back and audit. Every PK, then every FK, goes through ONE
    * connection, with per-statement error tolerance like
    * apply_mssql.py:94-102; Derby validates on ADD, so a refused
    * statement is a real integrity signal, recorded per table. */
  private[load] def rearmAndAudit(spark: SparkSession, catalog: Catalog,
      target: JdbcSink.Target, targets: Seq[String], loaded: Map[String, Long])
      : Seq[TableLoadReport] = {
    val pkSql = targets.flatMap(t => DerbyDdl.addPkSql(catalog(t)).map(t -> _))
    val pkErr: Map[String, Option[String]] =
      pkSql.map(_._1).zip(JdbcSink.execute(target, pkSql.map(_._2))).toMap
    val fks = targets.flatMap(t => catalog(t).fks)
    val fkRearmed: Map[String, Int] =
      fks.zip(JdbcSink.execute(target, fks.map(DerbyDdl.addFkSql)))
        .collect { case (fk, None) => fk.table }.groupMapReduce(identity)(_ => 1)(_ + _)

    val (nReadback, fkBad) = auditReadback(spark, target.url, target, catalog, targets)

    targets.sorted.map { t =>
      TableLoadReport(t, loaded.getOrElse(t, 0L), nReadback(t), fkBad(t),
        pkErr.get(t).forall(_.isEmpty), catalog(t).fks.size, fkRearmed.getOrElse(t, 0))
    }
  }

  // Entry kinds of the audit's tagged stream.
  private val RowMark = 0
  private val ChildValue = 1
  private val ParentValue = 2

  /** Row count of every table (0 for an empty one) and FK-violating
    * child values per child table, for every FK edge whose parent is
    * also a target. Each table is read over JDBC once, projected to its
    * FK columns and its referenced columns, and each row becomes tagged
    * entries: a row marker, one child value per FK column, one parent
    * value per referenced column. The entries of all tables are unioned
    * and cached, and ONE left-anti join on (parent table, parent column,
    * value) finds the violations of every edge, so the number of Spark
    * jobs does not grow with the number of edges: under AQE every shuffle
    * stage runs as its own job, and one join per edge would add jobs per
    * edge.
    *
    * Violations count per edge (a row breaking two FKs counts twice);
    * NULL child values never violate. Values are compared in the common
    * Catalyst type of the parent column and every child column referencing
    * it (`findWiderTypeForTwo`, as an equi-join coerces its keys): the
    * parent's own type when the children are narrower (INT onto BIGINT),
    * the wider scale when DECIMAL scales differ — never a rounding cast.
    * All values of one parent column share that type, so their
    * string forms are equal exactly when the values are (floating-point
    * keys aside, where -0.0 and 0.0 print differently). */
  private[load] def auditReadback(spark: SparkSession, url: String,
      target: JdbcSink.Target, catalog: Catalog, targets: Seq[String])
      : (Map[String, Long], Map[String, Long]) = {
    val targetSet = targets.toSet
    val frames = targets.map(t =>
      t -> spark.read.jdbc(url, DerbyDdl.q(t), JdbcSink.props(target))).toMap
    val edges = targets.flatMap(t => catalog(t).fks.filter(f => targetSet(f.refTable)))
    def typeOf(t: String, c: String): DataType = frames(t).schema(c).dataType
    val keyType: Map[(String, String), DataType] =
      edges.groupBy(f => (f.refTable, f.refColumn)).map { case (p @ (pt, pc), fs) =>
        p -> fs.map(f => typeOf(f.table, f.column)).foldLeft(typeOf(pt, pc))((a, b) =>
          TypeCoercion.findWiderTypeForTwo(a, b).getOrElse(StringType))
      }
    def entry(kind: Int, parent: Option[(String, String)], value: Column): Column =
      struct(lit(kind).as("kind"), lit(parent.map(_._1).orNull).cast(StringType).as("ptable"),
        lit(parent.map(_._2).orNull).cast(StringType).as("pcol"),
        value.cast(StringType).as("value"))

    val tagged: Seq[DataFrame] = targets.map { t =>
      val children = edges.filter(_.table == t).map(f => (f.column, (f.refTable, f.refColumn)))
      val parents = keyType.keys.filter(_._1 == t).toSeq.sorted.map(p => (p._2, p))
      def values(kind: Int, cols: Seq[(String, (String, String))]): Seq[Column] =
        cols.map { case (c, p) => entry(kind, Some(p), col(c).cast(keyType(p))) }
      val entries = entry(RowMark, None, lit(null)) +:
        (values(ChildValue, children) ++ values(ParentValue, parents))
      frames(t).select((children ++ parents).map(_._1).distinct.map(col): _*)
        .select(lit(t).as("table"), inline(array(entries: _*)))
    }
    val kind = col("kind")
    // cached: three branches below read it, each table still once over JDBC
    val all = tagged.reduceOption(_ unionAll _)
      .map(_.filter(kind === RowMark || col("value").isNotNull).persist())
    val counts: Map[(String, Int), Long] = all.map { entries =>
      try {
        // materialized first, so the anti-join is planned from the cached
        // size; otherwise AQE races the cache build and the audit's job
        // count depends on which stage finishes first
        entries.count()
        val key = Seq("ptable", "pcol", "value")
        val rows = entries.filter(kind === RowMark).groupBy("table", "kind").count()
        val bad = entries.filter(kind === ChildValue)
          .join(entries.filter(kind === ParentValue).select(key.map(col): _*), key, "left_anti")
          .groupBy("table", "kind").count()
        rows.unionAll(bad).collect()
          .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      } finally entries.unpersist()
    }.getOrElse(Map.empty)
    (targets.map(t => t -> counts.getOrElse((t, RowMark), 0L)).toMap,
      targets.map(t => t -> counts.getOrElse((t, ChildValue), 0L)).toMap)
  }

  private def runArmedOn(spark: SparkSession, catalog: Catalog, url: String,
      rowCount: Long, seed: Long, link: Boolean)
      : (Seq[ArmedLoadReport], Seq[DeferredLinkReport], Seq[PartReadbackReport]) = {
    val target = JdbcSink.Target(url, "", "")
    ensureDatabase(url)
    val targets = catalog.order.filterNot(GeneratePipeline.skipTable)

    // Deploy the FULLY-CONSTRAINED schema up front: bare CREATE, then arm
    // every PK and FK while the tables are still empty (trivially valid).
    // From here on the database validates each INSERT — any failure below
    // is a real integrity break, so errors are fatal, not tolerated.
    JdbcSink.execute(target, targets.map(t => DerbyDdl.createTableSql(catalog(t))))
      .zip(targets).foreach { case (err, t) =>
        err.foreach(e => sys.error(s"create $t failed: $e"))
      }
    val pkSql = targets.flatMap(t => DerbyDdl.addPkSql(catalog(t)).map(t -> _))
    JdbcSink.execute(target, pkSql.map(_._2)).zip(pkSql).foreach { case (err, (t, _)) =>
      err.foreach(e => sys.error(s"arm PK $t failed: $e"))
    }
    val pkArmed: Map[String, Boolean] =
      targets.map(t => t -> DerbyDdl.addPkSql(catalog(t)).isDefined).toMap
    val waveOf = GeneratePipeline.waveOf(catalog)
    // all-or-crash, not tolerant: a refused FK on an empty schema is a
    // deploy bug. ARMABLE = the edges this posture can actually promise:
    //  - the generator's wave rule (`GeneratePipeline.precedes`): the
    //    parent is deployed (Derby rejects an FK onto an absent table) in a
    //    STRICTLY earlier wave (the child of a self-FK or cycle-fallback
    //    edge gets synthetic values, and arming the edge would reject them)
    //  - parent's single-column PK armed AND it IS the referenced column
    //    (Derby validates FKs against a PK/unique constraint; the
    //    generator draws child values from the parent's first PK column,
    //    so an FK onto any other column has no value contract to enforce).
    // Everything filtered here still gets the Spark-side left-anti audit.
    val armable: Map[String, Seq[graft.ddl.Fk]] = targets.map(t =>
      t -> catalog(t).fks.filter(fk =>
        GeneratePipeline.precedes(waveOf, fk.refTable, t) &&
          pkArmed(fk.refTable) && catalog(fk.refTable).pk == Seq(fk.refColumn))).toMap
    val armFks = targets.flatMap(armable)
    JdbcSink.execute(target, armFks.map(DerbyDdl.addFkSql)).zip(armFks).foreach {
      case (err, fk) => err.foreach(e => sys.error(s"arm FK ${fk.table}->${fk.refTable} failed: $e"))
    }
    val fkArmed: Map[String, Int] = targets.map(t => t -> armable(t).size).toMap

    // In-target edges the wave rule CANNOT promise (self-FKs and
    // cycle-fallback same-wave edges — e.g. CariHesap.FaturaHesapId →
    // CariHesap.Id): the generator draws no parent key for them, so the
    // generated value is synthetic garbage. The armed posture drops
    // those columns from the INSERT so they land as the DB default NULL —
    // the classic deferred-self-reference bulk pattern (a second UPDATE
    // pass would link them once all rows exist). Dropped from the
    // projection rather than nulled in the frame: Spark's Derby dialect
    // binds a NULL StringType as CLOB, which Derby rejects on a VARCHAR
    // column (ERROR 22005). Non-nullable columns are left untouched (they
    // would fail the insert) and surface in the audit instead.
    val targetSet = targets.toSet
    val deferredFks: Map[String, Seq[graft.ddl.Fk]] = targets.map { t =>
      val armed = armable(t).toSet
      t -> catalog(t).fks
        .filter(f => targetSet.contains(f.refTable) && !armed.contains(f) &&
          catalog(t).schema(f.column).nullable)
    }.toMap
    val deferredCols: Map[String, Set[String]] =
      deferredFks.map { case (t, fks) => t -> fks.map(_.column).toSet }

    // Wave-ordered load: GeneratePipeline already iterates Deps.waves
    // (parents before children), which is exactly the order an armed-FK
    // target requires. Each frame is deduplicated on its PK first — the
    // armed posture's precondition — and appended with constraints LIVE.
    val results = GeneratePipeline.run(spark, catalog, rowCount, seed, (t, df) => {
      val td = catalog(t)
      // Deterministic winner per PK: row_number over a TOTAL order (all
      // columns), not dropDuplicates — which keeps an arbitrary row per
      // key, so surviving non-PK values would drift across partitionings
      // and flake any future value-level (g03-style) oracle freeze.
      val deduped =
        if (td.pk.nonEmpty && td.pk.forall(td.schema.fieldNames.contains)) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(td.pk.map(col): _*)
            .orderBy(td.schema.fieldNames.toIndexedSeq.map(c => col(c).asc_nulls_first): _*)
          df.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        } else df
      JdbcSink.appendGenerated(deduped, td, target, toggleConstraints = false,
        quoteTable = DerbyDdl.q, exclude = deferredCols.getOrElse(t, Set.empty))
    })
    results.filterNot(_.ok).foreach(r =>
      sys.error(s"armed load ${r.table}: ${r.error.mkString}"))

    // Independent Spark-side audit on top of the DB's own enforcement.
    val (nReadback, fkBad) = auditReadback(spark, url, target, catalog, targets)
    val loadReports = targets.sorted.map { t =>
      ArmedLoadReport(t, waveOf(t), rowCount, nReadback(t), fkBad(t),
        pkArmed(t), fkArmed(t))
    }

    // Deferred-FK linking epilogue (the "second UPDATE pass" the dropped
    // columns were waiting for): every deferred edge is linked to the
    // parent's MIN key — deterministic, and trivially valid — then the
    // edges the parent's armed PK can back are constrained LATE, so the
    // DATABASE itself revalidates the linked values (Derby, unlike
    // MSSQL's WITH NOCHECK, scans existing rows on ADD CONSTRAINT).
    // Edges onto non-PK parent columns stay unarmed (no unique backing)
    // but still link and audit to zero NULLs. Skipped entirely for
    // load-only callers (link = false).
    val linkReports = if (!link) Seq.empty[DeferredLinkReport]
    else targets.sorted.flatMap { t =>
      deferredFks(t).sortBy(_.column).map { fk =>
        val (tq, cq) = (DerbyDdl.q(t), DerbyDdl.q(fk.column))
        val (rq, rcq) = (DerbyDdl.q(fk.refTable), DerbyDdl.q(fk.refColumn))
        val nLinked = updateCount(url,
          s"UPDATE $tq SET $cq = (SELECT MIN($rcq) FROM $rq) WHERE $cq IS NULL")
        val canArm = pkArmed.getOrElse(fk.refTable, false) &&
          catalog(fk.refTable).pk == Seq(fk.refColumn)
        if (canArm)
          JdbcSink.execute(target, Seq(DerbyDdl.addFkSql(fk))).head
            .foreach(e => sys.error(s"late-arm FK $t->${fk.refTable} failed: $e"))
        val nNull = scalarLong(url, s"SELECT COUNT(*) FROM $tq WHERE $cq IS NULL")
        DeferredLinkReport(t, fk.column, fk.refTable, nLinked, nNull, canArm)
      }
    }
    // g21's partition-parallel verification pass — same Derby lifetime,
    // so the audit reads the exact state the load and link passes left
    val partReports =
      if (link) partitionedReadback(spark, url, target, catalog, targets)
      else Seq.empty[PartReadbackReport]
    (loadReports, linkReports, partReports)
  }

  private def updateCount(url: String, sql: String): Long = {
    val c = DriverManager.getConnection(url)
    try { val st = c.createStatement(); try st.executeUpdate(sql).toLong finally st.close() }
    finally c.close()
  }

  private def scalarLong(url: String, sql: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try { val rs = st.executeQuery(sql); rs.next(); rs.getLong(1) }
      finally st.close()
    } finally c.close()
  }
}
