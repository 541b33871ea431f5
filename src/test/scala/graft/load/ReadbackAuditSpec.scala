package graft.load

import java.sql.DriverManager
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.ddl.{Catalog, DdlParser}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The load audit (`JdbcRoundTrip.auditReadback`) and the K4 re-arm
  * against a live Derby database, on a self-contained five-table catalog
  * parsed from inline SSMS-dialect DDL. Rows are inserted with plain SQL,
  * planted violations included, and Derby's own `NOT EXISTS` count per
  * FK edge is the oracle. */
class ReadbackAuditSpec extends AnyFunSuite {
  import ReadbackAuditSpec.Tbl
  lazy val spark: SparkSession = graft.TestSpark.session

  // First column = the PK. FK = (column, parent table, parent column).
  // Orders.CustomerId is INT onto a BIGINT key; Orders.RateCode carries a
  // wider scale than its DECIMAL(10,2) parent, OrderLine.Discount a
  // narrower one. Archive stays empty.
  private val tables = Seq(
    Tbl("Customer", Seq("Id" -> "[bigint]", "Name" -> "[nvarchar](40)"), Nil),
    Tbl("Rate", Seq("Code" -> "[decimal](10, 2)"), Nil),
    Tbl("Orders", Seq("Id" -> "[int]", "CustomerId" -> "[int]", "SellerId" -> "[bigint]",
      "RateCode" -> "[decimal](12, 4)"),
      Seq(("CustomerId", "Customer", "Id"), ("SellerId", "Customer", "Id"),
        ("RateCode", "Rate", "Code"))),
    Tbl("OrderLine", Seq("Id" -> "[int]", "OrderId" -> "[int]", "Discount" -> "[decimal](8, 1)"),
      Seq(("OrderId", "Orders", "Id"), ("Discount", "Rate", "Code"))),
    Tbl("Archive", Seq("Id" -> "[int]", "CustomerId" -> "[bigint]"),
      Seq(("CustomerId", "Customer", "Id"))))

  /** `doubled` adds a twin `<column>2` of every FK column, with its own
    * FK onto the same parent and the same values: twice the edges. */
  private def shape(doubled: Boolean): Seq[Tbl] =
    if (!doubled) tables
    else tables.map { t =>
      val types = t.cols.toMap
      t.copy(cols = t.cols ++ t.fks.map(f => (f._1 + "2", types(f._1))),
        fks = t.fks ++ t.fks.map(f => f.copy(_1 = f._1 + "2")))
    }

  private def ddl(doubled: Boolean): String = shape(doubled).map { t =>
    val cols = t.cols.zipWithIndex.map { case ((c, ty), i) =>
      s"\t[$c] $ty ${if (i == 0) "NOT NULL" else "NULL"},"
    }
    val fks = t.fks.map { case (c, p, pc) =>
      s"ALTER TABLE [dbo].[${t.name}]  WITH CHECK ADD  CONSTRAINT [FK_${t.name}_$c] " +
        s"FOREIGN KEY([$c])\nREFERENCES [dbo].[$p] ([$pc])\nGO\n"
    }
    (s"CREATE TABLE [dbo].[${t.name}](" +: cols :+
      s" CONSTRAINT [PK_${t.name}] PRIMARY KEY CLUSTERED \n(\n\t[${t.cols.head._1}] ASC\n" +
      ")WITH (PAD_INDEX = OFF) ON [PRIMARY]\n) ON [PRIMARY]\nGO\n").mkString("\n") +
      fks.mkString
  }.mkString

  private def catalog(doubled: Boolean): Catalog = DdlParser.parse(ddl(doubled))

  // Rows as SQL literals in column order (FK twins repeat their column).
  private val rows: Seq[(String, Seq[String])] = Seq(
    "Customer" -> Seq("1, 'a'", "2, 'b'", "3, NULL", "5000000000, 'big'"),
    "Rate" -> Seq("1.20", "2.50"),
    "Orders" -> Seq(
      "1, 1, 2, 1.2000",    // clean: 1.2000 equals the key 1.20
      "2, 9, 1, 2.5000",    // CustomerId 9 has no parent
      "3, 8, 7, NULL",      // breaks two FKs in one row
      "4, NULL, NULL, NULL", // NULLs never violate
      "5, 3, 3, 1.2049",    // 1.2049 is no key, though it rounds to 1.20
      "6, 2, 5000000000, 2.5"),
    "OrderLine" -> Seq(
      "1, 1, 1.2",          // clean: 1.2 equals the key 1.20
      "2, 99, NULL",        // OrderId 99 has no parent
      "3, NULL, 2.5",
      "4, 2, 3.0"))         // 3.0 is no key

  private def inserts(doubled: Boolean): Seq[String] = rows.flatMap { case (t, vals) =>
    val tbl = tables.find(_.name == t).get
    val fkIdx = tbl.fks.map(f => tbl.cols.indexWhere(_._1 == f._1))
    vals.map { v =>
      val lits = v.split(",").map(_.trim).toSeq
      val all = if (doubled) lits ++ fkIdx.map(lits) else lits
      s"INSERT INTO ${DerbyDdl.q(t)} VALUES (${all.mkString(", ")})"
    }
  }

  /** A fresh Derby database holding the bare tables and the rows above. */
  private def withLoaded[A](doubled: Boolean)(f: (Catalog, JdbcSink.Target) => A): A = {
    val url = s"jdbc:derby:memory:graft_audit_${System.nanoTime()}"
    val target = JdbcSink.Target(url, "", "")
    JdbcRoundTrip.ensureDatabase(url)
    try {
      val cat = catalog(doubled)
      val errs = JdbcSink.execute(target,
        cat.order.map(t => DerbyDdl.createTableSql(cat(t))) ++ inserts(doubled))
      assert(errs.flatten.isEmpty, errs.flatten)
      f(cat, target)
    } finally JdbcRoundTrip.dropDatabaseQuietly(url)
  }

  private def scalar(url: String, sql: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** Derby's count of FK violations per child table, summed per edge. */
  private def oracleBad(cat: Catalog, url: String): Map[String, Long] =
    cat.order.map { t =>
      t -> cat(t).fks.map { f =>
        val (c, p, pc) = (DerbyDdl.q(f.column), DerbyDdl.q(f.refTable), DerbyDdl.q(f.refColumn))
        scalar(url, s"SELECT COUNT(*) FROM ${DerbyDdl.q(t)} c WHERE c.$c IS NOT NULL AND " +
          s"NOT EXISTS (SELECT 1 FROM $p p WHERE p.$pc = c.$c)")
      }.sum
    }.toMap

  test("audit: FK violations per table equal Derby's NOT EXISTS count per edge") {
    withLoaded(doubled = false) { (cat, target) =>
      val (nReadback, fkBad) =
        JdbcRoundTrip.auditReadback(spark, target.url, target, cat, cat.order)
      val oracle = oracleBad(cat, target.url)
      assert(fkBad == oracle)
      // the planted violations, so the oracle comparison is not vacuous:
      // Orders 9 + (8, 7) twice + 1.2049; OrderLine 99 + 3.0
      assert(oracle == Map("Customer" -> 0L, "Rate" -> 0L, "Orders" -> 4L,
        "OrderLine" -> 2L, "Archive" -> 0L))
      assert(nReadback == cat.order.map(t =>
        t -> scalar(target.url, s"SELECT COUNT(*) FROM ${DerbyDdl.q(t)}")).toMap)
      // the empty table is reported, with 0 rows
      assert(nReadback("Archive") == 0L)
    }
  }

  test("doubled FK columns double the per-edge violation counts") {
    withLoaded(doubled = true) { (cat, target) =>
      val (_, fkBad) = JdbcRoundTrip.auditReadback(spark, target.url, target, cat, cat.order)
      assert(fkBad == oracleBad(cat, target.url))
      assert(fkBad("Orders") == 8L && fkBad("OrderLine") == 4L)
    }
  }

  test("re-arm: PK and FK flags agree with Derby's own constraint catalog") {
    withLoaded(doubled = false) { (cat, target) =>
      val loaded = rows.map { case (t, vs) => t -> vs.size.toLong }.toMap
      val reports = JdbcRoundTrip.rearmAndAudit(spark, cat, target, cat.order, loaded)
      def armed(kind: String): Map[String, Long] = cat.order.map(t => t -> scalar(target.url,
        "SELECT COUNT(*) FROM SYS.SYSCONSTRAINTS c JOIN SYS.SYSTABLES t " +
          s"ON c.TABLEID = t.TABLEID WHERE c.TYPE = '$kind' AND t.TABLENAME = '$t'")).toMap
      val (pks, fks) = (armed("P"), armed("F"))
      val oracle = oracleBad(cat, target.url)
      reports.foreach { r =>
        val t = r.table_name
        assert(r.pk_rearmed == (pks(t) == 1L), t)
        assert(r.n_fks_rearmed.toLong == fks(t), t)
        assert(r.n_fks == cat(t).fks.size, t)
        assert(r.n_loaded == loaded.getOrElse(t, 0L) && r.n_readback == r.n_loaded, t)
        assert(r.n_fk_bad == oracle(t), t)
      }
      // every key is distinct, so every PK arms; an edge with a planted
      // violation is refused, the empty table's edge arms
      assert(reports.forall(_.pk_rearmed))
      assert(fks("Archive") == 1L && fks("OrderLine") == 0L)
    }
  }

  /** Spark jobs started by `body` on this thread, counted by a listener. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"audit_jobs_${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "audit")
      body
      // the listener bus delivers in order: once the sentinel's start
      // arrives, every job of `body` has been counted
      sc.setJobGroup(group + "_end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains(group + "_end") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains(group + "_end"), "listener never saw the sentinel job")
      seen.asScala.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("guard: the audit's Spark job count does not grow with the FK-edge count") {
    // the fewest jobs of three audits: AQE re-plans as each stage
    // finishes, and an unlucky finish order can add one stage job to a run
    def auditJobs(doubled: Boolean): (Int, Int) = withLoaded(doubled) { (cat, target) =>
      (cat.allFks.size, Seq.fill(3)(jobsOf(
        JdbcRoundTrip.auditReadback(spark, target.url, target, cat, cat.order))).min)
    }
    val (edges, jobs) = auditJobs(doubled = false)
    val (edges2, jobs2) = auditJobs(doubled = true)
    assert(edges2 == 2 * edges)
    assert(jobs > 0 && jobs2 == jobs, s"$edges edges: $jobs jobs; $edges2 edges: $jobs2 jobs")
  }

  test("armed posture: every PK and same-typed FK arms up front, the audit finds 0") {
    // Derby arms an FK only onto a key of the same type, so the armed
    // posture gets the edges whose column types match their parent's
    val cat = catalog(doubled = false)
    val typeOf = (t: String, c: String) => cat(t).schema(c).dataType
    val sameTyped = cat.copy(tables = cat.tables.map { case (n, td) =>
      n -> td.copy(fks = td.fks.filter(f =>
        typeOf(n, f.column) == typeOf(f.refTable, f.refColumn)))
    })
    val (loads, links, parts) =
      JdbcRoundTrip.runArmedLinked(spark, sameTyped, rowCount = 20, seed = 3)
    val byName = loads.map(r => r.table_name -> r).toMap
    assert(loads.forall(r => r.pk_armed && r.n_fk_bad == 0L), loads)
    assert(Seq("Orders", "OrderLine", "Archive").map(byName(_).n_fks_armed) == Seq(1, 1, 1))
    assert(links.isEmpty, "every in-catalog edge arms, so none is deferred")
    assert(parts.map(p => p.table_name -> p.n_rows) == loads.map(r => r.table_name -> r.n_loaded))
  }

  test("run: a generated load of the inline catalog reads back every row") {
    val reports = JdbcRoundTrip.run(spark, catalog(doubled = false), rowCount = 20, seed = 3)
    assert(reports.map(_.table_name) == tables.map(_.name).sorted)
    reports.foreach(r => assert(r.n_loaded == 20 && r.n_readback == 20, r.table_name))
  }
}

object ReadbackAuditSpec {
  private final case class Tbl(name: String, cols: Seq[(String, String)],
      fks: Seq[(String, String, String)])
}
