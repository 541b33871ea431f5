package graft.load

import java.sql.DriverManager
import java.util.Properties
import org.apache.spark.sql.DataFrame

/** Relational-database sink — SURVEY.md §2.1 K1 (batch append) + K4
  * (constraint/trigger toggling around the bulk load).
  *
  * The reference does `pandas.to_sql(append)` over a single connection
  * with all constraints disabled (run_engine.py:227-260). The Spark
  * equivalent is the DataFrame JDBC writer: one connection per
  * partition, `batchsize` rows per round trip, executors writing in
  * parallel — the concurrency the reference lacks. Constraint toggling
  * is driver-side raw SQL before/after the distributed write.
  *
  * No database ships in this environment, so this path is exercised in
  * tests only down to the option plumbing; the statement sequences are
  * verbatim from the reference (sp_msforeachtable NOCHECK/DISABLE …).
  */
object JdbcSink {

  final case class Target(url: String, user: String, password: String,
      isolationLevel: String = "READ_UNCOMMITTED", batchSize: Int = 1000)

  /** MSSQL statements the reference wraps bulk loads with
    * (run_engine.py:227-228,276-277; fill_db.py:28-37). */
  val DisableAll: Seq[String] = Seq(
    "EXEC sp_msforeachtable 'ALTER TABLE ? NOCHECK CONSTRAINT all'",
    "EXEC sp_msforeachtable 'ALTER TABLE ? DISABLE TRIGGER all'")
  val EnableAll: Seq[String] = Seq(
    "EXEC sp_msforeachtable 'ALTER TABLE ? CHECK CONSTRAINT all'",
    "EXEC sp_msforeachtable 'ALTER TABLE ? ENABLE TRIGGER all'")

  def props(t: Target): Properties = {
    val p = new Properties()
    p.setProperty("user", t.user)
    p.setProperty("password", t.password)
    p.setProperty("batchsize", t.batchSize.toString)
    p.setProperty("isolationLevel", t.isolationLevel)
    p
  }

  /** Run raw statements in order on one fresh connection, closing each
    * statement (K2/K4-style; per-statement error tolerance like
    * apply_mssql.py:94-102). */
  def execute(t: Target, statements: Seq[String]): Seq[Option[String]] = {
    val conn = DriverManager.getConnection(t.url, t.user, t.password)
    try statements.map { s =>
      try { scala.util.Using.resource(conn.createStatement())(_.execute(s)); None }
      catch { case e: Throwable => Some(e.getMessage) }
    } finally conn.close()
  }

  /** Append `df` to `table`, toggling constraints around the write. */
  def append(df: DataFrame, t: Target, table: String,
      toggleConstraints: Boolean = true): Unit = {
    if (toggleConstraints) execute(t, DisableAll)
    try df.write.mode("append").jdbc(t.url, table, props(t))
    finally if (toggleConstraints) execute(t, EnableAll)
  }

  /** The column set a relational INSERT may carry for `td`: identity
    * columns (DB-assigned), non-whitelisted types (rowversion,
    * varbinary) and system columns are projected away — the reference
    * excludes exactly these from its insert frame
    * (run_engine.py:105,243-244). Parquet sinks keep the full schema
    * (those columns ride as NULL/sequence); JDBC targets must not. */
  def insertProjection(df: DataFrame, td: graft.ddl.TableDef,
      exclude: Set[String] = Set.empty): DataFrame = {
    val keep = td.safeFields.map(_.name)
      .filterNot(graft.gen.Generator.SkipCols.contains)
      .filterNot(exclude.contains)
    df.select(keep.map(org.apache.spark.sql.functions.col): _*)
  }

  /** Generated-table append: insert projection + constraint-toggled
    * bulk write — the end-to-end K1 path for a generated TableDef.
    * `quoteTable` must produce the dialect's exact-case identifier
    * (e.g. DerbyDdl.q) or mode("append")'s existence probe resolves a
    * different table and silently creates a second one. `exclude` drops
    * extra columns from the INSERT (they land as the DB default, NULL) —
    * the armed load uses it for deferred self-reference FK columns. */
  def appendGenerated(df: DataFrame, td: graft.ddl.TableDef, t: Target,
      toggleConstraints: Boolean = true,
      quoteTable: String => String = identity,
      exclude: Set[String] = Set.empty): Unit =
    append(insertProjection(df, td, exclude), t, quoteTable(td.name), toggleConstraints)
}
