package graft.gen

import graft.ddl.Catalog
import graft.deps.Deps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whole-catalog generation pipeline — the Spark twin of
  * `run_engine.main()` (SURVEY.md §3.1).
  *
  * Differences by design (§7.1.3): instead of the sequential
  * self-feeding ID_CACHE (run_engine.py:266), an FK value is the parent's
  * own key expression evaluated inside the child's plan (generation is
  * pure in (seed, table, id)), so no key is collected and nothing is
  * carried from one table to the next. Tables still sink in FK-topo
  * waves, parents before children — a constrained target needs its
  * parents loaded first — and within a wave every table is independent
  * and order-free.
  */
object GeneratePipeline {

  /** F1 table skip predicate (run_engine.py:23,221). */
  val SkipTables: Set[String] = Set("__EFMigrationsHistory", "sysdiagrams", "dtproperties")
  def skipTable(name: String): Boolean =
    SkipTables.exists(name.contains) || name.contains("AspNet")

  /** One table's outcome; a failed table's `error` is
    * "<exception class>: <first message line>". */
  final case class Result(table: String, rows: Long, ok: Boolean, error: Option[String])

  /** The failure record: the class survives a message-less exception
    * (an NPE, many Spark internals), and a multi-line message keeps its
    * first line. */
  private[graft] def describe(e: Throwable): String =
    e.getClass.getName + ": " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("(no message)")

  private def waves(catalog: Catalog): Seq[Seq[String]] =
    Deps.waves(catalog.order.filterNot(skipTable), catalog.allFks)

  /** Wave index of every generated (non-skipped) table. */
  def waveOf(catalog: Catalog): Map[String, Int] =
    waves(catalog).zipWithIndex.flatMap { case (ts, i) => ts.map(_ -> i) }.toMap

  /** The wave rule: `parent` feeds `child`'s FK values only when both are
    * generated and the parent's wave is STRICTLY earlier. A self-FK or a
    * cycle-fallback edge shares a wave and gets the no-parent fallback. */
  def precedes(waveOf: Map[String, Int], parent: String, child: String): Boolean =
    waveOf.get(parent).exists(pw => waveOf.get(child).exists(pw < _))

  /** Generate every (non-skipped) table of the catalog and sink it.
    *
    * @param sink        called once per generated table (parquet writer,
    *                    JDBC appender, …). Invoked CONCURRENTLY for
    *                    tables of the same wave — must be thread-safe.
    * @return per-table results; failures are isolated per table exactly
    *         like the reference's per-table try/except (run_engine.py:268)
    */
  def run(spark: SparkSession, catalog: Catalog, rowCount: Long, seed: Long,
      sink: (String, DataFrame) => Unit): Seq[Result] = {
    val wave = waveOf(catalog)
    val parents: Generator.Parents = (child, parent) =>
      Option.when(precedes(wave, parent, child))(catalog(parent))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global

    // Tables within a wave are independent (parents all live in EARLIER
    // waves), so their generate+sink actions run concurrently — the
    // driver submits parallel Spark jobs instead of a 77-step sequential
    // loop; the barrier between waves keeps the sink order parent-first.
    waves(catalog).flatMap { ts =>
      Await.result(Future.sequence(ts.map { t =>
        Future {
          try {
            sink(t, Generator.tableDf(spark, catalog(t), rowCount, seed, parents))
            Result(t, rowCount, ok = true, None)
          } catch {
            case e: Throwable => Result(t, 0, ok = false, Some(describe(e)))
          }
        }
      }), Duration.Inf)
    }
  }

  /** Convenience: parquet sink under `outDir/<table>.parquet`. */
  def runToParquet(spark: SparkSession, catalog: Catalog, outDir: String,
      rowCount: Long = 15, seed: Long = 42): Seq[Result] =
    run(spark, catalog, rowCount, seed,
      (t, df) => df.write.mode("overwrite").parquet(s"$outDir/$t.parquet"))
}
