package graft.gen

import graft.ddl.DdlParser
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: every non-skipped table of the 85-table corpus generates
  * and sinks without error, with FK integrity across all waves. */
class FullCatalogSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.session

  test("full catalog generates: 77 tables, all ok, FK-consistent") {
    val cat = DdlParser.parseFile("/root/reference/script.sql")
    // TrieMap: the sink runs concurrently for tables of the same wave
    val frames = scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.DataFrame]
    val results = GeneratePipeline.run(spark, cat, rowCount = 10, seed = 7,
      (t, df) => frames(t) = df)
    assert(results.size == 77)
    val failed = results.filterNot(_.ok)
    assert(failed.isEmpty, s"failed tables: ${failed.map(r => r.table + ":" + r.error).mkString("; ")}")

    // FK integrity across waves for FKs whose parent was generated:
    // child values must be parent keys (or NULL)
    val cariHareket = frames("CariHareket")
    val cariHesap = frames("CariHesap")
    val fk = cat("CariHareket").fks.find(_.refTable == "CariHesap").get
    val bad = cariHareket.select(fk.column).na.drop()
      .join(cariHesap.select(org.apache.spark.sql.functions.col(fk.refColumn).as(fk.column)),
        Seq(fk.column), "left_anti").count()
    assert(bad == 0, s"${fk.column} values outside parent keys")
  }
}
