package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic lock on t38: a new-half doc that verbatim-duplicates an
  * old-half doc scores novelty 0, a fully fresh doc scores 1, and a
  * doc sharing exactly one aligned 8-gram scores the hand-counted
  * share — gram counting is DISTINCT per doc (presence, not
  * multiplicity), inherited from the shared gram index.
  */
class NoveltySpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  test("planted duplicate scores 0, fresh text 1, one shared gram the exact share") {
    import spark.implicits._
    val dir = tempDir("graft_novel")
      .toFile.getAbsolutePath
    val old9 = "w1 w2 w3 w4 w5 w6 w7 w8 w9" // 2 distinct 8-grams
    Seq(
      (10L, old9, "en", "fixture"),                       // previous snapshot
      (300L, old9, "en", "fixture"),                      // verbatim re-crawl
      (301L, "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10", "en", "fixture"), // fresh
      // first 8-gram aligned with the old doc, then 7 fresh tail grams
      (302L, "w1 w2 w3 w4 w5 w6 w7 w8 a b c d e f g", "en", "fixture")
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = TextOps.noveltyVsSnapshot(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(300L, 301L, 302L), "old-half docs must not appear")
    assert(out(300L) == ((2L, 2L, 0.0)), s"re-crawl: ${out(300L)}")
    assert(out(301L) == ((3L, 0L, 1.0)), s"fresh: ${out(301L)}")
    assert(out(302L) == ((8L, 1L, 0.875)), s"one shared gram: ${out(302L)}")
  }
}
