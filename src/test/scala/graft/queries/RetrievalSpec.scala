package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic locks on the retrieval ranking pair (t48 TF-IDF, t49 BM25):
  * idf must actually separate (a term present in every doc contributes
  * exactly 0 to TF-IDF), the rare term dominates both rankings, and
  * BM25's length normalization — the one thing it adds over TF-IDF —
  * ranks the shorter of two docs with identical term profiles higher.
  */
class RetrievalSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  // probe terms are (spark, query, dup); fixture df: spark 4/4 (idf 0),
  // query 2/4, dup 1/4 (the rare term)
  private lazy val dir: String = {
    import spark.implicits._
    val d = tempDir("graft_retr")
      .toFile.getAbsolutePath
    Seq(
      (1L, "spark query alpha"),
      (2L, "spark dup beta"),
      (3L, "spark query gamma delta"),
      (4L, "spark epsilon"))
      .map { case (id, tx) => (id, tx, "en", "fixture", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("tf-idf: rare term dominates, ubiquitous term scores exactly zero") {
    val rows = TextOps.tfidfTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.head._1 == 2L, s"doc with the df=1 term must rank first: ${rows.toSeq}")
    // spark appears in ALL docs → idf = ln(4/4) = 0 exactly on the
    // quantized grid; doc 4 (only spark) must score 0.0, not epsilon
    val d4 = rows.find(_._1 == 4L).get
    assert(d4._3 == 0.0 && d4._2 == 1L, s"ubiquitous-term doc must score 0: $d4")
    // docs 1 and 3 share the same term profile → identical score, doc_id tiebreak
    val (d1, d3) = (rows.find(_._1 == 1L).get, rows.find(_._1 == 3L).get)
    assert(d1._3 == d3._3 && rows.indexOf(d1) < rows.indexOf(d3),
      s"equal profiles must tie on score and break by doc_id: $d1 vs $d3")
  }

  test("bm25: length normalization ranks the shorter equal-profile doc higher") {
    val rows = TextOps.bm25Topk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows.head._1 == 2L, s"rare-term doc must rank first: ${rows.toSeq}")
    val (s1, s3) = (rows.find(_._1 == 1L).get._2, rows.find(_._1 == 3L).get._2)
    assert(s1 > s3,
      s"same terms, dl 3 vs 4: shorter doc must score strictly higher ($s1 vs $s3)")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    for (df <- Seq(TextOps.tfidfTopk(spark, dir), TextOps.bm25Topk(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), plan.linesIterator.take(8).mkString("\n"))
    }
  }
}
