package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic lock on t42's Gopher stop-word rule: the pass flag needs
  * ≥ 2 DISTINCT check words (repetition of one doesn't count), the
  * stop-word counter hits the 25-word function list with multiplicity,
  * and punctuation-normalized forms still match ("The," → "the").
  */
class StopwordSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  test("distinct-check-word rule, multiplicity counting, normalization") {
    import spark.implicits._
    val dir = tempDir("graft_stop")
      .toFile.getAbsolutePath
    Seq(
      // no function words at all → fail
      (1L, "alpha beta gamma delta epsilon"),
      // one gopher word FOUR times (7 tokens) → n_gopher=1, still fail
      (2L, "the quick the lazy the brown the"),
      // two distinct gopher words → pass; "The," normalizes to "the"
      (3L, "The, paper and its results"),
      // stop-with-multiplicity: 'a' ×2 + 'of' ×1 = 3 stop hits of 6 tokens
      (4L, "a tale of a cat sitting"))
      .map { case (id, tx) => (id, tx, "en", "fixture", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = TextOps.stopwordQuality(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4), r.getInt(5)))).toMap
    assert(out(1L) == ((5L, 0L, 0L, 0)), out(1L).toString)
    assert(out(2L) == ((7L, 4L, 1L, 0)),
      s"one repeated check word must NOT pass: ${out(2L)}")
    assert(out(3L) == ((5L, 2L, 2L, 1)),
      s"two distinct check words must pass, 'The,' must normalize: ${out(3L)}")
    assert(out(4L) == ((6L, 3L, 1L, 0)),
      s"stop hits count with multiplicity: ${out(4L)}")
  }
}
