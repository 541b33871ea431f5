package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic lock on t36's bigram LM: the score IS the mean add-one-
  * smoothed conditional log-probability, quantized FLOOR(ln·1e6) per
  * bigram BEFORE summation. Pinned by hand on a 2-doc corpus where
  * every count is enumerable, plus the ranking property the perplexity
  * filter relies on (repeated-pattern text outscores unique-sequence
  * text trained on the same corpus).
  */
class BigramLmSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  test("hand-computed smoothed log-probs on an enumerable corpus") {
    import spark.implicits._
    val dir = tempDir("graft_bigram")
      .toFile.getAbsolutePath
    // corpus: V = {a,b,x,y,z} (5 types)
    //   doc 0 "a b a b a b": c(a,b)=3 c(b,a)=2; contexts c(a)=3 c(b)=2
    //   doc 1 "x y z":       c(x,y)=1 c(y,z)=1; contexts c(x)=1 c(y)=1
    Seq(
      (0L, "a b a b a b", "en", "fixture"),
      (1L, "x y z", "en", "fixture")
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = TextOps.bigramLmScore(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc 0: p(b|a)=(3+1)/(3+5)=1/2 → q=floor(ln(.5)·1e6)=-693148
    //        p(a|b)=(2+1)/(2+5)=3/7 → q=-847298
    //        avg = (3·(-693148)+2·(-847298))/5/1e6 = -0.754808
    assert(out(0L) == ((5L, -0.754808)), s"doc0: ${out(0L)}")
    // doc 1: p(y|x)=p(z|y)=(1+1)/(1+5)=1/3 → q=-1098613 → avg=-1.098613
    assert(out(1L) == ((2L, -1.098613)), s"doc1: ${out(1L)}")
  }

  test("repeated-pattern text outscores a unique word sequence") {
    import spark.implicits._
    val dir = tempDir("graft_bigram2")
      .toFile.getAbsolutePath
    val fluent = Array.fill(20)("the cat sat").mkString(" ")
    val gibberish = (0 until 60).map(i => s"tok$i").mkString(" ")
    Seq(
      (0L, fluent, "en", "fixture"),
      (1L, fluent, "en", "fixture"),
      (2L, gibberish, "en", "fixture")
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = TextOps.bigramLmScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(0L) > out(2L),
      s"fluent ${out(0L)} must outscore gibberish ${out(2L)}")
  }
}
