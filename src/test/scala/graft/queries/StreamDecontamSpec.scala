package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic lock on s09: the streaming decontamination join must
  * reproduce BATCH t19's hit set from incremental micro-batch arrivals
  * — DecontaminateSpec's planted corpus (8-gram hit, 7-gram near-miss)
  * replayed through the stream, asserted both against the hand-known
  * answer and against the batch operator on the same fixture.
  */
class StreamDecontamSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  test("streamed hit set equals the batch operator's on a planted corpus") {
    import spark.implicits._
    val dir = tempDir("graft_sdecon")
      .toFile.getAbsolutePath
    val bench8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (10L, s"zz prefix $bench8 suffix yy", "en", "fixture"),
      (100L, s"other words here $bench8 tail tokens go on", "en", "fixture"),
      (101L, "w1 w2 w3 w4 w5 w6 w7 q8 filler more filler again", "en", "fixture"),
      (102L, "totally unrelated text with plenty of tokens in it for grams", "en", "fixture")
    )
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val streamed = StreamOps.streamDecontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == Seq((100L, 1L, 1L)),
      s"stream must flag exactly doc 100 with one gram/one bench doc: $streamed")

    val batch = TextOps.decontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch, s"stream/batch parity broke: $streamed vs $batch")
  }
}
