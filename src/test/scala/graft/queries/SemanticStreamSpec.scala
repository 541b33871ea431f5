package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic lock on s15: in-stream semantic decontamination must
  * reproduce BATCH v16's per-vector scores from incremental micro-batch
  * arrivals — a planted embedding corpus (exact leak, partial overlap,
  * clean negative) replayed through the stream, asserted both against
  * the hand-known answer and against the batch operator on the same
  * fixture (the StreamDecontamSpec pattern for the vector modality).
  */
class SemanticStreamSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  test("streamed semantic scores equal batch v16 on a planted corpus") {
    import spark.implicits._
    val dir = tempDir("graft_semstream")
      .toFile.getAbsolutePath
    val rows = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // benchmark (0 mod 17)
      (17L, Array(0.0f, 1.0f), 0),  // benchmark
      (1L, Array(1.0f, 0.0f), 1),   // exact leak of suite item 0
      (2L, Array(0.5f, 0.5f), 1),   // paraphrase-grade: overlaps both
      (3L, Array(-0.6f, -0.8f), 1)) // clean — all cosines negative
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val streamed = StreamOps.streamSemanticDecontam(spark, dir)
      .collect().map(_.toSeq).toSeq
    val flags = streamed.map(r =>
      (r(0).asInstanceOf[Long], r(3).asInstanceOf[Long])).toMap
    assert(flags == Map(1L -> 1L, 2L -> 1L, 3L -> 0L),
      s"contamination flags wrong: $streamed")
    val hits = streamed.map(r =>
      (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long])).toMap
    assert(hits == Map(1L -> 1L, 2L -> 2L, 3L -> 0L),
      s"suite hit counts wrong: $streamed")

    val batch = VectorOps.semanticDecontaminate(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch, s"stream/batch parity broke: $streamed vs $batch")
  }
}
