package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic lock on v16: a corpus vector identical to a benchmark
  * vector flags at cosine 1.0, an orthogonal one never flags, and
  * n_hits counts benchmark matches at ≥ 0.4 individually. Basis
  * vectors make every cosine enumerable by hand.
  */
class SemanticDecontamSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  test("planted duplicate flags at 1.0; orthogonal never flags; hits count per benchmark item") {
    import spark.implicits._
    val dir = tempDir("graft_semdecon")
      .toFile.getAbsolutePath
    // benchmark side = vec_id ≡ 0 (mod 17): ids 0 and 17
    Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),   // benchmark e1
      (17L, Seq(0f, 1f, 0f, 0f), 0),  // benchmark e2
      (1L, Seq(1f, 0f, 0f, 0f), 1),   // exact copy of benchmark 0
      (2L, Seq(0f, 0f, 1f, 0f), 1),   // orthogonal to both
      (3L, Seq(0.8f, 0.6f, 0f, 0f), 1) // cos 0.8 vs e1, 0.6 vs e2
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val out = VectorOps.semanticDecontaminate(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), "benchmark ids must not appear")
    assert(out(1L) == ((1.0, 1L, 1L)), s"dup: ${out(1L)}")
    assert(out(2L) == ((0.0, 0L, 0L)), s"orthogonal: ${out(2L)}")
    assert(out(3L) == ((0.8, 2L, 1L)), s"two hits: ${out(3L)}")
  }
}
