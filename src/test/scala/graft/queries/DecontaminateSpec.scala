package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic lock on t19's decontamination: a planted 8-token overlap is
  * the EXACT hit set — a 7-token near-miss must never flag. Written to
  * pin the semantics across gram-id-width changes (32 → 60 bit in r5):
  * the hit set is a property of the grams, not of the id encoding.
  */
class DecontaminateSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  test("planted 8-gram overlap is the exact hit set; 7-gram near-miss never flags") {
    import spark.implicits._
    val dir = tempDir("graft_decon")
      .toFile.getAbsolutePath
    val bench8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    Seq(
      // benchmark doc (id < 50) carrying the planted 8-gram
      (10L, s"zz prefix $bench8 suffix yy", "en", "fixture"),
      // corpus doc with the SAME 8 consecutive tokens → must flag, and
      // only the one aligned 8-gram matches (boundary windows differ)
      (100L, s"other words here $bench8 tail tokens go on", "en", "fixture"),
      // 7 of 8 consecutive tokens shared (q8 ≠ w8): every 8-gram of this
      // doc differs from every benchmark gram in ≥1 token → must NOT flag
      (101L, "w1 w2 w3 w4 w5 w6 w7 q8 filler more filler again", "en", "fixture"),
      // unrelated control
      (102L, "totally unrelated text with plenty of tokens in it for grams", "en", "fixture")
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = TextOps.decontaminate(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(100L),
      s"hit set must be exactly doc 100: ${out.mkString(", ")}")
    assert(out.head.getLong(1) == 1L, "exactly one shared gram (the aligned 8-gram)")
    assert(out.head.getLong(2) == 1L, "exactly one benchmark doc matched")
  }
}
