package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic lock on t37's PSI: a source whose bucket mix EQUALS the
  * corpus mix scores exactly 0 (num = 0 and lnq = 0 cell-by-cell — no
  * float residue), and a symmetric skew scores the hand-computed
  * Σ (p−q)·ln(p/q) with each term floor-quantized at 1e6. Bucket
  * placement is controlled exactly: all-alpha text → ratio 1 → clamped
  * bucket 9; all-digit text → ratio 0 → bucket 0.
  */
class PsiDriftSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  private def write(dir: String, docs: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    docs.map { case (id, text, src) => (id, text, "en", src) }
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("a source matching the corpus mix scores exactly zero") {
    val dir = tempDir("graft_psi0")
      .toFile.getAbsolutePath
    // both sources: 2 docs in bucket 9, 2 in bucket 0 → p = q per cell
    write(dir, Seq(
      (0L, "aaaa", "srcA"), (1L, "bbbb", "srcA"),
      (2L, "1111", "srcA"), (3L, "2222", "srcA"),
      (4L, "cccc", "srcB"), (5L, "dddd", "srcB"),
      (6L, "3333", "srcB"), (7L, "4444", "srcB")))
    val out = TextOps.sourceQualityDrift(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("srcA") == ((4L, 2L, 0.0)), s"srcA: ${out("srcA")}")
    assert(out("srcB") == ((4L, 2L, 0.0)), s"srcB: ${out("srcB")}")
  }

  test("a symmetric 3:1 / 1:3 skew scores the hand-computed PSI") {
    val dir = tempDir("graft_psi1")
      .toFile.getAbsolutePath
    // srcA: 3×bucket9 + 1×bucket0; srcB mirrored. Per source:
    //   b9 cell: p−q = 1/4, ln(p/q) = ln(3/2) → lnq = 405465
    //            → floor(0.25·405465) = 101366
    //   b0 cell: p−q = −1/4, ln(p/q) = ln(1/2) → lnq = −693148
    //            → floor(−0.25·−693148) = 173287
    //   psi = (101366 + 173287)/1e6 = 0.274653 for BOTH sources
    write(dir, Seq(
      (0L, "aaaa", "srcA"), (1L, "bbbb", "srcA"), (2L, "cccc", "srcA"),
      (3L, "1111", "srcA"),
      (4L, "dddd", "srcB"),
      (5L, "2222", "srcB"), (6L, "3333", "srcB"), (7L, "4444", "srcB")))
    val out = TextOps.sourceQualityDrift(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("srcA") == ((4L, 2L, 0.274653)), s"srcA: ${out("srcA")}")
    assert(out("srcB") == ((4L, 2L, 0.274653)), s"srcB: ${out("srcB")}")
  }

  test("observed-cell PSI is nonnegative on the fixture") {
    TextOps.sourceQualityDrift(spark, "/root/testdata/sf0.001").collect()
      .foreach(r => assert(r.getDouble(3) >= 0.0,
        s"psi must be ≥ 0 (sign-agreeing terms): $r"))
  }
}
