package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic lock on t30's extent merging (gaps-and-islands over
  * duplicated 8-gram positions): overlapping positions merge into ONE
  * extent with the right token coverage, positions whose coverage
  * merely touches (gap = 8) merge, and positions separated further
  * (gap > 8) stay distinct extents.
  */
class DupPassageSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  private val s8 = (1 to 8).map(i => s"s$i").mkString(" ")
  private val t8 = (1 to 8).map(i => s"t$i").mkString(" ")

  test("planted passages produce exact extents: overlap merges, gap>8 splits, gap=8 merges") {
    import spark.implicits._
    val dir = tempDir("graft_dup_ext")
      .toFile.getAbsolutePath
    Seq(
      // 9 shared tokens (s1..s9) → two OVERLAPPING duplicated grams →
      // one extent covering 9 tokens
      (200L, s"a1 a2 a3 $s8 s9 z1 z2 z3 z4"),
      (201L, s"b1 $s8 s9 c1 c2 c3 c4 c5 c6"),
      // two shared passages 9 tokens apart (gap > 8) → TWO extents
      (203L, s"$s8 m1 $t8"),
      // t-passage partner; its own single extent is the t-gram
      (204L, s"$t8 n1 n2 n3 n4 n5 n6 n7 n8"),
      // s-passage partner
      (205L, s"$s8 p1 p2 p3 p4 p5 p6 p7 p8"),
      // adjacent shared passages (positions 1 and 9, gap = 8 → coverage
      // touches) → ONE merged 16-token extent
      (206L, s"$s8 $t8 r1"),
      // control: unique tokens, long enough to gram — must not appear
      (207L, (1 to 12).map(i => s"u$i").mkString(" "))
    ).map { case (id, tx) => (id, tx, "en", "fixture", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = TextOps.dupPassageExtents(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    assert(out.keySet == Set(200L, 201L, 203L, 204L, 205L, 206L),
      s"control doc must not appear: $out")
    assert(out(200L) == ((16L, 1L, 9L)), s"overlap must merge to one 9-token extent: ${out(200L)}")
    assert(out(201L) == ((16L, 1L, 9L)), out(201L).toString)
    assert(out(203L) == ((17L, 2L, 16L)), s"gap>8 must stay two extents: ${out(203L)}")
    assert(out(204L) == ((16L, 1L, 8L)), out(204L).toString)
    assert(out(205L) == ((16L, 1L, 8L)), out(205L).toString)
    assert(out(206L) == ((17L, 1L, 16L)), s"gap=8 must merge to one 16-token extent: ${out(206L)}")
  }
}
