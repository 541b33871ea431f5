package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Geometry locks on t59's RAG chunking: the closed-form chunk count
  * matches the emitted windows, every character is covered exactly, the
  * overlap is the documented 20 chars, and no redundant tail window is
  * emitted once coverage is complete.
  */
class ChunkingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.TestSpark.session

  // norm() collapses runs of spaces, so build texts from a no-space
  // alphabet to keep planted lengths exact — and APERIODIC (counting
  // tokens), because a period dividing the stride would make every full
  // window the same string and vacuously collapse the digest census
  private def txt(n: Int): String =
    Iterator.from(0).map(i => s"x$i").flatten.take(n).mkString

  private def chunksOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    TextOps.ragChunkingOn(rows.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
  }

  test("window geometry: counts, coverage, overlap, no redundant tail") {
    // 120 → exactly one window; 121 → two (the 1-char tail needs one);
    // 220 → two windows cover 1..120 and 101..220 — NOT three (a third
    // would be pure overlap); 221 → three
    val out = chunksOf(Seq((1L, txt(120)), (2L, txt(121)),
      (3L, txt(220)), (4L, txt(221)), (5L, txt(50))))
    def info1(id: Long) = {
      val g = out(id).sortBy(_._4)
      (g.head._2, g.head._3, g.map(_._4.length).toSeq)
    }
    assert(out(1L).map(_._3).head == 1L && out(1L).head._4.length == 120)
    assert(out(2L).map(_._3).head == 2L, s"121 chars need a tail window: ${info1(2L)}")
    assert(out(3L).map(_._3).head == 2L, s"220 chars are covered by two: ${info1(3L)}")
    assert(out(4L).map(_._3).head == 3L, s"221 chars need three: ${info1(4L)}")
    assert(out(5L).map(_._3).head == 1L && out(5L).head._4.length == 50,
      "short docs chunk to themselves")
    // coverage + overlap on the 221-char doc: windows start at 1, 101,
    // 201 — each consecutive pair overlaps by exactly 20 chars of text
    val w4 = out(4L).map(_._4).sortBy(-_.length)
    val full = txt(221)
    assert(w4.forall(full.contains), "every window is a substring of the doc")
    val starts = out(4L).map(c => full.indexOf(c._4)).sorted
    assert(starts.head == 0 && starts.last + w4.map(_.length).min == 221,
      s"windows must cover the document: starts=${starts.toSeq}")
  }

  test("t59 census: identical docs share every chunk; unique docs share none") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, txt(250)), (2L, txt(250)),           // exact duplicates
      (3L, "zyxwvu" * 50)                        // 300 chars, unique
    ).toDF("doc_id", "text")
    // run the graded body on a temp parquet dir so the REAL query path
    // (documents table reader) executes, not just the spec hook
    graft.TempDirs.withTempDir("graft_chunk_spec") { root =>
      docs.write.parquet(root.resolve("documents.parquet").toString)
      val out = TextOps.ragChunking(spark, root.toString)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // 250 chars → 1 + ceil(130/100) = 3 windows, all distinct digests
      assert(out(1L) == (250L, 3L, 3L, 3L), out.toString)
      assert(out(2L) == (250L, 3L, 3L, 3L), "duplicate doc shares all 3 chunks")
      assert(out(3L)._4 == 0L, "unique content shares nothing")
    }
  }
}
