package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic locks on the round-6 curation additions.
  *
  * t40 (qualityCanonicalKeep): within a near-dup cluster the survivor is
  * the argmax-alpha_ratio member, NOT the lowest id — and `upgraded`
  * flags exactly the clusters where the two policies disagree. The
  * fixture exploits norm(): punctuation is stripped before shingling, so
  * a punct-heavy doc and its clean twin normalize identically (Jaccard
  * 1.0 — guaranteed same cluster) while their raw alpha_ratios differ.
  *
  * t41 (contaminationExtents): only corpus docs (id ≥ 50) sharing
  * 8-grams with the benchmark set (id < 50) appear; overlapping hits
  * merge into one span, hits > 8 positions apart stay separate spans,
  * and benchmark docs themselves never surface.
  */
class CanonicalKeepSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft_keep")
      .toFile.getAbsolutePath
    rows.map { case (id, tx) => (id, tx, "en", "fixture", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("t40: quality argmax beats keep-first exactly when a later doc is cleaner") {
    val words = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val vords = (1 to 30).map(i => s"beta$i").mkString(" ")
    // punct-heavy twin: same normalized text (same shingle set), worse
    // alpha_ratio. Cluster {300, 301}: clean copy has the HIGHER id →
    // policy flip (upgraded=1). Cluster {310, 311}: clean copy first →
    // keep-first and keep-best agree (upgraded=0).
    val dirty = words.split(" ").mkString(",, ") + "!!"
    val dirtyV = vords.split(" ").mkString(",, ") + "!!"
    val dir = writeDocs(Seq(
      300L -> dirty, 301L -> words,
      310L -> vords, 311L -> dirtyV,
      // singleton: must not appear (cluster_sz >= 2 only)
      320L -> (1 to 30).map(i => s"gamma$i").mkString(" ")))

    val out = TextOps.qualityCanonicalKeep(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(4)))).toMap
    assert(out.keySet == Set(300L, 310L), s"two clusters expected: $out")
    assert(out(300L) == ((2L, 301L, 1)),
      s"cluster 300: clean later doc must win and flag upgraded: ${out(300L)}")
    assert(out(310L) == ((2L, 310L, 0)),
      s"cluster 310: clean first doc wins, no upgrade: ${out(310L)}")
  }

  test("t41: benchmark-hit spans merge on overlap, split past gap 8, exclude bench docs") {
    val s9 = (1 to 9).map(i => s"s$i").mkString(" ")
    val s8 = (1 to 8).map(i => s"s$i").mkString(" ")
    val t8 = (1 to 8).map(i => s"t$i").mkString(" ")
    val dir = writeDocs(Seq(
      // the benchmark doc: contributes every 8-gram of "s1..s9 ... t1..t8"
      10L -> s"$s9 fill1 fill2 $t8",
      // one quoted 9-token passage → 2 overlapping grams → ONE span of 9
      100L -> s"x1 x2 x3 $s9 y1 y2 y3 y4",
      // two quoted passages 9 apart (gap > 8) → TWO spans
      101L -> s"$s8 m1 $t8",
      // clean corpus doc → absent
      102L -> (1 to 12).map(i => s"u$i").mkString(" ")))

    val out = TextOps.contaminationExtents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(out.toSet == Set(
      (100L, 4, 9, 2L),
      (101L, 1, 8, 1L),
      (101L, 10, 8, 1L)),
      s"got: ${out.mkString(", ")}")
  }
}
