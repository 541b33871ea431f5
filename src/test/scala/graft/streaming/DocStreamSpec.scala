package graft.streaming

import graft.tables.Tables
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The property s08's oracle check rests on: the streaming band index
  * emits the SAME pair set under any micro-batch split of the corpus —
  * arrival order moves WHEN a pair emits, never WHETHER. */
class DocStreamSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  val sfDir = "/root/testdata/sf0.001"

  private def snapshot(nFiles: Int): String = {
    val d = tempDir(s"docstream$nFiles").toString
    Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(nFiles)
      .write.mode("overwrite").parquet(d)
    d
  }

  /** The near-dup pairs of a replay of `dir`, one file per micro-batch
    * or all of it in one, and the replay's batch count. */
  private def pairSet(dir: String, name: String,
      oneFilePerBatch: Boolean): (Set[(Long, Long, Int)], Long) = {
    var n = 0L
    val rows = Replay.scratch(name) { scratch =>
      val r = Replay.drain(spark, dir, DocStream.docSchema,
        Replay.Parquet(scratch.resolve("out").toString),
        checkpoint = Some(scratch.resolve("cp").toString),
        oneFilePerBatch = oneFilePerBatch)(DocStream.nearDups)
      n = r.batches
      r.out
    }.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val set = rows.toSet
    // lowest-shared-band claiming: every pair must arrive EXACTLY once
    assert(rows.length == set.size,
      s"duplicate emissions: ${rows.length} rows, ${set.size} distinct")
    (set, n)
  }

  test("pair set is identical under 1-batch and 4-batch arrival splits") {
    val (single, n1) = pairSet(snapshot(1), "docstream_single", oneFilePerBatch = false)
    val (multi, nN) = pairSet(snapshot(4), "docstream_multi", oneFilePerBatch = true)
    assert(n1 == 1L, s"1-file snapshot must drain in one micro-batch, got $n1")
    assert(nN >= 2L, s"4-file snapshot must drain in ≥2 micro-batches, got $nN")
    assert(single.nonEmpty, "fixture must produce near-dup pairs")
    assert(multi == single,
      s"split changed the pair set: only-in-single=${(single -- multi).take(3)}, " +
        s"only-in-multi=${(multi -- single).take(3)}")
    // pairs are well-formed: a < b, hamming within the band guarantee
    single.foreach { case (a, b, h) => assert(a < b && h >= 0 && h <= 2) }
  }

  test("band keys are signature-derived 15-bit slices, not a constant fan-in") {
    // the 4×15-bit bands must exactly partition the 60-bit signature:
    // each band value lives in a 2¹⁵ space (bucket cardinality scales
    // with content diversity — the 16-bit predecessor had 32/32/64
    // buckets TOTAL), and reassembling the slices recovers the hash
    val rnd = new scala.util.Random(42)
    (0 until 1000).foreach { _ =>
      val h = rnd.nextLong() & ((1L << 60) - 1)
      val slices = (0 until DocStream.Bands).map(k => DocStream.bandVal(h, k))
      slices.foreach(v => assert(v >= 0 && v < (1 << DocStream.BandBits)))
      val reassembled = slices.zipWithIndex
        .map { case (v, k) => v << (k * DocStream.BandBits) }.reduce(_ | _)
      assert(reassembled == h, s"bands must partition the signature: $h")
    }
    // and the typed streaming fingerprint is 60-bit, matching the batch
    // operator's domain (a 16-bit hash would make high bands constant 0)
    val h = DocStream.simhash60("the quick brown fox jumps over the lazy dog").get
    assert(h >= 0 && h < (1L << 60))
  }
}
