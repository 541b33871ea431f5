package graft.multimodal

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic locks on m09's chunk-feature SimHash index, executed against
  * a brute-force restatement: the banded query must return EXACTLY the
  * hamming-≤2 pair set (pigeonhole completeness, run end-to-end), an
  * exact duplicate payload is hamming-0, and a single-chunk edit lands
  * far closer than an unrelated payload (the edit-robustness CDC
  * features buy — a positional hash loses this to sample shift).
  */
class ChunkSimhashSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  // aperiodic deterministic payload: letters a-o (no byte ≡ 0 mod 16, so
  // no accidental cut points) with an explicit cut byte '0' (0x30) every
  // 16 chars → 16-byte chunks, distinct content per chunk
  private def block(seed: Int, n: Int): String =
    (0 until n).map { i =>
      if (i % 16 == 15) '0'
      else ('a' + ((seed * 13 + i * i * 7 + i) % 15)).toChar
    }.mkString

  private lazy val dir: String = {
    import spark.implicits._
    val d = tempDir("graft_cs")
      .toFile.getAbsolutePath
    val base = block(1, 1600) // 100 chunks of 16 bytes
    // doc 2 = exact dup of 1; doc 3 = one char changed inside ONE chunk;
    // doc 4 = unrelated content
    val edited = base.updated(40, 'z')
    Seq((1L, base), (2L, base), (3L, edited), (4L, block(9, 1600)))
      .map { case (id, tx) => (id, tx, "en", "fixture", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("banded pairs == brute-force hamming-≤2 set; dup/edit/unrelated ordering") {
    val sig = Multimodal.chunkSimhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def h(a: Long, b: Long): Int = java.lang.Long.bitCount(sig(a) ^ sig(b))
    val ids = sig.keys.toSeq.sorted
    val brute = (for { a <- ids; b <- ids if a < b; if h(a, b) <= 2 }
      yield (a, b) -> h(a, b)).toMap

    val banded = Multimodal.chunkSimhashPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(banded == brute,
      s"banding must lose nothing at the ≤2 radius: $banded vs $brute")

    assert(h(1L, 2L) == 0, s"identical payloads must be hamming 0: ${h(1L, 2L)}")
    assert(h(1L, 3L) < h(1L, 4L),
      s"a one-chunk edit (${h(1L, 3L)}) must land far closer than unrelated content (${h(1L, 4L)})")
    assert(h(1L, 3L) <= 6,
      s"1 changed chunk of 100 must flip only a few majority bits: ${h(1L, 3L)}")
    assert(h(1L, 4L) >= 15,
      s"unrelated payloads must sit near the ~30-bit expectation: ${h(1L, 4L)}")
  }
}
