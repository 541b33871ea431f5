package graft.multimodal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session
  import Multimodal._

  val sfDir = "/root/testdata/sf0.001"

  test("synthetic media: 500 blobs, kinds partition by id mod 3") {
    val m = syntheticMedia(spark, sfDir)
    assert(m.count() == 500)
    assert(m.select("kind").distinct().count() == 3)
  }

  test("stub decoder: histogram is exact on a known payload") {
    import spark.implicits._
    // payload "AAAA0000": 'A'=0x41 (nibble 4) ×4, '0'=0x30 (nibble 3) ×4
    val ds = Seq(MediaRow(1L, "image", "x", "AAAA0000".getBytes("UTF-8"))).toDS()
    val f = extractFeatures(ds).collect().head
    assert(f.n_bytes == 8)
    assert(f.features(4) == 0.5 && f.features(3) == 0.5)
    assert(math.abs(f.features.sum - 1.0) <= 1e-9)
  }

  test("batching shape: features for every row regardless of batch size") {
    import spark.implicits._
    val media = syntheticMedia(spark, sfDir).as[MediaRow].repartition(7)
    assert(extractFeatures(media, batchSize = 3).count() == 500)
  }

  test("frame sampling: stride-4 blocks of 64 bytes") {
    import spark.implicits._
    val ds = Seq(MediaRow(9L, "video", "x", Array.fill[Byte](64 * 10)(7))).toDS()
    val frames = sampleFrames(ds).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 4, 8))
    assert(frames.forall(_.frame.length == 64))
  }

  test("CDC chunking: an insertion re-chunks only its local neighborhood") {
    import spark.implicits._
    def digests(payload: Array[Byte]): Seq[String] = {
      val ds = Seq(MediaRow(1L, "image", "x", payload)).toDS()
      chunkMedia(ds).collect().map(_.chunk_md5).toSeq
    }
    // deterministic non-periodic payload (Knuth multiplicative hash of
    // the index) so chunk digests are distinct and set-comparable
    val base = Array.tabulate[Byte](600)(i =>
      (((i * 2654435761L + 12345L) >>> 13) & 0xffL).toByte)
    val orig = digests(base).toSet
    assert(orig.size > 3, s"payload must chunk (got ${orig.size} chunks)")
    // insert one byte near the front — a FIXED-size chunker would shift
    // every later chunk; content-defined boundaries keep the tail stable
    val mutated = (base.take(10) :+ 0x55.toByte) ++ base.drop(10)
    val mut = digests(mutated).toSet
    val survived = orig.intersect(mut).size
    assert(survived >= orig.size - 2,
      s"insertion must only re-chunk locally: ${orig.size} before, $survived survived")
    // and the chunking is a partition of the payload
    val ds2 = Seq(MediaRow(2L, "audio", "x", base)).toDS()
    assert(chunkMedia(ds2).collect().map(_.chunk_len).sum == 600L)
  }

  test("payload entropy: degenerate payload scores 0, two equal nibbles score ln 2") {
    import spark.implicits._
    val dir = tempDir("graft_entropy")
      .toFile.getAbsolutePath
    Seq(
      // bytes 0x11×4 → hex "11111111": one nibble → H = 0
      (900L, ""),
      // bytes 0x41×4 → hex "41414141": nibbles 4,1 equal → H = ln 2
      (901L, "AAAA"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Multimodal.payloadEntropy(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(3), r.getDouble(4)))).toMap
    assert(out(900L) == ((4L, 1, 0.0)), s"degenerate payload must score 0: ${out(900L)}")
    // FLOOR quantization rounds ln(0.5) = -693147.18e-6 DOWN to
    // -693148e-6, so the deterministic score is 0.693148, not 0.693147
    assert(out(901L) == ((4L, 2, 0.693148)),
      s"uniform 2-nibble payload must score quantized ln 2: ${out(901L)}")
  }

  test("m13 planted leak: spliced eval chunk is found exactly; sub-evidence and clean payloads score zero") {
    import spark.implicits._
    // The round-15 verdict's one caveat: m13's semantics were pinned only
    // by its self-written DuckDB twin. This plants a known leak and grades
    // the census against hand-computed truth. Chunk boundary = byte ≡ 0
    // (mod 16); '0' (0x30) is the only such byte used below, so chunking
    // is fully hand-traceable:
    //   eval 10:   "abcdefg0"(8) + "xy0"(3)
    //   train 100: "cleanheadx0"(11) + SPLICED "abcdefg0"(8) + "xy0"(3)
    //              + "tailbitszz"(10)              — 32 bytes, 4 chunks
    //   train 101: "benigncleandifferent0"(21)     — clean, no shared chunk
    //   train 102: "xy0"(3) + "longuniquetail"(14) — shares ONLY the
    //              3-byte chunk, below MinEvidenceLen(8) on BOTH sides
    val dir = tempDir("graft_m13leak")
      .toFile.getAbsolutePath
    Seq(
      (10L, "abcdefg0xy0"),
      (100L, "cleanheadx0" + "abcdefg0xy0" + "tailbitszz"),
      (101L, "benigncleandifferent0"),
      (102L, "xy0longuniquetail"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Multimodal.crossModalDecontaminate(spark, dir).collect()
    // exactly the spliced payload surfaces — the clean payload (101) and
    // the sub-evidence sharer (102) must be ABSENT, not zero-scored rows
    assert(out.map(_.getLong(0)).toSeq == Seq(100L),
      s"only the spliced payload may surface: ${out.mkString(";")}")
    val r = out.head
    assert(r.getString(1) == "audio")          // 100 % 3 == 1
    assert(r.getLong(2) == 4L, s"n_chunks: $r") // census counts ALL chunks
    assert(r.getLong(3) == 1L, s"n_hit: $r")    // the 8-byte evidence chunk
    assert(r.getLong(4) == 32L && r.getLong(5) == 8L, s"bytes: $r")
    assert(r.getDouble(6) == 0.25, s"hit_share: $r")
    // the shared 3-byte chunk IS byte-identical across 10/100/102 — only
    // the MinEvidenceLen gate keeps it out of the hit census above
    val ch = Multimodal.chunkMedia(syntheticMedia(spark, dir).as[MediaRow])
      .toDF().filter(col("chunk_len") < Multimodal.MinEvidenceLen)
    assert(ch.select("chunk_md5").distinct().count() == 1 &&
      ch.count() == 3, "fixture self-check: the short chunk must recur")
  }

  test("m14 planted reuse: cross-media shared frame found exactly; unsampled blocks, clean payloads and within-media repeats are gated out") {
    import spark.implicits._
    // The round-16 verdict's one caveat: m14's semantics were pinned only
    // by its self-written DuckDB twin (the m13 pattern). This plants a
    // known cross-media frame reuse and grades the census against
    // hand-computed truth. Sampler contract (spec'd above): 64-byte
    // blocks, every 4th sampled — so a 320-byte payload samples exactly
    // block 0 and block 4. All payloads are ASCII so bytes == chars:
    //   doc 0 (image): [F0][c][d][e][F1]          — samples F0, F1
    //   doc 2 (video): [F0][F1][f][g][h]          — samples F0, h;
    //     F1 sits at UNSAMPLED block 1 — a decoy: if the census counted
    //     raw blocks instead of the sampler's output, 0↔2 would share
    //     TWO frames and reuse_permille would read 1000, not 500
    //   doc 1 (audio): [i]                        — clean, must be ABSENT
    //   doc 3 (image): [j][k][l][m][j]            — samples j twice;
    //     a frame repeated WITHIN one media is not reuse (the ≥2
    //     DISTINCT media gate), so doc 3 must be ABSENT too
    val F0 = "A" * 64; val F1 = "B" * 64
    def blk(c: Char) = c.toString * 64
    val dir = tempDir("graft_m14reuse")
      .toFile.getAbsolutePath
    Seq(
      (0L, F0 + blk('c') + blk('d') + blk('e') + F1),
      (2L, F0 + F1 + blk('f') + blk('g') + blk('h')),
      (1L, blk('i')),
      (3L, blk('j') + blk('k') + blk('l') + blk('m') + blk('j')))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Multimodal.frameReuse(spark, dir).collect()
    // exactly the sharing pair surfaces — cross-media (image ↔ video)
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 2L),
      s"only the planted pair may surface: ${out.mkString(";")}")
    for (r <- out) {
      assert(r.getString(1) == (if (r.getLong(0) == 0L) "image" else "video"))
      assert(r.getLong(2) == 2L, s"n_frames: $r")          // 2 sampled blocks
      assert(r.getLong(3) == 2L, s"n_distinct_frames: $r")
      assert(r.getLong(4) == 1L, s"n_shared_frames: $r")   // F0 only — NOT the decoy
      assert(r.getLong(5) == 500L, s"reuse_permille: $r")  // 1·1000 div 2
    }
    // fixture self-check: the decoy really is byte-identical to doc 0's
    // sampled F1 frame — only the sampler keeps it out of the census
    val raw = syntheticMedia(spark, dir).as[MediaRow].collect()
      .map(m => m.media_id -> m.content).toMap
    assert(java.util.Arrays.equals(raw(0L).slice(256, 320), raw(2L).slice(64, 128)),
      "fixture self-check: doc 2 must carry doc 0's sampled F1 run at an unsampled offset")
  }

  test("m12 one-scan multi-mask pass ≡ three single-mask chunkMedia passes (round-20 optimization lock)") {
    // the curve now chunks all three masks inside ONE payload scan; its
    // per-mask census must stay row-identical to what three independent
    // chunkMedia passes (the deployed m06 chunker) produce
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val curve = graft.multimodal.Multimodal.cdcMaskCurve(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val expect = Seq(8, 16, 32).map { mask =>
      val ch = graft.multimodal.Multimodal.chunkMedia(
        graft.multimodal.Multimodal.syntheticMedia(spark, d)
          .as[graft.multimodal.Multimodal.MediaRow], mask)
        .collect()
      val uq = ch.map(c => (c.chunk_md5, c.chunk_len)).distinct
      (mask, ch.length.toLong, uq.length.toLong,
        ch.map(_.chunk_len).sum, uq.map(_._2).sum)
    }.toSet
    assert(curve == expect,
      s"one-scan curve drifted from the per-mask chunkMedia census:\n$curve\nvs\n$expect")
  }

  test("m12 curve invariants: bytes conserved per mask; chunk count falls as the mask widens") {
    val rows = graft.multimodal.Multimodal
      .cdcMaskCurve(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(rows.keySet == Set(8, 16, 32))
    // every byte lands in exactly one chunk at ANY mask
    assert(rows.values.map(_._2).toSet.size == 1,
      s"sum_bytes must be mask-invariant: $rows")
    // wider mask ⇒ fewer boundaries ⇒ strictly fewer chunks on real data
    assert(rows(8)._1 > rows(16)._1 && rows(16)._1 > rows(32)._1,
      s"chunk count must fall as the mask widens: $rows")
  }
}
