package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Memos

/** Multimodal-column plumbing: image/audio/video as opaque binary columns
  * with typed metadata (task-brief extension; nothing of the kind exists
  * in the reference).
  *
  * The decode step is a STUB — media codecs are not in this container —
  * implemented as a deterministic fake (byte histogram / block sampling)
  * behind the same interface a real decoder would use. Everything
  * Spark-side is real and tested: schema, binary handling,
  * partition-iterator batching (the JVM shape of a mapInPandas-style
  * batched UDF), and the typed output frames.
  *
  * Scale notes: media bytes never shuffle — every operator here is a
  * map-only pass over the binary column with metadata-sized output;
  * frame sampling emits (id, idx, block) so downstream feature joins key
  * on the small id, not the payload.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, mime: String,
      content: Array[Byte])
  final case class Features(media_id: Long, n_bytes: Long, features: Array[Double])
  final case class Frame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Deterministic synthetic media over the documents fixture: the
    * UTF-8 payload of each text plays the role of an opaque blob. */
  def syntheticMedia(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(
        col("doc_id").as("media_id"),
        (when(pmod(col("doc_id"), lit(3)) === 0, "image")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
          .otherwise("video")).as("kind"),
        lit("application/octet-stream").as("mime"),
        encode(col("text"), "UTF-8").as("content"))

  /** STUBBED DECODER — stands in for image decode + feature extraction.
    * Deterministic fake: 16-bin byte histogram, L1-normalized. A real
    * implementation would swap `decodeOne` for a codec call; the
    * batching/partitioning contract stays identical. */
  private def decodeOne(content: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](16)
    var i = 0
    while (i < content.length) { hist((content(i) & 0xff) >> 4) += 1; i += 1 }
    val n = math.max(content.length, 1).toDouble
    hist.map(_ / n)
  }

  /** Batched partition-wise feature extraction (mapPartitions — one
    * iterator per partition, rows processed in streaming batches of
    * `batchSize`, the JVM analogue of mapInPandas' batch shape). */
  def extractFeatures(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[Features] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // a real decoder would amortize per-batch setup cost here
        batch.iterator.map(m =>
          Features(m.media_id, m.content.length.toLong, decodeOne(m.content)))
      }
    }
  }

  /** STUBBED FRAME SAMPLER — every `stride`-th fixed-size block of the
    * payload as a "frame" (a video decoder would emit real frames). */
  def sampleFrames(media: Dataset[MediaRow], blockSize: Int = 64,
      stride: Int = 4): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      m.content.grouped(blockSize).zipWithIndex
        .filter { case (_, i) => i % stride == 0 }
        .map { case (block, i) => Frame(m.media_id, i, block) }
    }
  }

  /** Frame-sampling summary through the typed Dataset path: payload →
    * sampled fixed-size "frames" (stub for a video decoder's keyframe
    * extraction) → per-media frame census. The exploded frames key on
    * the small media_id, never shuffle the payload, and collapse back to
    * metadata size immediately. */
  def frameSampleSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = syntheticMedia(spark, dir).as[MediaRow]
    sampleFrames(media).toDF()
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(length(col("frame"))).cast("long").as("frame_bytes"),
        max(col("frame_idx")).as("max_idx"))
      .withColumn("kind",
        when(pmod(col("media_id"), lit(3)) === 0, "image")
          .when(pmod(col("media_id"), lit(3)) === 1, "audio")
          .otherwise("video"))
      .select("media_id", "kind", "n_frames", "frame_bytes", "max_idx")
      .orderBy("media_id")
  }

  final case class FrameDigest(media_id: Long, frame_idx: Long, fd: String)

  /** m14 — CROSS-MEDIA FRAME REUSE: which media share sampled frames
    * (the video-dedup primitive UNDER near-dup detection — reused
    * intros/outros, stock footage, re-uploads with edits). Every
    * sampled frame (m03's stride machinery — a real pipeline's
    * keyframes) digests to md5(uppercase-hex) per the m06 chunk
    * convention, and a frame digest held by ≥ 2 distinct media is
    * SHARED; the census grades, per media with any sharing: sampled /
    * distinct / shared frame counts and the reuse share in permille.
    *
    * Scale: payloads never shuffle — only (media_id, 16-byte digest)
    * rows leave the map; sharing is one keyed agg over the distinct
    * (media, digest) set plus one semi-join back, NO pair join at all
    * (the m07 pair mine is the operator that pays for pairs; this
    * census is what you run first, at any multiplicity, because a
    * stock frame in 10^5 videos costs it nothing extra). */
  def frameReuse(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = syntheticMedia(spark, dir).as[MediaRow]
    val frames = sampleFrames(media).map { f =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = new java.lang.StringBuilder(f.frame.length * 2)
      var j = 0
      while (j < f.frame.length) { hex.append(HexUpper(f.frame(j) & 0xff)); j += 1 }
      val dig = md.digest(hex.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val sb = new java.lang.StringBuilder(32)
      var k = 0
      while (k < dig.length) { sb.append(HexLower(dig(k) & 0xff)); k += 1 }
      FrameDigest(f.media_id, f.frame_idx.toLong, sb.toString)
    }.toDF().localCheckpoint() // feeds the per-media census AND the share set
    val sets = frames.select(col("media_id"), col("fd")).distinct()
    val shared = sets.groupBy("fd")
      .agg(count(lit(1)).as("nm")).filter(col("nm") >= 2).select("fd")
    val perMedia = frames.groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("fd")).as("n_distinct_frames"))
    val sharedCnt = sets.join(shared, "fd")
      .groupBy("media_id").agg(count(lit(1)).as("n_shared_frames"))
    perMedia.join(sharedCnt, "media_id")
      .withColumn("kind",
        when(pmod(col("media_id"), lit(3)) === 0, "image")
          .when(pmod(col("media_id"), lit(3)) === 1, "audio")
          .otherwise("video"))
      .select(col("media_id"), col("kind"), col("n_frames"),
        col("n_distinct_frames"), col("n_shared_frames"),
        expr("n_shared_frames * 1000 div n_distinct_frames").as("reuse_permille"))
      .orderBy("media_id")
  }

  final case class Thumb(media_id: Long, t0: Long, t1: Long, t2: Long, t3: Long)

  /** STUBBED RESIZE — a fixed-size "thumbnail" of the payload: the
    * byte-mean of each quarter (a real image resize maps pixel blocks
    * the same way; the stub keeps the block-mean contract over the
    * opaque bytes). Integer floor arithmetic end to end so the result
    * is exact in any engine. */
  def resizeThumbs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    syntheticMedia(spark, dir).as[MediaRow]
      .filter(_.content.nonEmpty)
      .map { m =>
        val n = m.content.length
        def mean(q: Int): Long = {
          val lo = q * n / 4; val hi = (q + 1) * n / 4
          if (hi == lo) 0L
          else {
            var sum = 0L; var i = lo
            while (i < hi) { sum += (m.content(i) & 0xff); i += 1 }
            sum / (hi - lo)
          }
        }
        Thumb(m.media_id, mean(0), mean(1), mean(2), mean(3))
      }
      .toDF().orderBy("media_id")
  }

  /** Perceptual-hash duplicate-candidate groups over the opaque
    * payloads — the multimodal arm of the dedup family: a 31-bit dHash
    * over a 32-bin byte histogram (bin = low 5 bits of each byte; bit j
    * set iff bin j > bin j+1 — the adjacent-bin comparison that makes
    * dHash robust to payload length, in integer math end to end so
    * every engine agrees bit-for-bit), grouped into the
    * duplicate-candidate audit (groups with >1 member, keep = lowest
    * media_id). The high-nibble histogram (m02's feature) is DEGENERATE
    * here — text payloads occupy 3 nibble bins — which is exactly the
    * lesson: the hash must key on bins that discriminate the corpus. A
    * real pipeline swaps the histogram for a DCT aHash over decoded
    * pixels; the hashing/grouping plumbing is identical. Payloads never
    * shuffle — only (id, 31-bit hash) leaves the map. */
  def phashDupGroups(spark: SparkSession, dir: String): DataFrame =
    phashes(spark, dir)
      .groupBy("phash")
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("phash", "keep_id", "n_copies")
      .orderBy("keep_id")

  /** The shared (media_id, 31-bit dHash) frame behind m05/m09. Payloads
    * never shuffle — only the 8-byte hash leaves the map. */
  private def phashes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    syntheticMedia(spark, dir).as[MediaRow]
      .filter(_.content.nonEmpty)
      .map { m =>
        val hist = new Array[Long](32)
        var i = 0
        while (i < m.content.length) { hist(m.content(i) & 0x1f) += 1; i += 1 }
        var h = 0L
        var j = 0
        while (j < 31) { if (hist(j) > hist(j + 1)) h |= 1L << j; j += 1 }
        (m.media_id, h)
      }.toDF("media_id", "phash")
  }

  /** Hamming-≤2 payload near-dup PAIRS — the m-series twin of t13's
    * banded SimHash index, with CONTENT-DEFINED CHUNKS as the feature
    * set: a 60-bit SimHash over each payload's distinct CDC chunk
    * digests (m06's chunker, spec-proved to re-chunk only an edit's
    * neighborhood), so payloads sharing most chunks land within a few
    * bits of each other while unrelated payloads are ~30 bits apart.
    * Chunk features are what make a byte-level index edit-robust: a
    * positional dHash (the image-resize trick) shifts every sample on
    * insertion — measured min-hamming 12 across the fixture's genuine
    * near-dups — and m05's histogram hash collapses same-language
    * payloads into a few dense values (~n²/10 "pairs"). Pigeonhole
    * banding, 4 bands × 15 bits (t13's post-widening shape): two bit
    * flips dirty ≤2 bands, so every hamming-≤2 pair collides on an
    * intact band; candidates meet inside (band, key) buckets (32k
    * keys/band, cardinality grows with content diversity), then one
    * exact bit_count(xor) verify. The DuckDB twin restates ALL-PAIRS
    * hamming over the same chunk chain — the fixture-affordable truth
    * that the banding loses nothing at the ≤2 radius. Payload bytes
    * never shuffle: the chunker emits digests map-side, the SimHash is
    * two keyed partial aggregations over ~|chunks| rows. */
  /** The (media_id, 60-bit chunk-SimHash) frame behind m09 — factored so
    * ChunkSimhashSpec can brute-force pair hammings against the banded
    * query's output. */
  private[multimodal] def chunkSimhash(spark: SparkSession, dir: String): DataFrame = {
    val f = chunkFrame(spark, dir)
      .select(col("media_id"), col("chunk_md5")).distinct()
      .withColumn("fid",
        expr("CAST(conv(substring(chunk_md5, 1, 15), 16, 10) AS BIGINT)"))
    // one shuffle of |chunks| rows: 60 conditional sums partial-aggregate
    // map-side, vs the 60× bit-explode shape (t04) that shuffles
    // |chunks|·60 rows through two aggregations
    val contribs = (0 until 60).map(b =>
      sum(when(expr(s"shiftright(fid, $b) & CAST(1 AS BIGINT)") === 1, 1)
        .otherwise(-1)).as(s"v$b"))
    f.groupBy("media_id").agg(contribs.head, contribs.tail: _*)
      .select(col("media_id"),
        (0 until 60).map(b =>
          when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("phash60"))
  }

  def chunkSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    // cross-RUN artifact (round-17 verdict #4): the verified pair set
    // is a pure function of documents.parquet and feeds m10's cluster
    // walk — a fresh JVM used to pay the chunk+SimHash+band pipeline
    // (7.5 s at sf0.1) to rebuild it. Key =
    // fixture digest + fold-shape tag (MediaArtifactSpec's tag-lock
    // recomputes it over the chunker/SimHash/pair derivation).
    graft.sources.ArtifactStore.loadOrBuild(spark, "m_simhash_pairs",
      graft.sources.ArtifactStore.key(dir, "documents.parquet") +
        "-" + SimhashPairsFoldTag) {
      chunkSimhashPairsUncached(spark, dir)
    }.orderBy("a_id", "b_id")

  /** The banded build behind the m_simhash_pairs artifact — the
    * load-bearing plan (dumped by PlanDump, timed as m09's cold). */
  private[graft] def chunkSimhashPairsUncached(spark: SparkSession, dir: String): DataFrame = {
    val sig = chunkSimhash(spark, dir)
    val ph = (0 until 4).foldLeft(sig) { (df, k) =>
      df.withColumn(s"band$k",
        shiftright(col("phash60"), 15 * k).bitwiseAND(lit(32767L)))
    }
    val a = ph.select(col("media_id").as("a_id") +: col("phash60").as("ha") +:
      (0 until 4).map(k => col(s"band$k").as(s"a$k")): _*)
    val b = ph.select(col("media_id").as("b_id") +: col("phash60").as("hb") +:
      (0 until 4).map(k => col(s"band$k").as(s"c$k")): _*)
    // the exact hamming verify runs INSIDE each band join, before the
    // dedup shuffle — far candidates drop map-side instead of riding
    // through the distinct; hamming is a function of the pair, so it
    // dedupes along with it. No orderBy here: the serving wrapper sorts
    // the artifact scan (the round-18 double-sort fold-out).
    (0 until 4).map { k =>
      a.join(b, col(s"a$k") === col(s"c$k") && col("a_id") < col("b_id")
          && expr("bit_count(ha ^ hb)") <= 2)
        .select(col("a_id"), col("b_id"),
          expr("bit_count(ha ^ hb)").cast("int").as("hamming"))
    }.reduce(_ unionByName _).distinct()
  }

  /** m_simhash_pairs artifact fold-shape tag — sha256 (first 8 hex)
    * over the chunker + SimHash + banded-pair derivation source;
    * MediaArtifactSpec's tag-lock recomputes it. */
  private[graft] val SimhashPairsFoldTag = "msp-e3cda83c"

  /** Real (non-stub) metadata extraction over the binary column —
    * length, digest, sniffed prefix. Pure built-in expressions. */
  def mediaStats(spark: SparkSession, dir: String): DataFrame =
    syntheticMedia(spark, dir)
      .select(
        col("media_id"), col("kind"),
        length(col("content")).cast("long").as("n_bytes"),
        md5(col("content")).as("content_md5"),
        substring(base64(col("content")), 1, 8).as("prefix_b64"))
      .orderBy("media_id")

  /** Payload nibble-entropy — the corruption/encryption signal for
    * binary columns (the m-series analogue of t07/t42's text quality):
    * Shannon entropy of the hex-nibble distribution. Truncated or
    * zero-padded payloads score near 0; well-compressed or encrypted
    * blobs approach ln(16) ≈ 2.77 nats; text-as-bytes sits in between
    * (few nibble bins occupied — the same skew m05's dHash exploits).
    * Per-nibble counts come from the codegen `nibble_counts`
    * Expression (graft.functions.BinaryExpressions) — ONE fused byte
    * loop per row, no hex-string materialization; the DuckDB oracle
    * keeps the 16-way length-replace restatement, which is exactly the
    * cross-engine check that the fused loop counts the same nibbles.
    * ln is floor-quantized at 1e-6 per nibble and summed in BIGINT
    * (t36/t37's discipline), one final division. */
  def payloadEntropy(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.BinaryExpressions.register(spark)
    val base = syntheticMedia(spark, dir)
      .filter(length(col("content")) > 0)
      .withColumn("n_bytes", length(col("content")).cast("long"))
      .withColumn("nc",
        graft.functions.BinaryExpressions.nibble_counts(col("content")))
      .withColumn("len", (col("n_bytes") * 2).cast("double"))
    def cnt(i: Int) = element_at(col("nc"), i + 1)
    val terms = (0 until 16).map { i =>
      val c = cnt(i)
      when(c > 0,
        c * floor(log(c.cast("double") / col("len")) * lit(1e6)).cast("long"))
        .otherwise(0L)
    }.reduce(_ + _)
    val present = (0 until 16).map(i => when(cnt(i) > 0, 1).otherwise(0)).reduce(_ + _)
    base.select(col("media_id"), col("kind"), col("n_bytes"),
      present.as("n_nibbles"),
      round(-terms.cast("double") / col("len") / lit(1e6), 6).as("entropy"))
      .orderBy("media_id")
  }

  /** Feature pipeline summary through the typed Dataset path (stub
    * decoder) — demonstrates binary → mapPartitions → features → agg. */
  def featureSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = syntheticMedia(spark, dir).as[MediaRow]
    extractFeatures(media).toDF()
      .select(col("media_id"), col("n_bytes"),
        round(element_at(col("features"), 1), 6).as("f_low"),
        round(element_at(col("features"), 8), 6).as("f_mid"))
      .orderBy("media_id")
  }

  final case class Chunk(media_id: Long, kind: String, chunk_len: Long,
      chunk_md5: String)

  /** Content-defined chunking: a byte whose value ≡ 0 (mod 16) ENDS a
    * chunk (it stays in the chunk it terminates). This is the
    * degenerate-gear analogue of Rabin/FastCDC cut-points — boundaries
    * depend on CONTENT, not offsets, so an insertion re-chunks only its
    * local neighborhood and every other chunk digest survives — which
    * is what makes chunk-level dedup effective on shifted payloads.
    * The 4-bit mask is sized to the fixture's text-byte payloads
    * (word-scale chunks); a production lake widens the mask to target
    * KB–MB expected chunk sizes — one constant, same plan.
    * Typed per-row pass: the payload never leaves its partition; only
    * 16-byte digests + lengths flow out. Chunk identity is
    * md5(uppercase-hex of the chunk bytes) so the DuckDB oracle can
    * state the identical key via to_hex + string_agg. */
  // Hex tables: a format call per BYTE dominated the chunker's profile;
  // a 256-entry table lookup is the classic fix.
  private val HexUpper = Array.tabulate(256)(i => f"$i%02X")
  private val HexLower = Array.tabulate(256)(i => f"$i%02x")

  /** The per-payload CDC chunk loop — ONE body shared by the deployed
    * census chunker ([[chunkMedia]], hence the m06/m07/m09 memo) and
    * the m12 tuning curve's multi-mask pass, so the curve's mask-16
    * point can never drift from the deployed census. Emits
    * (chunk_len, chunk_md5) per chunk of one payload at one mask. */
  private[multimodal] def chunkOne(c: Array[Byte], mask: Int): Seq[(Long, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val md = java.security.MessageDigest.getInstance("MD5")
    var start = 0
    def close(endExcl: Int): Unit = if (endExcl > start) {
      val hex = new java.lang.StringBuilder((endExcl - start) * 2)
      var j = start
      while (j < endExcl) { hex.append(HexUpper(c(j) & 0xff)); j += 1 }
      md.reset()
      val dig = md.digest(hex.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val sb = new java.lang.StringBuilder(32)
      var k = 0
      while (k < dig.length) { sb.append(HexLower(dig(k) & 0xff)); k += 1 }
      out += (((endExcl - start).toLong, sb.toString))
      start = endExcl
    }
    var i = 0
    while (i < c.length) {
      if ((c(i) & 0xff) % mask == 0) close(i + 1)
      i += 1
    }
    close(c.length)
    out.toSeq
  }

  def chunkMedia(media: Dataset[MediaRow], mask: Int = 16): Dataset[Chunk] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      chunkOne(m.content, mask).map { case (len, dig) =>
        Chunk(m.media_id, m.kind, len, dig)
      }
    }
  }

  /** m12 — the CDC MASK TUNING CURVE: m06's chunk census re-run at
    * boundary masks {8, 16, 32} (expected chunk length ≈ the mask, the
    * cut-probability arithmetic of gear/FastCDC), emitting chunk count,
    * distinct count, byte totals and the realized dedup ratio per mask
    * — the size/dedup dial a storage layer reads before fixing its
    * chunking constant (small chunks dedup more but cost more metadata;
    * the restic/borg tuning table as an oracle-checked query). k11's
    * curve discipline applied to the multimodal layer: the OPERATOR
    * (m06) and the curve share one chunker body, so the curve's mask-16
    * point can never drift from the deployed census.
    *
    * Scale: ONE typed per-partition pass over the payloads for the
    * whole curve (round 20; previously three — one per mask): the
    * payload DECODE/scan is the heavy term and re-chunking at another
    * mask is byte-local CPU, so the three mask loops run inside one
    * flatMap over one scan (guide §2.3: make every pass but the
    * cheapest operate once over the heavy bytes), emitting narrow
    * (mask, chunk_len, chunk_md5) rows — payloads still never shuffle,
    * and the per-mask census reduces to two keyed aggregates over the
    * one checkpointed chunk frame. The chunk loop body is [[chunkOne]],
    * shared verbatim with the deployed m06 census chunker. */
  def cdcMaskCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val masks = Seq(8, 16, 32)
    val ch = syntheticMedia(spark, dir).as[MediaRow].flatMap { m =>
      masks.flatMap { k =>
        chunkOne(m.content, k).map { case (len, dig) => (k, len, dig) }
      }
    }.toDF("mask", "chunk_len", "chunk_md5")
      .localCheckpoint() // feeds the per-mask totals AND the distinct agg
    val uq = ch.distinct()
      .groupBy("mask")
      .agg(count(lit(1)).as("n_unique"), sum("chunk_len").as("unique_bytes"))
    ch.groupBy("mask")
      .agg(count(lit(1)).as("n_chunks"), sum("chunk_len").as("sum_bytes"))
      .join(uq, Seq("mask"))
      .select(col("mask"), col("n_chunks"), col("n_unique"),
        col("sum_bytes"), col("unique_bytes"),
        round(col("unique_bytes").cast("double") / col("sum_bytes").cast("double"), 6)
          .as("dedup_ratio"))
      .orderBy("mask")
  }

  /** Chunk-overlap near-duplicate pairs — the storage-level NEAR-dedup
    * that m06's exact census cannot see: two payloads that share most of
    * their content-defined chunks (one is a re-encode, crop, or append
    * of the other) surface as a pair even though no full-file digest
    * matches. t03's candidates-only discipline, keyed on chunk digests:
    * candidate pairs come from RARE chunks only (digest in ≤ 10 media —
    * ubiquitous chunks are the byte-level boilerplate analogue and would
    * fan out quadratically; a pair sharing ONLY those is noise, not a
    * near-dup), then exact chunk-set Jaccard over the FULL sets keeps
    * pairs ≥ 0.5. Never all-pairs; payloads never shuffle — only
    * digests. */
  /** The per-payload CDC chunk frame, materialized ONCE per
    * (session, dir) — three graded queries consume it (m06
    * multiplicities, m07 rare-chunk pairs, m09 SimHash features) and
    * each used to re-run the per-byte chunker over every payload; the
    * memo IS the "chunk table beside the lake" a real deployment keeps.
    * persist(), not localCheckpoint: MEMORY_AND_DISK spills instead of
    * OOMing, and its memo release unpersists it at teardown (the wordGramIds
    * convention). */
  private val chunkCache = Memos.memo[String, DataFrame]()

  private def chunkFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    chunkCache(spark, dir) {
      val f = chunkMedia(syntheticMedia(spark, dir).as[MediaRow]).toDF().persist()
      f.count() // materialize eagerly so every consumer reads the cache
      f
    }
  }

  /** Registered m07: the media near-dup pair table. */
  def chunkNearDup(spark: SparkSession, dir: String): DataFrame = {
    val sets = chunkFrame(spark, dir)
      .select("media_id", "chunk_md5").distinct()
    val rare = sets.groupBy("chunk_md5")
      .agg(count(lit(1)).as("nm"))
      .filter(col("nm") <= 10 && col("nm") >= 2)
      .select("chunk_md5")
    val keyed = sets.join(rare, "chunk_md5")
    val cand = keyed.as("x").join(keyed.as("y"),
        col("x.chunk_md5") === col("y.chunk_md5") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a_id"), col("y.media_id").as("b_id"))
      .distinct()
    val sizes = sets.groupBy("media_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(sets.select(col("media_id").as("a_id"), col("chunk_md5")), "a_id")
      .join(sets.select(col("media_id").as("b_id"), col("chunk_md5")),
        Seq("b_id", "chunk_md5"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("media_id").as("a_id"), col("sz").as("sza")), "a_id")
      .join(sizes.select(col("media_id").as("b_id"), col("sz").as("szb")), "b_id")
      .withColumn("n_union", col("sza") + col("szb") - col("n_inter"))
      // integer cross-multiplication: jaccard ≥ 0.5 without a float gate
      .filter(col("n_inter") * 2 >= col("n_union"))
      .select(col("a_id"), col("b_id"), col("n_inter"), col("n_union"),
        round(col("n_inter").cast("double") / col("n_union").cast("double"), 6)
          .as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** m13 — CROSS-MODAL decontamination (round-14 brief #7, the one
    * pipeline surface the board didn't grade): the m-family dedups
    * media against media and the t/v families scrub text against text,
    * but an eval item can leak into training THROUGH a modality
    * boundary — a rendered screenshot of a benchmark question, an
    * audio read-through, a video slide. This query joins the TRAINING
    * media's content-defined chunks against the digest set of the
    * EVAL suite's payloads (docs 0–49, the t19 benchmark convention)
    * in the shared BYTE-DIGEST space — the stubbed decoder stands in
    * for the caption/OCR/transcript extraction a real pipeline runs
    * before this exact join. Output: per contaminated media item, its
    * chunk census, the contaminated chunk count/bytes, and the scrub
    * share a redaction step consumes. Only chunks ≥ [[MinEvidenceLen]]
    * bytes count as evidence (t19's 8-token-gram rule restated in
    * bytes): the mask-16 chunker emits 1-byte chunks that collide
    * across ~every payload and would grade noise, not leakage.
    *
    * The digest space is deliberately EXACT (not the v16 semantic
    * space): v15/v16 already grade centroid-bucketed embedding
    * decontamination; this closes the byte-identical-span channel,
    * and the two compose the way a production scrub runs both.
    *
    * Scale: the eval digest set is benchmark-bounded — broadcast by
    * nature (t19's discipline); training chunks are the memoized
    * map-only chunker output; both aggregates key on media_id and
    * payload bytes never shuffle (the m-series rule — only 32-char
    * digests travel). */
  private[graft] val MinEvidenceLen = 8L
  def crossModalDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val ch = chunkFrame(spark, dir)
    val bench = ch
      .filter(col("media_id") < 50 && col("chunk_len") >= MinEvidenceLen)
      .select("chunk_md5").distinct()
    val corp = ch.filter(col("media_id") >= 50)
    val tot = corp.groupBy("media_id")
      .agg(count(lit(1)).as("n_chunks"), sum("chunk_len").as("total_bytes"))
    val hits = corp.filter(col("chunk_len") >= MinEvidenceLen)
      .join(broadcast(bench), "chunk_md5")
      .groupBy("media_id", "kind")
      .agg(count(lit(1)).as("n_hit"), sum("chunk_len").as("hit_bytes"))
    hits.join(tot, "media_id")
      .select(col("media_id"), col("kind"), col("n_chunks"), col("n_hit"),
        col("total_bytes"), col("hit_bytes"),
        round(col("hit_bytes").cast("double") / col("total_bytes").cast("double"), 6)
          .as("hit_share"))
      .orderBy("media_id")
  }

  /** CDC dedup census — the storage-level dedup a multimodal lake runs
    * before anything decodes: per kind, raw chunk bytes vs bytes after
    * chunk-level dedup. ONE pass: the chunker's output partial-aggregates
    * straight to per-distinct-chunk multiplicities (a raw-total + a
    * separate distinct would re-run the per-byte chunker twice and
    * shuffle twice), then a tiny per-kind rollup derives both the raw and
    * the deduped totals. Payload bytes never move — only digests do. */
  def cdcDedup(spark: SparkSession, dir: String): DataFrame = {
    val ch = chunkFrame(spark, dir)
    ch.groupBy("kind", "chunk_md5", "chunk_len")
      .agg(count(lit(1)).as("n_copies"))
      .groupBy("kind")
      .agg(sum(col("n_copies")).as("n_chunks"),
        count(lit(1)).as("n_unique"),
        sum(col("n_copies") * col("chunk_len")).as("sum_bytes"),
        sum(col("chunk_len")).as("unique_bytes"))
      .select(col("kind"), col("n_chunks"), col("n_unique"),
        col("sum_bytes"), col("unique_bytes"),
        round(col("unique_bytes").cast("double") / col("sum_bytes").cast("double"), 6)
          .as("dedup_ratio"))
      .orderBy("kind")
  }
}
