package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection over a DOCUMENT stream — the
  * incremental dedup index a continuously-ingesting training-data
  * pipeline runs: every arriving document is SimHash-fingerprinted in
  * the stream (a stateless per-row map), routed to its pigeonhole
  * sub-band buckets, and compared ONLY against the documents already
  * indexed in those buckets (t13's banding, kept as streaming state).
  *
  * Order-independence is the design property that makes this
  * oracle-checkable: for any near-dup pair, whichever document arrives
  * second finds the first in their shared band's index, so the emitted
  * pair SET equals the batch t13 pair set under ANY micro-batch split
  * — state recovery and arrival order can shift WHEN a pair emits,
  * never WHETHER.
  *
  * Scale notes: the fingerprint map is stateless; the only shuffle is
  * the band-bucket grouping (4 slim rows per doc). State per key is
  * one band bucket — the same Σ|bucket|² bound that makes batch LSH
  * tractable governs the comparisons here, and the bucket lists ARE
  * the index (a production deployment would TTL or tier them to a
  * store; the fixture run keeps them in the state store).
  *
  * This object holds the document-stream plans and their state
  * functions only; [[Replay.drain]] runs them. */
object DocStream {

  /** Schema of the documents table (TESTDATA.md). */
  val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** Schema of the embeddings table (TESTDATA.md) — the vector-modality
    * stream source (s15). */
  val embSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  /** t04's 60-bit SimHash computed in a typed per-row map — one md5
    * per token and an int[60] of bit votes (the first cut, a nested
    * higher-order-function Column, interpreted one md5 per token PER
    * BIT and cost 17 s at sf0.1). Semantics are bit-identical to the
    * batch operator and the DuckDB oracle: same normalization (Spark's
    * `lower` lowercases non-ASCII via Java toLowerCase, mirrored here),
    * same 15-hex-char md5-prefix token ids, same duplicate-token
    * weighting, same v > 0 threshold — and the oracle hash check is
    * what PINS that equivalence. */
  private[streaming] def simhash60(text: String): Option[Long] = {
    // Locale.ROOT: Spark's `lower` maps ASCII locale-independently; a
    // Turkish default locale would send 'I' → 'ı' here and silently
    // fork the fingerprint from the batch operator (the DdlParser
    // lesson, same bug class)
    val nrm = text.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9 ]", " ")
      .replaceAll(" +", " ").trim
    if (nrm.isEmpty) None
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](60)
      nrm.split(" ").foreach { tok =>
        md.reset()
        val dig = md.digest(tok.getBytes("UTF-8"))
        // first 15 hex chars = digest bytes 0..6 plus byte 7's high
        // nibble, read big-endian — exactly conv(substr(md5, 1, 15))
        var tid = 0L
        var i = 0
        while (i < 7) { tid = (tid << 8) | (dig(i) & 0xffL); i += 1 }
        tid = (tid << 4) | ((dig(7) & 0xffL) >> 4)
        var b = 0
        while (b < 60) {
          if (((tid >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      var h = 0L
      var b = 0
      while (b < 60) { if (votes(b) > 0) h |= 1L << b; b += 1 }
      Some(h)
    }
  }

  /** 4 pigeonhole sub-bands × 15 bits (t13's banding): hamming ≤ 2 can
    * disturb at most 2 of the 4 bands, so every near-dup pair shares at
    * least two band values exactly. */
  private[streaming] val Bands = 4
  private[streaming] val BandBits = 15
  private[streaming] def bandVal(h: Long, k: Int): Long =
    (h >> (k * BandBits)) & ((1L << BandBits) - 1)

  /** One (document, sub-band) routing row. */
  final case class BandDoc(band: Int, bval: Long, doc_id: Long, h: Long)

  /** A band bucket's index: parallel id/hash lists (product-encoder
    * friendly). */
  final case class BandIndex(ids: Seq[Long], hs: Seq[Long])

  final case class NearDup(a_id: Long, b_id: Long, hamming: Int)

  /** A matching pair's LOWEST shared band — both hashes are in hand at
    * comparison time, so the emitter can claim each pair for exactly
    * one band instead of emitting once per shared band (up to 4×) and
    * paying a global distinct over the pair set afterwards. Hamming ≤ 2
    * over 4 sub-bands guarantees at least two shared bands (pigeonhole),
    * so the minimum is always defined. */
  private def minSharedBand(a: Long, b: Long): Int = {
    var k = 0
    while (k < Bands - 1) {
      if (bandVal(a, k) == bandVal(b, k)) return k
      k += 1
    }
    Bands - 1
  }

  /** Compare the batch's arrivals against the bucket index (and each
    * other, in doc_id order — so an intra-batch pair emits exactly once
    * per band), then append them to the index. Each pair emits only
    * from its lowest shared band → the drained table IS the pair set,
    * no cross-band dedup pass needed. */
  def nearDupFn(key: (Int, Long), rows: Iterator[BandDoc],
      state: GroupState[BandIndex]): Iterator[NearDup] = {
    val band = key._1
    val st = state.getOption.getOrElse(BandIndex(Vector.empty, Vector.empty))
    var ids = st.ids.toVector
    var hs = st.hs.toVector
    val out = Vector.newBuilder[NearDup]
    rows.toSeq.sortBy(_.doc_id).foreach { d =>
      var i = 0
      while (i < ids.length) {
        if (ids(i) != d.doc_id) {
          val ham = java.lang.Long.bitCount(hs(i) ^ d.h)
          if (ham <= 2 && minSharedBand(hs(i), d.h) == band) {
            val (a, b) = if (ids(i) < d.doc_id) (ids(i), d.doc_id)
                         else (d.doc_id, ids(i))
            out += NearDup(a, b, ham)
          }
        }
        i += 1
      }
      ids :+= d.doc_id
      hs :+= d.h
    }
    state.update(BandIndex(ids, hs))
    out.result().iterator
  }

  /** One arriving document for the per-source quota (s22). */
  final case class QuotaIn(source: String, doc_id: Long, n_chars: Long)

  /** A source's admitted set — ids/chars parallel vectors in cap order
    * ((n_chars DESC, doc_id ASC), the t56 ranking) — plus a per-source
    * update sequence number so the drained sink can keep each source's
    * LAST snapshot. */
  final case class QuotaState(seq: Long, ids: Seq[Long], chars: Seq[Long])

  /** One admitted-set member row, tagged with the snapshot's seq. */
  final case class QuotaRow(source: String, seq: Long, rk: Int,
      doc_id: Long, n_chars: Long)

  /** s30's per-shard packing input/output/state (see StreamOps for the
    * plan that feeds it). */
  final case class PackIn(doc_id: Long, shard: Long, n_tok: Long)
  final case class PackOut(shard: Long, doc_id: Long, seq_id: Long,
      straddle: Long, cum_after: Long)
  final case class PackState(cum: Long, lastDoc: Long)

  /** ONLINE sequence packing — t60's concat-and-chop run the way a
    * continuously-ingesting pipeline runs it: the whole per-shard
    * packing state is ONE running token count (the open sequence's fill
    * is `cum mod ctx`, its id `cum div ctx`), so each arriving document
    * gets its sequence id and straddle flag from O(1) state — no
    * rescan of anything already packed. Packing is order-SENSITIVE, so
    * arrival order is a stated precondition (the id-sliced source
    * replays doc_id order across batches; within a batch the group
    * sorts) and violations CRASH rather than silently mis-pack. */
  def packFn(ctx: Long)(shard: Long, rows: Iterator[PackIn],
      state: GroupState[PackState]): Iterator[PackOut] = {
    var st = state.getOption.getOrElse(PackState(0L, -1L))
    val out = rows.toSeq.sortBy(_.doc_id).map { r =>
      require(r.doc_id > st.lastDoc,
        s"packing requires doc_id-ordered arrival per shard: " +
          s"doc ${r.doc_id} after ${st.lastDoc} in shard $shard")
      val seqId = st.cum / ctx
      val strad = if (st.cum % ctx + r.n_tok > ctx) 1L else 0L
      st = PackState(st.cum + r.n_tok, r.doc_id)
      PackOut(shard, r.doc_id, seqId, strad, st.cum)
    }
    state.update(st)
    out.iterator
  }

  /** Per-source quota maintenance (t56's domain cap as streaming
    * state): merge the batch's arrivals into the K-best set under
    * (n_chars DESC, doc_id ASC) and re-emit the set, tagged, ONLY when
    * it changed. The set-merge is ORDER-INDEPENDENT — K-best of a union
    * is K-best of K-bests in any grouping/order (the KMV mergeability
    * argument) — so the final snapshot equals the batch cap's admitted
    * set under ANY micro-batch split; arrival order shifts WHICH
    * intermediate snapshots exist, never the last one. State is K
    * (id, chars) pairs per source — bounded by construction. */
  def sourceQuotaFn(k: Int)(source: String, rows: Iterator[QuotaIn],
      state: GroupState[QuotaState]): Iterator[QuotaRow] = {
    val st = state.getOption.getOrElse(QuotaState(0L, Vector.empty, Vector.empty))
    val prev = st.ids.zip(st.chars).toVector
    val merged = (prev ++ rows.map(r => (r.doc_id, r.n_chars)))
      .distinct
      .sortBy { case (id, ch) => (-ch, id) }
      .take(k)
    if (merged == prev) Iterator.empty
    else {
      val seq = st.seq + 1
      state.update(QuotaState(seq, merged.map(_._1), merged.map(_._2)))
      merged.iterator.zipWithIndex.map { case ((id, ch), i) =>
        QuotaRow(source, seq, i + 1, id, ch)
      }
    }
  }

  /** s22's plan: the per-source quota state over a raw `documents`
    * source; emits each changed admitted-set snapshot, tagged. */
  def sourceQuota(k: Int)(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("source"), col("doc_id"), col("n_chars")).as[QuotaIn]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        sourceQuotaFn(k))
      .toDF()
  }

  /** s08's plan: the stateful band index over a raw `documents`
    * source. Each pair arrives exactly once (lowest-shared-band
    * claiming); the pair set is ~2M rows at sf0.1, so it drains into a
    * parquet FILE sink, which writes partition-parallel where a
    * driver-side memory sink serializes through one thread. */
  def nearDups(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val banded = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (docId, text) =>
        simhash60(text) match { // empty-normalization docs: t04's domain
          case None => Iterator.empty
          case Some(h) =>
            (0 until Bands).iterator.map(k => BandDoc(k, bandVal(h, k), docId, h))
        }
      }
    banded.groupByKey(bd => (bd.band, bd.bval))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(nearDupFn)
      .toDF()
  }
}
