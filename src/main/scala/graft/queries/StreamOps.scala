package graft.queries

import graft.streaming.{DocStream, EventStream, Replay}
import graft.streaming.Replay.{EachBatch, Memory, Parquet, rmrf}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StructType}
import graft.Memos

/** Streaming operators on the graded surface: each query executes a REAL
  * Structured Streaming job (a parquet replay source → stateful/windowed
  * plan → sink, drained synchronously by [[Replay.drain]]) and returns
  * its result table.
  * The oracles state the same semantics in batch SQL — closed sessions
  * are exactly the batch sessions minus each user's final (still-open)
  * one, and finalized windows are plain tumbling buckets — so the
  * streaming path is hash-verified like every batch operator.
  */
object StreamOps {

  // JVM-exit backstop for snapshot dirs: Harness teardown clears the
  // memos (deleting their dirs), but ScalaTest suites build these plans
  // without ever tearing the memos down, and each leaked snapshot is a
  // full fixture copy in /tmp. Every snapshot dir registers here; the
  // hook reaps whatever a memo release hasn't already deleted.
  private val allScratch = scala.collection.concurrent.TrieMap.empty[String, Unit]
  private[queries] def trackScratch(dir: String): String = {
    allScratch.put(dir, ()); dir
  }
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    allScratch.keys.foreach(d =>
      try rmrf(java.nio.file.Paths.get(d)) catch { case _: Throwable => () })))

  /** Release for the snapshot-source memo: delete the dir — dropping
    * the entry without deleting would orphan it until JVM exit. */
  private def scratchRelease(dir: String): Unit = rmrf(java.nio.file.Paths.get(dir))

  /** The replay sources, one snapshot dir per (session, fixture dir,
    * tag): several stream queries replay the same source, and
    * re-writing the fixture for every invocation both doubles the
    * streaming cost and leaks temp dirs. */
  private val sourceCache = Memos.memo[(String, String), String](scratchRelease)

  /** A scratch replay source: a fresh `<tag>*` temp dir filled by
    * `write` on first use per (session, dir). A failed write never
    * reaches the memo — its dir is reclaimed at once. */
  private def scratchSource(s: SparkSession, d: String, tag: String)(
      write: java.nio.file.Path => Unit): String =
    sourceCache(s, (d, tag)) {
      val dir = java.nio.file.Files.createTempDirectory(tag)
      try write(dir) catch { case e: Throwable => rmrf(dir); throw e }
      trackScratch(dir.toString)
    }

  /** Replay the events fixture as a µs-timestamped stream source. */
  private[graft] def streamSource(s: SparkSession, d: String): String =
    scratchSource(s, d, "graft_stream") { dir =>
      Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(dir.toString)
    }

  /** A 4-file copy of the fixture for ORDER-INSENSITIVE streaming
    * consumers (s06's stateless ETL): with maxFilesPerTrigger=1 it
    * replays as 4 real micro-batches. The main snapshot (streamSource)
    * deliberately stays a single batch — the stateful session query's
    * batch-twin parity depends on each user's events arriving together,
    * which an arbitrary file split would break. */
  private def multiFileStreamSource(s: SparkSession, d: String): String =
    scratchSource(s, d, "graft_stream_mf") { dir =>
      Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(4)
        .write.mode("overwrite").parquet(dir.toString)
    }

  /** A 4-file (l_orderkey, l_suppkey) snapshot of LINEITEM — the shared
    * replay source for the trade-ingest family (s29 edge maintenance,
    * s31 incremental CC). Round-12 brief #1c: the two ingests used to
    * write IDENTICAL private copies of this frame to separate scratch
    * dirs — the fixture write is now a shared fixed cost paid once per
    * harness run; per-query checkpoints and state stay separate. Any
    * split works — both consumers dedup/fold per arriving row. */
  private def liPairStreamSource(s: SparkSession, d: String): String =
    scratchSource(s, d, "graft_stream_li") { dir =>
      Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        .repartition(4) // ≥2 files → ≥2 micro-batches
        .write.mode("overwrite").parquet(dir.toString)
    }

  /** An ORDERKEY-SLICED 4-file (l_orderkey, l_partkey) snapshot of
    * lineitem — the replay source for s32's capped-adjacency ingest.
    * Co-occurrence edges form WITHIN an order (two parts on the same
    * order), so the batch boundary must never split an order: file i
    * holds the i-th quarter of the l_orderkey range, complete orders
    * per file (the id-sliced documents source's pattern, keyed on the
    * order space). Batch ARRIVAL order is irrelevant — the min-CapA
    * merge is commutative — only order-completeness matters. */
  private def okSlicedLiPartSource(s: SparkSession, d: String): String =
    scratchSource(s, d, "graft_stream_liok") { dir =>
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      val mm = li.agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi")).collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1) + 1)
      writeOrderedSlices(dir, (0 until 4).map { i =>
        val from = lo + (hi - lo) * i / 4
        val to = lo + (hi - lo) * (i + 1) / 4
        li.filter(col("l_orderkey") >= from && col("l_orderkey") < to)
      })
    }

  /** A 4-file snapshot of the DOCUMENTS table for the streaming
    * near-dup index (s08): with maxFilesPerTrigger=1 it replays as 4
    * real micro-batches of arriving documents. Any split works — the
    * emitted pair set is order-independent by construction. */
  private def docStreamSource(s: SparkSession, d: String): String =
    scratchSource(s, d, "graft_stream_docs") { dir =>
      Tables.documents(s, d)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .repartition(4)
        .write.mode("overwrite").parquet(dir.toString)
    }

  /** A 4-file snapshot of the EMBEDDINGS table — the vector-modality
    * stream (s15): with maxFilesPerTrigger=1 it replays as 4 real
    * micro-batches of arriving vectors. Any split works — per-vector
    * scores are complete within the batch that delivers the vector. */
  private def embStreamSource(s: SparkSession, d: String): String =
    scratchSource(s, d, "graft_stream_emb") { dir =>
      Tables.embeddings(s, d)
        .select("vec_id", "embedding", "label")
        .repartition(4)
        .write.mode("overwrite").parquet(dir.toString)
    }

  /** Write `slices` as slice<i>.parquet under `dir` with ASCENDING
    * mtimes, so FileStreamSource (oldest-first) replays them in slice
    * order under maxFilesPerTrigger=1 — THE ordered-replay writer every
    * sliced source shares (time-sliced events, the late-arrival replay,
    * the id-sliced documents; a fourth copy of the move/mtime dance
    * had already leaked directory-stream handles). Sequential writes
    * alone can tie within the filesystem timestamp granularity, hence
    * the explicit 2 s mtime ladder. */
  private def writeOrderedSlices(dir: java.nio.file.Path,
      slices: Seq[DataFrame]): Unit = {
    val t0 = java.nio.file.Files.getLastModifiedTime(dir).toMillis
    slices.zipWithIndex.foreach { case (slice, i) =>
      val sliceDir = dir.resolve(s"build$i")
      slice.coalesce(1).write.mode("overwrite").parquet(sliceDir.toString)
      val st = java.nio.file.Files.list(sliceDir)
      val part =
        try st.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        finally st.close()
      val dst = dir.resolve(s"slice$i.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L))
      rmrf(sliceDir)
    }
  }

  /** An ID-SLICED 4-file snapshot of the documents table: file i holds
    * the i-th quarter of the doc_id range with ascending mtimes, so
    * FileStreamSource (oldest-first) replays the corpus in doc_id order
    * under maxFilesPerTrigger=1 — the arrival contract ORDER-SENSITIVE
    * stateful consumers need (s30's packing: a doc's sequence id depends
    * on every doc packed before it). The time-sliced events source's
    * pattern, keyed on the id space instead of event time. */
  private def idSlicedDocStreamSource(s: SparkSession, d: String): String =
    scratchSource(s, d, "graft_stream_docid") { dir =>
      val docs = Tables.documents(s, d)
        .select("doc_id", "text", "lang", "source", "n_chars")
      val mm = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi")).collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1) + 1)
      writeOrderedSlices(dir, (0 until 4).map { i =>
        val from = lo + (hi - lo) * i / 4
        val to = lo + (hi - lo) * (i + 1) / 4
        docs.filter(col("doc_id") >= from && col("doc_id") < to)
      })
    }

  /** s30 — STREAMING sequence packing, t60's online twin: documents
    * arrive in doc_id order (the id-sliced source — a real ingest
    * assigns monotone ids at the door) and every shard's
    * flatMapGroupsWithState carries ONE running token count, from which
    * each arrival's sequence id and straddle flag fall out in O(1) —
    * the training-sequence layout materializes AS the corpus lands,
    * no batch repack. The drained per-doc packing decisions aggregate
    * to t60's exact readout, so the oracle IS t60's oracle: online and
    * batch packing must agree decision for decision.
    *
    * Scale: state per shard is two longs — thousands of shards cost
    * kilobytes; the per-batch sort is per shard per micro-batch (a
    * day's arrivals), never the corpus. */
  def streamSequencePacking(s: SparkSession, d: String): DataFrame =
    Replay.scratch("graft_stream_pack") { dir =>
      val rows = docsToParquet(s, idSlicedDocStreamSource(s, d), dir) { srcDf =>
        import s.implicits._
        srcDf.select(col("doc_id"),
            TextOps.saltedBucket(col("doc_id"), ":shard", TextOps.NumShards.toLong)
              .as("shard"),
            (size(split(TextOps.norm(col("text")), " ")) + 1).cast("long").as("n_tok"))
          .as[DocStream.PackIn]
          .groupByKey(_.shard)
          .flatMapGroupsWithState(OutputMode.Append,
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
            DocStream.packFn(TextOps.PackCtx))
          .toDF()
      }
      val totals = rows.groupBy("shard")
        .agg(max("cum_after").as("shard_total"))
      rows.groupBy("shard", "seq_id")
        .agg(count(lit(1)).as("n_docs_started"),
          sum("straddle").as("n_straddlers"))
        .join(totals, "shard")
        .withColumn("fill_tokens",
          least(lit(TextOps.PackCtx),
            col("shard_total") - col("seq_id") * TextOps.PackCtx))
        .select("shard", "seq_id", "n_docs_started", "n_straddlers", "fill_tokens")
        .orderBy("shard", "seq_id")
    }

  /** Drain `plan` over a documents replay, one file per micro-batch,
    * into a parquet sink under `dir` with its checkpoint beside it; the
    * sink's rows. */
  private def docsToParquet(s: SparkSession, sourceDir: String, dir: java.nio.file.Path)(
      plan: DataFrame => DataFrame): DataFrame =
    Replay.drain(s, sourceDir, DocStream.docSchema, Parquet(dir.resolve("out").toString),
      checkpoint = Some(dir.resolve("cp").toString))(plan).out

  /** A TIME-SLICED 4-file snapshot of the events table: file i holds
    * the i-th quarter of the event-time range, and file mtimes ascend
    * with the slice index so FileStreamSource (oldest-first) replays
    * them in event-time order under maxFilesPerTrigger=1 — the arrival
    * shape of a real day-by-day ingest. This is the source for stateful
    * consumers whose state must CARRY across batches in time order
    * (s17's attribution: a touch in slice k attributes a purchase in
    * slice k+1). */
  private def timeSlicedStreamSource(s: SparkSession, d: String): String =
    scratchSource(s, d, "graft_stream_ts") { dir =>
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val mm = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1) + 1)
      writeOrderedSlices(dir, (0 until 4).map { i =>
        val from = lo + (hi - lo) * i / 4
        val to = lo + (hi - lo) * (i + 1) / 4
        ev.filter(unix_micros(col("ts")) >= from && unix_micros(col("ts")) < to)
      })
    }

  /** A deliberately OUT-OF-ORDER replay: slice 0 carries everything
    * except a deterministic ~5% of first-half events; slice 1 delivers
    * those months-old events AFTER the watermark has advanced to the
    * stream's end — the shape a recovered upstream or a backfill
    * produces, which s21's watermark must drop and ACCOUNT for. */
  private[queries] def lateSel = {
    // md5 gate on event_id + first-half-of-timeline restriction: the
    // late set is rerunnable in both engines (k03's discipline)
    (mid: org.apache.spark.sql.Column) =>
      pmod(conv(substring(md5(concat(col("event_id").cast("string"), lit(":late"))), 1, 8), 16, 10)
        .cast("long"), lit(20L)) === 0 && unix_micros(col("ts")) < mid
  }

  private def lateSlicedStreamSource(s: SparkSession, d: String): String =
    scratchSource(s, d, "graft_stream_late") { dir =>
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val mm = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).collect()(0)
      val mid = lit((mm.getLong(0) + mm.getLong(1)) / 2)
      val tail = lit(mm.getLong(1) - 5L * 60 * 1000000) // last 5 min
      // THREE slices, because state eviction needs a batch boundary
      // after the watermark advances: slice 0 (bulk) sets the
      // watermark, slice 1 (recent tail) triggers the eviction pass
      // that EMITS and removes the old windows, slice 2 (the late
      // set) then arrives after its windows are gone — the only
      // arrival order in which Spark's aggregation actually DROPS
      // late rows (a late row whose window is still in state merges
      // fine; measured round 7)
      writeOrderedSlices(dir, Seq(
        ev.filter(!lateSel(mid) && unix_micros(col("ts")) < tail),
        ev.filter(!lateSel(mid) && unix_micros(col("ts")) >= tail),
        ev.filter(lateSel(mid))))
    }

  private[queries] def debugLateSource(s: SparkSession, d: String): String =
    lateSlicedStreamSource(s, d)

  /** The (drained frame, rows dropped by watermark) of the last s21
    * run — the metric half, exposed for LateDataSpec. */
  @volatile private[queries] var lastLateDrop: Option[Long] = None

  /** s21 — watermark LATE-DATA accounting: hourly Append-mode counts
    * over the out-of-order replay. Batch 0 advances the watermark to
    * the stream's end minus 10 minutes; batch 1 then delivers
    * months-old events, and the watermark DROPS every one — the graded
    * result is exactly the on-time counts over finalized windows, and
    * the state-store metric records precisely how many rows were
    * refused (LateDataSpec pins it to the planted late-set size).
    * Append mode is the point: only windows the watermark has closed
    * emit, so the drained sink IS the finalized-output contract a
    * downstream consumer sees — no Complete-mode do-overs. At
    * 100 TB/day the dropped-rows metric is the alarm wire: silently
    * losing a backfill is the classic streaming correctness bug, and
    * this query makes the loss an observable, graded number. */
  def streamLateAccounting(s: SparkSession, d: String): DataFrame = {
    val r = Replay.drain(s, lateSlicedStreamSource(s, d), EventStream.schema,
      Memory("graft_stream_late_acct")) { ev =>
      ev.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("w_start_us"), col("n"))
    }
    lastLateDrop = Some(r.droppedByWatermark)
    r.out.orderBy("w_start_us")
  }

  /** A deliberately at-least-once copy of the fixture: every event
    * delivered twice (two identical parquet files) — the input shape a
    * replayed/retried ingest produces, which s03's dedup must collapse. */
  private def dupStreamSource(s: SparkSession, d: String): String =
    scratchSource(s, d, "graft_stream_dup") { dir =>
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      ev.write.mode("overwrite").parquet(dir.toString)
      ev.write.mode("append").parquet(dir.toString)
    }

  /** Stateful sessionization through flatMapGroupsWithState; emits the
    * closed sessions (open per-user tails stay in state). */
  def streamSessions(s: SparkSession, d: String): DataFrame =
    Replay.drain(s, streamSource(s, d), EventStream.schema,
        Memory("graft_stream_sessions"), oneFilePerBatch = false)(EventStream.sessionize)
      .out.select("user_id", "sess_id", "n_events", "start_us", "end_us", "sum_value")
      .orderBy("user_id", "sess_id")

  /** Watermarked tumbling windows, drained in Complete mode. */
  def streamTumbling(s: SparkSession, d: String): DataFrame =
    Replay.drain(s, streamSource(s, d), EventStream.schema,
        Memory("graft_stream_tumbling"), OutputMode.Complete, oneFilePerBatch = false)(
        EventStream.tumblingCounts)
      .out.orderBy("w_start_epoch", "event_type")

  /** Watermarked streaming dedup: the at-least-once (doubled) stream is
    * collapsed back to exactly-once by stateful dropDuplicates keyed on
    * (event_id, ts) — including the event-time column is what lets the
    * watermark expire dedup state, the shape that stays bounded on an
    * unbounded replayed ingest. The streaming job does the dedup (Append
    * mode); the per-type counts over the drained sink then prove every
    * duplicate was dropped (they equal the original fixture's counts —
    * the oracle — not 2×). */
  def streamDedup(s: SparkSession, d: String): DataFrame =
    Replay.drain(s, dupStreamSource(s, d), EventStream.schema,
        Memory("graft_stream_dedup"), oneFilePerBatch = false)(
        _.withWatermark("ts", "10 minutes").dropDuplicates("event_id", "ts"))
      .out.groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Stream-static join: the unbounded event stream enriched against a
    * static broadcast dimension (customer), then aggregated — the
    * stateless streaming join shape (no watermark needed: the static
    * side never changes, so no join state accumulates). At 100 TB/day
    * the dimension broadcasts once per micro-batch and the stream never
    * shuffles before the keyed aggregation. */
  def streamStaticJoin(s: SparkSession, d: String): DataFrame =
    Replay.drain(s, streamSource(s, d), EventStream.schema,
        Memory("graft_stream_static"), OutputMode.Complete, oneFilePerBatch = false) {
      _.join(
          broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))),
          col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          Tables.asDbl(sum(Tables.dec("value"))).as("sum_value"))
    }.out.orderBy("c_mktsegment")

  /** s18 — the SCD2 temporal dimension (q44's shape, keyed by real
    * validity TIMESTAMPS) as one broadcastable frame: customers whose
    * key is ≡0 mod 7 switch segment to AUTOMOBILE at the cutoff; every
    * version row carries [valid_from, valid_to). */
  private[queries] val Scd2Cut = "2024-01-16 00:00:00"
  private[queries] def scd2TimeDim(s: SparkSession, d: String): DataFrame = {
    val cut = lit(Scd2Cut).cast("timestamp")
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val changed = c.filter(pmod(col("c_custkey"), lit(7)) === 0 &&
      col("c_mktsegment") =!= "AUTOMOBILE")
    val v1 = c.join(changed.select(col("c_custkey").as("k")),
        col("c_custkey") === col("k"), "left")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        lit("1900-01-01").cast("timestamp").as("valid_from"),
        when(col("k").isNotNull, cut)
          .otherwise(lit("2100-01-01").cast("timestamp")).as("valid_to"))
    val v2 = changed.select(col("c_custkey"), lit("AUTOMOBILE").as("segment"),
      cut.as("valid_from"), lit("2100-01-01").cast("timestamp").as("valid_to"))
    v1.unionByName(v2)
  }

  /** Per-row temporal enrichment: the version valid AT EVENT TIME, as a
    * broadcast range join — factored so Scd2StreamSpec can drive it as a
    * batch frame with planted boundary events. */
  private[queries] def asOfEnrich(dim: DataFrame)(ev: DataFrame): DataFrame =
    ev.join(broadcast(dim), col("user_id") === col("c_custkey") &&
      col("ts") >= col("valid_from") && col("ts") < col("valid_to"))

  /** Streaming SCD2 as-of enrichment: the event stream joined to the
    * TEMPORAL dimension at event time — an event before the segment
    * change attributes to the OLD segment, after it to the new one; a
    * plain stream-static equi-join (s04) would smear the change over
    * history. Stateless like s04: the versioned dim broadcasts per
    * micro-batch, the range predicate evaluates per row, no join state
    * accumulates. At 100 TB/day this is the standard warehouse-ingest
    * enrichment: dimension updates land as new version rows (q44/g13's
    * MERGE), the stream picks the right version by event time, and
    * late-arriving events STILL enrich correctly — event time, not
    * arrival time, selects the version. */
  def streamScd2AsOf(s: SparkSession, d: String): DataFrame =
    Replay.drain(s, streamSource(s, d), EventStream.schema,
        Memory("graft_stream_scd2"), OutputMode.Complete, oneFilePerBatch = false) { ev =>
      asOfEnrich(scd2TimeDim(s, d))(ev)
        .groupBy("segment")
        .agg(count(lit(1)).as("n"),
          Tables.asDbl(sum(Tables.dec("value"))).as("sum_value"))
    }.out.orderBy("segment")

  /** s19 — streaming bitmap-distinct maintenance, deliberately fed the
    * AT-LEAST-ONCE (doubled) replay source: k06's bitmap-word
    * aggregation runs in-stream and the drained popcount still
    * hash-matches the exactly-once batch oracle, with NO dedup operator
    * anywhere — OR is idempotent, so redelivery cannot change a bitmap.
    * This is the structural alternative to s03's stateful
    * dropDuplicates: s03 SPENDS watermarked state to reconcile
    * at-least-once delivery; s19 chooses an aggregate that never needed
    * reconciling. At 100 TB/day that choice deletes the dedup state
    * store entirely for every metric that can be phrased as a bitmap /
    * max / min / set-union. State here = one word row per (window,
    * user-block), watermark-free Complete mode over a bounded key
    * space. */
  def streamBitmapDistinct(s: SparkSession, d: String): DataFrame =
    SketchOps.popcountDistinct(
      Replay.drain(s, dupStreamSource(s, d), EventStream.schema,
        Memory("graft_stream_bitmap"), OutputMode.Complete, oneFilePerBatch = false)(
        SketchOps.bitmapWords).out)

  /** s24 — streaming HLL distinct maintenance fed the DOUBLED
    * at-least-once replay: k10's register sketch maintained in-stream
    * through the SAME factored ρ expressions and a per-(type, register)
    * MAX aggregate in the state store. Like s19's bitmaps, the
    * aggregate is IDEMPOTENT — max absorbs redelivery with no dedup
    * operator, which extends the s19 rule to APPROXIMATE state: a
    * fixed-size sketch whose merge is element-wise max is at-least-once
    * safe for free, at 64 small ints per key instead of s19's
    * |user-space|/32 words. The drained registers feed k10's shared
    * estimator body, so the oracle IS k10's oracle — the streaming
    * sketch must land on the exactly-once batch estimate bit for bit. */
  def streamHllDistinct(s: SparkSession, d: String): DataFrame =
    SketchOps.hllEstimate(s, Tables.events(s, d),
      Replay.drain(s, dupStreamSource(s, d), EventStream.schema,
          Memory("graft_stream_hll"), OutputMode.Complete, oneFilePerBatch = false) {
        ev => SketchOps.hllRho(ev).groupBy("grp", "idx").agg(max("rho").as("reg"))
      }.out
        // pin: the estimator references the register frame twice, and two
        // readings of the same memory-sink view self-conflict at resolve
        .localCheckpoint())

  /** s25 — streaming CUSUM maintenance: e27's daily cent totals kept by
    * a KEYED streaming aggregation (Complete mode; state = |days|×|types|
    * rows — calendar-bounded, the quintessential safely-unbounded
    * streaming state), drained into the IDENTICAL batch CUSUM core
    * (EventOps.cusumOn), so the sequential drift monitor lands on the
    * exactly-once batch answer bit for bit — the s24 discipline (drain
    * into the shared estimator body, oracle shared verbatim) applied to
    * change detection. The CUSUM fold itself runs post-drain: the
    * recursion needs the FINAL μ, which only exists once the window
    * closes — in production this is the end-of-day monitoring job
    * reading the continuously-maintained daily frame. */
  def streamCusumDrift(s: SparkSession, d: String): DataFrame =
    EventOps.cusumOn( // cusumOn already orders by event_type
      Replay.drain(s, streamSource(s, d), EventStream.schema,
          Memory("graft_stream_cusum"), OutputMode.Complete, oneFilePerBatch = false) {
        _.withColumn("day", expr("unix_micros(ts) div 86400000000"))
          .withColumn("cents", (Tables.dec(col("value")) * 100).cast("long"))
          .groupBy("event_type", "day").agg(sum("cents").as("x"))
      }.out.localCheckpoint()) // pin the drained sink before the fold re-reads it

  /** Stream-stream self-join with an event-time interval: each click
    * joined to the same user's purchases within the following 30 minutes
    * (attribution). Both sides carry watermarks and the join condition
    * bounds p_ts to [c_ts, c_ts + 30 min], which is what lets Spark
    * expire join state — the shape that stays bounded on an unbounded
    * stream (state per side ≈ one watermark-window of events). The
    * streaming job emits the matched pairs (Append — the only mode
    * stream-stream joins support); the per-user aggregation over the
    * drained sink then summarizes them, like s03's post-drain check. */
  def streamStreamJoin(s: SparkSession, d: String): DataFrame =
    Replay.drain(s, streamSource(s, d), EventStream.schema,
        Memory("graft_stream_ss"), oneFilePerBatch = false) { ev =>
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
        .withWatermark("p_ts", "30 minutes")
      clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("interval 30 minutes"))
    }.out
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("p_id")).as("n_purchases"))
      .orderBy("user_id")

  /** s23 — stream-stream LEFT OUTER interval join: s05's click×purchase
    * join in the posture that also has to DECIDE ABSENCE. A matched
    * click emits its pair rows immediately; an UNMATCHED click can only
    * emit its null-padded row once the watermark proves no purchase can
    * still arrive inside its 30-minute window — the null row is a
    * statement about the future, and the state-expiry machinery is what
    * makes it sound. Replayed over the 4-slice time-ordered source
    * (real watermark progression across micro-batches).
    *
    * Determinism: the drained set is cut at max(ts) − 2 h — clicks
    * whose expiry the FINAL watermark (max − 30 min) has provably
    * passed, with margin over the boundary-equality convention — so the
    * graded census is split-independent and the oracle is the batch
    * left join over the same cut (s01's closed-sessions discipline).
    * Scale: join state is bounded by the interval bound × arrival rate
    * per key; the watermark is what EVICTS it — an outer join without
    * the time bound would hold every unmatched click forever. */
  def streamLeftOuterJoin(s: SparkSession, d: String): DataFrame = {
    val raw = Replay.drain(s, timeSlicedStreamSource(s, d), EventStream.schema,
        Memory("graft_stream_lo")) { ev =>
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
        .withWatermark("p_ts", "30 minutes")
      clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("interval 30 minutes"),
        "left_outer")
    }.out
    // the GLOBAL watermark is the MIN over both streams' watermarks
    // (each side tracks its own max event time − 30 min), so the
    // provably-final region derives from the EARLIER of the two side
    // maxima — cutting on the global max alone left boundary clicks
    // whose null row the min-watermark had not yet released (measured:
    // one click short on the fixture)
    val cutoff = Tables.events(s, d)
      .agg((least(
        max(when(col("event_type") === "click", unix_micros(col("ts")))),
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))))
        - lit(7200000000L)).as("cut"))
      .collect()(0).getLong(0)
    raw.filter(unix_micros(col("c_ts")) <= cutoff)
      .groupBy("user_id")
      .agg(countDistinct(col("c_id")).as("n_clicks"),
        countDistinct(when(col("p_id").isNull, col("c_id"))).as("n_unmatched"),
        sum(when(col("p_id").isNull, 0L).otherwise(1L)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** Sessionization through Spark's NATIVE session_window aggregation —
    * the built-in operator counterpart to s01's hand-rolled
    * flatMapGroupsWithState: the same 30-minute-gap semantics declared
    * as one groupBy(user, session_window(ts, gap)) instead of ~60 lines
    * of custom state (the "compose existing ops before custom state"
    * preference, proved on the same data). The drain emits ALL sessions
    * including each user's open tail (s01's custom state deliberately
    * holds the tail back), so the oracle is the full session set.
    * Session end is reported as the LAST EVENT time (w.end minus the
    * gap — session_window pads the window end by the gap). At scale the
    * state store holds one merged window per open (user, session) and
    * the watermark evicts closed ones; sums stay in exact decimal
    * before the final double cast (s01's discipline). */
  def streamSessionWindow(s: SparkSession, d: String): DataFrame =
    Replay.drain(s, streamSource(s, d), EventStream.schema,
        Memory("graft_stream_sesswin"), OutputMode.Complete, oneFilePerBatch = false) {
      _.withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          Tables.asDbl(sum(Tables.dec("value"))).as("sum_value"))
    }.out
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        (unix_micros(col("w.end")) - lit(EventStream.GapUs)).as("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  /** Streaming near-duplicate detection (graft.streaming.DocStream):
    * documents arrive as 4 micro-batches, each is SimHash-fingerprinted
    * in-stream (stateless map) and compared only against the band
    * buckets accumulated in state — the incremental dedup index a
    * continuously-ingesting corpus runs, where each day's crawl dedups
    * against everything already ingested WITHOUT rescanning it. The
    * emitted pair set is order-independent (whichever doc arrives
    * second finds the first in their shared band), so the drained
    * result hash-matches batch t13's all-pairs oracle exactly. Each
    * pair is claimed by its lowest shared band inside the emitter, so
    * no post-drain dedup shuffle exists. The 60-bit signature keeps every band bucket (and so per-key state
    * and per-arrival comparisons) proportional to genuine near-dup
    * density — the 16-bit predecessor saturated its 32/32/64 buckets
    * and compared each arrival against O(n/32) prior docs. */
  def streamNearDup(s: SparkSession, d: String): DataFrame =
    Replay.scratch("graft_stream_neardup") { dir =>
      docsToParquet(s, docStreamSource(s, d), dir)(DocStream.nearDups)
        .select("a_id", "b_id", "hamming")
        .orderBy("a_id", "b_id")
    }

  /** Streaming benchmark decontamination — t19 run the way a
    * continuously-ingesting pipeline runs it: each micro-batch of
    * arriving documents is 8-gram-keyed IN the stream (stateless Column
    * ops through [[TextOps.explodeGramIds]] — the batch operator's own
    * gram builder, so neither the ids nor the window arithmetic can
    * drift) and stream-static joined
    * against the broadcast benchmark gram set, which comes from the
    * SAME memoized gram index t19/t26/t33 read. Matches land in an
    * exactly-once parquet sink; the drained rows then aggregate to
    * t19's exact output — per-doc distinct-gram and distinct-bench-doc
    * evidence — so the oracle IS t19's oracle. No state accumulates:
    * the benchmark side is fixed (an eval suite), the join is
    * stateless, and each arriving doc is scored once on arrival — each
    * day's crawl is decontaminated WITHOUT rescanning the corpus. */
  def streamDecontaminate(s: SparkSession, d: String): DataFrame = {
    val bench = TextOps.wordGramIds(s, d, 8)
      .filter(col("doc_id") < 50)
      .select(col("gid"), col("doc_id").as("b_id"))
    Replay.scratch("graft_stream_decontam") { dir =>
      docsToParquet(s, docStreamSource(s, d), dir) { src =>
        TextOps.explodeGramIds(src.filter(col("doc_id") >= 50), 8)
          .join(broadcast(bench), "gid")
          .select(col("doc_id"), col("gid"), col("b_id"))
      }
        // per-doc grams are NOT pre-deduplicated in the stream (a
        // stateful distinct would need a watermark for nothing): the
        // countDistinct aggregates collapse repeats, so the result
        // still equals t19's distinct-gram join exactly
        .groupBy("doc_id")
        .agg(countDistinct(col("gid")).as("n_hits"),
          countDistinct(col("b_id")).as("n_bench_docs"))
        .orderBy("doc_id")
    }
  }

  /** In-stream quality gate — t42's Gopher stop-word rule applied at
    * INGEST, where a real pipeline gates (rejecting at the door is a
    * corpus scan saved later), with the per-source admission scorecard
    * as the result. The gate is per-ROW expressions only (token split +
    * array_intersect against the literal check-word list): stateless,
    * no watermark, no shuffle inside the stream — every micro-batch
    * filters at full map parallelism, which is exactly why this shape
    * scales to any ingest rate. The admission aggregation happens on
    * the drained output; threshold 1 matches t43 (the synthetic corpus
    * tops out at one distinct check word — t42 reports the real flag). */
  def streamQualityGate(s: SparkSession, d: String): DataFrame = {
    val gopherArr = array(TextOps.GopherWords.map(lit): _*)
    Replay.scratch("graft_stream_qgate") { dir =>
      docsToParquet(s, docStreamSource(s, d), dir) {
        _.select(col("doc_id"), col("source"),
          size(array_intersect(
            array_distinct(split(TextOps.norm(col("text")), " ")), gopherArr))
            .as("n_gopher"))
      }
        .groupBy("source")
        .agg(
          sum(when(col("n_gopher") >= 1, 1L).otherwise(0L)).as("n_admitted"),
          sum(when(col("n_gopher") >= 1, 0L).otherwise(1L)).as("n_rejected"))
        .withColumn("admit_rate",
          round(col("n_admitted").cast("double") /
            (col("n_admitted") + col("n_rejected")).cast("double"), 6))
        .orderBy("source")
    }
  }

  /** Streaming CDC chunk census — m06's storage-dedup view computed AT
    * INGEST: each arriving micro-batch of payloads runs the typed
    * content-defined chunker INSIDE the stream (a stateless typed
    * transform — the proof that the engine's binary-payload plumbing
    * survives micro-batch execution), emits only (kind, len, digest)
    * rows to the exactly-once sink, and the drained chunk log
    * aggregates to the census. Hash-matching batch m06 proves in-stream
    * chunking ≡ batch chunking under any micro-batch split — boundaries
    * are content-defined, so a payload chunks identically whichever
    * batch delivers it. At 100 TB/day this is the shape of a dedup-
    * aware ingest tier: payload bytes are touched once on arrival,
    * never re-scanned, and only digests land in the lake's chunk
    * table. */
  def streamChunkCensus(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.Multimodal
    import s.implicits._
    Replay.scratch("graft_stream_chunk") { dir =>
      docsToParquet(s, docStreamSource(s, d), dir) { src =>
        Multimodal.chunkMedia(src.select(
            col("doc_id").as("media_id"),
            when(pmod(col("doc_id"), lit(3)) === 0, "image")
              .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
              .otherwise("video").as("kind"),
            lit("application/octet-stream").as("mime"),
            encode(col("text"), "UTF-8").as("content"))
          .as[Multimodal.MediaRow]).toDF()
          .select("kind", "chunk_len", "chunk_md5")
      }
        .groupBy("kind", "chunk_md5", "chunk_len")
        .agg(count(lit(1)).as("n_copies"))
        .groupBy("kind")
        .agg(sum(col("n_copies")).as("n_chunks"),
          count(lit(1)).as("n_unique"),
          sum(col("n_copies") * col("chunk_len")).as("sum_bytes"),
          sum(col("chunk_len")).as("unique_bytes"))
        .select(col("kind"), col("n_chunks"), col("n_unique"),
          col("sum_bytes"), col("unique_bytes"),
          round(col("unique_bytes").cast("double") /
            col("sum_bytes").cast("double"), 6).as("dedup_ratio"))
        .orderBy("kind")
    }
  }

  /** Streaming semantic decontamination — v16 run AT INGEST: the
    * benchmark suite (bounded by SUITE size, the broadcast v16 already
    * justifies) freezes batch-side once, and each arriving micro-batch
    * of vectors scores itself against it through the SAME shared body
    * ([[VectorOps.semanticScoreAgainst]]) via foreachBatch — per-vector
    * scores are complete within the batch that delivers the vector (the
    * suite is fully in hand), so no cross-batch state exists and the
    * drained score log equals batch v16 under ANY micro-batch split.
    * This is the missing modality twin: events (s01–s07), text
    * (s08–s11, s14), payload chunks (s13) — and now vectors. At 100
    * TB/day each arriving embedding is scored once on arrival; the
    * corpus is never rescanned when the eval suite is fixed. */
  def streamSemanticDecontam(s: SparkSession, d: String): DataFrame = {
    // the frozen suite: localCheckpoint so four micro-batches read a
    // materialized 30-row frame, not four re-derivations
    val bench = VectorOps.benchVectors(s, d).localCheckpoint()
    Replay.scratch("graft_stream_sem") { dir =>
      val partials = dir.resolve("scores").toString
      Replay.drain(s, embStreamSource(s, d), DocStream.embSchema, EachBatch((batch, _) =>
        VectorOps.semanticScoreAgainst(
          VectorOps.withVecNorm(batch).filter(col("vec_id") % 17 =!= 0), bench)
          .write.mode("append").parquet(partials)))(identity)
      s.read.parquet(partials)
        .select("vec_id", "max_cos", "n_hits", "contaminated")
        .orderBy("vec_id")
    }
  }

  /** Streaming gram-index maintenance — the EXACT-index twin of s12's
    * sketch maintenance, and the ingest-side half of the ArtifactStore
    * story: each micro-batch of arriving documents emits its own
    * (doc_id, gid) rows through the batch operator's gram builder
    * ([[TextOps.explodeGramIds]] — same ids, same windows) into an
    * append-only index table; the maintained index must equal the
    * batch-built index exactly, proving a persisted gram index can be
    * kept current BY THE INGEST STREAM — new docs append their rows,
    * nothing is recomputed, because the index is per-doc decomposable
    * (one row per (doc, gram), no cross-doc aggregation). Graded as the
    * per-doc index summary (distinct-gram count + gid range) against
    * the batch gram chain's oracle. */
  def streamIndexMaintenance(s: SparkSession, d: String): DataFrame =
    Replay.scratch("graft_stream_gidx") { dir =>
      val partials = dir.resolve("index").toString
      Replay.drain(s, docStreamSource(s, d), DocStream.docSchema, EachBatch((batch, _) =>
        TextOps.explodeGramIds(batch, 8).distinct()
          .write.mode("append").parquet(partials)))(identity)
      s.read.parquet(partials)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          min(col("gid")).as("min_gid"), max(col("gid")).as("max_gid"))
        .orderBy("doc_id")
    }

  /** Streaming per-source quota — t56's domain cap maintained as
    * bounded state over the arriving document stream: each source's
    * K-best admitted set (n_chars DESC, doc_id ASC — t56's exact
    * ranking) lives in flatMapGroupsWithState; a batch's arrivals merge
    * in and the set re-emits tagged with a per-source sequence number
    * ONLY when it changed. The graded frame keeps each source's LAST
    * snapshot — which, because K-best-of-union is order-independent
    * (the KMV mergeability argument, executed by QuotaSplitSpec over
    * adversarial splits), must equal the batch cap's admitted set
    * under any micro-batch split: the oracle IS t56's kept set.
    * State: K (id, chars) pairs per source — bounded by construction;
    * the last-snapshot pick is a max(seq) window over the
    * |batches|×|sources|×K drained rows, metadata scale. */
  def streamSourceQuota(s: SparkSession, d: String): DataFrame =
    Replay.scratch("graft_stream_quota") { dir =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      docsToParquet(s, docStreamSource(s, d), dir)(DocStream.sourceQuota(TextOps.SourceCap))
        .withColumn("mx", max(col("seq")).over(w))
        .filter(col("seq") === col("mx"))
        .select("source", "rk", "doc_id", "n_chars")
        .orderBy("source", "rk")
    }

  /** Streaming last-touch attribution — e19's stateful twin, and the
    * one streaming query whose state must CARRY ACROSS MICRO-BATCHES in
    * event-time order: the source replays as four time-sliced batches
    * (a day-by-day ingest shape), each user's single (touch type, time)
    * lives in flatMapGroupsWithState, and a purchase arriving in slice
    * k+1 attributes to a touch from slice k via state, not via any
    * rescan. Per-purchase attributions drain to the sink; the graded
    * frame is the channel census, which must hash-match batch e19's
    * oracle exactly — window-carried batch semantics ≡ state-carried
    * streaming semantics. State is |users|-bounded (one small case
    * class each; production adds the semantically-free 7-day TTL). */
  def streamAttribution(s: SparkSession, d: String): DataFrame =
    Replay.drain(s, timeSlicedStreamSource(s, d), EventStream.schema,
        Memory("graft_stream_attrib"))(EventStream.attribute)
      .out.groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        Tables.asDbl(sum(Tables.dec(col("value")))).as("attributed_value"))
      .orderBy("channel")

  /** Streaming retrieval scoring — t48's TF-IDF scorer run AT INGEST:
    * the idf model trains ONCE batch-side from the corpus snapshot (the
    * offline-train / online-score posture every retrieval deployment
    * runs), broadcasts into the stream, and each arriving micro-batch
    * of docs scores itself with the SAME Column expressions via
    * foreachBatch — each row is a whole doc, so per-doc tf is complete
    * within its batch and no cross-batch state is needed. The drained
    * score log must agree doc for doc with the batch scorer under the
    * frozen model (t48's oracle chain minus the top-k cut), which is
    * exactly the parity a search tier relies on: index-time scores ==
    * reindex-from-snapshot scores. */
  def streamRetrievalScore(s: SparkSession, d: String): DataFrame = {
    val idf = TextOps.tfidfIdf(s, d).localCheckpoint()
    Replay.scratch("graft_stream_retr") { dir =>
      val partials = dir.resolve("scores").toString
      Replay.drain(s, docStreamSource(s, d), DocStream.docSchema, EachBatch((batch, _) =>
        TextOps.tfidfScore(batch, idf)
          .write.mode("append").parquet(partials)))(identity)
      s.read.parquet(partials)
        .select(col("doc_id"), col("n_terms"),
          round(col("scoreq").cast("double") / 1e6, 6).as("score"))
        .orderBy("doc_id")
    }
  }

  /** Streaming sketch maintenance — t46's mergeability property run
    * LIVE: each micro-batch computes its own partial per-source MinHash
    * sketch (the batch's docs → gram ids → min per slot) and appends it
    * to a partials table; the final per-source sketch is the slotwise
    * MIN over all partials. Micro-batches ARE the ingest shards here,
    * so hash-matching batch t46's sketch (the oracle) proves sketches
    * can be maintained incrementally at ingest — no reprocessing, no
    * distinct-gram state, state per source = 16 longs per batch row.
    * SketchMergeSpec proves the algebra; this proves the pipeline. */
  def streamSketchMaintenance(s: SparkSession, d: String): DataFrame =
    Replay.scratch("graft_stream_sketch") { dir =>
      val partials = dir.resolve("partials").toString
      Replay.drain(s, docStreamSource(s, d), DocStream.docSchema, EachBatch { (batch, id) =>
        val sg = TextOps.explodeGramIds(batch, 8)
          .join(batch.select("doc_id", "source"), "doc_id")
          .select("source", "gid")
        TextOps.gramSketch(sg).withColumn("batch_id", lit(id))
          .write.mode("append").parquet(partials)
      })(identity)
      val mins = (0 until TextOps.NumHashes).map(j => min(col(s"mh$j")).as(s"mh$j"))
      s.read.parquet(partials)
        .groupBy("source").agg(mins.head, mins.tail: _*)
        .orderBy("source")
    }

  /** Streaming ETL into a LIVE relational database — the reference's
    * flagship sink (JDBC bulk append) fed by a stream: each micro-batch
    * lands in an embedded-Derby table through `foreachBatch` + the same
    * per-partition JDBC writer the batch loads use, then the result is
    * read BACK through spark.read.jdbc and audited — so what's verified
    * is the database's content, not the stream's output. At scale this
    * is the standard exactly-once-ish relational sink shape: idempotent
    * batched appends, one connection per partition per micro-batch, and
    * the URL swap is the only difference on a real cluster.
    * The audit frame is localCheckpoint'ed so it survives the scratch
    * database teardown. */
  def streamJdbcSink(s: SparkSession, d: String): DataFrame = {
    import graft.load.{JdbcRoundTrip, JdbcSink}
    val url = s"jdbc:derby:memory:graft_ss_${System.nanoTime()}"
    val target = JdbcSink.Target(url, "", "")
    JdbcRoundTrip.ensureDatabase(url)
    try {
      JdbcSink.execute(target, Seq(
        """CREATE TABLE "events_sink" ("event_id" BIGINT, "event_type" VARCHAR(50), "value" DOUBLE)"""))
        .head.foreach(e => sys.error(s"create events_sink failed: $e"))
      Replay.drain(s, multiFileStreamSource(s, d), EventStream.schema, EachBatch((batch, _) =>
        batch.select(col("event_id"), col("event_type"), col("value"))
          .write.mode("append").jdbc(url, "\"events_sink\"", JdbcSink.props(target))))(identity)
      s.read.jdbc(url, "\"events_sink\"", JdbcSink.props(target))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Tables.asDbl(sum(Tables.dec("value"))).as("sum_value"))
        .orderBy("event_type")
        .localCheckpoint() // materialize before the database is dropped
    } finally JdbcRoundTrip.dropDatabaseQuietly(url)
  }

  /** s20 — transactional incremental VIEW maintenance in-stream: q45's
    * merge pattern (view' = re-agg of view ∪ delta-agg) executed per
    * micro-batch through foreachBatch, guarded by g15's ledger idea as
    * per-batch marker files, with the view swapped atomically each
    * batch (write-to-temp + rename — a reader can never observe a
    * half-written view). The maintained per-user aggregate equals a
    * batch recompute because sum/count are mergeable; the graded output
    * is the read-side top-10 — computed FROM the full keyed view, never
    * from per-batch top-10s (top-k of sums is NOT mergeable from
    * partial top-ks; maintaining the keyed view and cutting at read is
    * the correct decomposition). ViewMaintenanceSpec replays a batch
    * against the finished view and asserts the ledger refuses it.
    *
    * At 100 TB/day this is the materialized-view ingest loop: refresh
    * cost |batch| + |view| per batch, snapshot never rescanned, a retry
    * safely refused by the marker. */
  def streamViewMaintenance(s: SparkSession, d: String): DataFrame =
    Replay.scratch("graft_view_maint") { root =>
      Replay.drain(s, multiFileStreamSource(s, d), EventStream.schema,
        EachBatch((batch, id) => applyViewDelta(s, root, batch, id)),
        checkpoint = Some(root.resolve("cp").toString))(identity)
      s.read.parquet(root.resolve("view").toString)
        .orderBy(col("sum_value").desc, col("user_id").asc).limit(10)
        .select(col("user_id"), col("n_events"),
          Tables.asDbl(col("sum_value")).as("sum_value"))
    }

  /** One exactly-once view refresh: skip if this batch's marker exists
    * (the g15 refusal), else merge the batch's partial aggregate into
    * the view and swap atomically. Package-visible so the spec can
    * replay a batch against the finished view. */
  private[queries] def applyViewDelta(s: SparkSession, root: java.nio.file.Path,
      batch: DataFrame, id: Long): Unit = {
    val marker = root.resolve(s"_batch_$id")
    if (!java.nio.file.Files.exists(marker)) {
      val delta = batch.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(Tables.dec("value")).as("sum_value"))
      val viewDir = root.resolve("view")
      val merged =
        if (java.nio.file.Files.exists(viewDir))
          s.read.parquet(viewDir.toString)
            .select(col("user_id"), col("n_events"), col("sum_value").cast(Tables.Dec))
            .unionByName(delta)
            .groupBy("user_id")
            .agg(sum("n_events").cast("long").as("n_events"),
              sum("sum_value").cast(Tables.Dec).as("sum_value"))
        else delta
      val tmp = root.resolve(s"view_tmp_$id")
      merged.select(col("user_id"), col("n_events"),
          col("sum_value").cast(Tables.Dec).as("sum_value"))
        .write.mode("overwrite").parquet(tmp.toString)
      val old = root.resolve(s"view_old_$id")
      if (java.nio.file.Files.exists(viewDir))
        java.nio.file.Files.move(viewDir, old)
      java.nio.file.Files.move(tmp, viewDir,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      if (java.nio.file.Files.exists(old)) rmrf(old)
      java.nio.file.Files.createFile(marker); ()
    }
  }

  /** s26 — streaming CDC INGESTION: q54's change feed applied to q55's
    * merge-on-read log one micro-batch at a time, with g15's ledger
    * (per-batch committed dirs, landed by ONE atomic rename each —
    * [[applyCdcBatch]]) guarding replay. The change feed (deletes
    * for keys ≡ 0 mod 101, repriced updates for surviving keys ≡ 0 mod
    * 97, negative-key inserts for keys ≡ 0 mod 103 — q54's derivation
    * verbatim, so the three operators cross-check) lands as multiple
    * source files; each micro-batch commits O(|batch|) tombstone and
    * append files — an update is tombstone(k) + append(new row), the
    * standard MoR upsert — and NEVER touches the base. The graded
    * output is q55's read-side census (version, rows, exact-decimal
    * price sum, key range) for the base and the fully-ingested
    * snapshot; the oracle restates both snapshots over raw parquet, so
    * the log-structured CDC path must be result-invisible.
    *
    * Batch-order freedom is the correctness core: tombstone and append
    * sets are unions and the read formula (base ∖ tombs ∪ appends)
    * applies them wholesale, so ANY partition of the feed into
    * micro-batches — and any replay ORDER — reconstructs the identical
    * snapshot; the marker ledger reduces redelivery to a no-op
    * (CdcIngestSpec replays a committed batch and asserts refusal).
    * At 100 TB this is the lakehouse CDC ingest loop: commit cost
    * O(|delta|), replay-safe under driver restart, compaction deferred
    * to q57/q59's schedule. */
  def streamCdcIngest(s: SparkSession, d: String): DataFrame =
    Replay.scratch("graft_stream_cdc") { root =>
      val cur = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), Tables.dec(col("o_totalprice")).as("p"))
      val baseDir = root.resolve("base")
      cur.write.parquet(baseDir.toString)
      // q54's rules as an op-typed change feed
      val feed = cur.filter(pmod(col("k"), lit(101)) === 0)
          .select(lit("D").as("op"), col("k"), lit(null).cast(Tables.Dec).as("p"))
        .unionByName(cur
          .filter(pmod(col("k"), lit(97)) === 0 && pmod(col("k"), lit(101)) =!= 0)
          .select(lit("U").as("op"), col("k"),
            (col("p") + Tables.dec(lit(10.00))).cast(Tables.Dec).as("p")))
        .unionByName(cur.filter(pmod(col("k"), lit(103)) === 0)
          .select(lit("I").as("op"), (-col("k")).as("k"), col("p")))
      val srcDir = root.resolve("src").toString
      feed.repartition(4).write.parquet(srcDir) // ≥2 files → ≥2 micro-batches
      Replay.drain(s, srcDir, feed.schema,
        EachBatch((batch, id) => applyCdcBatch(s, root, batch, id)),
        checkpoint = Some(root.resolve("cp").toString))(identity)
      val base = s.read.parquet(baseDir.toString)
      val ingested = base
        .join(cdcTombstones(s, root), Seq("k"), "left_anti")
        .unionByName(cdcAppends(s, root))
      def census(v: Int, df: DataFrame) =
        df.agg(count(lit(1)).as("n_rows"),
            Tables.asDbl(sum(col("p"))).as("sum_price"),
            min(col("k")).as("min_key"), max(col("k")).as("max_key"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_price"),
            col("min_key"), col("max_key"))
      census(1, base).unionByName(census(2, ingested))
        .orderBy("version")
    }

  /** s27 — the compaction TRIGGER's accounting maintained IN-STREAM:
    * q59's read-amplification decision (orders row) with its three
    * counts (base rows, q55's mod-101 tombstones, mod-103 appends)
    * carried as a streaming Complete-mode aggregate across micro-batches
    * — the ingest side of the scheduler loop, where a 100 TB deployment
    * never re-scans the table to decide compaction: the commit stream
    * maintains the counts and the threshold reads metadata. Counts are
    * mergeable sums, so the state store holds ONE row of partials and
    * the final emission equals the batch scan exactly — graded against
    * q59's orders accounting restated over raw parquet, threshold and
    * decision bit included (exact integer arithmetic throughout). */
  def streamCompactionTrigger(s: SparkSession, d: String): DataFrame =
    Replay.scratch("graft_stream_ct") { root =>
      val keys = Tables.orders(s, d).select(col("o_orderkey").as("k"))
      val srcDir = root.resolve("src").toString
      keys.repartition(4).write.parquet(srcDir) // ≥2 files → ≥2 batches
      Replay.drain(s, srcDir, keys.schema, Memory("graft_s27_acct"), OutputMode.Complete) {
        _.agg(count(lit(1)).as("base_rows"),
          sum(when(pmod(col("k"), lit(101)) === 0, 1L).otherwise(0L)).as("tomb_rows"),
          sum(when(pmod(col("k"), lit(103)) === 0, 1L).otherwise(0L)).as("apnd_rows"))
      }.out
        .withColumn("amp_permille",
          expr("(tomb_rows + apnd_rows) * 1000 div base_rows"))
        .withColumn("compact",
          (col("amp_permille") >=
            graft.operators.MergeOnRead.AmpThresholdPermille).cast("int"))
        .select(lit("orders").as("tbl"), col("base_rows"), col("tomb_rows"),
          col("apnd_rows"), col("amp_permille"), col("compact"))
    }

  /** s28 — streaming HISTOGRAM-QUANTILE maintenance: k04's
    * per-(priority, bin) price histogram carried as a Complete-mode
    * aggregate across micro-batches, quantiles derived at READ from the
    * drained state through k04's own readout body. The decomposition is
    * the point: quantiles are NOT mergeable, histograms ARE
    * (count/min/max per bin) — so the stream maintains the |grp×bins|
    * histogram rows and the serve path cuts p50/p90/p99 from state,
    * never rescanning the data. This is the latency-dashboard posture
    * at 100 TB/day: state is bins, not events, and any percentile is
    * one |bins|-row window pass away. Shares k04's oracle verbatim —
    * incremental maintenance must land on the batch histogram bit for
    * bit. */
  def streamHistQuantiles(s: SparkSession, d: String): DataFrame =
    Replay.scratch("graft_stream_hq") { root =>
      val src = Tables.orders(s, d).select("o_orderpriority", "o_totalprice")
      val srcDir = root.resolve("src").toString
      src.repartition(4).write.parquet(srcDir) // ≥2 files → ≥2 batches
      val hist = Replay.drain(s, srcDir, src.schema, Memory("graft_s28_hist"),
        OutputMode.Complete)(SketchOps.ordersHist).out
      // localCheckpoint before the readout multi-references the
      // memory-sink table (the self-conflict resolve trap)
      SketchOps.histQuantileRead(hist.localCheckpoint())
    }

  /** s29 — the GRAPH ARTIFACT maintained at INGEST: the p-family's
    * bipartite trading-pair index (ArtifactStore's `bipartite`, the
    * frame p01/p05/p07's loops iterate) built incrementally as lineitem
    * rows ARRIVE instead of rebuilt from a snapshot. Each micro-batch
    * stream-static joins against the orders side (stateless — the
    * static side holds no join state), and stateful first-seen
    * dropDuplicates on the (cn, sn) pair emits every edge EXACTLY ONCE
    * at first observation — the drained sink IS the distinct edge set,
    * maintained with |E|-bounded state (the index's own size; a derived
    * index's maintenance state can never exceed the index). Graded as
    * the log2-binned degree histogram of the maintained graph against
    * the raw-parquet restatement: the incrementally-built artifact must
    * equal the batch rebuild edge for edge.
    *
    * At 100 TB this closes the artifact loop: the deployed graph index
    * ingests the day's trades as they land — new edges append, repeat
    * observations deduplicate against index state, and the analytical
    * loops (p01/p05/p07/p11) read the same artifact they would have
    * gotten from a full rebuild, without the rebuild. */
  def streamEdgeMaintenance(s: SparkSession, d: String): DataFrame = {
    // cross-RUN artifact (round-15 brief #8 — the inc_cc/capped_adj2
    // convention applied to the s family's next-largest pure fold,
    // 5.4 s of replay): the maintained EDGE SET is first-seen dedup —
    // set union, order-independent under any micro-batch split — and
    // a deployment's edge index does not re-ingest history per
    // session. The key folds both source fixtures plus a fold-shape
    // tag derived from the fold's source (EdgeMaintStreamSpec's
    // tag-lock recomputes it — the IncCcFoldTag rule), so editing the
    // plan or the replay cannot silently serve stale edges. The fold
    // itself stays executed by EdgeMaintStreamSpec's at-least-once
    // redelivery drive plus every fresh-fixture build.
    val edges = graft.sources.ArtifactStore.loadOrBuild(s, "edge_maint",
      graft.sources.ArtifactStore.key(d, "lineitem.parquet") + "-" +
        graft.sources.ArtifactStore.key(d, "orders.parquet") + "-" + EdgeMaintFoldTag) {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      val srcDir = liPairStreamSource(s, d) // shared replay source (s31 too)
      val ordersStatic = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      Replay.drain(s, srcDir, li.schema, Memory("graft_s29_edges"))(
        edgeMaintPlan(ordersStatic)).out
    }.localCheckpoint() // multi-referenced below
    val deg = edges.select(col("cn").as("n")).unionByName(edges.select(col("sn").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    deg.groupBy((length(bin(col("dg"))) - 1).cast("long").as("log2_bin"))
      .agg(count(lit(1)).as("n_nodes"),
        min("dg").as("min_deg"), max("dg").as("max_deg"))
      .orderBy("log2_bin")
  }

  /** s29 artifact fold-shape tag — the IncCcFoldTag rule applied to the
    * edge fold: sha256 (first 8 hex) over the source of the three defs
    * the persisted edge set derives from ([[liPairStreamSource]],
    * [[edgeMaintPlan]], [[streamEdgeMaintenance]]);
    * EdgeMaintStreamSpec's tag-lock recomputes it, so a derivation edit
    * without a bump is a test failure, never a stale artifact. */
  private[graft] val EdgeMaintFoldTag = "emf-5445e687"

  /** s31 — INCREMENTAL connected components maintained as trades
    * arrive: s29 keeps the edge artifact fresh at ingest; this keeps the
    * downstream ANALYSIS fresh too. Per micro-batch of lineitem
    * arrivals, the new (first-seen) trading edges fold into the
    * accumulated pair set and p13's semi-naive min-label flood runs TO
    * FIXPOINT seeded with ONLY the new edges' endpoints — the incremental-
    * connectivity textbook move: a new edge can only merge components,
    * so the smaller label floods outward along existing edges and
    * every non-improved node's state is already final (min is
    * monotone, no retractions — the same argument as p13). The graded
    * readout is the final component census, and the oracle computes it
    * from scratch over the batch graph (a recursive min-label closure),
    * so "incrementally maintained ≡ recomputed" IS the grade.
    *
    * Scale: per batch the flood touches |edges out of the shrinking
    * frontier| — a day's arrivals mostly attach to existing components
    * and quiesce in a round or two; the accumulated pair frame is the
    * same |E|-bounded state s29's dedup carries (at 100 TB both live
    * partitioned on the key; the fixture rebuilds the lazy edge view
    * per batch). */
  def streamIncrementalCc(s: SparkSession, d: String): DataFrame = {
    // cross-RUN artifact (round-14 brief #3 — the capped_adj/partedges
    // convention applied to the board's worst cold, 11.8 s): the
    // maintained (node, lbl) frame is a pure fold of the replay, and
    // a deployment's CC index does NOT re-ingest history per session —
    // the first JVM runs the multi-micro-batch ingest and persists
    // its final label state; later JVMs scan it. The name folds in
    // BOTH source fixtures (edges come from lineitem⋈orders) so
    // regenerating either invalidates it, plus a fold-shape tag
    // ("cc1") so a derivation change can never serve a stale state
    // (the capped_adj rule). The fold itself stays executed by
    // IncCcStreamSpec's planted cross-batch component merge plus
    // every fresh-fixture build; the oracle recomputes the census
    // from scratch over the batch graph, so "incrementally
    // maintained ≡ recomputed" stays the grade either way.
    graft.sources.ArtifactStore.loadOrBuild(s, "inc_cc",
      graft.sources.ArtifactStore.key(d, "lineitem.parquet") + "-" +
        graft.sources.ArtifactStore.key(d, "orders.parquet") + "-" + IncCcFoldTag) {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      val srcDir = liPairStreamSource(s, d) // shared replay source (s29 too)
      val ordersStatic = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      import s.implicits._
      var pairsAcc = Seq.empty[(Long, Long)].toDF("cn", "sn").localCheckpoint()
      var labels = Seq.empty[(Long, Long)].toDF("node", "lbl").localCheckpoint()
      Replay.drain(s, srcDir, li.schema, EachBatch { (batch, _) =>
        // first-seen dedup against the accumulated index (s29's
        // bounded-state argument, expressed as one keyed anti-join)
        val newPairs = batch.join(ordersStatic,
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("cn"),
            (col("l_suppkey") * 2 + 1).as("sn"))
          .distinct()
          .join(pairsAcc, Seq("cn", "sn"), "left_anti")
          .localCheckpoint()
        if (newPairs.limit(1).count() > 0) {
          val (l2, p2) = incCcFold(labels, pairsAcc, newPairs)
          labels = l2; pairsAcc = p2
        }
      })(identity)
      labels
    }
      .groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("component").asc).limit(20)
  }

  /** The INGEST-MAINTAINED capped adjacency (c, nb): p06's per-center
    * first-CapA-by-id neighbor cut, kept fresh as orders ARRIVE instead
    * of re-cut from a snapshot (round-12 brief #5 — s29's artifact
    * discipline applied to the wedge generator's input). Per
    * order-complete micro-batch, the batch's co-occurrence pairs (a
    * within-batch self-join on the order key — edges only ever form
    * inside one order, which the sliced source keeps whole) merge into
    * the carried lists via [[GraphOps.cappedMergeFold]]; the min-CapA
    * sketch property makes the maintained cut EQUAL the batch cut over
    * everything observed. State is ≤ CapA·|V| ids — a derived index's
    * maintenance state, never |E|. p14 serves p06's whole pipeline from
    * this frame; s32's census grades it against a from-scratch oracle. */
  private[queries] def cappedAdjacencyArtifact(s: SparkSession, d: String): DataFrame = {
    cappedAdjCache(s, d) {
      // cross-RUN artifact (the partedges/gram-index convention): the
      // maintained adjacency is exactly what the ingest stream leaves
      // behind for queries to serve from — a deployment does NOT replay
      // its ingest per session. The first JVM runs the 4-micro-batch
      // ingest and persists its final state; later JVMs scan it (p14's
      // "served from the artifact" posture made literal). The fixture-
      // keyed name auto-invalidates on data change, and the incremental
      // fold itself stays executed by CappedAdjStreamSpec's planted
      // cross-batch displacement plus every fresh-fixture build.
      // the artifact name folds in the cut's DERIVATION PARAMETER
      // (CapA) beside the fixture digest (round-14 advice): a re-tuned
      // CapA without a global FormatVersion bump used to serve the OLD
      // persisted cut, surfacing only later as a confusing p14/s32
      // oracle mismatch. The tournament's slice count is deliberately
      // NOT in the name — the cut is slice-count-invariant (the
      // containment proof at SketchOps.saltedRank), so a slice re-tune
      // must not force a rebuild. The kind is "capped_adj2" because the
      // pre-r15 kind keyed on the bare fixture digest; its dirs would
      // strand forever under gc()'s conservative keep (the digest still
      // reproduces), so the OLD kind is retired wholesale
      // (ArtifactStore.RetiredKinds) — the documented path for a key-
      // schema change.
      graft.sources.ArtifactStore.loadOrBuild(s, "capped_adj2",
        graft.sources.ArtifactStore.key(d, "lineitem.parquet") +
          s"-capa${GraphOps.CapA}") {
        import s.implicits._
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
        var capped = Seq.empty[(Long, Long)].toDF("c", "nb").localCheckpoint()
        Replay.drain(s, okSlicedLiPartSource(s, d), li.schema, EachBatch { (batch, _) =>
          val b = batch.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          val pairs = b.join(b.withColumnRenamed("pk", "pk2"), "ok")
            .filter(col("pk") < col("pk2"))
            .select(col("pk").as("a"), col("pk2").as("b"))
            .distinct()
          capped = GraphOps.cappedMergeFold(capped, pairs)
        })(identity)
        capped
      }.localCheckpoint()
    }
  }

  private val cappedAdjCache = Memos.memo[String, DataFrame]()

  /** s32 — the capped-adjacency artifact's graded census: per list
    * size (1..CapA), how many centers hold that many capped neighbors
    * and two integer checksums over (center, neighbor) ids. The oracle
    * recomputes the cut FROM SCRATCH over the batch co-occurrence
    * graph, so "incrementally maintained ≡ recomputed" is the grade —
    * s31's rule, applied to the artifact p14 serves from. */
  def streamCappedAdjacency(s: SparkSession, d: String): DataFrame =
    cappedAdjacencyArtifact(s, d)
      .groupBy("c")
      .agg(count(lit(1)).as("n_nbrs"), sum("nb").as("snb"))
      .groupBy("n_nbrs")
      .agg(count(lit(1)).as("n_centers"),
        sum("c").as("sum_c"), sum("snb").as("sum_nb"))
      .orderBy("n_nbrs")

  /** s33 — the TRAINED quality gate at INGEST (t63's streaming twin):
    * each micro-batch of arriving documents is scored with the t62
    * epoch-6 weights — the offline-trained model is the deployed
    * artifact; the stream never touches the distinct-count label state
    * the gate distilled away — and folds its per-batch confusion
    * partials (docs + token mass per (pred, actual) cell). Counts and
    * sums are mergeable, so batch-partial census ≡ corpus census by
    * construction, and the grade makes it an oracle fact: s33 shares
    * t63's oracle text verbatim (the p06/p14 rule), whose weight CTEs
    * rederive the training, so "stream-gated ≡ batch-gated ≡ trained"
    * is one hash check end to end. */
  def streamTrainedGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = TextOps.t62FinalWeights(s, d)
    var acc = Seq.empty[(Long, Long, Long, Long)]
      .toDF("pred_keep", "actual_keep", "n_docs", "n_tokens")
      .localCheckpoint()
    Replay.drain(s, docStreamSource(s, d), DocStream.docSchema, EachBatch { (batch, _) =>
      val part = TextOps.t63CensusOf(TextOps.t62FeaturesOf(batch), w)
      acc = acc.unionByName(part).localCheckpoint() // per-batch lineage cut
    })(identity)
    acc.groupBy("pred_keep", "actual_keep")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy("pred_keep", "actual_keep")
  }

  /** s34 — the TRAINED TOKENIZER at INGEST (t64's streaming twin,
    * closing the trainer→encoder loop into the modality matrix the way
    * s33 closed t62→t63): the merge table trains once batch-side (the
    * deployed model artifact — the stream never re-trains), and each
    * micro-batch of arriving documents encodes itself with the same
    * per-row replace chain, folding mergeable per-source partials
    * (doc/word/token counts, the Σ doc_id·n_tok checksum, max doc
    * tokens — sums and max both merge under any batch split). Shares
    * t64's oracle text VERBATIM (the p06/p14 rule), whose CTEs
    * rederive the merges from scratch — so "stream-encoded ≡
    * batch-encoded ≡ trained" is one end-to-end hash check.
    *
    * Scale: per batch ONE expression pass + a ≤|sources|-row partial;
    * no state store, no shuffle before the partial agg — a token
    * census that is always current as the corpus lands. */
  def streamBpeCensus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val merges = TextOps.trainedBpeMerges(s, d)
    var acc = Seq.empty[(String, Long, Long, Long, Long, Long)]
      .toDF("source", "n_docs", "n_words", "n_tokens",
        "doc_tok_checksum", "max_doc_tokens")
      .localCheckpoint()
    Replay.drain(s, docStreamSource(s, d), DocStream.docSchema, EachBatch { (batch, _) =>
      val part = TextOps.bpeEncodeOn(batch, merges)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
          sum("n_tok").as("n_tokens"),
          sum(col("doc_id") * col("n_tok")).as("doc_tok_checksum"),
          max("n_tok").as("max_doc_tokens"))
      acc = acc.unionByName(part).localCheckpoint() // per-batch lineage cut
    })(identity)
    acc.groupBy("source")
      .agg(sum("n_docs").as("n_docs"), sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"),
        sum("doc_tok_checksum").as("doc_tok_checksum"),
        max("max_doc_tokens").as("max_doc_tokens"))
      .orderBy("source")
  }

  /** s31 artifact fold-shape tag, LOCKED to the fold's implementation
    * (round-15 advice: the old hand-maintained "cc1" could go stale —
    * editing [[incCcFold]] or the replay without bumping it would serve
    * a stale persisted label state, the capped_adj2/CapA failure class
    * for a derivation with no scalar parameter to key on). The suffix
    * is the first 8 hex of sha256 over the SOURCE of the three defs the
    * persisted state derives from ([[liPairStreamSource]],
    * [[incCcFold]], [[streamIncrementalCc]]); IncCcStreamSpec's
    * tag-lock test recomputes it and fails the moment any of them
    * changes without this constant being bumped to the value the
    * failing test prints — a derivation edit can no longer silently
    * reuse the old artifact. */
  private[graft] val IncCcFoldTag = "ccf-2334f1e1"

  /** One incremental fold: new first-seen pairs join the accumulated
    * set, arrivals register under their own label, and the min-label
    * flood runs to fixpoint seeded with ONLY the touched endpoints —
    * factored so IncCcStreamSpec can plant a cross-batch component
    * merge. Returns the (labels, pairs) state for the next batch. */
  private[queries] def incCcFold(labels0: DataFrame, pairsAcc0: DataFrame,
      newPairs: DataFrame): (DataFrame, DataFrame) = {
    val pairsAcc = pairsAcc0.unionByName(newPairs).localCheckpoint()
    val edges = pairsAcc.select(col("cn").as("src"), col("sn").as("dst"))
      .unionByName(pairsAcc.select(col("sn").as("src"), col("cn").as("dst")))
    val touched = newPairs.select(col("cn").as("node"))
      .unionByName(newPairs.select(col("sn").as("node"))).distinct()
    // register arrivals under their own id, then seed the flood with
    // every touched endpoint's CURRENT label
    var labels = labels0.join(touched, Seq("node"), "outer")
      .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
      .localCheckpoint()
    var ch = labels.join(touched, Seq("node"))
    var rounds = 0
    var nCh = ch.count()
    while (nCh > 0) {
      rounds += 1
      require(rounds <= 200, "incremental CC failed to converge")
      val cand = ch.hint("shuffle_hash")
        .join(edges, col("node") === col("src"))
        .select(col("dst"), col("lbl"))
        .groupBy(col("dst").as("node")).agg(min("lbl").as("cand"))
      val merged = labels.join(cand, Seq("node"), "left")
        .withColumn("imp", col("cand").isNotNull && col("cand") < col("lbl"))
        .select(col("node"),
          when(col("imp"), col("cand")).otherwise(col("lbl")).as("lbl"),
          col("imp"))
        .localCheckpoint()
      labels = merged.select("node", "lbl")
      ch = merged.filter(col("imp")).select("node", "lbl")
      nCh = ch.count()
    }
    (labels, pairsAcc)
  }

  /** s29's in-stream body, factored so EdgeMaintStreamSpec can drive it
    * over an at-least-once (redelivered) source: stream-static join to
    * attach the customer side, then stateful first-seen dedup on the
    * encoded pair — the index state absorbs BOTH duplicate deliveries
    * and genuine repeat trades. */
  private[queries] def edgeMaintPlan(ordersStatic: DataFrame)(st: DataFrame): DataFrame =
    st.join(ordersStatic, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cn"), (col("l_suppkey") * 2 + 1).as("sn"))
      .dropDuplicates("cn", "sn")

  /** One exactly-once CDC commit: skip if this batch's committed dir
    * exists (the g15 refusal), else land the batch's tombstones (D + U
    * old keys) and appends (U new rows + I rows) under ONE staging dir
    * and ATOMIC_MOVE it into place — the move is the single commit
    * point, so a crash between the two parquet writes leaves nothing
    * visible and a redelivery re-stages from scratch (the earlier shape
    * appended both sides to shared dirs and marked afterwards; a crash
    * between the appends-write and the marker duplicated every U/I row
    * on redelivery). O(|batch|) files per commit; readers list the
    * committed dirs ([[cdcTombstones]]/[[cdcAppends]]).
    * Package-visible so CdcIngestSpec can replay a committed batch. */
  private[queries] def applyCdcBatch(s: SparkSession, root: java.nio.file.Path,
      batch: DataFrame, id: Long): Unit = {
    val committed = root.resolve(s"cdc_batch_$id")
    if (!java.nio.file.Files.exists(committed)) {
      val stage = root.resolve(s"cdc_stage_$id")
      batch.filter(col("op").isin("D", "U")).select("k")
        .write.mode("overwrite").parquet(stage.resolve("tombs").toString)
      batch.filter(col("op").isin("U", "I")).select(col("k"), col("p"))
        .write.mode("overwrite").parquet(stage.resolve("apnds").toString)
      java.nio.file.Files.move(stage, committed,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE); ()
    }
  }

  /** Union of every committed batch's tombstone keys. */
  private[queries] def cdcTombstones(s: SparkSession,
      root: java.nio.file.Path): DataFrame =
    cdcLog(s, root, "tombs", new StructType().add("k", LongType))

  /** Union of every committed batch's append rows. */
  private[queries] def cdcAppends(s: SparkSession,
      root: java.nio.file.Path): DataFrame =
    cdcLog(s, root, "apnds", new StructType().add("k", LongType).add("p", Tables.Dec))

  /** Subdir `sub` of every committed batch, read as explicit paths (Spark
    * stats a lone glob path literally and logs a FileNotFoundException
    * stack trace). The explicit schema keeps an all-empty side readable (a
    * 0-row batch write may land no parquet footers to infer from). */
  private def cdcLog(s: SparkSession, root: java.nio.file.Path, sub: String,
      schema: StructType): DataFrame = {
    val dirs = root.toFile.list().filter(_.startsWith("cdc_batch_")).sorted
      .map(d => root.resolve(d).resolve(sub).toString)
    if (dirs.isEmpty) s.createDataFrame(java.util.List.of[Row](), schema)
    else s.read.schema(schema).parquet(dirs.toSeq: _*)
  }

  /** Restart-from-checkpoint sessionization: the s01 plan killed
    * mid-stream and recovered. The fixture is split in event time at its
    * midpoint; phase 1 streams the first half with a durable checkpoint
    * and an exactly-once parquet sink, the query is STOPPED (the crash),
    * the second half lands in the source, and the identical plan
    * restarts from the same checkpoint. Every session spanning the kill
    * boundary must be stitched from the recovered state store (a lost
    * checkpoint would restart sess_ids at 1 and double-emit) — so
    * matching s01's closed-session oracle IS the state-recovery proof.
    * The result is checkpointed and the scratch dirs deleted eagerly. */
  def streamRestartSessions(s: SparkSession, d: String): DataFrame =
    Replay.scratch("graft_stream_rs") { stage =>
      val src = stage.resolve("src").toString
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      // Deterministic kill point: the midpoint of the LONGEST closed
      // session (ties broken by user/sess id). Killing INSIDE a session
      // makes the restart non-vacuous by construction — that user's open
      // session must cross the stop/restart in the state store, so a
      // lost checkpoint could not reproduce the oracle. A TIME split
      // (not a row split) keeps each user's events ordered across the
      // phases, which the stateful session function requires.
      val batch = EventOps.sessionize(s, d)
      val lastS = batch.groupBy("user_id").agg(max("sess_id").as("last_sess"))
      val pick = batch.join(lastS, "user_id")
        .filter(col("sess_id") < col("last_sess") && col("n_events") >= 2)
        .orderBy(col("n_events").desc, col("user_id"), col("sess_id"))
        .select("start_us", "end_us").limit(1).collect().head
      val midUs = (pick.getLong(0) + pick.getLong(1)) / 2 max (pick.getLong(0) + 1)
      ev.filter(unix_micros(col("ts")) < midUs)
        .coalesce(1).write.mode("overwrite").parquet(src)
      // the crash: run 1 drains phase 1 and stops; the second half
      // lands; run 2 restarts the identical plan from the same checkpoint
      def run() = Replay.drain(s, src, EventStream.schema,
        Parquet(stage.resolve("out").toString),
        checkpoint = Some(stage.resolve("ckpt").toString),
        oneFilePerBatch = false)(EventStream.sessionize)
      val b1 = run().batches
      ev.filter(unix_micros(col("ts")) >= midUs)
        .coalesce(1).write.mode("append").parquet(src)
      val r2 = run()
      // both runs must have processed real batches, or the "restart"
      // proved nothing (phase 2 carries the whole second half)
      require(b1 >= 1 && r2.batches >= 1, s"expected work in both runs, got $b1/${r2.batches}")
      r2.out.select("user_id", "sess_id", "n_events", "start_us", "end_us", "sum_value")
        .orderBy("user_id", "sess_id")
    }

  private val D = "DECIMAL(18,2)"

  val defs: Map[String, QueryDef] = Map(
    "s01_stream_sessions" -> QueryDef(streamSessions _,
      s"""WITH x AS (SELECT user_id, event_id, ts, value,
         |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
         |  FROM events),
         |f AS (SELECT *, CASE WHEN prev_us IS NULL
         |        OR epoch_us(ts) - prev_us > ${EventStream.GapUs} THEN 1 ELSE 0 END AS new_sess FROM x),
         |g AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM f),
         |sess AS (SELECT user_id, sess_id, COUNT(*) AS n_events,
         |    MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
         |    CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |  FROM g GROUP BY user_id, sess_id),
         |last AS (SELECT user_id, MAX(sess_id) AS last_sess FROM sess GROUP BY user_id)
         |SELECT s.user_id, s.sess_id, s.n_events, s.start_us, s.end_us, s.sum_value
         |FROM sess s JOIN last l ON s.user_id = l.user_id
         |WHERE s.sess_id < l.last_sess
         |ORDER BY s.user_id, s.sess_id""".stripMargin),

    "s02_stream_tumbling" -> QueryDef(streamTumbling _,
      """SELECT CAST(FLOOR(epoch_us(ts) / 300000000) * 300 AS BIGINT) AS w_start_epoch,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY w_start_epoch, event_type""".stripMargin),

    // the input stream carries every event TWICE; matching the plain
    // single-copy counts proves the stateful dedup dropped each duplicate
    "s03_stream_dedup" -> QueryDef(streamDedup _,
      """SELECT event_type, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // the batch left join over the SAME watermark-provable cut: absence
    // decisions must match — a click the stream null-pads is exactly a
    // click the batch join finds no purchase for
    "s23_stream_left_outer" -> QueryDef(streamLeftOuterJoin _,
      """WITH mx AS (SELECT LEAST(
        |    MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END),
        |    MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)) AS mts
        |  FROM events),
        |c AS (SELECT user_id, event_id AS c_id, ts AS c_ts FROM events, mx
        |      WHERE event_type = 'click' AND epoch_us(ts) <= mts - 7200000000),
        |p AS (SELECT user_id AS p_user, event_id AS p_id, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.user_id, c.c_id, p.p_id FROM c
        |      LEFT JOIN p ON p.p_user = c.user_id AND p.p_ts >= c.c_ts
        |        AND epoch_us(p.p_ts) - epoch_us(c.c_ts) <= 1800000000)
        |SELECT user_id, COUNT(DISTINCT c_id) AS n_clicks,
        |  COUNT(DISTINCT CASE WHEN p_id IS NULL THEN c_id END) AS n_unmatched,
        |  CAST(SUM(CASE WHEN p_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_pairs
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin),

    "s05_stream_stream_join" -> QueryDef(streamStreamJoin _,
      """SELECT c.user_id, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT p.event_id) AS n_purchases
        |FROM events c JOIN events p ON p.user_id = c.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin),

    // the streaming band index must reproduce the BATCH near-dup pair
    // set (t13's oracle) from incremental micro-batch arrivals — the
    // oracle is the same all-pairs hamming≤2 statement
    "s08_stream_near_dup" -> QueryDef(streamNearDup _,
      s"""${TextOps.SimhashCtesDuck}
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.simhash60, b.simhash60)) AS INT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 2
         |ORDER BY a_id, b_id""".stripMargin),

    // ALL sessions including open tails (the native operator emits the
    // tail on drain; s01's custom state holds it back) — otherwise the
    // same gap semantics and exact-decimal sums as s01's oracle
    "s10_stream_session_window" -> QueryDef(streamSessionWindow _,
      s"""WITH x AS (SELECT user_id, event_id, ts, value,
         |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
         |  FROM events),
         |f AS (SELECT *, CASE WHEN prev_us IS NULL
         |        OR epoch_us(ts) - prev_us > ${EventStream.GapUs} THEN 1 ELSE 0 END AS new_sess FROM x),
         |g AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM f)
         |SELECT user_id, MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM g GROUP BY user_id, sess_id
         |ORDER BY user_id, start_us""".stripMargin),

    // the stream must reproduce BATCH t19's per-doc contamination
    // evidence from incremental micro-batch arrivals — same oracle
    "s09_stream_decontaminate" -> QueryDef(streamDecontaminate _,
      s"""${TextOps.Gram8CtesDuck},
         |bench AS (SELECT gid, doc_id AS b_id FROM g WHERE doc_id < 50),
         |corp AS (SELECT gid, doc_id FROM g WHERE doc_id >= 50)
         |SELECT corp.doc_id,
         |  CAST(COUNT(DISTINCT corp.gid) AS BIGINT) AS n_hits,
         |  CAST(COUNT(DISTINCT bench.b_id) AS BIGINT) AS n_bench_docs
         |FROM corp JOIN bench ON bench.gid = corp.gid
         |GROUP BY corp.doc_id ORDER BY corp.doc_id""".stripMargin),

    // oracle = batch t46's sketch chain: the slotwise-min merge of the
    // per-micro-batch partials must land on the batch sketch exactly
    "s12_stream_sketch_maintenance" -> QueryDef(streamSketchMaintenance _,
      s"""${TextOps.Gram8CtesDuck},
         |sg AS (SELECT DISTINCT d.source, g.gid
         |       FROM g JOIN documents d ON d.doc_id = g.doc_id)
         |SELECT source, ${TextOps.MhA.zip(TextOps.MhB).zipWithIndex.map { case ((a, b), j) =>
               s"MIN(($a * (gid % 2147483647) + $b) % 2147483647) AS mh$j" }.mkString(",\n  ")}
         |FROM sg GROUP BY source ORDER BY source""".stripMargin),

    // oracle = t48's scoring chain minus the top-k cut: the frozen idf
    // model makes index-time scores == reindex-from-snapshot scores
    "s14_stream_retrieval_score" -> QueryDef(streamRetrievalScore _,
      s"""WITH nr AS (SELECT doc_id, ${TextOps.NormSqlDuck} AS nrm FROM documents),
         |tkn AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS tok FROM nr),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tkn
         |       WHERE tok IN (${TextOps.QueryTermsSqlDuck}) GROUP BY 1, 2),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |idf AS (SELECT tok,
         |    CAST(FLOOR(ln(CAST(n_docs AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 1e6)
         |         AS BIGINT) AS idfq
         |  FROM tf CROSS JOIN nd GROUP BY tok, n_docs),
         |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         |    CAST(SUM(tf * idfq) AS BIGINT) AS scoreq
         |  FROM tf JOIN idf USING (tok) GROUP BY doc_id)
         |SELECT doc_id, n_terms, round(CAST(scoreq AS DOUBLE) / 1e6, 6) AS score
         |FROM sc ORDER BY doc_id""".stripMargin),

    // oracle = batch m06's census verbatim: content-defined boundaries
    // chunk a payload identically whichever micro-batch delivers it
    "s13_stream_chunk_census" -> QueryDef(streamChunkCensus _,
      s"""${MediaOps.CdcChunksCtesDuck},
         |tot AS (SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |    CAST(SUM(chunk_len) AS BIGINT) AS sum_bytes FROM ch GROUP BY kind),
         |uq AS (SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_unique,
         |    CAST(SUM(chunk_len) AS BIGINT) AS unique_bytes
         |  FROM (SELECT DISTINCT kind, chunk_md5, chunk_len FROM ch) d GROUP BY kind)
         |SELECT t.kind, t.n_chunks, u.n_unique, t.sum_bytes, u.unique_bytes,
         |  round(CAST(u.unique_bytes AS DOUBLE) / CAST(t.sum_bytes AS DOUBLE), 6) AS dedup_ratio
         |FROM tot t JOIN uq u ON u.kind = t.kind ORDER BY t.kind""".stripMargin),

    // oracle = the batch restatement of the same per-doc gate over the
    // full snapshot — the stream's per-row expressions must agree doc
    // for doc regardless of the micro-batch split
    "s11_stream_quality_gate" -> QueryDef(streamQualityGate _,
      s"""WITH nr AS (SELECT doc_id, source, ${TextOps.NormSqlDuck} AS nrm FROM documents),
         |tok AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS tok
         |        FROM nr WHERE length(nrm) >= 1),
         |g AS (SELECT doc_id, COUNT(DISTINCT CASE WHEN tok IN (${TextOps.GopherWords.map("'" + _ + "'").mkString(", ")})
         |        THEN tok END) AS ng FROM tok GROUP BY doc_id),
         |f AS (SELECT d.source, COALESCE(g.ng, 0) AS ng
         |      FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id)
         |SELECT source,
         |  CAST(SUM(CASE WHEN ng >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(SUM(CASE WHEN ng >= 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_rejected,
         |  round(CAST(SUM(CASE WHEN ng >= 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS admit_rate
         |FROM f GROUP BY source ORDER BY source""".stripMargin),

    // the audit reads the DATABASE back, so matching the fixture's
    // per-type stats proves every micro-batch landed exactly once
    "s06_stream_jdbc_sink" -> QueryDef(streamJdbcSink _,
      s"""SELECT event_type, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // same oracle as s01: the restarted stream must produce EXACTLY the
    // uninterrupted run's closed sessions — session ids, counts, and
    // sums stitched across the kill boundary from the recovered state
    "s07_stream_restart_sessions" -> QueryDef(streamRestartSessions _,
      s"""WITH x AS (SELECT user_id, event_id, ts, value,
         |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
         |  FROM events),
         |f AS (SELECT *, CASE WHEN prev_us IS NULL
         |        OR epoch_us(ts) - prev_us > ${EventStream.GapUs} THEN 1 ELSE 0 END AS new_sess FROM x),
         |g AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM f),
         |sess AS (SELECT user_id, sess_id, COUNT(*) AS n_events,
         |    MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
         |    CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |  FROM g GROUP BY user_id, sess_id),
         |last AS (SELECT user_id, MAX(sess_id) AS last_sess FROM sess GROUP BY user_id)
         |SELECT s.user_id, s.sess_id, s.n_events, s.start_us, s.end_us, s.sum_value
         |FROM sess s JOIN last l ON s.user_id = l.user_id
         |WHERE s.sess_id < l.last_sess
         |ORDER BY s.user_id, s.sess_id""".stripMargin),

    // oracle = the batch restatement of the temporal join over the same
    // parquet: version selection by EVENT time must be stream-invisible
    "s18_stream_scd2_asof" -> QueryDef(streamScd2AsOf _,
      s"""WITH changed AS (SELECT c_custkey FROM customer
         |  WHERE c_custkey % 7 = 0 AND c_mktsegment <> 'AUTOMOBILE'),
         |dim AS (
         |  SELECT c.c_custkey, c.c_mktsegment AS segment,
         |    TIMESTAMP '1900-01-01 00:00:00' AS vf,
         |    CASE WHEN ch.c_custkey IS NOT NULL THEN TIMESTAMP '$Scd2Cut'
         |         ELSE TIMESTAMP '2100-01-01 00:00:00' END AS vt
         |  FROM customer c LEFT JOIN changed ch ON ch.c_custkey = c.c_custkey
         |  UNION ALL
         |  SELECT c_custkey, 'AUTOMOBILE', TIMESTAMP '$Scd2Cut',
         |    TIMESTAMP '2100-01-01 00:00:00' FROM changed)
         |SELECT d.segment, COUNT(*) AS n,
         |  CAST(SUM(CAST(e.value AS $D)) AS DOUBLE) AS sum_value
         |FROM events e JOIN dim d ON e.user_id = d.c_custkey
         |  AND e.ts >= d.vf AND e.ts < d.vt
         |GROUP BY d.segment ORDER BY d.segment""".stripMargin),

    // oracle = the batch recompute of the maintained view's read-side
    // top-10: per-batch merge ∘ drain ≡ one batch aggregation, because
    // sum/count are mergeable and the ledger makes each merge
    // exactly-once
    // oracle = on-time rows only, windows the final watermark closed:
    // Spark's watermark runs in ms (us//1000), emission at
    // window_end <= watermark — restated literally
    "s21_stream_late_accounting" -> QueryDef(streamLateAccounting _,
      """WITH b AS (SELECT event_id, epoch_us(ts) AS us FROM events),
        |mm AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM b),
        |sel AS (SELECT b.us,
        |    (('0x' || substr(md5(CAST(b.event_id AS VARCHAR) || ':late'), 1, 8))::BIGINT % 20 = 0
        |     AND b.us < mm.mid) AS late
        |  FROM b, mm),
        |hi AS (SELECT MAX(us) AS hi FROM sel WHERE NOT late),
        |w AS (SELECT (us // 3600000000) AS wb, COUNT(*) AS n
        |      FROM sel WHERE NOT late GROUP BY 1)
        |SELECT wb * 3600000000 AS w_start_us, n
        |FROM w, hi
        |WHERE (wb + 1) * 3600000000 <= ((hi.hi // 1000) - 600000) * 1000
        |ORDER BY 1""".stripMargin),

    "s20_stream_view_maintenance" -> QueryDef(streamViewMaintenance _,
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events GROUP BY user_id
         |ORDER BY sum_value DESC, user_id ASC LIMIT 10""".stripMargin),

    // oracle = batch k06's statement verbatim: the DOUBLED stream must
    // converge to the exactly-once bitmap counts through OR idempotence
    // alone — no dedup operator in the plan
    // the oracle IS k10's: the doubled at-least-once stream must land on
    // the exactly-once batch sketch bit for bit (max idempotence — the
    // s19 rule extended to approximate fixed-size state)
    // streaming CDC ingest: q54's change feed → q55's MoR log under
    // foreachBatch + the g15 marker ledger; the oracle restates base
    // and fully-ingested snapshots over raw parquet (q55's read side)
    "s26_stream_cdc_ingest" -> QueryDef(streamCdcIngest _,
      """WITH cur AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |nxt AS (
        |  SELECT k, CASE WHEN k % 97 = 0
        |      THEN p + CAST(10.00 AS DECIMAL(18,2)) ELSE p END AS p
        |  FROM cur WHERE k % 101 != 0
        |  UNION ALL SELECT -k, p FROM cur WHERE k % 103 = 0)
        |SELECT 1 AS version, COUNT(*) AS n_rows, CAST(SUM(p) AS DOUBLE) AS sum_price,
        |  MIN(k) AS min_key, MAX(k) AS max_key FROM cur
        |UNION ALL SELECT 2, COUNT(*), CAST(SUM(p) AS DOUBLE), MIN(k), MAX(k) FROM nxt
        |ORDER BY version""".stripMargin),

    // q59's orders accounting maintained as a streaming Complete-mode
    // aggregate; the oracle restates it over raw parquet — incremental
    // maintenance must land on the batch scan exactly
    "s27_stream_compaction_trigger" -> QueryDef(streamCompactionTrigger _,
      s"""WITH a AS (SELECT COUNT(*) AS base_rows,
         |    CAST(SUM(CASE WHEN o_orderkey % 101 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tomb_rows,
         |    CAST(SUM(CASE WHEN o_orderkey % 103 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS apnd_rows
         |  FROM orders)
         |SELECT 'orders' AS tbl, base_rows, tomb_rows, apnd_rows,
         |  CAST(((tomb_rows + apnd_rows) * 1000) // base_rows AS BIGINT) AS amp_permille,
         |  CAST(CASE WHEN ((tomb_rows + apnd_rows) * 1000) // base_rows
         |       >= ${graft.operators.MergeOnRead.AmpThresholdPermille}
         |       THEN 1 ELSE 0 END AS INT) AS compact
         |FROM a""".stripMargin),

    "s24_stream_hll_distinct" -> QueryDef(streamHllDistinct _,
      SketchOps.HllRegistersDuck),

    // k04's histogram maintained in-stream (mergeable bins), quantiles
    // cut from state at read — shares k04's oracle verbatim
    "s28_stream_hist_quantiles" -> QueryDef(streamHistQuantiles _,
      SketchOps.HistogramQuantilesDuck),

    // the p-family's bipartite artifact maintained at ingest; the
    // oracle restates the batch rebuild — incremental == rebuild,
    // edge for edge
    // online packing must agree with batch t60 decision for decision —
    // the oracle is t60's oracle verbatim
    "s30_stream_sequence_packing" ->
      QueryDef(streamSequencePacking _, TextOps.PackOracleDuck),
    // incrementally maintained ≡ recomputed: the oracle labels the
    // batch graph from scratch via a recursive min-label closure
    "s31_stream_incremental_cc" -> QueryDef(streamIncrementalCc _,
      """WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey * 2 AS cn,
        |    l_suppkey * 2 + 1 AS sn
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |ed AS (SELECT cn AS src, sn AS dst FROM e0 UNION SELECT sn, cn FROM e0),
        |cc AS (SELECT DISTINCT src AS id, src AS lbl FROM ed
        |       UNION
        |       SELECT ed.dst AS id, cc.lbl FROM cc JOIN ed ON ed.src = cc.id),
        |lab AS (SELECT id, MIN(lbl) AS component FROM cc GROUP BY id)
        |SELECT component, COUNT(*) AS n_members FROM lab GROUP BY component
        |ORDER BY n_members DESC, component ASC LIMIT 20""".stripMargin),
    // the artifact census recomputed FROM SCRATCH: batch co-occurrence
    // graph -> per-center first-CapA-by-id cut -> per-list-size census
    // with id checksums; the Spark side reads the INGEST-MAINTAINED
    // lists, so the hash match is the incremental≡batch equivalence
    "s32_stream_capped_adjacency" -> QueryDef(streamCappedAdjacency _,
      s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |und AS (SELECT DISTINCT x.pk AS a, y.pk AS b
         |        FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         |nb AS (SELECT a AS c, b AS nb FROM und UNION ALL SELECT b, a FROM und),
         |cap AS (SELECT c, nb FROM (
         |    SELECT c, nb, ROW_NUMBER() OVER (PARTITION BY c ORDER BY nb) AS rn
         |    FROM nb) WHERE rn <= ${GraphOps.CapA}),
         |per AS (SELECT c, COUNT(*) AS n_nbrs, CAST(SUM(nb) AS BIGINT) AS snb
         |        FROM cap GROUP BY c)
         |SELECT n_nbrs, COUNT(*) AS n_centers,
         |  CAST(SUM(c) AS BIGINT) AS sum_c, CAST(SUM(snb) AS BIGINT) AS sum_nb
         |FROM per GROUP BY n_nbrs ORDER BY n_nbrs""".stripMargin),
    // stream-gated ≡ batch-gated ≡ trained: the oracle is t63's
    // verbatim — its weight CTEs rederive the training itself
    "s33_stream_trained_gate" -> QueryDef(streamTrainedGate _, TextOps.t63Duck),
    // t64's oracle verbatim — stream-encoded ≡ batch-encoded ≡ trained
    "s34_stream_bpe_census" -> QueryDef(streamBpeCensus _, TextOps.BpeEncodeDuck),
    "s29_stream_edge_maintenance" -> QueryDef(streamEdgeMaintenance _,
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |deg AS (SELECT n, COUNT(*) AS dg FROM
        |  (SELECT cn AS n FROM e0 UNION ALL SELECT sn FROM e0) GROUP BY n)
        |SELECT CAST(length(bin(dg)) - 1 AS BIGINT) AS log2_bin,
        |  COUNT(*) AS n_nodes, MIN(dg) AS min_deg, MAX(dg) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin),

    // the streaming daily frame must land on e27's batch answer bit for
    // bit — the oracle is e27's recursive CTE verbatim
    "s25_stream_cusum_drift" -> QueryDef(streamCusumDrift _,
      EventOps.defs("e27_cusum_drift").oracle),

    "s19_stream_bitmap_distinct" -> QueryDef(streamBitmapDistinct _,
      """WITH d AS (SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
        |    user_id FROM events),
        |fan AS (SELECT di + CAST(unnest(generate_series(0, 6)) AS BIGINT) AS wd,
        |    user_id FROM d),
        |bm AS (SELECT wd, user_id // 32 AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
        |  FROM fan GROUP BY wd, word)
        |SELECT wd, CAST(SUM(bit_count(bits)) AS BIGINT) AS n_distinct
        |FROM bm GROUP BY wd ORDER BY wd""".stripMargin),

    "s04_stream_static_join" -> QueryDef(streamStaticJoin _,
      s"""SELECT c_mktsegment, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // oracle = t56's kept set verbatim: the bounded K-best state's final
    // snapshot must equal the batch domain cap's admitted set under any
    // micro-batch split (K-best-of-union order-independence)
    "s22_stream_source_quota" -> QueryDef(streamSourceQuota _,
      s"""WITH r AS (SELECT source, doc_id, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id ASC) AS rk
         |  FROM documents)
         |SELECT source, CAST(rk AS INT) AS rk, doc_id, n_chars
         |FROM r WHERE rk <= ${TextOps.SourceCap} ORDER BY source, rk""".stripMargin),

    // oracle = the batch gram chain's per-doc summary: the index the
    // stream maintains by appending each micro-batch's rows must equal
    // the index a batch rebuild would produce, gram for gram
    "s16_stream_index_maintenance" -> QueryDef(streamIndexMaintenance _,
      s"""${TextOps.Gram8CtesDuck}
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  MIN(gid) AS min_gid, MAX(gid) AS max_gid
         |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // oracle = batch v16's statement verbatim: in-stream scoring against
    // the frozen suite must agree vector for vector with the batch
    // operator under any micro-batch split
    "s15_stream_semantic_decontam" -> QueryDef(streamSemanticDecontam _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |b AS (SELECT vec_id AS b_id, v AS bv, nrm AS bn FROM n WHERE vec_id % 17 = 0),
        |c AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 17 != 0),
        |p AS (SELECT c.vec_id,
        |        round(list_dot_product(c.v, b.bv) / (c.nrm * b.bn), 6) AS cos
        |      FROM c, b)
        |SELECT vec_id, max(cos) AS max_cos,
        |  CAST(SUM(CASE WHEN cos >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(CASE WHEN max(cos) >= 0.4 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // oracle = batch e19's statement verbatim: state carried across
    // time-sliced micro-batches must reproduce the batch window's
    // last-touch semantics channel for channel
    "s17_stream_attribution" -> QueryDef(streamAttribution _,
      """WITH t AS (SELECT user_id, ts, event_id, event_type, value,
        |    CASE WHEN event_type <> 'purchase' THEN event_type END AS touch_type,
        |    CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END AS touch_us
        |  FROM events),
        |l AS (SELECT *,
        |    LAST_VALUE(touch_type IGNORE NULLS) OVER w AS lt,
        |    LAST_VALUE(touch_us IGNORE NULLS) OVER w AS lt_us
        |  FROM t
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT CASE WHEN lt IS NOT NULL AND epoch_us(ts) - lt_us <= 604800000000
        |        THEN lt ELSE 'direct' END AS channel, value
        |  FROM l WHERE event_type = 'purchase')
        |SELECT channel, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM p GROUP BY channel ORDER BY channel""".stripMargin)
  )
}
