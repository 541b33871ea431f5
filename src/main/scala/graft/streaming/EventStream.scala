package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` fixture schema.
  *
  * The reference is a one-shot batch pipeline (SURVEY.md §2.9 — no
  * streaming anywhere); this module is the capability-matrix extension:
  * the same event semantics as graft.queries.EventOps, expressed as
  * continuous plans. It holds plans only — [[Replay.drain]] runs them.
  * Batch/stream parity is the design invariant — EventStreamSpec
  * replays the fixture through these plans into a memory sink and
  * compares against the batch twins.
  *
  * Scale notes: watermark + windowed aggregation is incremental
  * (state = open windows only); sessionization keeps one small state
  * object per user key, and state expires via event-time timeout — at
  * 100 TB/day this is the shape that keeps state bounded.
  */
object EventStream {

  /** Schema of the events table (TESTDATA.md), µs timestamps. */
  val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** Continuous twin of EventOps.tumbling5min: 5-minute tumbling counts
    * per event type, 10-minute watermark for late data. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        (unix_micros(col("w.start")) / 1000000L).cast("long").as("w_start_epoch"),
        col("event_type"), col("n"))

  // --- stateful sessionization (flatMapGroupsWithState) -----------------

  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(sessId: Long, lastUs: Long, startUs: Long,
      nEvents: Long, sumValueCents: Long)
  final case class SessionOut(user_id: Long, sess_id: Long, n_events: Long,
      start_us: Long, end_us: Long, sum_value: Double)

  val GapUs: Long = 30L * 60 * 1000000

  /** Emits closed sessions; keeps exactly one open session per user in
    * state. Value sums are kept in integer cents so emission order and
    * partitioning never change the result (same exactness discipline as
    * the batch operators). */
  def sessionizeFn(userId: Long, evs: Iterator[Ev],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    var st = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    // Sort by full-µs time: getTime alone is ms-truncated, so two events
    // inside the same millisecond would order by event_id and shift
    // session boundaries vs the batch/oracle ORDER BY ts, event_id.
    def usOf(e: Ev): Long = (e.ts.getTime / 1000) * 1000000L + e.ts.getNanos / 1000
    evs.toSeq.sortBy(e => (usOf(e), e.event_id)).foreach { e =>
      val us = usOf(e)
      val cents = math.round(e.value * 100)
      if (st == null) {
        st = SessionState(1, us, us, 1, cents)
      } else if (us - st.lastUs > GapUs) {
        out += SessionOut(userId, st.sessId, st.nEvents, st.startUs, st.lastUs,
          st.sumValueCents / 100.0)
        st = SessionState(st.sessId + 1, us, us, 1, cents)
      } else {
        st = st.copy(lastUs = us, nEvents = st.nEvents + 1,
          sumValueCents = st.sumValueCents + cents)
      }
    }
    if (st != null) state.update(st)
    out.iterator
  }

  /** The typed event rows of a raw `events` source. */
  private def typed(events: DataFrame): Dataset[Ev] = {
    import events.sparkSession.implicits._
    events.select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
  }

  /** Streaming sessionization of a raw `events` source (Append mode —
    * flatMapGroupsWithState emits closed sessions; each user's open
    * session stays in state). */
  def sessionize(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    typed(events)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionizeFn)
      .toDF()
  }

  // --- stateful last-touch attribution (e19's streaming twin) -----------

  final case class TouchState(touchType: String, touchUs: Long)
  final case class AttribOut(user_id: Long, event_id: Long, purchase_us: Long,
      channel: String, value: Double)

  /** Per-user attribution state machine: non-purchase events update the
    * ONE (type, time) touch in state; purchases emit their channel —
    * the last in-window touch, else 'direct' — scored at ARRIVAL
    * against state carried across micro-batches. State is exactly one
    * small case class per user (|users|-bounded; a production deploy
    * adds an event-time TTL at the 7-day lookback — older touches can
    * never attribute, so expiry is semantically free). Within a batch,
    * events sort by full-µs time + event_id, matching the batch
    * window's ORDER BY (e19) — so a same-batch touch→purchase pair
    * resolves identically to the batch twin. */
  def attributeFn(userId: Long, evs: Iterator[Ev],
      state: GroupState[TouchState]): Iterator[AttribOut] = {
    val LookbackUs = 7L * 86400000000L
    var st = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer.empty[AttribOut]
    def usOf(e: Ev): Long = (e.ts.getTime / 1000) * 1000000L + e.ts.getNanos / 1000
    evs.toSeq.sortBy(e => (usOf(e), e.event_id)).foreach { e =>
      val us = usOf(e)
      if (e.event_type == "purchase") {
        val channel =
          if (st != null && us - st.touchUs <= LookbackUs) st.touchType
          else "direct"
        out += AttribOut(userId, e.event_id, us, channel, e.value)
      } else st = TouchState(e.event_type, us)
    }
    if (st != null) state.update(st)
    out.iterator
  }

  /** Streaming attribution of a raw `events` source: the per-purchase
    * log. Replayed one time slice per micro-batch, so state carries
    * across real batch boundaries. */
  def attribute(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    typed(events)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(attributeFn)
      .toDF()
  }
}
