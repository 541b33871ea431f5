package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The one driver every stream query drains through: a parquet file
  * source replayed to completion into a memory table, a `foreachBatch`
  * function or a parquet file sink. Callers supply only what differs —
  * the plan, the sink and the readout; the source, the stream's
  * lifetime, the batch count and its multi-batch guard, and the scratch
  * dir teardown live here, so an engine-level streaming setting (state
  * partitions, state store provider, no-data batches) is one edit.
  */
object Replay {

  /** State-store partition count for every replay. A stateful operator
    * instantiates one state store per shuffle partition, and every
    * micro-batch pays a commit (delta file + snapshot bookkeeping) per
    * store — stream-stream joins pay FOUR stores per partition. The
    * fixture's keyed-state cardinality (hundreds of users / windows) is
    * nowhere near the batch shuffle default, so 8 stores cut the fixed
    * commit cost ~4× with zero semantic effect. On a real cluster this
    * knob tracks keyed-state cardinality and executor count — it is a
    * deliberate, per-deployment setting, never the batch default. */
  val StatePartitions = 8

  private[streaming] def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, StatePartitions.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Where a replay's rows go. */
  sealed trait Sink
  /** A driver-side memory table, read back as `spark.table(table)`. */
  final case class Memory(table: String) extends Sink
  /** A per-micro-batch function (the batch and its id): the caller's
    * writes are the output, so the drained frame is empty. */
  final case class EachBatch(write: (DataFrame, Long) => Unit) extends Sink
  /** An exactly-once parquet file sink at `dir` (needs a checkpoint). */
  final case class Parquet(dir: String) extends Sink

  /** A finished replay: the sink's rows and the number of micro-batches
    * that read source files in this run. */
  final class Drained(val out: DataFrame, val batches: Long,
      progress: Array[StreamingQueryProgress], window: Int) {
    /** Rows the watermark dropped over the whole run. Spark keeps only
      * the last `spark.sql.streaming.numRecentProgressUpdates` − 1
      * progress records, so a run that filled them fails here rather
      * than under-count. */
    def droppedByWatermark: Long = {
      require(progress.length < window - 1,
        s"the run outgrew the $window-record progress window; its dropped-row total is unknown")
      progress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
    }
  }

  /** Drain the parquet files in `sourceDir` (read with `schema`)
    * through `plan` into `sink`, then stop the stream.
    *
    * With `oneFilePerBatch` each source file is its own micro-batch
    * (`maxFilesPerTrigger=1`): the replay shape of every query whose
    * state must carry across batch boundaries. The run then fails
    * unless the source holds at least two files and each was read in
    * its own batch — a single-batch drain would prove nothing about
    * those boundaries. Without it the whole source is one batch.
    *
    * `checkpoint` pins the batch-id ↔ source-file mapping (an id-keyed
    * sink ledger, a restart); without it Spark uses a temporary one.
    * The batch count is the file source's log offset, so it is exact
    * at any batch count, and a run resumed from `checkpoint` counts
    * only its own batches. */
  def drain(spark: SparkSession, sourceDir: String, schema: StructType, sink: Sink,
      mode: OutputMode = OutputMode.Append, checkpoint: Option[String] = None,
      oneFilePerBatch: Boolean = true)(plan: DataFrame => DataFrame): Drained =
    withStatePartitions(spark) {
      val reader = spark.readStream.schema(schema).format("parquet")
      val src = (if (oneFilePerBatch) reader.option("maxFilesPerTrigger", "1") else reader)
        .load(sourceDir)
      val planned = plan(src)
      val writer = planned.writeStream.outputMode(mode)
      checkpoint.foreach(writer.option("checkpointLocation", _))
      val resumed = checkpoint.map(committedLogOffset).getOrElse(-1L)
      val q = sink match {
        case Memory(table) => writer.format("memory").queryName(table).start()
        case EachBatch(write) => writer.foreachBatch(write).start()
        case Parquet(dir) => writer.format("parquet").start(dir)
      }
      try q.processAllAvailable() finally q.stop()
      val read = Option(q.lastProgress).flatMap(_.sources.headOption)
        .map(p => logOffset(p.endOffset)).getOrElse(-1L)
      if (oneFilePerBatch) {
        val files = sourceFiles(sourceDir)
        require(files >= 2 && read + 1 == files,
          s"expected a multi-micro-batch replay of $sourceDir, one file per batch: " +
            s"$files source files, ${read + 1} read in their own batches")
      }
      val out = sink match {
        case Memory(table) => spark.table(table)
        case EachBatch(_) => spark.emptyDataFrame
        // read back with the PLAN's schema: a drain that emitted zero
        // rows leaves only _spark_metadata behind, and schema inference
        // would throw where an empty frame is the correct answer
        case Parquet(dir) => spark.read.schema(planned.schema).parquet(dir)
      }
      new Drained(out, read - resumed, q.recentProgress,
        spark.conf.get("spark.sql.streaming.numRecentProgressUpdates").toInt)
    }

  /** A fresh `<tag>*` temp dir for `body` (sink output, checkpoints,
    * a written source); the frame `body` returns is materialized
    * (`localCheckpoint`) before the dir is deleted, also when `body`
    * throws. */
  def scratch(tag: String)(body: Path => DataFrame): DataFrame = {
    val dir = Files.createTempDirectory(tag)
    try body(dir).localCheckpoint() finally rmrf(dir)
  }

  /** Recursive delete of a scratch dir. */
  private[graft] def rmrf(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val st = Files.list(p)
      try st.forEach(rmrf(_)) finally st.close()
    }
    Files.deleteIfExists(p); ()
  }

  private val LogOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r

  /** The file source's offset in an offset JSON (`{"logOffset":3}`):
    * the 0-based index of the last micro-batch that read files. */
  private def logOffset(json: String): Long =
    Option(json).flatMap(LogOffset.findFirstMatchIn).map(_.group(1).toLong).getOrElse(-1L)

  /** The log offset a checkpointed query resumes after: the offset-log
    * entry of its last committed batch, or -1 for a fresh checkpoint. */
  private def committedLogOffset(checkpoint: String): Long = {
    val commits = Paths.get(checkpoint, "commits")
    if (!Files.isDirectory(commits)) -1L
    else {
      val st = Files.list(commits)
      val ids =
        try st.iterator.asScala.map(_.getFileName.toString)
          .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).toList
        finally st.close()
      ids.maxOption.fold(-1L)(id =>
        logOffset(Files.readString(Paths.get(checkpoint, "offsets", id.toString))))
    }
  }

  /** Data files the file source sees under `dir` (it skips names that
    * start with `_` or `.`, e.g. `_SUCCESS` and checksum files). */
  private def sourceFiles(dir: String): Long = {
    val root = Paths.get(dir)
    val st = Files.walk(root)
    try st.iterator.asScala.count(p => Files.isRegularFile(p) &&
      root.relativize(p).iterator.asScala.forall { part =>
        val n = part.toString
        !n.startsWith("_") && !n.startsWith(".")
      }).toLong
    finally st.close()
  }
}
