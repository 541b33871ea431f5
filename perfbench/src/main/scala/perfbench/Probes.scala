package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** Operator counts of a final (adaptive) physical plan. */
object PlanCounts extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Map[String, Long] = {
    def n(pf: PartialFunction[SparkPlan, Unit]): Long = collectWithSubqueries(plan)(pf).size.toLong
    Map(
      "plan.exchanges" -> n { case _: ShuffleExchangeLike | _: BroadcastExchangeLike => () },
      "plan.windows" -> n { case _: WindowExecBase => () },
      "plan.unions" -> n { case _: UnionExec => () },
      "plan.scans" -> n {
        case _: org.apache.spark.sql.execution.DataSourceScanExec | _: DataSourceV2ScanExecBase => ()
      })
  }
}

/** Counts WARN-or-worse log events in which Spark reports that generated
  * code was abandoned for interpreted or non-fused execution. */
final class FallbackAppender extends org.apache.logging.log4j.core.appender.AbstractAppender(
    "perfbench-codegen-fallback", null, null, true,
    org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  private val pattern =
    "(?i).*(codegen disabled|falling back|fallback|failed to compile|grows beyond 64 KB).*".r
  @volatile var count: Long = 0L
  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
    val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
    val logger = Option(e.getLoggerName).getOrElse("")
    if (logger.toLowerCase.contains("codegen") && pattern.matches(msg.linesIterator.nextOption().getOrElse("")))
      synchronized { count += 1 }
  }
}

/** Counters read from outside the program: a SparkListener, a
  * QueryExecutionListener, a StreamingQueryListener, Spark's codegen
  * counters and the JVM's MX beans. Registered only in traced runs.
  * Between `begin` and `end` every event is added to the current op's
  * bucket; `end` drains the listener bus first, so the bucket is
  * complete when it is read. */
final class Probes(spark: SparkSession) {
  private val bucket = mutable.Map.empty[String, Double]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private def add(k: String, v: Double): Unit = bucket.synchronized {
    bucket(k) = bucket.getOrElse(k, 0.0) + v
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = bucket.synchronized {
      jobStart(e.jobId) = e.time
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = bucket.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime.toDouble)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.scan_bytes", m.inputMetrics.bytesRead.toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      // a cached block that leaves memory for disk was evicted by the
      // memory store (persist() defaults to MEMORY_AND_DISK)
      if (b.blockId.isRDD && !b.storageLevel.useMemory && b.storageLevel.useDisk)
        add("exec.evicted_blocks", 1)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("catalyst.analyze_s", ms("analysis") / 1e3)
      add("catalyst.optimize_s", ms("optimization") / 1e3)
      add("catalyst.plan_s", ms("planning") / 1e3)
      try PlanCounts.of(qe.executedPlan).foreach { case (k, v) => add(k, v.toDouble) }
      catch { case _: Throwable => () } // a failed plan has no final plan to count
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      add("streaming.batches", 1)
      add("streaming.input_rows", e.progress.numInputRows.toDouble)
    }
  }

  private val fallbacks = new FallbackAppender
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  private var started = false
  def start(): Unit = if (!started) {
    started = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    fallbacks.start()
    ctx.getConfiguration.addAppender(fallbacks)
    ctx.getConfiguration.getRootLogger.addAppender(fallbacks,
      org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
  }

  def stop(): Unit = if (started) {
    started = false
    org.apache.spark.perfbench.Bridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(fallbacks.getName)
    ctx.updateLoggers()
  }

  private var compileNs0, classes0, fallbacks0, gcMs0 = 0L

  def begin(): Unit = {
    org.apache.spark.perfbench.Bridge.drain(spark.sparkContext)
    bucket.synchronized { bucket.clear(); jobSpans.clear(); jobStart.clear() }
    compileNs0 = CodeGenerator.compileTime
    classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    fallbacks0 = fallbacks.count
    gcMs0 = gcMs
  }

  /** The op's counters; `wallS` is the op's wall time, for the share of
    * the cores its tasks kept busy. */
  def end(wallS: Double, cores: Int): Map[String, Double] = {
    org.apache.spark.perfbench.Bridge.drain(spark.sparkContext)
    bucket.synchronized {
      add("codegen.compile_s", (CodeGenerator.compileTime - compileNs0) / 1e9)
      add("codegen.classes", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble)
      add("codegen.fallbacks", (fallbacks.count - fallbacks0).toDouble)
      add("jvm.gc_s", (gcMs - gcMs0) / 1e3)
      add("exec.run_s", Probes.unionSeconds(jobSpans.toSeq))
      val taskS = bucket.getOrElse("exec.task_run_ms", 0.0) / 1e3
      add("exec.core_busy_frac", if (wallS > 0) taskS / (cores * wallS) else 0.0)
      bucket.remove("exec.task_run_ms")
      bucket.toMap
    }
  }
}

object Probes {
  /** Length of the union of [start, end] millisecond intervals, in s. */
  def unionSeconds(spans: Seq[(Long, Long)]): Double = unionLength(spans) / 1e3

  /** Length of the union of [start, end] intervals, in their own unit. */
  def unionLength(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Bytes and regular files under a directory tree (0 when absent). */
  def treeSize(dir: java.io.File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else if (dir.isFile) (dir.length, 1L)
    else Option(dir.listFiles).toSeq.flatten.map(treeSize)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** The JVM's peak resident set (VmHWM), in MB; 0 where /proc is absent. */
  def vmHwmMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }

  /** Heap in use after a full collection, in MB: what the program still
    * holds once its garbage is gone (memos, caches, broadcasts, sessions). */
  def retainedHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Sum of the heap pools' peak use since the last reset, in MB. */
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024)

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
}
