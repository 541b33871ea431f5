package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Harness, Memos}
import graft.ddl.{Catalog, DdlParser}
import graft.deps.Deps
import graft.gen.GeneratePipeline
import graft.load.{JdbcRoundTrip, TableLoadReport}
import graft.rules.{Rule, RuleInference}
import graft.sources.ArtifactStore
import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's JVM side: runs one workload closed-loop with one
  * client, writes the per-op record (`ops.jsonl`, one row per attempted
  * op) and the run summary (`summary.json`) into `--out`.
  *
  * Usage: perfbench.Main --workload gen-load|query-cold
  *   --seed N --seconds S --trace 0|1 --out DIR [--fixture DIR]
  *
  * An op is timed from its first call into the program to its last
  * return. With `--trace 1` untraced passes alternate with passes run
  * with the listeners of [[Probes]] registered; the wall-time ratio of
  * the same op in the two kinds of pass is the tracing overhead.
  */
object Main {
  val Cores = 4
  /** Rows `gen-load` generates and loads per table. */
  val GenRows = 500L

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: Path, fixture: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("out")), m.getOrElse("fixture", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    val summary = Harness.withSession(Cores.toString)(spark => run(spark, a))
    Files.writeString(a.out.resolve("summary.json"), summary)
  }

  /** Runs the workload and returns the summary JSON; the per-op record is
    * written before this returns. */
  def run(spark: SparkSession, a: Args): String = {
    val w: Workload = a.workload match {
      case "gen-load" => new GenLoad(spark, a)
      case "query-cold" => new Queries(spark, a, Registry.Cold)
      case other => sys.error(s"unknown workload $other")
    }
    val rows = mutable.ArrayBuffer.empty[String]
    val tracer = new Tracer
    val probes = new Probes(spark)
    var opIdx = 0

    def runOp(name: String, phase: String, pass: Int, traced: Boolean, t0: Long): Unit = {
      val pre = w.before(name)
      val sourcesBefore = if (traced) Probes.treeSize(new java.io.File(ArtifactStore.root)) else (0L, 0L)
      if (traced) probes.begin()
      val (root, out) = tracer.op("op")(w.op(name, tracer))
      val wall = root.durationNs / 1e9
      val counts = mutable.LinkedHashMap.empty[String, Double]
      if (traced) {
        counts ++= probes.end(wall, Cores)
        val after = Probes.treeSize(new java.io.File(ArtifactStore.root))
        counts("sources.artifact_bytes") = (after._1 - sourcesBefore._1).toDouble
        counts("sources.artifact_files") = (after._2 - sourcesBefore._2).toDouble
        val mem = spark.sparkContext.getExecutorMemoryStatus.values
        counts("exec.storage_pool_mb") = mem.map(_._1).sum / 1048576.0
        counts("exec.storage_used_mb") = mem.map(m => m._1 - m._2).sum / 1048576.0
      }
      val check = out.toOption.map(r => w.check(name, phase, r))
      check.foreach(c => counts ++= c.counts)
      val failure = out.left.toOption.map { e =>
        Map("layer" -> tracer.failedLayer.getOrElse("op"),
          "class" -> e.getClass.getName, "message" -> Trace.firstLine(e))
      }
      val probe = if (traced && out.isRight) w.probe() else Map.empty[String, Double]
      rows += Json.obj(
        "op" -> opIdx, "workload" -> a.workload, "name" -> name, "phase" -> phase,
        "pass" -> pass, "traced" -> traced,
        "start_s" -> (root.startNs - t0) / 1e9, "wall_s" -> wall,
        "ok" -> out.isRight, "failure" -> failure,
        "wrong" -> check.flatMap(_.wrong),
        "digest" -> check.map(_.digest), "rows" -> check.map(_.rows),
        "self_s" -> Trace.selfSeconds(root), "pre_s" -> pre, "probe_s" -> probe,
        "unattributed_frac" -> Trace.unattributedFrac(root),
        "counts" -> counts)
      opIdx += 1
    }

    // An untraced run times the ops a fresh JVM makes, JIT and code
    // generation included: both workloads are one-shot jobs. A traced run
    // warms up with an untimed pass first, so that its traced and
    // untraced passes compare like with like.
    val setupT0 = System.nanoTime()
    if (a.trace)
      w.names.foreach(n => runOp(n, "untimed", 0, traced = false, setupT0))

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    Probes.resetHeapPeak()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole passes until --seconds have passed, at least one (two when
    // traced: untraced and traced passes alternate), so every run times
    // the same mix of ops
    var pass = 0
    while (pass == 0 || (a.trace && pass < 2) || elapsed < a.seconds) {
      pass += 1
      val traced = a.trace && pass % 2 == 0
      if (traced) probes.start() else probes.stop()
      w.beforePass()
      w.names.foreach(n => runOp(n, "timed", pass, traced, t0))
    }
    val timedS = elapsed
    val heapPeak = Probes.heapPeakMb
    probes.stop()
    val rss = Probes.vmHwmMb
    // after the last op, so the collection it forces is not timed
    val retained = Probes.retainedHeapMb
    Files.write(a.out.resolve("ops.jsonl"), (rows.mkString("\n") + "\n").getBytes("UTF-8"))
    w.finish()
    Json.obj("workload" -> a.workload, "seed" -> a.seed, "setup_s" -> setupS,
      "setup_pass_s" -> (t0 - setupT0) / 1e9, "timed_s" -> timedS, "passes" -> pass,
      "ops" -> opIdx, "peak_rss_mb" -> rss, "heap_peak_mb" -> heapPeak,
      "retained_heap_mb" -> retained,
      "names" -> w.names, "oracle_dir" -> w.oracleDir.map(_.toString))
  }
}

/** What a workload's op returned, checked against the workload's
  * reference output. `wrong` is set when the output is wrong. */
final case class Checked(digest: String, rows: Long, wrong: Option[String],
    counts: Map[String, Double] = Map.empty)

trait Workload {
  /** Op names of one pass, in the order they run. */
  def names: Seq[String]
  def beforePass(): Unit = ()
  /** Work done before the op's clock starts; returns its layer times. */
  def before(name: String): Map[String, Double] = Map.empty
  def op(name: String, t: Tracer): Any
  /** Traced runs only: layer calls made after the op's clock stopped, to
    * time a layer the op reaches only through the program's internals. */
  def probe(): Map[String, Double] = Map.empty
  def check(name: String, phase: String, result: Any): Checked
  def oracleDir: Option[Path] = None
  def finish(): Unit = ()
}

object Digest {
  /** Order-sensitive digest of a collected result and its schema. */
  def of(schema: String, rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    def render(v: Any): String = v match {
      case null => "∅"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
      case d: java.math.BigDecimal => d.toPlainString
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
      case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
      case other => other.toString
    }
    put(schema)
    rows.foreach(r => put("\n" + render(r)))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}

/** `query-cold`: each op is `Memos.clearAll()`, outside the op's clock,
  * then `fn(spark, dir)` and `collect()`; every pass starts with an empty
  * artifact directory, so each op is a build. Each op's first result is
  * saved for the DuckDB oracle check; every later run of the op must
  * reproduce its digest. Every pass runs `names` in one fixed order: the
  * first op of a fresh JVM also pays the JIT warm-up, and it must be the
  * same op on every run (a seeded order moved the warm-up between ops and
  * spread the latency quantiles). */
final class Queries(spark: SparkSession, a: Main.Args, val names: Seq[String])
    extends Workload {
  private val fns = names.map(n => n -> Registry.all(n)).toMap
  private val ref = mutable.Map.empty[String, String]
  private val outDir = a.out.resolve("results")
  override def oracleDir: Option[Path] = Some(outDir)

  override def beforePass(): Unit = Queries.rmrf(Paths.get(ArtifactStore.root))

  override def before(name: String): Map[String, Double] = {
    val t = System.nanoTime()
    Memos.clearAll()
    Map("memos.clear" -> (System.nanoTime() - t) / 1e9)
  }

  def op(name: String, t: Tracer): Any = {
    val df = t.span("queries.build")(fns(name).fn(spark, a.fixture))
    val rows = t.span("queries.collect")(df.collect())
    (df.schema, rows)
  }

  def check(name: String, phase: String, result: Any): Checked = {
    val (schema, rows) = result.asInstanceOf[(org.apache.spark.sql.types.StructType, Array[Row])]
    val d = Digest.of(schema.simpleString, rows)
    val wrong = ref.get(name) match {
      case None =>
        ref(name) = d
        // the op's first result, re-framed with its schema, is what the
        // DuckDB oracle check reads
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(outDir.resolve(name).toString)
        None
      case Some(r) if r == d => None
      case Some(r) => Some(s"digest $d differs from the first run's $r")
    }
    Checked(d, rows.length, wrong)
  }

  override def finish(): Unit = {
    val oracle = names.flatMap(n => fns(n).oracle.map(n -> _)).toMap
    Files.createDirectories(outDir)
    Files.writeString(outDir.resolve("oracle_sql.json"), Json.value(oracle))
  }
}

object Queries {
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}

/** `gen-load`: the paper's pipeline on a synthesised 85-table script. One
  * op parses the script, orders the FK waves, infers every column's rule,
  * then runs the Derby round trip: deploy into a fresh in-memory
  * database, generate and append, re-arm PKs and FKs, read back and
  * audit. Every op of a run must load the same audited result. */
final class GenLoad(spark: SparkSession, a: Main.Args) extends Workload {
  val names: Seq[String] = Seq("catalog_load")
  private var ref: Option[(Long, Long)] = None
  private val ddl = a.out.resolve("script.sql")
  DdlSynth.write(a.seed, ddl)

  def op(name: String, t: Tracer): Any = {
    val cat = t.span("ddl.parse")(DdlParser.parseFile(ddl.toString))
    val targets = cat.order.filterNot(GeneratePipeline.skipTable)
    val waves = t.span("deps.waves")(Deps.waves(targets, cat.allFks))
    val keywordCols = t.span("rules.infer") {
      targets.map { tn =>
        val td = cat(tn)
        val fk = td.fks.map(f => f.column -> f.refTable).toMap
        td.safeFields.map(f => RuleInference.infer(f, fk.get(f.name))).count {
          case _: Rule.ForeignKey | _: Rule.TypeDefault => false
          case _ => true
        }
      }.sum
    }
    val reports = t.span("load.roundtrip")(JdbcRoundTrip.run(spark, cat, Main.GenRows, a.seed))
    (cat, waves.size, keywordCols, targets.size, reports)
  }

  /** Runs the program's own generation path, `GeneratePipeline.run`, with
    * a no-op sink, so generation is timed apart from the JDBC load.
    * `gen.exec` is the wall time during which some frame is being
    * materialised by the sink (the tables of a wave run concurrently, so
    * their intervals are merged); `gen.plan` is the rest of the run:
    * building each frame with `Generator.tableDf`, sampling parent keys
    * and waiting at the wave barriers. */
  override def probe(): Map[String, Double] = {
    val cat = DdlParser.parseFile(ddl.toString)
    val sinks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val t0 = System.nanoTime()
    val results = GeneratePipeline.run(spark, cat, Main.GenRows, a.seed, (_, df) => {
      val s = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      sinks.add((s, System.nanoTime()))
    })
    val wall = System.nanoTime() - t0
    results.find(!_.ok).foreach(r => sys.error(s"generate ${r.table}: ${r.error}"))
    val exec = Probes.unionLength(sinks.asScala.toSeq)
    Map("gen.plan" -> (wall - exec) / 1e9, "gen.exec" -> exec / 1e9)
  }

  def check(name: String, phase: String, result: Any): Checked = {
    val (cat, nWaves, keywordCols, nTargets, reports) =
      result.asInstanceOf[(Catalog, Int, Int, Int, Seq[TableLoadReport])]
    val pkArmed = reports.count(_.pk_rearmed).toLong
    val fkArmed = reports.map(_.n_fks_rearmed.toLong).sum
    val readback = reports.map(_.n_readback).sum
    val fkBad = reports.map(_.n_fk_bad).sum
    val problems = Seq(
      Option.when(reports.size != nTargets)(s"${reports.size} tables loaded, expected $nTargets"),
      reports.find(r => r.n_readback != Main.GenRows || r.n_loaded != Main.GenRows).map(r =>
        s"${r.table_name}: loaded ${r.n_loaded}, read back ${r.n_readback}, generated ${Main.GenRows}"),
      Option.when(fkBad != 0)(s"$fkBad rows violate an FK"),
      ref.filter(_ != ((pkArmed, fkArmed))).map(r =>
        s"re-armed (PK, FK) = ($pkArmed, $fkArmed), first op re-armed $r")).flatten
    if (ref.isEmpty) ref = Some((pkArmed, fkArmed))
    val cols = cat.order.map(t => cat(t).schema.size).sum
    Checked(s"$pkArmed/$fkArmed/$readback", readback,
      if (problems.isEmpty) None else Some(problems.mkString("; ")),
      Map("ddl.tables" -> cat.order.size.toDouble, "ddl.columns" -> cols.toDouble,
        "ddl.fks" -> cat.allFks.size.toDouble, "deps.waves" -> nWaves.toDouble,
        "rules.keyword_cols" -> keywordCols.toDouble, "gen.rows" -> (Main.GenRows * nTargets).toDouble,
        "load.readback_rows" -> readback.toDouble, "load.fk_bad_rows" -> fkBad.toDouble,
        "load.pk_armed" -> pkArmed.toDouble, "load.fk_armed" -> fkArmed.toDouble))
  }
}
