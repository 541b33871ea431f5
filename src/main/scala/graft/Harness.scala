package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore

/** Shared SparkSession + teardown for the library's entry points
  * (Verify, Bench, TimeQ, Dump): one place for the load-bearing session
  * config — `nanosAsLong` is required to read the events fixture at all
  * — and for the cache-release teardown, so a new entry point or a new
  * module cache is one edit, not one per main. */
object Harness {
  /** Default size of Spark's compiled-codegen class cache (see the
    * spark.sql.codegen.cache.maxEntries note below); GRAFT_CODEGEN_CACHE
    * overrides it. CodegenCacheGuardSpec sizes the registry against it. */
  val DefaultCodegenCache = 4096

  def withSession[T](cpus: String, logLevel: String = "WARN")(body: SparkSession => T): T = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the engine's extensions: custom SQL functions, the as-of planner
      // strategy, and the ASOF JOIN SQL syntax (q61 parses through it)
      .withExtensions(new GraftExtensions)
      // default: one reduce partition per core (the build-round posture).
      // GRAFT_SHUFFLE_PARTITIONS decouples the two for measurement and
      // for deployments where reduce width should track data, not cores
      // (round-20 verdict #4: the 8-core driver run beat the 32-core one
      // at sf0.1 because frontier-sized iterative shuffles pay per-task
      // scheduler constants × partitions; the A/B instrument and any
      // production override live here, the bench default is unchanged).
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", cpus))
      // Spark's compiled-codegen cache holds 100 generated classes by
      // default — sized for a handful of hot queries, not a 301-query
      // registry (~5 WholeStageCodegen units each): by the time a
      // family's warm pass runs, its cold pass's classes are evicted and
      // every unit recompiles through Janino again (~10–50 ms each).
      // The cache is value-keyed on the generated source, so a bigger
      // cache changes NOTHING about plans or results — only whether a
      // repeat invocation recompiles. Driver-side memory, and the same
      // win on a production driver serving a large query surface;
      // env-overridable for A/B (static conf: first session in the JVM
      // owns it, which Harness already requires).
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("GRAFT_CODEGEN_CACHE", DefaultCodegenCache.toString))
      // AQE coalescing keeps Spark's defaults: see SCALE.md, round 20
      .config("spark.sql.session.timeZone", "UTC")
      // events fixture carries TIMESTAMP(NANOS) parquet timestamps; read
      // as raw longs and normalize in graft.tables.Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate silently RECYCLES a pre-existing default session built
    // without these extensions — q61's ASOF syntax would then fail late
    // with an opaque parser error. Harness must own the first session in
    // the JVM; fail fast at construction if it did not.
    require(spark.sessionState.sqlParser.isInstanceOf[graft.plans.GraftSqlParser],
      "Harness.withSession got a recycled SparkSession without GraftExtensions " +
        "(another session was built first in this JVM) — the ASOF SQL surface " +
        "and injected functions would be missing; stop the existing session first")
    spark.sparkContext.setLogLevel(logLevel)
    try body(spark)
    finally {
      // cleanup must run even on a mid-run throw, or stream-snapshot
      // temp dirs and persisted plans leak for the JVM's lifetime;
      // every session memo registers with Memos, so one clear reaches all
      Memos.clearAll()
      stop(spark)
    }
  }

  /** Stop `spark` after unloading this JVM's state store providers.
    * Spark's state store maintenance thread outlives the session: with
    * providers still loaded it keeps calling the stopped session's
    * coordinator and logs an `Error doing maintenance` stack trace for
    * every loaded provider on each maintenance pass. The providers are
    * JVM-wide, so no stream may be running in another session. */
  def stop(spark: SparkSession): Unit = {
    StateStore.stop()
    spark.stop()
  }
}
