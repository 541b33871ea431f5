package graft

import org.apache.spark.sql.SparkSession

/** THE test SparkSession. sbt runs every suite in one JVM, and
  * `SparkSession.builder().getOrCreate()` returns the first session ever
  * created there — so per-suite `.config(...)` calls are illusory: whoever
  * runs first wins, and a suite that forgot `nanosAsLong` poisons every
  * later suite that reads the events fixture (TIMESTAMP(NANOS) then
  * surfaces as TIMESTAMP_NTZ and `unix_micros` fails to resolve). One
  * shared builder makes the canonical config a fact instead of a race.
  */
object TestSpark {
  /** One warehouse dir per JVM, deleted when the JVM exits: a temp dir
    * made inside the builder ran on EVERY session call (leaking an empty
    * dir each time and triggering ignored-static-conf warnings once a
    * session exists). */
  private val warehouseDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh")
    sys.addShutdownHook(graft.streaming.Replay.rmrf(dir))
    dir.toString
  }

  /** A def, not a lazy val: GraftExtensionsSpec legitimately stops the
    * default session to bind its extensions session, and getOrCreate
    * after a stop re-creates WITH this builder's canonical config. */
  def session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // events fixture carries TIMESTAMP(NANOS) parquet timestamps; read
    // as raw longs and normalize in graft.tables.Tables.events
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // an owned tmp warehouse: saveAsTable (ScaleOpsSpec bucketing) refuses
    // locations left behind by a previous JVM's default warehouse dir
    .config("spark.sql.warehouse.dir", warehouseDir)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
