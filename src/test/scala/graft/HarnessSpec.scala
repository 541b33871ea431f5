package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The entry points' session (Harness.withSession). */
class HarnessSpec extends AnyFunSuite {

  test("Harness sessions keep Spark's AQE coalescing defaults") {
    // Harness must own the session it builds: stop the shared test
    // session (later suites getOrCreate a fresh one)
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    Harness.withSession("2") { spark =>
      val conf = spark.sessionState.conf
      assert(conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      assert(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) == 64L * 1024 * 1024)
    }
  }
}
