package graft

import graft.streaming.Replay
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The entry points' session (Harness.withSession). */
class HarnessSpec extends AnyFunSuite {

  test("Harness sessions keep Spark's AQE coalescing defaults") {
    // Harness must own the session it builds: stop the shared test
    // session (later suites getOrCreate a fresh one)
    SparkSession.getActiveSession.foreach(Harness.stop)
    SparkSession.getDefaultSession.foreach(Harness.stop)
    Harness.withSession("2") { spark =>
      val conf = spark.sessionState.conf
      assert(conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      assert(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) == 64L * 1024 * 1024)
    }
  }

  /** The JVM's loaded state store providers (Spark keeps the map private). */
  private def loadedProviders: scala.collection.Map[_, _] = {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    f.get(StateStore).asInstanceOf[scala.collection.Map[_, _]]
  }

  test("a stopped Harness session leaves no state store loaded and no maintenance running") {
    SparkSession.getActiveSession.foreach(Harness.stop)
    SparkSession.getDefaultSession.foreach(Harness.stop)
    graft.TempDirs.withTempDir("graft_harness_state") { dir =>
      Harness.withSession("2") { spark =>
        import spark.implicits._
        Seq((1L, 10L), (1L, 10L)).toDF("k", "sec").coalesce(1)
          .write.parquet(dir.resolve("src").toString)
        Seq((2L, 20L)).toDF("k", "sec").coalesce(1)
          .write.mode("append").parquet(dir.resolve("src").toString)
        // a stateful drain: dropDuplicates keeps its keys in state stores
        val r = Replay.drain(spark, dir.resolve("src").toString,
          StructType.fromDDL("k BIGINT, sec BIGINT"),
          Replay.Memory("graft_harness_dedup"))(_.dropDuplicates("k"))
        assert(r.out.count() == 2)
        assert(loadedProviders.nonEmpty && StateStore.isMaintenanceRunning,
          "the drain must load state stores for this test to mean anything")
      }
      assert(loadedProviders.isEmpty, s"still loaded: ${loadedProviders.keys}")
      assert(!StateStore.isMaintenanceRunning)
    }
  }
}
