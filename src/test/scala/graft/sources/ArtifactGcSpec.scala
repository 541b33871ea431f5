package graft.sources

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** ArtifactStore.gc(): a long-lived checkout accumulates fixture-keyed
  * artifact dirs across fixture regenerations; gc must delete exactly
  * the keys whose source no longer reproduces its digest — and nothing
  * it can't prove stale. */
class ArtifactGcSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.TestSpark.session

  test("gc drops keys of changed/deleted fixtures, keeps current + unknown keys") {
    import spark.implicits._
    val fix = tempDir("gcfix").toString
    val data = Paths.get(fix, "t.parquet")
    Seq(1L, 2L).toDF("x").write.parquet(data.toString)
    // isolated root (round-18 advice, the GcTagSpec fix applied here
    // too): planted kinds and temp-fixture digests stay out of the
    // real shared store and its _registry.tsv; TestFs deletes the root
    // and the suite deletes fix, even on assertion failure
    TestFs.withTempRoot("gcroot") { _ =>

    // build an artifact keyed on the fixture's current state
    val k1 = ArtifactStore.key(fix, "t.parquet")
    ArtifactStore.loadOrBuild(spark, "gctest", k1)(Seq(7L).toDF("y")).collect()
    val dir1 = Paths.get(ArtifactStore.root, "gctest", k1)
    assert(Files.exists(dir1.resolve("_SUCCESS")))

    // an unregistered key (simulates a pre-registry artifact) survives
    val unknown = Paths.get(ArtifactStore.root, "gctest", "deadbeef0000")
    Files.createDirectories(unknown)
    Files.writeString(unknown.resolve("_SUCCESS"), "")
    // an orphaned tmp dir from a crashed builder is reaped
    val tmp = Paths.get(ArtifactStore.root, "gctest", s"$k1.tmp-99999")
    Files.createDirectories(tmp)

    // current fixture: gc keeps the live key
    val del0 = ArtifactStore.gc()
    assert(Files.exists(dir1), s"current-fixture artifact must survive gc: $del0")
    assert(!Files.exists(tmp), "orphaned tmp dir must be reaped")
    assert(Files.exists(unknown), "unregistered keys are kept (conservative)")

    // regenerate the fixture → the old key no longer reproduces → stale
    Thread.sleep(5) // ensure a distinct mtime
    spark.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L)))
      .toDF("x").write.mode("overwrite").parquet(data.toString)
    val del1 = ArtifactStore.gc()
    assert(!Files.exists(dir1), s"stale key must be deleted, gc removed: $del1")
    assert(Files.exists(unknown), "unknown keys still kept")

    // a NEW key for the regenerated fixture is current and survives
    val k2 = ArtifactStore.key(fix, "t.parquet")
    assert(k2 != k1)
    ArtifactStore.loadOrBuild(spark, "gctest", k2)(Seq(8L).toDF("y")).collect()
    val dir2 = Paths.get(ArtifactStore.root, "gctest", k2)
    ArtifactStore.gc()
    assert(Files.exists(dir2), "regenerated fixture's artifact survives")

    // deleted fixture → its key is stale too
    graft.streaming.Replay.rmrf(Paths.get(fix))
    ArtifactStore.gc()
    assert(!Files.exists(dir2), "a deleted fixture's artifact is collected")
    }
  }

  test("gc deletes retired kind dirs even when their digests still reproduce") {
    import spark.implicits._
    val fix = tempDir("gcretired").toString
    val data = Paths.get(fix, "t.parquet")
    Seq(1L).toDF("x").write.parquet(data.toString)
    TestFs.withTempRoot("gcroot2") { _ =>
      // a renamed-away kind: its digest still reproduces (fixture
      // unchanged), so the stale-key check alone would keep it forever
      val k = ArtifactStore.key(fix, "t.parquet")
      ArtifactStore.loadOrBuild(spark, "gcoldkind", k)(Seq(7L).toDF("y")).collect()
      val oldDir = Paths.get(ArtifactStore.root, "gcoldkind")
      assert(Files.exists(oldDir.resolve(k).resolve("_SUCCESS")))
      val kept = ArtifactStore.gc()
      assert(Files.exists(oldDir), s"live kind must survive default gc: $kept")
      val deleted = ArtifactStore.gc(retired = Set("gcoldkind"))
      assert(!Files.exists(oldDir), "retired kind dir must be deleted whole")
      assert(deleted.exists(_.endsWith("gcoldkind")), deleted.mkString(", "))
    }
  }
}
