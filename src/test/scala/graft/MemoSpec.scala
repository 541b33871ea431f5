package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The session-memo facility (graft.Memos): release on clear, release
  * of stopped sessions' entries on access, and the two-phase clear.
  * Tiny inline frames, plus one sf0.001
  * stream source for a real scratch-dir memo (read from the repository's
  * copy of the fixture; tests run from the repository root). */
class MemoSpec extends AnyFunSuite {
  val d = "perfbench/fixture/sf0.001"

  test("clearAll unpersists every frame held by a memo, nested ones too") {
    val spark = TestSpark.session
    import spark.implicits._
    val solo = Memos.memo[String, DataFrame]()
    val nested = Memos.memo[String, (String, Seq[DataFrame])]()
    def pinned(n: Int) = { val f = (1 to n).toDF("x").persist(); f.count(); f }
    val a = solo(spark, "a")(pinned(3))
    val (b, c) = (pinned(4), pinned(5))
    nested(spark, "bc")(("tag", Seq(b, c)))
    assert(Seq(a, b, c).forall(_.storageLevel != StorageLevel.NONE))
    Memos.clearAll()
    assert(solo.isEmpty && nested.isEmpty)
    assert(Seq(a, b, c).forall(_.storageLevel == StorageLevel.NONE),
      "a cleared memo must not leave its frames' blocks pinned")
  }

  test("a stream-source scratch dir is deleted by clearAll and by dead-session eviction") {
    val s1 = TestSpark.session
    val dir1 = queries.StreamOps.streamSource(s1, d)
    assert(Files.isDirectory(Paths.get(dir1)))
    Memos.clearAll()
    assert(!Files.exists(Paths.get(dir1)), s"clearAll left $dir1 behind")

    val dir2 = queries.StreamOps.streamSource(s1, d)
    assert(dir2 != dir1 && Files.isDirectory(Paths.get(dir2)))
    Harness.stop(s1)
    val s2 = TestSpark.session
    assert(s2 ne s1, "a stopped default session must not be recycled")
    val dir3 = queries.StreamOps.streamSource(s2, d)
    assert(!Files.exists(Paths.get(dir2)),
      s"the stopped session's snapshot $dir2 must be deleted on the next access")
    Memos.clearAll()
    assert(!Files.exists(Paths.get(dir3)))
  }

  test("clear detaches every entry of every memo before releasing any") {
    val spark = TestSpark.session
    var seenAllEmpty = Seq.empty[Boolean]
    def probe(v: String): Unit = seenAllEmpty :+= Memos.registered.forall(_.isEmpty)
    val m1 = Memos.memo[String, String](probe)
    val m2 = Memos.memo[Int, String](probe)
    m1(spark, "x")("1"); m2(spark, 1)("2"); m2(spark, 2)("3")
    Memos.clearAll()
    assert(seenAllEmpty == Seq(true, true, true),
      "each release must run after every memo is already detached")
  }
}
