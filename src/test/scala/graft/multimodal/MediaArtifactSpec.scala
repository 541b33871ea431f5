package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{FoldTagLock, MediaOps}

/** Round-18 (round-17 verdict #4): m09's verified SimHash pair set and
  * m10's cluster labeling persist as cross-run artifacts — they were
  * the two heaviest remaining uncached builds (7.5 s / 8.9 s at
  * sf0.1), both pure functions of documents.parquet. Locks the fold
  * tags (m10's across ALL THREE contributing modules), the
  * served-from-disk contract, and m10 ≡ its uncached CC walk. */
class MediaArtifactSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.session
  val d = "/root/testdata/sf0.001"
  val srcMm = "src/main/scala/graft/multimodal/Multimodal.scala"
  val srcMo = "src/main/scala/graft/queries/MediaOps.scala"
  val srcTo = "src/main/scala/graft/queries/TextOps.scala"

  test("m_simhash_pairs artifact fold-shape tag is locked to the derivation source") {
    // "def chunkOne(" (round-21, ADVICE): the chunk-loop body moved out
    // of chunkMedia in round 20 — without it in the region list a future
    // edit to the chunk logic would change artifact contents without
    // churning the tag, and stale artifacts would be served.
    val want = FoldTagLock.expectedTag("msp", srcMm,
      Seq("def syntheticMedia(", "def chunkOne(", "def chunkMedia(",
        "def chunkFrame(", "def chunkSimhash(", "def chunkSimhashPairsUncached("))
    assert(Multimodal.SimhashPairsFoldTag == want,
      s"pair derivation changed: bump Multimodal.SimhashPairsFoldTag to \"$want\" " +
        "(the persisted m_simhash_pairs artifact must be invalidated with it)")
  }

  test("media_clusters artifact fold-shape tag is locked across all three contributing modules") {
    val want = FoldTagLock.expectedTagMulti("mdc", Seq(
      // chunkOne added round-21 (ADVICE) — see the msp lock above
      srcMm -> Seq("def syntheticMedia(", "def chunkOne(", "def chunkMedia(",
        "def chunkFrame(", "def chunkSimhash(", "def chunkSimhashPairsUncached("),
      srcTo -> Seq("def ccPointerJumping("),
      srcMo -> Seq("def mediaDupClustersUncached(")))
    assert(MediaOps.MediaClustersFoldTag == want,
      s"cluster derivation changed: bump MediaOps.MediaClustersFoldTag to \"$want\" " +
        "(the persisted media_clusters artifact must be invalidated with it)")
  }

  test("m09/m10: a cleared session serves both from artifacts with identical rows") {
    val p1 = Multimodal.chunkSimhashPairs(spark, d).collect().map(_.toSeq).toSeq
    val c1 = MediaOps.mediaDupClusters(spark, d).collect().map(_.toSeq).toSeq
    assert(p1.nonEmpty && c1.nonEmpty, "fixture must yield pairs and clusters")
    graft.Memos.clearAll()
    val builds0 = graft.sources.ArtifactStore.builds.get()
    val loads0 = graft.sources.ArtifactStore.loads.get()
    val p2 = Multimodal.chunkSimhashPairs(spark, d).collect().map(_.toSeq).toSeq
    val c2 = MediaOps.mediaDupClusters(spark, d).collect().map(_.toSeq).toSeq
    assert(graft.sources.ArtifactStore.builds.get() == builds0,
      "a cleared session must not re-run the chunk/SimHash/CC pipelines")
    assert(graft.sources.ArtifactStore.loads.get() >= loads0 + 2,
      "both artifacts must load from disk")
    assert(p2 == p1, "artifact-served pairs must be identical")
    assert(c2 == c1, "artifact-served clusters must be identical")
  }

  test("m10 artifact ≡ uncached CC walk (sorted)") {
    val served = MediaOps.mediaDupClusters(spark, d)
      .collect().map(_.toSeq).toSeq
    val walked = MediaOps.mediaDupClustersUncached(spark, d)
      .orderBy("media_id").collect().map(_.toSeq).toSeq
    assert(served == walked,
      "the persisted labeling must equal a fresh pair-graph walk")
  }
}
