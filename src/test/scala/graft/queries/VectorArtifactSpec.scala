package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Round-17: v02's exact truth-pair set and v43's search-ready IVF-PQ
  * index persist as cross-run artifacts. Locks the fold tags (the
  * IncCcFoldTag rule), v43's build-path ≡ serve-path equality against
  * v24 (they share one oracle, so they must also agree in-JVM), and the
  * served-from-disk contract after a memo clear. */
class VectorArtifactSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.session
  val d = "/root/testdata/sf0.001"

  test("a new session loads both ANN index artifacts (no rebuild), v24 unchanged") {
    // The pre-round-17 contract, kept verbatim (a round-17 rewrite
    // briefly dropped it — caught in review): the coarse routing table
    // and the PQ candidate frame are deployed parquet artifacts, so a
    // FRESH session serves v08/v12/v24/v25 from the index scan instead
    // of re-scoring the corpus.
    // run 1: builds or loads — either way both artifacts exist after
    val r1 = graft.SparkEntry.all("v24_ivfpq_topk").fn(spark, d)
      .collect().map(_.toSeq).toSet
    val key = graft.sources.ArtifactStore.key(d, "embeddings.parquet")
    for (kind <- Seq("ivf_affinity", "pq_cand64")) {
      val dir = java.nio.file.Paths.get(graft.sources.ArtifactStore.root, kind, key)
      assert(java.nio.file.Files.exists(dir.resolve("_SUCCESS")),
        s"$kind artifact must exist after first use: $dir")
    }

    // run 2: a NEW SparkSession (fresh memo key — the fresh-JVM shape)
    // must LOAD both halves, and consumers must scan the artifacts
    val s2 = spark.newSession()
    val builds0 = graft.sources.ArtifactStore.builds.get()
    val loads0 = graft.sources.ArtifactStore.loads.get()
    val aff2 = VectorOps.centroidAffinity(s2, d)
    val cand2 = VectorOps.pqCand64(s2, d)
    assert(graft.sources.ArtifactStore.builds.get() == builds0,
      "a second session must not rebuild the ANN index")
    assert(graft.sources.ArtifactStore.loads.get() >= loads0 + 2,
      "both index halves must load from disk")
    assert(aff2.inputFiles.forall(_.contains("ivf_affinity")),
      s"routing reads the artifact scan: ${aff2.inputFiles.take(3).mkString(",")}")
    assert(cand2.inputFiles.forall(_.contains("pq_cand64")),
      s"PQ candidates read the artifact scan: ${cand2.inputFiles.take(3).mkString(",")}")

    val r2 = graft.SparkEntry.all("v24_ivfpq_topk").fn(s2, d)
      .collect().map(_.toSeq).toSet
    assert(r2 == r1, "artifact-served results must hash-match the built run")
  }
  val src = "src/main/scala/graft/queries/VectorOps.scala"

  /** inputFiles AFTER dropping every cached plan (the t03 lesson —
    * TextArtifactSpec has the same helper): Dataset.inputFiles reads
    * the OPTIMIZED plan, and a persisted subtree from an earlier test
    * substitutes an InMemoryRelation over the very scan under
    * assertion. */
  private def freshInputs(df: org.apache.spark.sql.DataFrame): Array[String] = {
    spark.sharedState.cacheManager.clearCache()
    df.inputFiles
  }

  test("cos_pairs artifact fold-shape tag is locked to the derivation source") {
    val want = FoldTagLock.expectedTag("cos", src,
      Seq("def vecs(", "def cosineNearDupPairsUncached("))
    assert(VectorOps.CosPairsFoldTag == want,
      s"truth-pair derivation changed: bump VectorOps.CosPairsFoldTag to \"$want\" " +
        "(the persisted cos_pairs artifact must be invalidated with it)")
  }

  test("ann_index artifact fold-shape tag is locked to the derivation source") {
    val want = FoldTagLock.expectedTag("ann", src,
      Seq("def pqCandUncachedK(", "def centroidAffinityUncached(",
        "def cellAssignments(", "def annIndexUncached("))
    assert(VectorOps.AnnIndexFoldTag == want,
      s"index derivation changed: bump VectorOps.AnnIndexFoldTag to \"$want\" " +
        "(the persisted ann_index artifact must be invalidated with it)")
  }

  test("v43 persisted-index serve ≡ v24 in-session build, and a cleared session scans the artifact") {
    val r24 = VectorOps.ivfPqTopK(spark, d).collect().map(_.toSeq).toSeq
    val r43 = VectorOps.annPersistedIndexTopK(spark, d).collect().map(_.toSeq).toSeq
    assert(r43.nonEmpty && r43 == r24,
      "the persisted index must answer exactly what the in-session pipeline answers")
    graft.Memos.clearAll()
    val loads0 = graft.sources.ArtifactStore.loads.get()
    val builds0 = graft.sources.ArtifactStore.builds.get()
    val again = VectorOps.annPersistedIndexTopK(spark, d).collect().map(_.toSeq).toSeq
    assert(graft.sources.ArtifactStore.loads.get() > loads0,
      "post-clear serve must SCAN the persisted ann_index artifact")
    assert(graft.sources.ArtifactStore.builds.get() == builds0,
      "post-clear serve must not rebuild the index")
    assert(again == r43, "artifact-served top-k must be identical")
  }

  test("corpus_ann/rolled_ann (v44) fold-shape tag is locked to the derivation source") {
    val want = FoldTagLock.expectedTag("anr", src,
      Seq("private[queries] val VecDeltaMod", "private[queries] val VecDeltaRes",
        "def annEncodeSlice(", "def corpusAnnUncached(", "def rolledAnnUncached("))
    assert(VectorOps.AnnRollFoldTag == want,
      s"roll derivation changed: bump VectorOps.AnnRollFoldTag to \"$want\" " +
        "(the persisted corpus_ann/rolled_ann artifacts must be invalidated with it)")
  }

  test("v44 roll-forward ≡ rebuild in-engine: rolled index equals the full v24 encode chain") {
    // the oracle states the same equality cross-engine; this pins it
    // in-JVM at posting granularity (the t68 convention)
    val rolled = VectorOps.rolledAnnUncached(spark, d)
      .collect().map(_.toSeq).toSet
    val rebuilt = VectorOps.annIndexUncached(spark, d)
      .collect().map(_.toSeq).toSet
    assert(rolled.nonEmpty && rolled == rebuilt,
      "corpus_ann ∪ delta-encode must be posting-for-posting the full rebuild")
  }

  test("v44 planted geometry: delta slice is real, encodes fresh, and partitions the id space") {
    import org.apache.spark.sql.functions._
    val all = graft.tables.Tables.embeddings(spark, d)
    val nAll = all.count()
    val nDelta = all.filter(
      pmod(col("vec_id"), lit(VectorOps.VecDeltaMod)) === VectorOps.VecDeltaRes).count()
    assert(nDelta > 0 && nDelta < nAll,
      s"fixture must have a non-trivial delta shard ($nDelta of $nAll)")
    // first-principles census: every vector contributes exactly 8
    // postings (one per subspace) to exactly one cell, on both slices
    val corpus = VectorOps.corpusAnnUncached(spark, d)
    assert(corpus.count() == 8 * (nAll - nDelta),
      "corpus index must hold 8 postings per corpus vector")
    val rolled = VectorOps.rolledAnnUncached(spark, d)
    assert(rolled.count() == 8 * nAll,
      "rolled index must hold 8 postings per vector, corpus ∪ delta")
    assert(rolled.select("vec_id").distinct().count() == nAll,
      "rolled index must cover every vector exactly once")
  }

  test("v44 serve: the roll plan scans the persisted corpus_ann artifact; a cleared session reads rolled_ann from disk") {
    // materialize once (builds or loads both artifacts)
    val r1 = VectorOps.annIndexRoll(spark, d).collect().map(_.toSeq).toSeq
    assert(r1.nonEmpty)
    // the roll plan's corpus side is the artifact scan — the delta is
    // the only slice of the embeddings fixture doing fresh encode work
    val rollInputs = VectorOps.rolledAnnUncached(spark, d).inputFiles
    assert(rollInputs.exists(_.contains("corpus_ann")),
      s"roll must scan the persisted corpus index: ${rollInputs.take(4).mkString(",")}")
    assert(rollInputs.exists(_.contains("embeddings.parquet")),
      "roll's fresh side reads the delta from the embeddings fixture")
    graft.Memos.clearAll()
    val builds0 = graft.sources.ArtifactStore.builds.get()
    val loads0 = graft.sources.ArtifactStore.loads.get()
    val r2 = VectorOps.annIndexRoll(spark, d).collect().map(_.toSeq).toSeq
    assert(graft.sources.ArtifactStore.builds.get() == builds0,
      "post-clear roll must not re-encode the corpus")
    assert(graft.sources.ArtifactStore.loads.get() > loads0,
      "post-clear roll must SCAN the persisted rolled_ann artifact")
    assert(r2 == r1, "artifact-served census must be identical")
  }

  test("v45 rolled-index serve ≡ v24 in-session build, scans rolled_ann, never re-encodes") {
    // the lifecycle loop-closer: after the v44 roll, tomorrow's top-k
    // scans the ROLLED artifact and must answer exactly what the
    // in-session pipeline answers (they share one oracle, so they must
    // also agree in-JVM — the v43 contract, one artifact later)
    val r24 = VectorOps.ivfPqTopK(spark, d).collect().map(_.toSeq).toSeq
    val r45 = VectorOps.annRolledServeTopK(spark, d).collect().map(_.toSeq).toSeq
    assert(r45.nonEmpty && r45 == r24,
      "the rolled index must be immediately query-ready with v24's exact answers")
    val serveInputs = VectorOps.annRolledServeUncached(spark, d).inputFiles
    assert(serveInputs.exists(_.contains("rolled_ann")),
      s"v45 must scan the ROLLED artifact: ${serveInputs.take(4).mkString(",")}")
    assert(!serveInputs.exists(_.contains(java.io.File.separator + "ann_index")),
      "v45 must not fall back to the pre-roll index")
    graft.Memos.clearAll()
    val builds0 = graft.sources.ArtifactStore.builds.get()
    val loads0 = graft.sources.ArtifactStore.loads.get()
    val again = VectorOps.annRolledServeTopK(spark, d).collect().map(_.toSeq).toSeq
    assert(graft.sources.ArtifactStore.builds.get() == builds0,
      "post-clear rolled serve must not rebuild anything")
    assert(graft.sources.ArtifactStore.loads.get() > loads0,
      "post-clear rolled serve must SCAN the persisted rolled_ann artifact")
    assert(again == r45, "artifact-served top-k must be identical")
  }

  test("corpus_ann2/rolled_ann_s1/rolled_ann_s2 (v46) fold-shape tag is locked to the derivation source") {
    val want = FoldTagLock.expectedTag("an2", src,
      Seq("private[queries] val VecDeltaMod", "private[queries] val VecDeltaRes",
        "private[queries] val VecShardARes", "def annEncodeSlice(",
        "def corpusAnn2Uncached(", "def rolledAnnS1Uncached(",
        "def rolledAnnS2Uncached("))
    assert(VectorOps.AnnRoll2FoldTag == want,
      s"two-step roll derivation changed: bump VectorOps.AnnRoll2FoldTag to \"$want\" " +
        "(the persisted corpus_ann2/rolled_ann_s1/rolled_ann_s2 artifacts must be invalidated with it)")
  }

  test("reaped_ann (v47) fold-shape tag is locked to the derivation source") {
    val want = FoldTagLock.expectedTag("anp", src,
      Seq("private[queries] val VecDeltaMod", "private[queries] val VecDelRes",
        "def annEncodeSlice(", "def corpusAnnUncached(", "def rolledAnnUncached(",
        "def annDeletionSet(", "def reapedAnnUncached("))
    assert(VectorOps.AnnReapFoldTag == want,
      s"reap derivation changed: bump VectorOps.AnnReapFoldTag to \"$want\" " +
        "(the persisted reaped_ann artifact must be invalidated with it)")
  }

  test("v46 roll∘roll ≡ rebuild in-engine: the twice-rolled index equals the full encode chain") {
    // v44 proves ONE induction step; this is the induction — the
    // second roll's corpus input is itself a rolled artifact, and the
    // result must STILL be posting-for-posting the full rebuild
    val rolled2 = VectorOps.rolledAnnS2Uncached(spark, d)
      .collect().map(_.toSeq).toSet
    val rebuilt = VectorOps.annIndexUncached(spark, d)
      .collect().map(_.toSeq).toSet
    assert(rolled2.nonEmpty && rolled2 == rebuilt,
      "rolled_ann_s1 ∪ shard-B-encode must be posting-for-posting the full rebuild")
  }

  test("v46 planted geometry: the three slices partition the id space; roll #2 reads the ROLLED artifact") {
    import org.apache.spark.sql.functions._
    val all = graft.tables.Tables.embeddings(spark, d)
    val nAll = all.count()
    val nA = all.filter(
      pmod(col("vec_id"), lit(VectorOps.VecDeltaMod)) === VectorOps.VecShardARes).count()
    val nB = all.filter(
      pmod(col("vec_id"), lit(VectorOps.VecDeltaMod)) === VectorOps.VecDeltaRes).count()
    assert(nA > 0 && nB > 0 && nA + nB < nAll,
      s"fixture must have two non-trivial ingest shards ($nA, $nB of $nAll)")
    assert(VectorOps.corpusAnn2Uncached(spark, d).count() == 8 * (nAll - nA - nB),
      "day-1 corpus must hold 8 postings per non-shard vector")
    assert(VectorOps.rolledAnnS1Uncached(spark, d).count() == 8 * (nAll - nB),
      "roll #1 must add exactly shard A")
    val s2 = VectorOps.rolledAnnS2Uncached(spark, d)
    assert(s2.count() == 8 * nAll && s2.select("vec_id").distinct().count() == nAll,
      "roll #2 must cover every vector exactly once")
    // the induction's PLAN fact: roll #2 scans the ROLLED artifact —
    // never the day-1 corpus artifact — and its only embeddings-fixture
    // work is the shard-B slice (the routing/encode side)
    val inputs = freshInputs(VectorOps.rolledAnnS2Uncached(spark, d))
    assert(inputs.exists(_.contains("rolled_ann_s1")),
      s"roll #2's corpus side must scan the ROLLED artifact: ${inputs.take(4).mkString(",")}")
    assert(!inputs.exists(_.contains("corpus_ann2")),
      "roll #2 must never rescan the day-1 corpus artifact — that is the induction")
    assert(inputs.exists(_.contains("embeddings.parquet")),
      "roll #2's fresh side reads shard B from the embeddings fixture")
  }

  test("v46 census ≡ v44 census: the two lifecycles agree (same full-rebuild grade)") {
    val one = VectorOps.annIndexRoll(spark, d).collect().map(_.toSeq).toSeq
    val two = VectorOps.annRollTwoStep(spark, d).collect().map(_.toSeq).toSeq
    assert(two.nonEmpty && two == one,
      "one-roll and two-roll lifecycles must grade to the identical census")
  }

  test("v47 planted deletion: reaped postings are gone, survivors byte-identical, no corpus rescan") {
    import org.apache.spark.sql.functions._
    // the deletion residue must be real on the fixture
    val delIds = VectorOps.annDeletionSet(spark, d)
      .collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty, "fixture must have a non-trivial deletion set")
    val reaped = VectorOps.reapedAnnUncached(spark, d).collect().map(_.toSeq)
    // (a) every deleted vector's postings are GONE
    assert(reaped.forall(r => !delIds.contains(r.head.asInstanceOf[Long])),
      "a deleted vector's postings must not survive the reap")
    // (b) every surviving posting is byte-identical to its rolled_ann
    // row — the reap may only ever DROP rows, never rewrite one
    val rolled = VectorOps.rolledAnnUncached(spark, d).collect().map(_.toSeq)
    val expect = rolled.filterNot(r => delIds.contains(r.head.asInstanceOf[Long]))
    assert(reaped.toSet == expect.toSet && reaped.size == expect.size,
      "the reap must equal rolled_ann minus exactly the deletion set")
    // (c) the reap plan scans the rolled artifact; its only
    // embeddings-fixture read is the deletion-set slice (no re-encode,
    // no corpus rescan — O(|deletions|) fresh work)
    val inputs = freshInputs(VectorOps.reapedAnnUncached(spark, d))
    assert(inputs.exists(_.contains("rolled_ann")),
      s"the reap must scan the persisted rolled index: ${inputs.take(4).mkString(",")}")
    assert(!inputs.exists(_.contains("corpus_ann")),
      "the reap must not rescan the corpus artifact")
  }

  test("v47 reap ≡ rebuild-over-filtered-corpus in-engine") {
    import org.apache.spark.sql.functions._
    val reaped = VectorOps.reapedAnnUncached(spark, d).collect().map(_.toSeq).toSet
    val rebuilt = VectorOps.annIndexUncached(spark, d)
      .filter(pmod(col("vec_id"), lit(VectorOps.VecDeltaMod)) =!= VectorOps.VecDelRes)
      .collect().map(_.toSeq).toSet
    assert(reaped.nonEmpty && reaped == rebuilt,
      "anti-join reap must equal a full rebuild over the filtered corpus")
  }

  test("v48 reaped serve: deletions immediately invisible, ≡ filtered-rebuild serve, scans reaped_ann") {
    import org.apache.spark.sql.functions._
    val delIds = VectorOps.annDeletionSet(spark, d)
      .collect().map(_.getLong(0)).toSet
    val r48 = VectorOps.annReapedServeTopK(spark, d).collect()
    assert(r48.nonEmpty)
    // (a) the compliance fact: no tombstoned vector may be served
    assert(r48.forall(r => !delIds.contains(r.getLong(2))),
      "a deleted vector must never appear in a post-reap top-5")
    // (b) non-vacuity: the pre-reap top-5s must actually contain
    // deleted vectors, or (a) grades nothing (fixture check: 5 such
    // hits at sf0.001, 9 at sf0.01 — measured via the oracle chain)
    val r24 = VectorOps.ivfPqTopK(spark, d).collect()
    assert(r24.exists(r => delIds.contains(r.getLong(2))),
      "fixture must surface deleted vectors in PRE-reap top-5s")
    // (c) ≡ a serve over the filtered FULL REBUILD in-engine (the
    // cross-engine statement is v48's oracle; this pins it in-JVM)
    val want = VectorOps.annServeOverIndex(spark, d,
        VectorOps.annIndexUncached(spark, d).filter(
          pmod(col("vec_id"), lit(VectorOps.VecDeltaMod)) =!= VectorOps.VecDelRes))
      .collect().map(_.toSeq).toSeq
    assert(r48.map(_.toSeq).toSeq == want,
      "reaped-index serve must equal the serve over a filtered rebuild")
    // (d) the plan scans the REAPED artifact — never the rolled or
    // pre-roll index
    val inputs = freshInputs(VectorOps.annReapedServeUncached(spark, d))
    assert(inputs.exists(_.contains("reaped_ann")),
      s"v48 must scan the reaped artifact: ${inputs.take(4).mkString(",")}")
    assert(!inputs.exists(_.contains("rolled_ann")) &&
      !inputs.exists(_.contains(java.io.File.separator + "ann_index")),
      "v48 must not fall back to a pre-reap index")
  }

  test("v02: a cleared session is served from the cos_pairs artifact with identical rows") {
    val rows1 = VectorOps.cosineNearDupPairs(spark, d).collect().map(_.toSeq).toSeq
    assert(rows1.nonEmpty, "fixture must have cosine near-dup pairs")
    graft.Memos.clearAll()
    val builds0 = graft.sources.ArtifactStore.builds.get()
    val rows2 = VectorOps.cosineNearDupPairs(spark, d).collect().map(_.toSeq).toSeq
    assert(graft.sources.ArtifactStore.builds.get() == builds0,
      "second invocation must not rebuild the truth set")
    assert(rows2 == rows1, "artifact scan must equal the built frame")
  }
}
