package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 (r16 brief #3): the minhash signature table and the
  * verified LSH pair frame are cross-run ArtifactStore artifacts now —
  * these tests lock (a) the fold-shape tags to the derivation source
  * (the IncCcFoldTag rule: an edit without a bump fails here and prints
  * the value to paste), and (b) the serving contract: after the session
  * memo is cleared, a re-invocation is served from the persisted
  * artifact with byte-identical rows. */
class TextArtifactSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.session
  val d = "/root/testdata/sf0.001"
  val src = "src/main/scala/graft/queries/TextOps.scala"

  /** The signature derivation region: normalization, shingling, the
    * sid hash, the min-hash aggregates, and every LSH constant. */
  private val SigSigs = Seq("def norm(", "def shingles(", "def shinglesOf(",
    "def sid(", "def mhAggs", "val NumHashes", "val BandRows", "val MhA",
    "val MhB", "val P31")

  /** The banding layout shared by t03 and t67's postings. */
  private val BandSigs = Seq("def bandsOf(", "val BandKeys")

  /** The postings-table derivation doc_sids adds on top of SigSigs. */
  private val DocSidSigs = Seq("def sidsOf(", "def docSidsUncached(")

  test("doc_sids artifact fold-shape tag is locked to the derivation source") {
    val want = FoldTagLock.expectedTag("dsd", src, SigSigs ++ DocSidSigs)
    assert(TextOps.DocSidsFoldTag == want,
      s"postings derivation changed: bump TextOps.DocSidsFoldTag to \"$want\" " +
        "(the persisted doc_sids artifact must be invalidated with it)")
  }

  test("minhash_sig artifact fold-shape tag is locked to the derivation source") {
    val want = FoldTagLock.expectedTag("sig", src,
      SigSigs ++ DocSidSigs :+ "def signatureFrameUncached(")
    assert(TextOps.SigFoldTag == want,
      s"signature derivation changed: bump TextOps.SigFoldTag to \"$want\" " +
        "(the persisted minhash_sig artifact must be invalidated with it)")
  }

  test("lsh_pairs artifact fold-shape tag is locked to the derivation source") {
    val want = FoldTagLock.expectedTag("lsh", src,
      SigSigs ++ DocSidSigs ++ BandSigs :+ "def lshNearDupPairsUncached(")
    assert(TextOps.LshPairsFoldTag == want,
      s"pair derivation changed: bump TextOps.LshPairsFoldTag to \"$want\" " +
        "(the persisted lsh_pairs artifact must be invalidated with it)")
  }

  test("corpus_sids/corpus_bands/rolled_bands (t67/t68) fold-shape tag is locked to the derivation source") {
    val want = FoldTagLock.expectedTag("dlt", src,
      SigSigs ++ DocSidSigs ++ BandSigs ++ Seq("val DeltaMod", "val DeltaRes",
        "def corpusDocs(", "def deltaDocs(", "def bandsOfSlice(", "def deltaBands(",
        "def corpusSidsUncached(", "def corpusBandsUncached(",
        "def deltaDedupUncached(", "def deltaDedupBuild(",
        "def deltaDedupBuildOver(", "def rolledBandsUncached("))
    assert(TextOps.DeltaFoldTag == want,
      s"delta-index derivation changed: bump TextOps.DeltaFoldTag to \"$want\" " +
        "(the persisted corpus_sids/corpus_bands/rolled_bands artifacts must be invalidated with it)")
  }

  test("corpus_bands2/rolled_bands_s1/rolled_bands_s2 (t69) fold-shape tag is locked to the derivation source") {
    val want = FoldTagLock.expectedTag("bd2", src,
      SigSigs ++ DocSidSigs ++ BandSigs ++ Seq("val DeltaMod", "val DeltaRes",
        "private[queries] val ShardARes", "def bandsOfSlice(",
        "def corpusBands2Uncached(", "def rolledBandsS1Uncached(",
        "def rolledBandsS2Uncached("))
    assert(TextOps.BandRoll2FoldTag == want,
      s"two-step roll derivation changed: bump TextOps.BandRoll2FoldTag to \"$want\" " +
        "(the persisted corpus_bands2/rolled_bands_s1/rolled_bands_s2 artifacts must be invalidated with it)")
  }

  test("reaped_bands (t70) fold-shape tag is locked to the derivation source") {
    val want = FoldTagLock.expectedTag("bdp", src,
      SigSigs ++ DocSidSigs ++ BandSigs ++ Seq("val DeltaMod", "val DeltaRes",
        "private[queries] val DocDelRes", "def rolledBandsUncached(",
        "def docDeletionSet(", "def reapedBandsUncached("))
    assert(TextOps.BandReapFoldTag == want,
      s"reap derivation changed: bump TextOps.BandReapFoldTag to \"$want\" " +
        "(the persisted reaped_bands artifact must be invalidated with it)")
  }

  test("t68 roll-forward ≡ rebuild: the rolled index census equals a from-scratch banding of all docs") {
    // the DuckDB oracle states this cross-engine; this states it
    // in-engine so the union write can never silently drop or duplicate
    // postings even where both engines would drift together
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, sum}
    val rebuilt = TextOps.minhashSignatures(spark, d) // full-corpus signatures
    val nBands = TextOps.NumHashes / TextOps.BandRows
    val bands = (0 until nBands).map { b =>
      rebuilt.select(col("doc_id"), lit(b).as("band"),
        col(s"mh${TextOps.BandRows * b}").as("h0"),
        col(s"mh${TextOps.BandRows * b + 1}").as("h1"),
        col(s"mh${TextOps.BandRows * b + 2}").as("h2"),
        col(s"mh${TextOps.BandRows * b + 3}").as("h3"))
    }.reduce(_ unionByName _)
    val want = bands.groupBy("band")
      .agg(count(lit(1)).as("n_postings"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("doc_id")).cast("long").as("id_sum"),
        sum(col("h0") + col("h1") + col("h2") + col("h3")).cast("long").as("h_checksum"))
      .orderBy("band").collect().map(_.toSeq).toSeq
    val got = TextOps.indexRoll(spark, d).collect().map(_.toSeq).toSeq
    assert(got == want, s"rolled census diverged from rebuild:\n got=$got\nwant=$want")
    assert(got.size == nBands)
  }

  test("t67 incremental ≡ batch: delta-dedup equals the full LSH pairs restricted to delta-touching") {
    // the DuckDB oracle states this cross-engine; this states it
    // IN-ENGINE against the t03 frame, so the two implementations (one
    // incremental over persisted postings, one static) cannot drift even
    // where the fixture has no discriminating pair
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val batch = TextOps.lshNearDupPairs(spark, d)
      .filter(pmod(col("a_id"), lit(TextOps.DeltaMod)) === TextOps.DeltaRes ||
        pmod(col("b_id"), lit(TextOps.DeltaMod)) === TextOps.DeltaRes)
      .collect().map(_.toSeq).toSeq
    val inc = TextOps.deltaDedup(spark, d).collect().map(_.toSeq).toSeq
    assert(inc == batch,
      s"incremental delta-dedup diverged from batch (inc=${inc.size}, batch=${batch.size})")
    assert(inc.nonEmpty, "fixture must have at least one delta-touching pair")
  }

  test("t67 planted geometry: delta↔corpus and delta↔delta dups found; corpus↔corpus gated out") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // The m13/m14 evidence bar applied to t67: plant KNOWN duplicates on
    // both sides of the delta boundary (delta = doc_id ≡ 7 mod 10) and
    // grade the census against hand-known truth. Identical texts ⇒
    // identical shingle sets ⇒ identical signatures ⇒ band candidates ⇒
    // jaccard exactly 1.0 — no hand-tracing of the hash needed:
    //   docs 3 (corpus) & 7 (delta): same text A  → MUST surface (3, 7)
    //   docs 17 & 27 (both delta):   same text B  → MUST surface (17, 27)
    //   docs 4 & 14 (both corpus):   same text C  → must be ABSENT
    //     (a dup, but not delta-touching — yesterday's backfill already
    //     reported it; the incremental pass must not re-emit it)
    //   docs 5, 8 (corpus): unique long texts     → absent
    val A = "the quick brown fox jumps over the lazy dog again and again tonight"
    val B = "completely different delta payload about streaming ingestion of text"
    val C = "a corpus only duplicate that the incremental pass must never re emit"
    val dir = java.nio.file.Files.createTempDirectory("graft_t67plant")
      .toFile.getAbsolutePath
    Seq(
      (3L, A, "en", "fx"), (7L, A, "en", "fx"),
      (17L, B, "en", "fx"), (27L, B, "en", "fx"),
      (4L, C, "en", "fx"), (14L, C, "en", "fx"),
      (5L, "unrelated corpus text number five with plenty of words inside", "en", "fx"),
      (8L, "another unrelated corpus document with its own distinct wording", "en", "fx"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.deltaDedup(spark, dir)
      .select("a_id", "b_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((3L, 7L), (17L, 27L)),
      s"exactly the delta-touching dup pairs must surface: $out")
    assert(out.forall(_._3 == 1.0),
      s"identical texts must verify at jaccard exactly 1.0: $out")
    // and the corpus↔corpus dup really IS a dup the batch path sees —
    // only the delta restriction keeps it out of t67's census
    val batch = TextOps.lshNearDupPairs(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(batch.contains((4L, 14L)),
      s"fixture self-check: the corpus-only dup must exist in the batch frame: $batch")
    // t68 on the same planted corpus, from first principles: every doc
    // contributes EXACTLY one posting per band (4 bands, one signature
    // row each), so per band: 8 postings, 8 distinct docs, and
    // Σ doc_id = 3+7+17+27+4+14+5+8 = 85 — the rolled (corpus ∪ delta)
    // index must reconstruct the full population exactly
    val roll = TextOps.indexRoll(spark, dir).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1),
        r.getLong(2), r.getLong(3))).toSeq
    assert(roll.map(_._1) == (0L until 4L), s"4 bands: $roll")
    assert(roll.forall(r => r._2 == 8L && r._3 == 8L && r._4 == 85L),
      s"per band the rolled index must hold all 8 docs once (Σid 85): $roll")
  }

  test("t67 serve plan scans the persisted corpus indices; only the delta is shingled fresh") {
    val plan = TextOps.deltaDedupUncached(spark, d)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("corpus_bands") && plan.contains("corpus_sids"),
      s"the corpus side must be served from the persisted postings artifacts:\n$plan")
    // the only fresh text scans are the delta slice: every scan of the
    // documents fixture must carry the delta residue filter
    val docScans = "documents\\.parquet".r.findAllIn(plan).size
    assert(docScans > 0, "delta side must read the documents fixture")
    assert(!plan.contains("NOT (pmod(doc_id"),
      s"no corpus-residue scan of the raw fixture may appear in the serve plan:\n$plan")
  }

  /** inputFiles AFTER dropping every cached plan: a persisted subtree
    * (this suite's builders pin scratch frames; Dataset.inputFiles
    * reads the optimized plan) would otherwise substitute an
    * InMemoryRelation over the very file scan under assertion. */
  private def freshInputs(df: org.apache.spark.sql.DataFrame): Array[String] = {
    spark.sharedState.cacheManager.clearCache()
    df.inputFiles
  }

  test("t03 build reads the doc_sids postings artifact — the raw text is shingled exactly once") {
    // materialize once so the artifact exists, then inspect the build
    val rows = TextOps.lshNearDupPairs(spark, d).collect()
    assert(rows.nonEmpty)
    val inputs = freshInputs(TextOps.lshNearDupPairsUncached(spark, d))
    assert(inputs.exists(_.contains("doc_sids")),
      s"the pair build must read the materialized shingle table: ${inputs.take(4).mkString(",")}")
    assert(!inputs.exists(_.contains("documents.parquet")),
      "the pair build must never re-shingle raw text — signatures, sizes, " +
        "and the exact-Jaccard verify all read doc_sids postings")
  }

  test("t69 roll∘roll ≡ rebuild in-engine; roll #2 reads the ROLLED artifact, never the day-1 corpus") {
    // the induction step t68 alone can't show: the second roll's corpus
    // input is itself a rolled artifact, and the result must STILL be
    // posting-for-posting the single-roll (≡ rebuild, per t68's spec)
    val twice = TextOps.rolledBandsS2Uncached(spark, d)
      .collect().map(_.toSeq).toSet
    val once = TextOps.rolledBandsUncached(spark, d)
      .collect().map(_.toSeq).toSet
    assert(twice.nonEmpty && twice == once,
      "rolled_bands_s1 ∪ shard-B bands must be posting-for-posting the single roll / rebuild")
    val census1 = TextOps.indexRoll(spark, d).collect().map(_.toSeq).toSeq
    val census2 = TextOps.bandRollTwoStep(spark, d).collect().map(_.toSeq).toSeq
    assert(census2 == census1, "the two lifecycles must grade to the identical census")
    val inputs = freshInputs(TextOps.rolledBandsS2Uncached(spark, d))
    assert(inputs.exists(_.contains("rolled_bands_s1")),
      s"roll #2's corpus side must scan the ROLLED artifact: ${inputs.take(4).mkString(",")}")
    assert(!inputs.exists(_.contains("corpus_bands2")),
      "roll #2 must never rescan the day-1 corpus artifact — that is the induction")
    assert(inputs.exists(_.contains("documents.parquet")),
      "roll #2's fresh side shingles shard B from the documents fixture")
  }

  test("t70 planted deletion: reaped postings gone, survivors byte-identical, no re-shingle") {
    import org.apache.spark.sql.functions._
    val delIds = TextOps.docDeletionSet(spark, d)
      .collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty, "fixture must have a non-trivial deletion set")
    val reaped = TextOps.reapedBandsUncached(spark, d).collect().map(_.toSeq)
    assert(reaped.forall(r => !delIds.contains(r.head.asInstanceOf[Long])),
      "a deleted doc's postings must not survive the reap")
    val rolled = TextOps.rolledBandsUncached(spark, d).collect().map(_.toSeq)
    val expect = rolled.filterNot(r => delIds.contains(r.head.asInstanceOf[Long]))
    assert(reaped.toSet == expect.toSet && reaped.size == expect.size,
      "the reap must equal rolled_bands minus exactly the deletion set")
    // O(|deletions|) fresh work: the reap scans the rolled artifact and
    // an id-only slice of the fixture — never the corpus indices, and
    // never a shingle explosion (no sid column anywhere in the plan)
    val inputs = freshInputs(TextOps.reapedBandsUncached(spark, d))
    assert(inputs.exists(_.contains("rolled_bands")),
      s"the reap must scan the persisted rolled index: ${inputs.take(4).mkString(",")}")
    assert(!inputs.exists(_.contains("corpus_bands")) &&
      !inputs.exists(_.contains("doc_sids")),
      "the reap must not rescan corpus indices or the postings table")
  }

  test("t72 planted takedown: delta↔deleted matches vanish, all other pairs byte-equal") {
    import spark.implicits._
    // The m13/planted-t67 evidence bar applied to the reap's SERVE
    // side: plant a duplicate pair that crosses the delta↔deletion
    // boundary and grade against hand-known truth.
    //   docs 3 (corpus) & 7 (delta):  text A → stays in both
    //   docs 24 (corpus, DELETED: ≡4 mod 10) & 37 (delta ≡7): text C
    //     → t67 reports the match; t72 MUST NOT (takedown compliance)
    //   docs 17 & 27 (both delta):    text B → stays in both
    val A = "the quick brown fox jumps over the lazy dog again and again tonight"
    val B = "completely different delta payload about streaming ingestion of text"
    val C = "a tombstoned corpus document whose duplicate match must stop serving"
    val dir = java.nio.file.Files.createTempDirectory("graft_t72plant")
      .toFile.getAbsolutePath
    Seq(
      (3L, A, "en", "fx"), (7L, A, "en", "fx"),
      (24L, C, "en", "fx"), (37L, C, "en", "fx"),
      (17L, B, "en", "fx"), (27L, B, "en", "fx"),
      (5L, "unrelated corpus text number five with plenty of words inside", "en", "fx"),
      (8L, "another unrelated corpus document with its own distinct wording", "en", "fx"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t67 = TextOps.deltaDedup(spark, dir).collect().map(_.toSeq).toSeq
    assert(t67.map(r => (r(0), r(1))) == Seq((3L, 7L), (17L, 27L), (24L, 37L)),
      s"fixture self-check: t67 must report the deleted-corpus match too: $t67")
    val t72 = TextOps.reapedDeltaDedup(spark, dir).collect().map(_.toSeq).toSeq
    assert(t72.map(r => (r(0), r(1))) == Seq((3L, 7L), (17L, 27L)),
      s"the tombstoned doc's match must vanish and nothing else: $t72")
    // byte-equality of the survivors: the reap may only REMOVE pairs
    assert(t72 == t67.filterNot(r => r(0) == 24L || r(1) == 24L),
      "surviving pairs must be byte-identical to t67's")
    // the candidate side is the REAPED artifact, never corpus_bands
    val inputs = freshInputs(TextOps.reapedDeltaDedupUncached(spark, dir))
    assert(inputs.exists(_.contains("reaped_bands")),
      s"t72 must read the reaped candidate index: ${inputs.take(4).mkString(",")}")
    assert(!inputs.exists(_.contains(
      java.io.File.separator + "corpus_bands" + java.io.File.separator)),
      "t72 must not fall back to the un-reaped candidate index")
  }

  test("t71 nightly composition: stages present, each block equal to its standalone census") {
    import org.apache.spark.sql.functions._
    val out = TextOps.nightlyMaintenance(spark, d)
    val byStage = out.collect().groupBy(_.getString(0))
    assert(byStage.keySet == Set("a_delta_dedup", "b_band_roll", "c_ann_roll", "d_ann_serve"),
      s"the night must run all four graded stages: ${byStage.keySet}")
    // the composition must not re-derive anything: its band-roll block
    // IS t68's census, its ann-roll block IS v44's (same frames mapped)
    val bandBlock = byStage("b_band_roll").map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val t68 = TextOps.indexRoll(spark, d).collect().map(r =>
      (r.getAs[Number](0).longValue, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(bandBlock == t68, "the composed band census must equal t68's")
    val annBlock = byStage("c_ann_roll").map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val v44 = VectorOps.annIndexRoll(spark, d).collect().map(r =>
      (r.getAs[Number](0).longValue, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(annBlock == v44, "the composed ANN census must equal v44's")
  }

  test("lsh_pairs: a cleared session is served from the artifact with identical rows") {
    val rows1 = TextOps.lshNearDupPairs(spark, d).collect().map(_.toSeq).toSeq
    assert(rows1.nonEmpty, "fixture must have near-dup pairs")
    graft.Memos.clearAll()
    val loads0 = graft.sources.ArtifactStore.loads.get()
    val builds0 = graft.sources.ArtifactStore.builds.get()
    val rows2 = TextOps.lshNearDupPairs(spark, d).collect().map(_.toSeq).toSeq
    // lsh_pairs load + (possibly memoized-elsewhere) sig load — at least
    // the pair artifact itself must come from disk, never a rebuild
    assert(graft.sources.ArtifactStore.loads.get() > loads0,
      "second invocation must SCAN the persisted lsh_pairs artifact")
    assert(graft.sources.ArtifactStore.builds.get() == builds0,
      "second invocation must not rebuild")
    assert(rows2 == rows1, "artifact scan must equal the built frame")
  }
}
