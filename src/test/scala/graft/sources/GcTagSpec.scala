package graft.sources

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 (round-17 verdict #6 / advice): a fold-tag BUMP inside a
  * live kind used to strand its old `<digest>-<oldTag>` dirs forever —
  * the digest half still reproduces, so the stale-key check kept them.
  * gc() now mirrors the module tag constants (ArtifactStore.currentTags)
  * and reaps superseded-tag dirs. This spec (a) plants a stale-tag
  * sibling and asserts exactly it is reaped, and (b) statically scans
  * every tagged loadOrBuild call site so a NEW tagged kind that forgets
  * its currentTags entry is a test failure, not a new slow leak. */
class GcTagSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.TestSpark.session

  test("gc reaps a superseded-tag sibling, keeps the current tag and untagged kinds") {
    import spark.implicits._
    val fix = tempDir("gctagfix").toString
    val data = Paths.get(fix, "t.parquet")
    Seq(1L, 2L).toDF("x").write.parquet(data.toString)
    // isolated artifact root (round-18 advice): planted kinds and the
    // temp-fixture digests this test registers must never touch the
    // real shared store or append dead lines to its _registry.tsv;
    // TestFs deletes the root and the suite deletes fix, even on
    // assertion failure
    TestFs.withTempRoot("gctagroot") { _ =>
    val dg = ArtifactStore.key(fix, "t.parquet")

    // current-tag artifact + a planted stale-tag sibling (same digest,
    // pre-bump tag) + a second planted sibling under an UNtagged kind
    ArtifactStore.loadOrBuild(spark, "gctagkind", s"$dg-tg-11111111")(
      Seq(7L).toDF("y")).collect()
    val cur = Paths.get(ArtifactStore.root, "gctagkind", s"$dg-tg-11111111")
    val old = Paths.get(ArtifactStore.root, "gctagkind", s"$dg-tg-00000000")
    Files.createDirectories(old)
    Files.writeString(old.resolve("_SUCCESS"), "")
    val untagged = Paths.get(ArtifactStore.root, "gctagother", s"$dg-tg-00000000")
    Files.createDirectories(untagged)
    Files.writeString(untagged.resolve("_SUCCESS"), "")

    val deleted = ArtifactStore.gc(
      retired = Set.empty, tags = Map("gctagkind" -> "tg-11111111"))
    assert(!Files.exists(old), s"superseded-tag dir must be reaped: $deleted")
    assert(Files.exists(cur.resolve("_SUCCESS")),
      "current-tag artifact must survive the tag sweep")
    assert(Files.exists(untagged),
      "a kind with no currentTags entry keeps the conservative digest-only rule")

    // multi-digest keys (edge_maint/inc_cc shape): every leading
    // registered digest strips before the suffix compare — the current
    // two-digest dir survives, its pre-bump sibling does not
    val dg2 = ArtifactStore.key(fix, "t.parquet") // same state, same digest
    ArtifactStore.loadOrBuild(spark, "gctagkind2", s"$dg-$dg2-tg-11111111")(
      Seq(8L).toDF("y")).collect()
    val cur2 = Paths.get(ArtifactStore.root, "gctagkind2", s"$dg-$dg2-tg-11111111")
    val old2 = Paths.get(ArtifactStore.root, "gctagkind2", s"$dg-$dg2-tg-00000000")
    Files.createDirectories(old2)
    Files.writeString(old2.resolve("_SUCCESS"), "")
    ArtifactStore.gc(retired = Set.empty, tags = Map("gctagkind2" -> "tg-11111111"))
    assert(!Files.exists(old2), "two-digest superseded-tag dir must be reaped")
    assert(Files.exists(cur2.resolve("_SUCCESS")),
      "two-digest current-tag dir must survive")

    // an UNREGISTERED leading digest (the advisory registry lost its
    // line) must make the dir "can't prove stale", never "superseded"
    // — the pre-fix sweep deleted a LIVE two-digest artifact here
    // (round-18 review finding)
    val unreg = "0123456789ab" // hex-shaped, never registered
    val liveUnreg = Paths.get(ArtifactStore.root, "gctagkind2", s"$dg-$unreg-tg-11111111")
    Files.createDirectories(liveUnreg)
    Files.writeString(liveUnreg.resolve("_SUCCESS"), "")
    ArtifactStore.gc(retired = Set.empty, tags = Map("gctagkind2" -> "tg-11111111"))
    assert(Files.exists(liveUnreg),
      "a dir with an unregistered leading digest must be kept (conservative)")

    }
  }

  test("loadOrBuild refuses a tagged kind whose key does not end with the registered tag") {
    // round-18 advice: a call site appending a parameter AFTER the tag
    // (key + "-" + Tag + "-" + param) is invisible to the static regex
    // below, and gc's suffix compare would read the live dir as
    // superseded — the format is now enforced at the loadOrBuild choke
    // point, so such a call site fails its first test run instead
    import spark.implicits._
    TestFs.withTempRoot("gctagfmt") { _ =>
      val tag = ArtifactStore.currentTags("doc_sids")
      val ex = intercept[IllegalArgumentException] {
        ArtifactStore.loadOrBuild(spark, "doc_sids",
          s"0123456789ab-$tag-param7")(Seq(1L).toDF("x"))
      }
      assert(ex.getMessage.contains("must END with its registered"),
        s"wrong refusal message: ${ex.getMessage}")
      // the canonical shape still loads/builds fine
      ArtifactStore.loadOrBuild(spark, "doc_sids",
        s"0123456789ab-$tag")(Seq(1L).toDF("x")).collect()
    }
  }

  test("every tagged loadOrBuild call site has a currentTags entry (static scan)") {
    // the call-site idiom is `loadOrBuild(s, "<kind>", key(...) + "-" +
    // [key(...) + "-" +] <X>FoldTag) { ... }`; a tagged kind missing
    // from currentTags re-opens the per-bump leak gc just closed
    // the tag may be written bare (DeltaFoldTag) or qualified
    // (TextOps.DeltaFoldTag) — both must register (review finding r18)
    val re = ("""loadOrBuild\(\s*[\w.]+,\s*"(\w+)",\s*""" +
      """(?:(?:graft\.sources\.)?ArtifactStore\.key\([^)]*\)\s*\+\s*(?:"-"\s*\+\s*)?)+""" +
      """((?:\w+\.)*\w+FoldTag)\)""").r
    val srcRoot = Paths.get("src/main/scala")
    val files = {
      val b = scala.collection.mutable.Buffer.empty[java.nio.file.Path]
      Files.walk(srcRoot).forEach(p => if (p.toString.endsWith(".scala")) b += p)
      b.toSeq
    }
    val sites = files.flatMap { p =>
      val text = Files.readString(p)
      re.findAllMatchIn(text).map(m => (m.group(1), m.group(2), p.toString)).toSeq
    }
    assert(sites.nonEmpty, "static scan found no tagged call sites — regex rotted?")
    val tags = ArtifactStore.currentTags
    for ((kind, tagName, file) <- sites)
      assert(tags.contains(kind),
        s"$file keys kind '$kind' on $tagName but ArtifactStore.currentTags has no " +
          s"'$kind' entry — its old-tag dirs would leak forever after a bump")
    // and the registry carries no dead kinds (a rename would leave one)
    val kindsInSrc = sites.map(_._1).toSet
    for (k <- tags.keys)
      assert(kindsInSrc.contains(k),
        s"currentTags entry '$k' has no tagged loadOrBuild call site — retire it " +
          "(move the kind to RetiredKinds if the dirs should be reaped)")
  }
}
