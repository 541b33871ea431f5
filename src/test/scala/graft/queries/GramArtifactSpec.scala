package graft.queries

import graft.sources.ArtifactStore
import org.scalatest.funsuite.AnyFunSuite

/** The gram/bigram indexes persist ACROSS RUNS: a fresh session serves
  * its decontamination consumers from the parquet artifact instead of
  * re-tokenizing the corpus, with query results unchanged — the round-6
  * brief's "persisted table reused across decontamination runs". */
class GramArtifactSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.TestSpark.session
  val d = "/root/testdata/sf0.001"

  test("a new session loads the gram artifact (no rebuild), hashes unchanged") {
    // run 1 (this session): builds or loads — either way the artifact
    // exists on disk afterwards
    val r1 = graft.SparkEntry.all("t19_decontaminate").fn(spark, d)
      .collect().map(_.toSeq).toSet
    val key = ArtifactStore.key(d, "documents.parquet")
    val dir = java.nio.file.Paths.get(ArtifactStore.root, "gram_index", s"${key}_n8")
    assert(java.nio.file.Files.exists(dir.resolve("_SUCCESS")),
      s"artifact must exist after first use: $dir")

    // run 2: a NEW SparkSession (fresh memo key — the fresh-JVM shape)
    // must LOAD, not rebuild, and the consumer must scan the artifact
    val s2 = spark.newSession()
    val builds0 = ArtifactStore.builds.get()
    val loads0 = ArtifactStore.loads.get()
    val grams2 = TextOps.wordGramIds(s2, d, 8)
    assert(ArtifactStore.builds.get() == builds0,
      "a second session must not rebuild the gram index")
    assert(ArtifactStore.loads.get() > loads0,
      "a second session must load the persisted artifact")
    // scan audit: the frame is backed by the artifact files, not the corpus
    assert(grams2.inputFiles.forall(_.contains("gram_index")),
      s"consumers must read the artifact scan: ${grams2.inputFiles.take(3).mkString(",")}")

    val r2 = graft.SparkEntry.all("t19_decontaminate").fn(s2, d)
      .collect().map(_.toSeq).toSet
    assert(r2 == r1, "artifact-served results must hash-match the built run")
  }

  test("bigram artifact round-trips for the LM scorer in a new session") {
    graft.SparkEntry.all("t36_bigram_lm_score").fn(spark, d).collect()
    val s2 = spark.newSession()
    val builds0 = ArtifactStore.builds.get()
    val r1 = graft.SparkEntry.all("t36_bigram_lm_score").fn(spark, d)
      .collect().map(_.toSeq).toSet
    val r2 = graft.SparkEntry.all("t36_bigram_lm_score").fn(s2, d)
      .collect().map(_.toSeq).toSet
    assert(ArtifactStore.builds.get() == builds0,
      "the bigram index must not rebuild for a new session")
    assert(r2 == r1)
  }

  test("a regenerated fixture changes the artifact key (no stale serve)") {
    val tmp = tempDir("graft_fix").toString
    val f = java.nio.file.Paths.get(tmp, "documents.parquet")
    java.nio.file.Files.writeString(f, "fake")
    val k1 = ArtifactStore.key(tmp, "documents.parquet")
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    val k2 = ArtifactStore.key(tmp, "documents.parquet")
    assert(k1 != k2, "mtime drift must produce a different artifact key")
  }
}
