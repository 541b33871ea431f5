package graft.queries

import graft.Memos
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap

/** Cache-hygiene contract: every session memo in the query, operator
  * and multimodal modules is a [[graft.Memos.Memo]], so Memos.clearAll
  * (Harness teardown) reaches it by construction — no per-module hook
  * list to keep in step. What is left to guard is the escape hatch: a raw
  * TrieMap field in one of those modules is a memo no clear can see. */
class CacheHygieneSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.session
  val d = "/root/testdata/sf0.001"

  /** TrieMaps that must OUTLIVE a clear by design: Bucketing's values are
    * warehouse TABLE NAMES whose backing data outlives any session, and
    * StreamOps.allScratch holds scratch-dir paths for the JVM shutdown
    * hook (a second-chance delete; dropping them would disarm it). */
  private val Exempt = Set(
    "graft.operators.Bucketing$.factCache",
    "graft.operators.Bucketing$.partCache",
    "graft.queries.StreamOps$.allScratch")

  /** Every compiled class of `pkg` in the main output (not initialized). */
  private def mainClasses(pkg: String): Seq[Class[_]] = {
    val root = java.nio.file.Paths.get(
      Memos.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val st = java.nio.file.Files.list(root.resolve(pkg.replace('.', '/')))
    try st.toArray.toSeq.map(_.toString).filter(_.endsWith(".class")).map { p =>
      val nm = java.nio.file.Paths.get(p).getFileName.toString.stripSuffix(".class")
      Class.forName(s"$pkg.$nm", false, getClass.getClassLoader)
    } finally st.close()
  }

  test("no query/operator/multimodal module declares a raw TrieMap memo") {
    val classes = Seq("graft.queries", "graft.operators", "graft.multimodal")
      .flatMap(mainClasses)
    val trieFields = for {
      c <- classes
      f <- c.getDeclaredFields.toSeq
      if classOf[TrieMap[_, _]].isAssignableFrom(f.getType)
    } yield s"${c.getName}.${f.getName}"
    // non-vacuity: the scan must see the exempt maps it is told to allow
    assert(Exempt.subsetOf(trieFields.toSet),
      s"scan missed exempt fields: ${(Exempt -- trieFields).mkString(", ")}")
    val raw = trieFields.filterNot(Exempt)
    assert(raw.isEmpty,
      s"raw TrieMap fields outside graft.Memos (declare them with Memos.memo): " +
        raw.mkString(", "))
  }

  test("Memos.clearAll empties every registered memo (one populated per module)") {
    // each call is the module's cheapest memoizing entry point at sf0.001
    // (modules whose memos all went with the result memos — EventOps,
    // Relational2, MediaOps, CopyOnWrite, MergeOnRead — hold none)
    GraphOps.degreeHistogram(spark, d).count()
    TextOps.decontaminate(spark, d).count()
    VectorOps.ivfPqResidualTopK(spark, d).count()
    StreamOps.streamDedup(spark, d).count()
    Generated.federatedJoin(spark, d).count()
    graft.multimodal.Multimodal.chunkNearDup(spark, d).count()
    val modules: Seq[(String, AnyRef)] = Seq(
      ("GraphOps", GraphOps),
      ("TextOps", TextOps),
      ("VectorOps", VectorOps),
      ("StreamOps", StreamOps),
      ("Generated", Generated),
      ("Multimodal", graft.multimodal.Multimodal))
    def memos(m: AnyRef): Seq[Memos.Memo[_, _]] =
      m.getClass.getDeclaredFields.toSeq
        .filter(f => classOf[Memos.Memo[_, _]].isAssignableFrom(f.getType))
        .map { f => f.setAccessible(true); f.get(m).asInstanceOf[Memos.Memo[_, _]] }
    // PER-MODULE non-vacuity: an all-empty module would pass the clear
    // check below without the clear having done anything for it
    val unexercised = modules.collect { case (nm, m) if memos(m).forall(_.isEmpty) => nm }
    assert(unexercised.isEmpty,
      s"populate phase left these modules' memos all-empty: ${unexercised.mkString(", ")}")
    Memos.clearAll()
    val leaked = Memos.registered.count(!_.isEmpty)
    assert(leaked == 0, s"$leaked registered memos not emptied by Memos.clearAll")
  }
}
