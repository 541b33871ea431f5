package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Failure, Success, Try}

/** The registry (SparkEntry) builds without evaluating any oracle, so a
  * checkout without the reference DDL still serves every query whose
  * input it has; only the queries that read the DDL fail, and their
  * failure names the missing file. */
class RegistrySpec extends AnyFunSuite {
  private val g12 = "g12_fk_depth_recursive"
  private val Absent = "reference DDL absent: "

  test("the registry holds all 301 queries") {
    assert(SparkEntry.all.size == 301)
    assert(SparkEntry.queries.keySet == SparkEntry.all.keySet)
  }

  test("oracleSql holds every non-g oracle") {
    val nonG = SparkEntry.all.filterNot(_._1.startsWith("g"))
    val expected = nonG.collect { case (k, q) if q.oracle.isDefined => k }.toSet
    assert(expected.size == 280)
    assert(expected.subsetOf(SparkEntry.oracleSql.keySet))
  }

  test("g12 needs the reference DDL, and names the file when it is absent") {
    val q = SparkEntry.all(g12)
    Try(q.oracle) match {
      case Success(oracle) =>
        assert(oracle.isDefined && SparkEntry.oracleSql.contains(g12))
        assert(q.fn(TestSpark.session, "").count() > 0)
      case Failure(e) =>
        assert(e.getMessage.startsWith(Absent))
        val script = e.getMessage.stripPrefix(Absent)
        assert(script.endsWith(".sql") && !Files.exists(Paths.get(script)))
        var reported = Seq.empty[String]
        val oracles = SparkEntry.oracles((k, e) => reported :+= s"$k: ${e.getMessage}")
        assert(!oracles.contains(g12))
        assert(reported == Seq(s"$g12: $Absent$script"))
        val fnError = intercept[java.io.FileNotFoundException](q.fn(TestSpark.session, ""))
        assert(fnError.getMessage == s"$Absent$script")
    }
  }
}
