package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Harness
import org.scalatest.funsuite.AnyFunSuite

/** The per-op record: one parseable JSON row per attempted op, layer self
  * times that account for each op's wall time, and a failure row that
  * names the layer, exception class and first message line. */
class OpRecordSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private def runMain(args: Main.Args): (JsonNode, Seq[JsonNode]) = {
    val summary = Harness.withSession(Main.Cores.toString)(spark => Main.run(spark, args))
    val rows = Files.readAllLines(args.out.resolve("ops.jsonl")).asScala.filter(_.nonEmpty)
      .map(l => mapper.readTree(l)).toSeq
    (mapper.readTree(summary), rows)
  }

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("Json.str round-trips names with quotes, backslashes and control characters") {
    val nasty = "q\"1\\\n\t\u0001 é"
    assert(mapper.readTree(Json.str(nasty)).asText == nasty)
    assert(mapper.readTree(Json.obj(nasty -> 1.5, "b" -> Seq(1L, 2L))).get(nasty).asDouble == 1.5)
  }

  test("gen-load traced run: one row per op, self times account for wall time") {
    val out = tmp("perfbench-genload")
    val (summary, rows) = runMain(Main.Args("gen-load", 11, 0.1, trace = true, out, ""))
    assert(rows.size == summary.get("ops").asInt)
    assert(rows.map(_.get("op").asInt) == rows.indices)
    assert(rows.count(_.get("phase").asText == "timed") >= 2, "one untraced and one traced timed op")
    rows.foreach { r =>
      assert(r.get("ok").asBoolean, r.toString)
      assert(r.get("wrong").isNull, r.toString)
      val wall = r.get("wall_s").asDouble
      val self = r.get("self_s").fields.asScala.map(_.getValue.asDouble).sum
      assert(math.abs(self - wall) <= 1e-6 * math.max(1.0, wall), s"self times $self vs wall $wall")
      assert(r.get("unattributed_frac").asDouble <= Trace.UnattributedBound, r.toString)
      Seq("ddl.parse", "deps.waves", "rules.infer", "load.roundtrip")
        .foreach(l => assert(r.get("self_s").has(l), s"$l missing in $r"))
    }
    val traced = rows.filter(_.get("traced").asBoolean)
    assert(traced.nonEmpty)
    traced.foreach { r =>
      assert(r.get("counts").get("exec.jobs").asDouble > 0)
      assert(r.get("probe_s").get("gen.exec").asDouble > 0)
      assert(r.get("counts").get("load.fk_bad_rows").asDouble == 0)
    }
  }

  test("a failing op records its layer, exception class and first message line") {
    val out = tmp("perfbench-fail")
    val (_, rows) = runMain(Main.Args("query-cold", 1, 0.1, trace = false, out,
      out.resolve("no-such-fixture").toString))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.get("ok").asBoolean)
      val f = r.get("failure")
      assert(f.get("layer").asText.startsWith("queries."), r.toString)
      assert(f.get("class").asText.nonEmpty && !f.get("message").asText.contains("\n"))
    }
  }
}
