package graft.gen

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** A generation [[Kernel]]'s `eval` and its generated code give the same
  * values. The frames [[GenerationDigestSpec]] pins, rebuilt in a session
  * that evaluates every expression interpreted (no whole-stage codegen,
  * the interpreted projection factory), give the pinned digests; and each
  * kernel, evaluated both ways, agrees on ids across the whole long range.
  * A new primitive adds its kernel to `kernels` below. */
class GenerationParitySpec extends AnyFunSuite {
  import GenerationDigestSpec._

  private lazy val interpreted: SparkSession = {
    val s = graft.TestSpark.session.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  test("interpreted pipeline frames at 1,500 rows give the pinned digests") {
    val frames = pipelineFrames(interpreted, 1500)
    assert(!frames("Kural").queryExecution.executedPlan.toString.contains("WholeStageCodegen"))
    assert(frames.map { case (t, df) => t -> digest(df) } == Pinned1500)
  }

  test("the interpreted rule frame gives the pinned digests") {
    assert(columnDigests(ruleFrame(interpreted, 1500)) == PinnedRules)
  }

  test("each kernel's eval equals its generated code, over the whole long range") {
    val id = BoundReference(0, LongType, nullable = false)
    val p = Kernels.prefix(7, "Kural", "Kolon", 3)
    val kernels: Seq[Expression] = Seq(
      Draw(id, p, 2), Draw(id, p, 1000), Uniform(id, p),
      RandLong(id, p, 2557d, 0), RandLong(id, p, 11d, -5), RandLong(id, p, 300000000d, 300000000L),
      Pick(id, p, Lexicons.Words), Pick(id, p, Lexicons.Letters),
      Digits(id, p, 5), Digits(id, p, 16), Digits(id, p, 20),
      Uuid(id, "7|Kural|Kolon|"), Uuid(id, "7|Şube|Açıklama|"))
    val generated = GenerateUnsafeProjection.generate(kernels)
    val interp = InterpretedUnsafeProjection.createProjection(kernels)
    val rnd = new scala.util.Random(11)
    val ids = Seq(Long.MinValue, -1L, 0L, 1L, 999L, Long.MaxValue) ++ Seq.fill(2000)(rnd.nextLong())
    ids.foreach { i =>
      val row = InternalRow(i)
      val (g, e) = (generated(row), interp(row))
      kernels.indices.foreach { k =>
        val dt = kernels(k).dataType
        assert(g.get(k, dt) == e.get(k, dt), s"kernel ${kernels(k)} at id $i")
      }
      assert(g.getUTF8String(kernels.size - 2).numChars == 36)
    }
  }
}
