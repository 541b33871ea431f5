package graft.gen

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, NonSQLExpression, UnaryExpression, XXH64, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The rule primitives' row-level math, shared by each [[Kernel]]'s `eval`
  * and its generated code. Each body repeats, step for step, the Catalyst
  * composition it replaces (`pmod`, the long→double cast and divide,
  * `floor`, the ANSI add, `element_at`, `lpad`, `md5` and its substrings),
  * so the values are those of that composition. */
object Kernels {

  /** `xxhash64(seed, table, column, salt)`. Spark's XxHash64 feeds each
    * child's hash in as the next child's seed, so
    * `xxhash64(seed, table, column, salt, id)` is
    * `XXH64.hashLong(id, prefix(seed, table, column, salt))`. */
  def prefix(seed: Long, table: String, column: String, salt: Int): Long =
    new XxHash64(Seq(Literal(seed), Literal(table), Literal(column), Literal(salt)))
      .eval().asInstanceOf[Long]

  /** `pmod(xxhash64(…, id), n)`: uniform over [0, n). */
  def draw(prefix: Long, n: Long, id: Long): Long = {
    val r = XXH64.hashLong(id, prefix) % n
    if (r < 0) (r + n) % n else r
  }

  private val M = 1000000007L

  /** `pmod(h, M).cast(double) / M`: uniform double in [0, 1). */
  def uniform(prefix: Long, id: Long): Double = draw(prefix, M, id).toDouble / M.toDouble

  /** `floor(u * span) + lo`, the add overflow-checked as ANSI mode does. */
  def randLong(prefix: Long, span: Double, lo: Long, id: Long): Long =
    Math.addExact(Math.floor(uniform(prefix, id) * span).toLong, lo)

  /** `element_at(lex, pmod(h, |lex|) + 1)`. */
  def pick(prefix: Long, lex: Array[UTF8String], id: Long): UTF8String =
    lex(draw(prefix, lex.length.toLong, id).toInt)

  private val Zero = UTF8String.fromString("0")

  /** `lpad(pmod(h, mod).cast(string), n, '0')`. */
  def digits(prefix: Long, mod: Long, n: Int, id: Long): UTF8String =
    UTF8String.fromString(java.lang.Long.toString(draw(prefix, mod, id))).lpad(n, Zero)

  /** md5 of `head || id` (head = `seed|table|column|`, the `concat_ws`
    * string without its id), laid out as a version-4 UUID: hex digits
    * 1-8, 9-12, `4` then 14-16, 17-20 and 21-32. */
  def uuid(head: Array[Byte], id: Long): UTF8String = {
    val tail = java.lang.Long.toString(id).getBytes(UTF_8)
    val in = java.util.Arrays.copyOf(head, head.length + tail.length)
    System.arraycopy(tail, 0, in, head.length, tail.length)
    val m = DigestUtils.md5Hex(in)
    UTF8String.fromString(m.substring(0, 8) + "-" + m.substring(8, 12) + "-4" +
      m.substring(13, 16) + "-" + m.substring(16, 20) + "-" + m.substring(20, 32))
  }
}

/** A rule primitive evaluated at row id `child`, a non-null bigint. Its
  * generated code is one call to the [[Kernels]] helper its `eval` calls;
  * the per-column constants are folded into the call's arguments. */
sealed abstract class Kernel extends UnaryExpression with NonSQLExpression {
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType && !child.nullable) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a non-null bigint id, got ${child.dataType.simpleString}")

  /** The helper call, as Java, at the Java expression `id`. */
  protected def call(ctx: CodegenContext, id: String): String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, id => call(ctx, id))
}

final case class Draw(child: Expression, prefix: Long, n: Long) extends Kernel {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(id: Any): Any = Kernels.draw(prefix, n, id.asInstanceOf[Long])
  override protected def call(ctx: CodegenContext, id: String): String =
    s"graft.gen.Kernels.draw(${prefix}L, ${n}L, $id)"
  override protected def withNewChildInternal(c: Expression): Draw = copy(child = c)
}

final case class Uniform(child: Expression, prefix: Long) extends Kernel {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(id: Any): Any = Kernels.uniform(prefix, id.asInstanceOf[Long])
  override protected def call(ctx: CodegenContext, id: String): String =
    s"graft.gen.Kernels.uniform(${prefix}L, $id)"
  override protected def withNewChildInternal(c: Expression): Uniform = copy(child = c)
}

final case class RandLong(child: Expression, prefix: Long, span: Double, lo: Long) extends Kernel {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(id: Any): Any =
    Kernels.randLong(prefix, span, lo, id.asInstanceOf[Long])
  override protected def call(ctx: CodegenContext, id: String): String =
    s"graft.gen.Kernels.randLong(${prefix}L, ${span}D, ${lo}L, $id)"
  override protected def withNewChildInternal(c: Expression): RandLong = copy(child = c)
}

final case class Pick(child: Expression, prefix: Long, lex: Seq[String]) extends Kernel {
  @transient private lazy val strings: Array[UTF8String] = lex.map(UTF8String.fromString).toArray
  override def dataType: DataType = StringType
  override protected def nullSafeEval(id: Any): Any = Kernels.pick(prefix, strings, id.asInstanceOf[Long])
  override protected def call(ctx: CodegenContext, id: String): String = {
    val lexRef = ctx.addReferenceObj("lex", strings, "org.apache.spark.unsafe.types.UTF8String[]")
    s"graft.gen.Kernels.pick(${prefix}L, $lexRef, $id)"
  }
  override protected def withNewChildInternal(c: Expression): Pick = copy(child = c)
}

final case class Digits(child: Expression, prefix: Long, n: Int) extends Kernel {
  private val mod = math.pow(10, n).toLong
  override def dataType: DataType = StringType
  override protected def nullSafeEval(id: Any): Any =
    Kernels.digits(prefix, mod, n, id.asInstanceOf[Long])
  override protected def call(ctx: CodegenContext, id: String): String =
    s"graft.gen.Kernels.digits(${prefix}L, ${mod}L, $n, $id)"
  override protected def withNewChildInternal(c: Expression): Digits = copy(child = c)
}

/** @param head `seed|table|column|`, the md5 input before the id */
final case class Uuid(child: Expression, head: String) extends Kernel {
  @transient private lazy val bytes: Array[Byte] = head.getBytes(UTF_8)
  override def dataType: DataType = StringType
  override protected def nullSafeEval(id: Any): Any = Kernels.uuid(bytes, id.asInstanceOf[Long])
  override protected def call(ctx: CodegenContext, id: String): String =
    s"graft.gen.Kernels.uuid(${ctx.addReferenceObj("head", bytes, "byte[]")}, $id)"
  override protected def withNewChildInternal(c: Expression): Uuid = copy(child = c)
}
