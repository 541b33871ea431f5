package graft.gen

import graft.ddl.{DdlParser, TableDef}
import graft.rules.{Rule, RuleInference}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-level generator: one deterministic DataFrame per TableDef.
  *
  * Replaces the reference's row-at-a-time loop (run_engine.py:239-259)
  * with a single declarative plan: `spark.range(n)` → one compiled
  * Column per column. Dispatch (FK → keyword → type default,
  * run_engine.py:155-203) happens once at plan-build time.
  *
  * Column-handling semantics mirrored from the reference:
  *  - identity/computed columns are never generated (run_engine.py:243);
  *    identity gets `id+1` — the value the DB sequence would assign;
  *  - unsafe types (varbinary, rowversion) are excluded from generation
  *    and emitted as NULL (run_engine.py:105);
  *  - SKIP_COLS are emitted as NULL (run_engine.py:25,244);
  *  - keyword output is coerced when the column is numeric
  *    (run_engine.py:171-174) — here via try_cast + type-default fallback;
  *  - char-family values are truncated to the declared length
  *    (run_engine.py:252-253), nvarchar(max) → 100 (run_engine.py:198).
  */
object Generator {

  val SkipCols: Set[String] =
    Set("LogId", "CreateDate", "CreatedBy", "UpdateDate", "UpdatedBy")

  /** FK values draw from a parent's first KeyCap ids — the reference's
    * `SELECT TOP 1000` ID_CACHE (run_engine.py:142-153). */
  val KeyCap = 1000

  /** `(child, parent)` → the parent's TableDef when it supplies `child`'s
    * FK values. Must be acyclic: a parent's own FKs resolve through it. */
  type Parents = (String, String) => Option[TableDef]

  /** Generate `rowCount` deterministic rows for `td`.
    *
    * @param parents  an FK onto a parent it yields takes the parent's
    *                 first PK column, evaluated by this same generator at
    *                 a hashed id below `min(rowCount, KeyCap)`; every other
    *                 FK gets the type-driven fallback. Generation is pure
    *                 in (seed, table, id), so that is exactly the value the
    *                 parent's frame holds at that id.
    */
  def tableDf(spark: SparkSession, td: TableDef, rowCount: Long, seed: Long,
      parents: Parents = (_, _) => None): DataFrame = {
    val cols = td.schema.fields.toIndexedSeq.map(f =>
      column(td, f, col("id"), rowCount, seed, parents).as(f.name))
    // right-size the id-space partitioning: ~100k rows per partition,
    // capped at the cluster parallelism — metadata-sized tables get one
    // task instead of defaultParallelism near-empty ones
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (rowCount + 99999) / 100000).toInt)
    spark.range(0, rowCount, 1, parts).select(cols: _*)
  }

  private def alwaysNull(f: StructField): Boolean =
    !f.metadata.getBoolean(DdlParser.MetaIdentity) &&
      (!f.metadata.getBoolean(DdlParser.MetaSafe) || SkipCols.contains(f.name))

  /** `td`'s first PK column, when it exists and is not always NULL. */
  private def keyField(td: TableDef): Option[StructField] =
    td.pk.headOption.flatMap(pk => td.schema.fields.find(_.name == pk)).filterNot(alwaysNull)

  /** Column `f` of `td` at row `id`. */
  private def column(td: TableDef, f: StructField, id: Column, rowCount: Long,
      seed: Long, parents: Parents): Column =
    if (f.metadata.getBoolean(DdlParser.MetaIdentity)) (id + 1).cast(f.dataType)
    else if (alwaysNull(f)) lit(null).cast(f.dataType)
    else {
      val rule = RuleInference.infer(f, td.fks.findLast(_.column == f.name).map(_.refTable))
      val ctx = RuleCompiler.Ctx(seed, td.name, f.name, f, id)
      val parentKey = rule match {
        case Rule.ForeignKey(p) =>
          val at = RuleCompiler.keyIndex(ctx, math.min(rowCount, KeyCap.toLong))
          parents(td.name, p).flatMap(pt => keyField(pt).map(column(pt, _, at, rowCount, seed, parents)))
        case _ => None
      }
      finalize(parentKey.getOrElse(RuleCompiler.compile(rule, ctx)), ctx, rule)
    }

  /** Does the rule emit a numeric value or all-digit string — i.e. can it
    * be coerced into a numeric column the way the reference coerces via
    * `int(val)` (run_engine.py:171-174)? Decided at compile time from the
    * rule kind (we know the plan; no runtime try/except needed). */
  private def numericish(rule: Rule): Boolean = rule match {
    case _: Rule.Numerify | Rule.PhoneNumber | _: Rule.RandomInt |
         Rule.PriceUniform | _: Rule.PyFloat => true
    case _ => false
  }

  /** Coercion + truncation + final cast to the field's Catalyst type.
    *
    * ANSI-safe by construction (Spark 4 runs ANSI mode): values that
    * cannot be represented in the target type never reach a throwing
    * cast — range guards + type-default fallback replace the reference's
    * "insert and let the table error out" tolerance (run_engine.py:268).
    */
  private def finalize(value: Column, ctx: RuleCompiler.Ctx, rule: Rule): Column = {
    val f = ctx.field
    val sqlType = f.metadata.getString(DdlParser.MetaSqlType)
    val declaredLen = f.metadata.getLong(DdlParser.MetaMaxLength).toInt
    def fallback: Column = typeFallback(ctx, sqlType)
    val isTypeDefault = rule.isInstanceOf[Rule.TypeDefault]

    f.dataType match {
      case StringType =>
        val len = if (declaredLen == -1) 100 else declaredLen
        val s = value.cast(StringType)
        if (len > 0) substring(s, 1, len) else s

      case dt: DecimalType =>
        if (isTypeDefault) value.cast(dt)
        else if (numericish(rule)) {
          // digit strings / numerics; guard magnitude before the cast
          val d = value.cast(DecimalType(38, dt.scale))
          val limit = math.pow(10, (dt.precision - dt.scale).toDouble)
          when(abs(d) < lit(limit), d.cast(dt)).otherwise(fallback.cast(dt))
        } else fallback.cast(dt)

      case it @ (IntegerType | LongType | ShortType) =>
        if (isTypeDefault || rule.isInstanceOf[Rule.ForeignKey]) value.cast(it)
        else if (numericish(rule)) {
          val d = value.cast(DecimalType(38, 0))
          val max = it match {
            case ShortType => Short.MaxValue.toLong
            case IntegerType => Int.MaxValue.toLong
            case _ => Long.MaxValue
          }
          when(abs(d) <= lit(max), d.cast(it)).otherwise(fallback.cast(it))
        } else fallback.cast(it)

      case FloatType | DoubleType =>
        if (isTypeDefault || numericish(rule)) value.cast(f.dataType)
        else fallback.cast(f.dataType)

      case BooleanType =>
        if (rule == Rule.BooleanRule || isTypeDefault) value
        else fallback

      case DateType =>
        if (rule == Rule.DateThisDecade || isTypeDefault) value.cast(DateType)
        else fallback.cast(DateType)

      case TimestampType =>
        if (rule == Rule.DateThisDecade || isTypeDefault) value.cast(TimestampType)
        else fallback.cast(TimestampType)

      case dt => value.cast(dt)
    }
  }

  private def typeFallback(ctx: RuleCompiler.Ctx, sqlType: String): Column = {
    val f = ctx.field
    RuleCompiler.compile(
      Rule.TypeDefault(sqlType,
        f.metadata.getLong(DdlParser.MetaPrecision).toInt,
        f.metadata.getLong(DdlParser.MetaScale).toInt,
        f.metadata.getLong(DdlParser.MetaMaxLength).toInt), ctx)
  }
}
