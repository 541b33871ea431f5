package graft.gen

import graft.rules.Rule
import graft.rules.Rule._
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles a generator Rule into one deterministic Catalyst Column over
  * `spark.range(n)`'s `id`.
  *
  * Determinism contract (SURVEY.md §4): every value derives from
  * `xxhash64(seed, table, column, salt, id)` — no `rand()`, no `uuid()`,
  * no `now()` — so runs are reproducible, oracle-comparable, and
  * partition-order-independent (the hash depends only on the row id,
  * never on the partition or task). The reference is deliberately
  * nondeterministic here (run_engine.py:51,191,194); reproducibility is
  * our semantic upgrade, value distributions are preserved.
  *
  * Prefix fold: Spark's `xxhash64` hashes its children left to right, each
  * child's hash seeding the next, so the hash above equals
  * `XXH64.hashLong(id, prefix)` with `prefix = xxhash64(seed, table,
  * column, salt)`. The prefix is computed once per column and salt at
  * plan-build time ([[Kernels.prefix]]), and each primitive below (`draw`,
  * `u`, `randLong`, `pick`, `digits`, `uuid4`) is one [[Kernel]]
  * expression whose generated code is a single call into [[Kernels]] — the
  * exact values of the Catalyst composition it stands for, without
  * re-hashing four constants per row or inlining that composition once
  * per column. Composite rules below still compose built-in functions.
  *
  * Scale: generation is embarrassingly parallel — `spark.range`
  * partitions the id space, every column is a codegen'd expression, no
  * shuffle anywhere. An FK value is the parent's own key expression at
  * [[keyIndex]] (Generator fuses it into the child's plan), so no parent
  * key is ever collected or shipped.
  */
object RuleCompiler {

  /** Fixed epoch replacing `datetime.now()` for reproducibility. */
  val FixedEpochDay = "2026-01-01"

  /** @param id the row id the column is evaluated at: `spark.range`'s
    *           `id`, or a child's hashed index into a parent's ids */
  final case class Ctx(seed: Long, table: String, colName: String,
      field: StructField, id: Column)

  // --- deterministic uniform primitives (one Kernel each) ---------------

  private def kernel(c: Ctx)(k: Expression => Expression): Column =
    GraftSqlBridge.column(k(GraftSqlBridge.expression(c.id)))

  private def prefix(c: Ctx, salt: Int): Long = Kernels.prefix(c.seed, c.table, c.colName, salt)

  /** `pmod(xxhash64(seed, table, column, salt, id), n)`: uniform long in [0, n) */
  private def draw(c: Ctx, salt: Int, n: Long): Column = kernel(c)(Draw(_, prefix(c, salt), n))

  /** uniform double in [0,1) */
  private def u(c: Ctx, salt: Int): Column = kernel(c)(Uniform(_, prefix(c, salt)))

  private def randLong(c: Ctx, salt: Int, lo: Long, hi: Long): Column =
    kernel(c)(RandLong(_, prefix(c, salt), (hi - lo + 1).toDouble, lo))

  private def pick(c: Ctx, salt: Int, lex: Seq[String]): Column =
    kernel(c)(Pick(_, prefix(c, salt), lex))

  /** n random digits as a zero-padded string. */
  private def digits(c: Ctx, salt: Int, n: Int): Column = kernel(c)(Digits(_, prefix(c, salt), n))

  private def asciiFold(col: Column): Column =
    translate(lower(col), "çğıöşü", "cgiosu")

  // --- checksum helpers (tiny documented UDFs — SURVEY.md §7.3) ---------

  /** TR IBAN with a valid ISO 7064 mod-97 check (reference: fake.iban(),
    * run_engine.py:54). */
  private val trIbanUdf = udf { (bban: String) =>
    // rearrangement: BBAN + "TR00" with letters as numbers (T=29, R=27)
    val numeric = bban + "292700"
    val rem = numeric.foldLeft(0L)((acc, ch) => (acc * 10 + (ch - '0')) % 97)
    f"TR${98 - rem}%02d$bban"
  }

  /** EAN-13 check digit over 12 random digits (fake.ean13(),
    * run_engine.py:70). */
  private val ean13Udf = udf { (d12: String) =>
    val s = d12.zipWithIndex.map { case (ch, i) =>
      (ch - '0') * (if (i % 2 == 0) 1 else 3)
    }.sum
    d12 + ((10 - s % 10) % 10).toString
  }

  // --- composite generators ---------------------------------------------

  /** md5-derived UUID-v4-format string (deterministic `uuid4`): the md5
    * of `concat_ws("|", seed, table, column, id)`, see [[Kernels.uuid]]. */
  def uuid4(c: Ctx): Column = kernel(c)(Uuid(_, s"${c.seed}|${c.table}|${c.colName}|"))

  private def sentence(c: Ctx, nWords: Int): Column = {
    val ws = (0 until nWords).map(i => pick(c, 100 + i, Lexicons.Words))
    concat(initcap(ws.head), lit(" "), concat_ws(" ", ws.tail: _*), lit("."))
  }

  private def word(c: Ctx): Column = pick(c, 1, Lexicons.Words)

  private def lexify4(c: Ctx): Column =
    concat((0 until 4).map(i => pick(c, 200 + i, Lexicons.Letters)): _*)

  private def dateThisDecade(c: Ctx): Column =
    date_add(to_date(lit("2020-01-01")), randLong(c, 3, 0, 2556).cast(IntegerType))

  /** fixed epoch − [0,365) days (replaces datetime.now(); v1 semantics
    * fill_db.py:82-83 with a pinned clock). */
  private def recentTimestamp(c: Ctx): Column =
    to_timestamp(date_sub(to_date(lit(FixedEpochDay)), randLong(c, 3, 0, 365).cast(IntegerType)))

  private def timeOfDay(c: Ctx): Column =
    concat(
      lpad(randLong(c, 4, 0, 23).cast(StringType), 2, "0"), lit(":"),
      lpad(randLong(c, 5, 0, 59).cast(StringType), 2, "0"), lit(":"),
      lpad(randLong(c, 6, 0, 59).cast(StringType), 2, "0"))

  /** The parent id an FK column of `c` draws from: uniform over the
    * parent's first `n` ids. */
  def keyIndex(c: Ctx, n: Long): Column = draw(c, 7, n)

  /** Compile `rule` for the column described by `c`. Returns the raw
    * generated value; Generator applies coercion/truncation/final cast.
    * `ForeignKey` compiles to the no-parent fallback (run_engine.py:161-162);
    * Generator substitutes the parent's key when one supplies it. */
  def compile(rule: Rule, c: Ctx): Column = rule match {
    case ForeignKey(_) =>
      if (c.field.metadata.getString(graft.ddl.DdlParser.MetaSqlType) == "uniqueidentifier") uuid4(c)
      else randLong(c, 7, 1, 10)
    case RandomInt(lo, hi) => randLong(c, 2, lo, hi)
    case PyFloat(rd, _, minV, maxV) =>
      val lo = minV.getOrElse(0d); val hi = maxV.getOrElse(10000d)
      round(u(c, 2) * lit(hi - lo) + lit(lo), rd)
    case Numerify(pattern) =>
      // split into literal / '#'-run segments, each run an independent draw
      val segs = "#+|[^#]+".r.findAllIn(pattern).toSeq
      val cols = segs.zipWithIndex.map {
        case (s, i) if s.startsWith("#") => digits(c, 300 + i, s.length)
        case (s, _) => lit(s)
      }
      if (cols.size == 1) cols.head else concat(cols: _*)
    case Sentence(n) => sentence(c, n)
    case Word => word(c)
    case BooleanRule => draw(c, 2, 2) === 1
    case Email => concat(
      asciiFold(pick(c, 10, Lexicons.FirstNames)), lit("."),
      asciiFold(pick(c, 11, Lexicons.LastNames)),
      draw(c, 12, 100).cast(StringType), lit("@example.com"))
    case Iban => trIbanUdf(concat(digits(c, 13, 5), lit("0"), digits(c, 14, 16)))
    case PhoneNumber => concat(lit("05"), randLong(c, 15, 300000000L, 599999999L).cast(StringType))
    case Address => concat(
      pick(c, 16, Lexicons.Cities), lit(" "), pick(c, 17, Lexicons.StreetSuffixes),
      lit(" No:"), randLong(c, 18, 1, 200).cast(StringType),
      lit(" "), pick(c, 19, Lexicons.Cities))
    case City => pick(c, 20, Lexicons.Cities)
    case Country => pick(c, 21, Lexicons.Countries)
    case Company => concat(pick(c, 22, Lexicons.CompanyNames), lit(" "),
      pick(c, 23, Lexicons.CompanySuffixes))
    case FirstName => pick(c, 24, Lexicons.FirstNames)
    case LastName => pick(c, 25, Lexicons.LastNames)
    case Ean13 => ean13Udf(digits(c, 26, 12))
    case CurrencyCode => pick(c, 27, Lexicons.CurrencyCodes)
    case CitySuffix => pick(c, 28, Lexicons.CitySuffixes)
    case Uuid4 => uuid4(c)
    case DateThisDecade => dateThisDecade(c)
    case AutoCode => concat(lit("AUTO-"), randLong(c, 29, 1000, 9999).cast(StringType))
    case ProductName => concat(pick(c, 30, Lexicons.Adjectives), lit(" "), pick(c, 31, Lexicons.Nouns))
    case PriceUniform => round(u(c, 32) * lit(4990d) + lit(10d), 2)
    case Url => concat(lit("https://"), asciiFold(word(c)), lit(".example.com/"))
    case UlkeConst => lit("Türkiye")
    case TypeDefault(sqlType, precision, scale, length) =>
      typeDefaultValue(c, sqlType, precision, scale, length)
  }

  /** Type-driven defaults (run_engine.py:177-203). Delta from reference:
    * float/real get numeric values (the reference falls through to its
    * string branch and relies on per-table error tolerance — a bug we do
    * not reproduce, since our schema is typed). */
  private def typeDefaultValue(c: Ctx, sqlType: String, precision: Int,
      scale: Int, length: Int): Column = sqlType match {
    case "bit" => draw(c, 2, 2) === 1
    case "tinyint" => randLong(c, 2, 0, 255)
    case "smallint" => randLong(c, 2, 0, 32000)
    case "int" | "bigint" => randLong(c, 2, 0, 100000)
    case "decimal" | "numeric" | "money" | "smallmoney" =>
      val p = if (precision > 0) precision else 18
      val s = if (scale >= 0) scale else 2
      val maxv = math.min(math.pow(10, (p - s).toDouble) - 1, 10000d)
      round(u(c, 2) * lit(maxv), s)
    case "float" | "real" => round(u(c, 2) * lit(10000d), 2)
    case "date" | "datetime" | "smalldatetime" | "datetime2" | "datetimeoffset" =>
      recentTimestamp(c)
    case "time" => timeOfDay(c)
    case "uniqueidentifier" => uuid4(c)
    case _ =>
      val len = if (length == -1) 100 else if (length == 0) 50 else length
      if (len < 10) lexify4(c)
      else if (len < 50) initcap(word(c))
      else substring(sentence(c, 5), 1, len)
  }
}
