package graft.gen

import java.nio.charset.StandardCharsets.UTF_8

import graft.ddl.{Catalog, DdlParser}
import graft.rules.{Rule, RuleInference}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.scalatest.funsuite.AnyFunSuite

/** Codegen budget of one wide generation projection (ROADMAP item 2): a
  * 76-column table, the width of the reference catalog's widest, whose
  * column names hit every KEYWORD_MAP entry and whose other columns cover
  * every type default, audit column, excluded type and FK-fused parent key
  * shape. It must compile as one whole-stage stage, with no "grows beyond
  * 64 KB" or fallback line logged, under [[SourceBudget]] bytes of
  * generated Java and [[MethodBudget]] bytes of bytecode per method.
  *
  * g09 (`g09_armed_full_catalog`) loads the reference DDL's own catalog,
  * whose 76-column table logged the 64 KB fallback; it still needs the
  * reference script, so this spec guards the same shape on an inline DDL. */
class GenerationCodegenSpec extends AnyFunSuite {
  import GenerationCodegenSpec._
  lazy val spark = graft.TestSpark.session

  test("the wide table has 76 columns, a name for every keyword and every type default") {
    val td = catalog("Wide")
    assert(td.schema.size == 76)
    val names = td.schema.fieldNames.map(_.toUpperCase)
    assert(RuleInference.KeywordMap.forall { case (k, _) => names.exists(_.contains(k)) })
    val typeDefaults = td.safeFields.map(RuleInference.infer(_, None))
      .collect { case Rule.TypeDefault(t, _, _, _) => t }.toSet
    assert(typeDefaults == GenerationDigestSpec.TypeDefaultBranches, typeDefaults)
  }

  test("the 76-column projection generates with no codegen fallback, under the source budget") {
    val cat = catalog
    val parents: Generator.Parents = (child, parent) =>
      Option.when(child == "Wide")(cat(parent))
    val df = Generator.tableDf(spark, cat("Wide"), 500, 1, parents)
    val events = graft.LogCapture.during(df.write.format("noop").mode("overwrite").save())
    val fallbacks = events.filter(e => e.getLoggerName.toLowerCase.contains("codegen") &&
      Fallback.findFirstIn(e.getMessage.getFormattedMessage).isDefined)
    assert(fallbacks.isEmpty, fallbacks.map(_.getMessage.getFormattedMessage.take(200)))

    val stages = codegenStringSeq(df.queryExecution.executedPlan)
    assert(stages.size == 1, "the projection must compile as one whole-stage stage")
    val bytes = stages.map(_._2.getBytes(UTF_8).length.toLong).sum
    assert(bytes <= SourceBudget, s"$bytes bytes of generated Java")
    val method = stages.map(_._3.maxMethodCodeSize).max
    assert(method <= MethodBudget, s"largest generated method: $method bytes of bytecode")
  }
}

object GenerationCodegenSpec {
  /** The log lines of a stage that did not compile, or that compiled too
    * large for whole-stage codegen and fell back to interpreted rows. */
  val Fallback = "(?i)grows beyond 64 KB|codegen disabled|falling back|fallback|failed to compile|too long generated codes".r

  /** Generated-Java bytes for the wide table: 121 KB with one kernel call
    * per rule primitive, 521 KB when each primitive expanded into its
    * Catalyst composition inline. */
  val SourceBudget = 160000L

  /** Bytecode bytes of the largest generated method (the projection's
    * `doConsume`): 12.6 KB with kernels, 55.7 KB inline. Past
    * `spark.sql.codegen.hugeMethodLimit` (65,535) the stage falls back to
    * interpreted rows. */
  val MethodBudget = 24000

  private def table(name: String, cols: Seq[String], pk: String): String =
    s"""CREATE TABLE [dbo].[$name](
       |${cols.map("\t" + _ + " NULL,").mkString("\n")}
       | CONSTRAINT [PK_$name] PRIMARY KEY CLUSTERED
       |(
       |	[$pk] ASC
       |)WITH (PAD_INDEX = OFF) ON [PRIMARY]
       |) ON [PRIMARY]
       |GO
       |""".stripMargin

  private def fk(column: String, ref: String, refCol: String): String =
    s"""ALTER TABLE [dbo].[Wide]  WITH CHECK ADD  CONSTRAINT [FK_Wide_$column] FOREIGN KEY([$column])
       |REFERENCES [dbo].[$ref] ([$refCol])
       |GO
       |""".stripMargin

  /** One column per KEYWORD_MAP entry, in its order. */
  private val KeywordCols: Seq[String] = Seq(
    "[TCKN] [nvarchar](11)", "[VKN] [nvarchar](10)", "[VergiNo] [nvarchar](10)",
    "[IBAN] [nvarchar](34)", "[EMail] [nvarchar](100)", "[EPosta] [nvarchar](100)",
    "[Telefon] [nvarchar](20)", "[Gsm] [nvarchar](20)", "[Unvan] [nvarchar](250)",
    "[SirketAdi] [nvarchar](150)", "[Ad] [nvarchar](100)", "[Soyad] [nvarchar](100)",
    "[Adres] [nvarchar](500)", "[Sehir] [nvarchar](50)", "[Il] [nvarchar](50)",
    "[Ilce] [nvarchar](50)", "[Ulke] [nvarchar](50)", "[Aciklama] [nvarchar](500)",
    "[NotMetni] [nvarchar](max)", "[Barkod] [nvarchar](13)", "[StokAdi] [nvarchar](200)",
    "[UrunAdi] [nvarchar](200)", "[Kod] [nvarchar](20)", "[Fiyat] [numeric](25, 6)",
    "[Tutar] [numeric](25, 6)", "[Miktar] [decimal](18, 4)", "[WebSayfa] [nvarchar](200)",
    "[Url] [nvarchar](300)")

  /** One column per type-default branch. */
  private val TypeCols: Seq[String] = Seq(
    "[Durum] [bit]", "[Tip] [tinyint]", "[Seviye] [smallint]", "[Sira] [int]",
    "[Sayac] [bigint]", "[Deger] [decimal](18, 2)", "[Katsayi] [numeric](9, 4)",
    "[Bakiye] [money]", "[Komisyon] [smallmoney]", "[Kdv] [float]", "[Oran] [real]",
    "[Tarih] [date]", "[BelgeTarih] [datetime]", "[KayitZamani] [smalldatetime]",
    "[IslemZamani] [datetime2](7)", "[Saat] [time](7)", "[Referans] [uniqueidentifier]",
    "[Kisa] [nchar](5)", "[Baslik] [varchar](100)", "[BelgeNo] [nvarchar](20)",
    "[Yorum] [ntext]", "[Metin] [text]", "[Ozet] [char](8)")

  /** The key, three FKs (GUID, truncated-code and identity parents), four
    * audit columns and two excluded types: always NULL or fused. */
  private val FixedCols: Seq[String] = Seq(
    "[Id] [uniqueidentifier]", "[CariId] [uniqueidentifier]", "[ParaKod] [nvarchar](3)",
    "[SubeId] [int]", "[CreateDate] [datetime]", "[CreatedBy] [uniqueidentifier]",
    "[UpdateDate] [datetime]", "[UpdatedBy] [uniqueidentifier]", "[Surum] [timestamp]",
    "[Belge] [varbinary](max)")

  /** 76 columns: the ones above plus the first 15 free stems again. */
  private val WideCols: Seq[String] = {
    val free = KeywordCols ++ TypeCols
    FixedCols ++ free ++ free.take(76 - FixedCols.size - free.size)
      .map(_.replaceFirst("]", "2]"))
  }

  val Ddl: String = Seq(
    table("Cari", Seq("[Id] [uniqueidentifier]", "[Unvan] [nvarchar](250)"), "Id"),
    table("ParaBirimi", Seq("[Kod] [nvarchar](3)", "[Ad] [nvarchar](50)"), "Kod"),
    table("Sube", Seq("[Id] [int] IDENTITY(1,1)", "[Ad] [nvarchar](50)"), "Id"),
    table("Wide", WideCols, "Id"),
    fk("CariId", "Cari", "Id"), fk("ParaKod", "ParaBirimi", "Kod"), fk("SubeId", "Sube", "Id")
  ).mkString

  def catalog: Catalog = DdlParser.parse(Ddl)
}
