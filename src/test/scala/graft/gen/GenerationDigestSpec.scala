package graft.gen

import graft.ddl.{Catalog, DdlParser}
import graft.rules.{Rule, RuleInference}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Per-table digests of generated rows stay as pinned: family g's frozen
  * oracles rest on byte-identical generation. The inline DDL covers every
  * parent-key shape: GUID, identity int, non-identity int and truncated
  * nvarchar(3) PKs, an always-NULL PK (in `SkipCols`), a PK that is
  * itself an FK (grandparent chain), a self-FK and a two-table FK cycle.
  * Its `Kural` table carries one column per keyword rule the inference
  * can reach and per type-default branch, plus keyword values coerced
  * into (or falling back from) numeric, bit, date and timestamp columns;
  * [[ruleFrame]] compiles every `Rule` case directly, the ones no column
  * name reaches included. */
class GenerationDigestSpec extends AnyFunSuite {
  import GenerationDigestSpec._
  lazy val spark = graft.TestSpark.session

  private lazy val at15 = pipelineFrames(spark, 15)
  private lazy val at1500 = pipelineFrames(spark, 1500)

  test("pipeline digests at 15 rows equal the pinned ones") {
    assert(at15.map { case (t, df) => t -> digest(df) } == Pinned15)
  }

  test("pipeline digests at 1,500 rows (above the 1,000-key cap) equal the pinned ones") {
    assert(at1500.map { case (t, df) => t -> digest(df) } == Pinned1500)
  }

  test("a parentless tableDf call falls back on every FK, as pinned") {
    assert(digest(Generator.tableDf(spark, catalog("Detail"), 15, 7)) == PinnedBareDetail)
  }

  test("a caller-chosen parent supplies only its own FK, as pinned") {
    val cat = catalog
    val guidRootOnly: Generator.Parents = (child, parent) =>
      Option.when(child == "Detail" && parent == "GuidRoot")(cat("GuidRoot"))
    assert(digest(Generator.tableDf(spark, cat("Detail"), 15, 7, guidRootOnly)) ==
      PinnedGuidRootDetail)
  }

  test("every Rule case compiled over 1,500 ids equals its pinned digest") {
    assert(columnDigests(ruleFrame(spark, 1500)) == PinnedRules)
  }

  test("Kural's columns reach every keyword rule and type-default branch they name") {
    val td = catalog("Kural")
    val rules = td.safeFields.map(f => f.name -> RuleInference.infer(f, None)).toMap
    assert(KuralRules.forall { case (c, r) => rules(c) == r }, rules)
    val typeDefaults = rules.values.collect { case Rule.TypeDefault(t, _, _, _) => t }.toSet
    assert(typeDefaults == TypeDefaultBranches, typeDefaults)
  }

  test("FK values are parent keys from the first 1,000 ids; same-wave and NULL-key parents fall back") {
    def values(t: String, c: String): Seq[Any] = at1500(t).select(c).collect().map(_.get(0)).toSeq
    def keys(t: String, c: String): Set[Any] = values(t, c).toSet
    assert(values("Detail", "GuidRootId").toSet subsetOf keys("GuidRoot", "Id"))
    assert(values("SubDetail", "DetailGuidRootId").toSet subsetOf keys("Detail", "GuidRootId"))
    assert(values("CycA", "CycBId").toSet subsetOf keys("CycB", "Id"))
    val codes: Set[Any] = keys("CodeRoot", "Code").map(_.toString.take(2))
    assert(values("Detail", "CodeRootCode").toSet subsetOf codes)
    // identity keys 1..1000 are exactly the parent's first 1,000 ids
    val ident = values("Detail", "IdentRootId").map(_.asInstanceOf[Long])
    assert(ident.forall(i => i >= 1 && i <= 1000))
    assert(ident.distinct.size > 600, "FK draws must spread over the parent's keys")
    // fallbacks: the same-wave cycle parent, the self-FK, the NULL-key parent
    assert(values("CycB", "CycAId").toSet.intersect(keys("CycA", "Id")).isEmpty)
    assert(values("Node", "ParentId").forall(v => (1 to 10).contains(v)))
    assert(values("Detail", "LogRootLogId").forall(_ != null))
  }
}

object GenerationDigestSpec {
  private def table(name: String, cols: Seq[String], pk: String): String =
    s"""CREATE TABLE [dbo].[$name](
       |${cols.map("\t" + _ + ",").mkString("\n")}
       | CONSTRAINT [PK_$name] PRIMARY KEY CLUSTERED
       |(
       |	[$pk] ASC
       |)WITH (PAD_INDEX = OFF) ON [PRIMARY]
       |) ON [PRIMARY]
       |GO
       |""".stripMargin

  private def fk(table: String, column: String, ref: String, refCol: String): String =
    s"""ALTER TABLE [dbo].[$table]  WITH CHECK ADD  CONSTRAINT [FK_${table}_$column] FOREIGN KEY([$column])
       |REFERENCES [dbo].[$ref] ([$refCol])
       |GO
       |""".stripMargin

  /** `Kural`'s generated columns: (DDL line, the rule inference gives it).
    * LastName, Address and ProductName are unreachable by name (their
    * keywords contain the earlier `AD`); [[ruleFrame]] covers them. */
  private val KuralColumns: Seq[(String, Rule)] = {
    import Rule._
    def td(t: String, p: Int = 0, s: Int = 0, l: Int = 0) = TypeDefault(t, p, s, l)
    Seq(
      "[TCKN] [nvarchar](11) NULL" -> Numerify("###########"),
      "[TcknSayi] [bigint] NULL" -> Numerify("###########"),
      "[VKN] [nvarchar](10) NULL" -> Numerify("##########"),
      "[VergiNo] [decimal](5, 0) NULL" -> Numerify("##########"),
      "[IBAN] [nvarchar](34) NULL" -> Iban,
      "[EMail] [nvarchar](100) NULL" -> Email,
      "[EPosta] [nvarchar](100) NULL" -> Email,
      "[MailZaman] [datetime] NULL" -> Email,
      "[Telefon] [nvarchar](20) NULL" -> PhoneNumber,
      "[TelAktif] [bit] NULL" -> PhoneNumber,
      "[GsmNo] [int] NULL" -> PhoneNumber,
      "[Unvan] [nvarchar](250) NULL" -> Company,
      "[SirketAdi] [nvarchar](150) NULL" -> Company,
      "[Ad] [nvarchar](100) NULL" -> FirstName,
      "[AdSayi] [int] NULL" -> FirstName,
      "[Sehir] [nvarchar](50) NULL" -> City,
      "[Il] [nvarchar](50) NULL" -> City,
      "[Ulke] [nvarchar](50) NULL" -> UlkeConst,
      "[Aciklama] [nvarchar](500) NULL" -> Sentence(5),
      "[NotMetni] [nvarchar](max) NULL" -> Sentence(3),
      "[Barkod] [nvarchar](13) NULL" -> Ean13,
      "[Kod] [nvarchar](20) NULL" -> AutoCode,
      "[KodTarih] [date] NULL" -> AutoCode,
      "[Fiyat] [numeric](25, 6) NULL" -> PriceUniform,
      "[Tutar] [float] NULL" -> PriceUniform,
      "[Miktar] [decimal](18, 4) NULL" -> RandomInt(1, 100),
      "[WebSayfa] [nvarchar](200) NULL" -> Url,
      "[Url] [nvarchar](300) NULL" -> Url,
      "[TBit] [bit] NULL" -> td("bit"),
      "[TTinyint] [tinyint] NULL" -> td("tinyint"),
      "[TSmallint] [smallint] NULL" -> td("smallint"),
      "[TInt] [int] NULL" -> td("int"),
      "[TBigint] [bigint] NULL" -> td("bigint"),
      "[TDecimal] [decimal](9, 3) NULL" -> td("decimal", 9, 3),
      "[TNumeric] [numeric](30, 2) NULL" -> td("numeric", 30, 2),
      "[TMoney] [money] NULL" -> td("money"),
      "[TSmallmoney] [smallmoney] NULL" -> td("smallmoney"),
      "[TFloat] [float] NULL" -> td("float"),
      "[TReal] [real] NULL" -> td("real"),
      "[TDate] [date] NULL" -> td("date"),
      "[TDatetime] [datetime] NULL" -> td("datetime"),
      "[TSmalldatetime] [smalldatetime] NULL" -> td("smalldatetime"),
      "[TDatetime2] [datetime2](7) NULL" -> td("datetime2", 7),
      "[TTime] [time](7) NULL" -> td("time", 7),
      "[TGuid] [uniqueidentifier] NULL" -> td("uniqueidentifier"),
      "[TChar] [char](5) NULL" -> td("char", 5, 0, 5),
      "[TVarchar] [varchar](20) NULL" -> td("varchar", 20, 0, 20),
      "[TNchar] [nchar](12) NULL" -> td("nchar", 12, 0, 12),
      "[TNvarchar] [nvarchar](200) NULL" -> td("nvarchar", 200, 0, 200),
      "[TNvarcharMax] [nvarchar](max) NULL" -> td("nvarchar", -1, 0, -1),
      "[TText] [text] NULL" -> td("text"),
      "[TNtext] [ntext] NULL" -> td("ntext"))
  }

  /** Column name → inferred rule, for every generated `Kural` column. */
  val KuralRules: Map[String, Rule] =
    KuralColumns.map { case (line, r) => line.drop(1).takeWhile(_ != ']') -> r }.toMap

  val Ddl: String = Seq(
    // GUID PK
    table("GuidRoot", Seq("[Id] [uniqueidentifier] NOT NULL", "[Name] [nvarchar](20) NULL"), "Id"),
    // identity int PK
    table("IdentRoot", Seq("[Id] [int] IDENTITY(1,1) NOT NULL", "[Sayi] [int] NULL"), "Id"),
    // non-identity int PK (a type-default draw)
    table("IntRoot", Seq("[Id] [int] NOT NULL", "[Oran] [float] NULL"), "Id"),
    // nvarchar(3) PK, truncated from a longer generated value
    table("CodeRoot", Seq("[Code] [nvarchar](3) NOT NULL", "[Baslik] [varchar](100) NULL"), "Code"),
    // PK in SkipCols: always NULL, so its children fall back
    table("LogRoot", Seq("[LogId] [uniqueidentifier] NOT NULL", "[Tarih] [date] NULL"), "LogId"),
    // PK that is itself an FK (onto GuidRoot), plus one FK per root kind
    table("Detail", Seq("[GuidRootId] [uniqueidentifier] NOT NULL",
      "[IdentRootId] [bigint] NULL", "[IntRootId] [int] NULL", "[CodeRootCode] [nvarchar](2) NULL",
      "[LogRootLogId] [uniqueidentifier] NULL", "[Miktar] [decimal](18, 4) NULL"), "GuidRootId"),
    // grandchild: its FK resolves through Detail's PK to GuidRoot's key
    table("SubDetail", Seq("[Id] [uniqueidentifier] NOT NULL",
      "[DetailGuidRootId] [uniqueidentifier] NOT NULL", "[Aciklama] [nvarchar](max) NULL"), "Id"),
    // self-FK
    table("Node", Seq("[Id] [int] IDENTITY(1,1) NOT NULL", "[ParentId] [int] NULL"), "Id"),
    // two-table FK cycle
    table("CycA", Seq("[Id] [uniqueidentifier] NOT NULL", "[CycBId] [int] NULL"), "Id"),
    table("CycB", Seq("[Id] [int] NOT NULL", "[CycAId] [uniqueidentifier] NULL"), "Id"),
    // one column per reachable keyword rule and per type-default branch
    table("Kural", "[Id] [int] IDENTITY(1,1) NOT NULL" +: KuralColumns.map(_._1), "Id"),
    fk("Detail", "GuidRootId", "GuidRoot", "Id"),
    fk("Detail", "IdentRootId", "IdentRoot", "Id"),
    fk("Detail", "IntRootId", "IntRoot", "Id"),
    fk("Detail", "CodeRootCode", "CodeRoot", "Code"),
    fk("Detail", "LogRootLogId", "LogRoot", "LogId"),
    fk("SubDetail", "DetailGuidRootId", "Detail", "GuidRootId"),
    fk("Node", "ParentId", "Node", "Id"),
    fk("CycA", "CycBId", "CycB", "Id"),
    fk("CycB", "CycAId", "CycA", "Id")
  ).mkString

  def catalog: Catalog = DdlParser.parse(Ddl)

  /** The inline catalog's frames as `GeneratePipeline.run` sinks them. */
  def pipelineFrames(spark: SparkSession, rows: Long): Map[String, DataFrame] = {
    val frames = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    val results = GeneratePipeline.run(spark, catalog, rows, 7, (t, df) => frames(t) = df)
    assert(results.forall(_.ok), results.toString)
    frames.toMap
  }

  /** `RuleCompiler.typeDefaultValue`'s sqlType branches reachable from a
    * generated column (datetimeoffset is outside the safe types; the
    * rule frame covers it). */
  val TypeDefaultBranches: Set[String] = Set("bit", "tinyint", "smallint", "int", "bigint",
    "decimal", "numeric", "money", "smallmoney", "float", "real", "date", "datetime",
    "smalldatetime", "datetime2", "time", "uniqueidentifier", "char", "varchar", "nchar",
    "nvarchar", "text", "ntext")

  /** Every `Rule` case (and every type-default branch) compiled by
    * `RuleCompiler.compile` over `spark.range(rows)`, one column each, plus
    * `keyIndex` below and above the row count. Raw values: no finalize. */
  def ruleFrame(spark: SparkSession, rows: Long): DataFrame = {
    import Rule._
    def field(name: String, sqlType: String) = StructField(name, StringType, nullable = true,
      new MetadataBuilder().putString(DdlParser.MetaSqlType, sqlType).build())
    def ctx(name: String, sqlType: String = "nvarchar") =
      RuleCompiler.Ctx(7, "Kural", name, field(name, sqlType), col("id"))
    def td(t: String, p: Int = 0, s: Int = 0, l: Int = 0) = TypeDefault(t, p, s, l)
    val rules: Seq[(String, String, Rule)] = Seq(
      ("fkGuid", "uniqueidentifier", ForeignKey("P")), ("fkInt", "int", ForeignKey("P")),
      ("randomInt", "int", RandomInt(1, 100)), ("randomIntNeg", "int", RandomInt(-5, 5)),
      ("pyFloat", "float", PyFloat(2, positive = true, None, None)),
      ("pyFloatRange", "float", PyFloat(3, positive = true, Some(10), Some(50000))),
      ("numerify", "nvarchar", Numerify("###########")),
      ("numerifyMixed", "nvarchar", Numerify("TR-##/#x")),
      ("numerifyWide", "nvarchar", Numerify("#" * 20)),
      ("sentence", "nvarchar", Sentence(5)), ("sentence10", "nvarchar", Sentence(10)),
      ("word", "nvarchar", Word), ("boolean", "bit", BooleanRule), ("email", "nvarchar", Email),
      ("iban", "nvarchar", Iban), ("phone", "nvarchar", PhoneNumber),
      ("address", "nvarchar", Address), ("city", "nvarchar", City),
      ("country", "nvarchar", Country), ("company", "nvarchar", Company),
      ("firstName", "nvarchar", FirstName), ("lastName", "nvarchar", LastName),
      ("ean13", "nvarchar", Ean13), ("currency", "nvarchar", CurrencyCode),
      ("citySuffix", "nvarchar", CitySuffix), ("uuid4", "uniqueidentifier", Uuid4),
      ("dateThisDecade", "date", DateThisDecade), ("autoCode", "nvarchar", AutoCode),
      ("productName", "nvarchar", ProductName), ("price", "decimal", PriceUniform),
      ("url", "nvarchar", Url), ("ulke", "nvarchar", UlkeConst),
      ("tdBit", "bit", td("bit")), ("tdTinyint", "tinyint", td("tinyint")),
      ("tdSmallint", "smallint", td("smallint")), ("tdInt", "int", td("int")),
      ("tdBigint", "bigint", td("bigint")), ("tdDecimal", "decimal", td("decimal", 9, 3)),
      ("tdDecimalBare", "decimal", td("decimal", 0, -1)), ("tdNumeric", "numeric", td("numeric", 30, 2)),
      ("tdMoney", "money", td("money")), ("tdSmallmoney", "smallmoney", td("smallmoney")),
      ("tdFloat", "float", td("float")), ("tdReal", "real", td("real")),
      ("tdDate", "date", td("date")), ("tdDatetime", "datetime", td("datetime")),
      ("tdSmalldatetime", "smalldatetime", td("smalldatetime")),
      ("tdDatetime2", "datetime2", td("datetime2", 7)),
      ("tdDatetimeoffset", "datetimeoffset", td("datetimeoffset", 7)),
      ("tdTime", "time", td("time", 7)), ("tdGuid", "uniqueidentifier", td("uniqueidentifier")),
      ("tdShort", "nvarchar", td("nvarchar", 5, 0, 5)), ("tdMid", "nvarchar", td("nvarchar", 20, 0, 20)),
      ("tdLong", "nvarchar", td("nvarchar", 200, 0, 200)), ("tdMax", "nvarchar", td("nvarchar", -1, 0, -1)),
      ("tdUnsized", "text", td("text")))
    val compiled = rules.map { case (name, t, r) => RuleCompiler.compile(r, ctx(name, t)).as(name) }
    val keys = Seq(15L, 1000L).map(n => RuleCompiler.keyIndex(ctx(s"key$n"), n).as(s"key$n"))
    spark.range(rows).select(compiled ++ keys: _*)
  }

  /** Per-column SHA-256 over each column's values as sorted JSON lines. */
  def columnDigests(df: DataFrame): Map[String, String] = {
    val row = df.select(df.columns.toIndexedSeq.map(c => sha2(concat_ws("\n",
      array_sort(collect_list(to_json(struct(col(c)))))), 256).as(c)): _*).head()
    df.columns.map(c => c -> row.getAs[String](c)).toMap
  }

  /** SHA-256 over the frame's rows as sorted JSON lines — order-free. */
  def digest(df: DataFrame): String =
    df.select(sha2(concat_ws("\n",
      array_sort(collect_list(to_json(struct(col("*")))))), 256)).head().getString(0)

  val Pinned15: Map[String, String] = Map(
    "CodeRoot" -> "331d32eabda6ee054cc8b485f88c9cc5db2a61f264c16de2ad20fdca5536c4ec",
    "CycA" -> "2deb734728a13f5af1ab669d3a5646a490e8880838565ed4fafbe79530ba3185",
    "CycB" -> "12231e321089836d363d894058f22807e03865b279d92ffa0a9c998a03e5efe4",
    "Detail" -> "305171e9d70a19c7d53cb1d1f1ee74c8037fa72d874a4206f0c3cc9e9bbef7af",
    "GuidRoot" -> "cd8b10b4a50c71a7911c69f6b0d1b507667a2aaa15c70a722f97a54fed845792",
    "IdentRoot" -> "d360d24b5369c5e2939102ea6b69df026c6c540eefbb35ab2cf9cab5e95116a5",
    "IntRoot" -> "98f62222e7a37c36830a35963c0c1219421268a91593b179581fa111b6b74298",
    "Kural" -> "96c1b99e68ae9f16862a4270916d476921b438bc3afd69964fecf538d893564e",
    "LogRoot" -> "cc14599455d8613f6be67903605932ea4441c5ff1ef11659581e13c16991f1a6",
    "Node" -> "3e6ee98869b17f1412a0f45ef5500bb0d0cce87605a149bef4e3228c3158b373",
    "SubDetail" -> "24b489a8c6a12f5a943c689cc358bc4b3875659dce06e440c6a241947d474ef4")

  val Pinned1500: Map[String, String] = Map(
    "CodeRoot" -> "148c173679cd69714d4d4f112402a6af0a2fce47e197d86b166aa2004ee30dd4",
    "CycA" -> "c88605bbc1f89e95a3388a82022f147082f20a5617f922f025a94f0730561c10",
    "CycB" -> "e8a0c5ec906002128076d7606f7b33072779f90eb0806dc5817321144981ab99",
    "Detail" -> "c925a807d28d16a5341333c7d61d0447c35ac123635673faca0b7335c96b43ea",
    "GuidRoot" -> "354c5cf23634b5c04305d93007742bdf975969e7150d780abb1266d5286d47c4",
    "IdentRoot" -> "9f900a5ad943ffa9234668acd366c1c8a532254e18557a74895d8450b949ed77",
    "IntRoot" -> "c8c59290e30899539abb2116cd7034d5644ddbfbe1d0cb5e78161718dedf939b",
    "Kural" -> "8f09c94b7eadf2ab11a14a66cafac60222d1ca067dc2e5f4f76de76515448905",
    "LogRoot" -> "ead8f39df409428b093e140d2f0d208fec43f22d5b27247178e61dc9845964bf",
    "Node" -> "4fc8913893c0d0fcd09b6febc50ecc4c4f432dcac4233008210b93f569d65a54",
    "SubDetail" -> "22ec3ba506b72f51548cb9c633f8a1ba0b29092224e5333215298aac4b87c754")

  val PinnedRules: Map[String, String] = Map(
    "address" -> "0578231cc9ab4a55d9c30b59528ea6bca0fbf7b6ddd23787947aad695185c94d",
    "autoCode" -> "61f009a6caa65d958462cefe9159ebf6bef653ace9b693b3401f74e6d6d8899b",
    "boolean" -> "2a36c80af2a739a27902ade52d74e325e0924773563c1ef00cddf35ef9c24734",
    "city" -> "0b5e7fd5e81b6c7782d5f285c1eef093d668a8e5ec335bb4d27aad806bdc276e",
    "citySuffix" -> "9e175faddd74a3c75f182a2a773fb0a4f11bb170284568d30807e7f93dde216f",
    "company" -> "dd0d7752b6fa71c9360c2fa88966976d5ec684c11465b7181887c6e98a4c3d80",
    "country" -> "c6009772fbdda471c89793bf36aa4c730fc2e4cb394bdbe18deaadbd035ad948",
    "currency" -> "a94787e50ef52ba159c0469bca65a18ae6e82efe6e83dba9a8189208a8bf3ebb",
    "dateThisDecade" -> "afd8d02cab737a0aa7e8bb89944cc18b10331998c35528f48ac81ef2ebdcd2a5",
    "ean13" -> "5eded298964fcc552ab8d4886d5aa6966c474fbeabb6950e4df41ffd19cc21b4",
    "email" -> "2a3119da3504ffc5d2aa3f7408b036209080b9edc809dfa72bda076e70f09285",
    "firstName" -> "c93a1d13f5a67bce1ef07f57af264d5307e67c6d8c6d44bd5e2314f1b9867d05",
    "fkGuid" -> "ed7446d82575fcd64f70f3ffc135f9061beb61bddddd49f1c7dd64413dc66c95",
    "fkInt" -> "5f42097e7b29a7c11dd7bef0f3aca6202cdae1074c77bf9efe4c7432f8404c0a",
    "iban" -> "89394b48a5cc3f93387c3ca3710fe31274bd05f83b4ebb2ee83b410192c2a993",
    "key1000" -> "38422aed5b5a6ca8e8b10957ece099a1e37a140adcc8f2c7c829719201d61518",
    "key15" -> "cef9d5bf90bf46407611fd6e75570015f4d45da316631e3a1b5fbd761ce16ffb",
    "lastName" -> "26ad6feaaad49c21af041daff04d6605cea32316f98320850da6851143b23f73",
    "numerify" -> "8aa72d165afa5461857b3822cf7701da52267b7cf2ad1ce69d35e075f3d98d7f",
    "numerifyMixed" -> "9901736fc3f7d8d1261759284f14184accf17f7fc8e3d1717072d013ba3dd2d4",
    "numerifyWide" -> "6094ae086f2c1b9631906ce820cf43018f6ca1046d88bb5aa7500797a64c9cd7",
    "phone" -> "9e7462c90cc9447e1e9f4a3424293f57a46cdfbdd2e75ffeabe05a27d048ac25",
    "price" -> "cb42a7023651546c51c2e0a34749053223a3c3c5b10a1de6f70c593c22e20ba0",
    "productName" -> "4acfcac9bef5fba56aefe1e458455d12af84e5184760262cd252439743915426",
    "pyFloat" -> "b85fdbe12a2ef4133953f67c1b9f9dac08b5fcdc9da472d6ee85166933b3f6a3",
    "pyFloatRange" -> "56e6b4f00c9cbab1437b7e3df3c8942ace9e3f04974380869cca9babee82b3c7",
    "randomInt" -> "0427d2c0395a36b818725c69cccbc7802ef01f4a8d2e04481dda38b358dda35e",
    "randomIntNeg" -> "fe5991d43982a80a72f7b4ee08354f919b37c3512b48d94e4a820d344c92e2b3",
    "sentence" -> "7539262d22086acc1a596e14bd8c6fd71c5b2270acd559767af232cb94ae40e0",
    "sentence10" -> "2473fa4def99370bac366c86da7b36d4ffc527e55f5ccc5b21949ab8df98c451",
    "tdBigint" -> "18859cd1721a49149af3d5cfd678b736e521800aaa6c070d708547a1379778cf",
    "tdBit" -> "a9048c7a28a48136266d35921993b0aff2b2871bb48ef9c6749b48f7c6b16a71",
    "tdDate" -> "13fb4d0769ced91447e8800695fc46b4efa0ccbd21b1f81f239849cb19d90e16",
    "tdDatetime" -> "2b1c6871beb163d2d0ba37ce309223a9757583b48874b8ab3afbab8c62a1b64c",
    "tdDatetime2" -> "a89d79127eaa08da5440621221939452aeabf4d8e729a51dc0ff8db23108b429",
    "tdDatetimeoffset" -> "9671265c7f4068223d9056faea5b95d255eb116b209bd695ed162013f81b570a",
    "tdDecimal" -> "5a05669e895859cb399e693e41993d1088e91a40a431b67cc402be38705fa6fb",
    "tdDecimalBare" -> "c5c6943f84ae8357d88272c4e748f9296dcb440cc0307818d8ad594dd5b7b2ef",
    "tdFloat" -> "f343bae4126313fc3257feea7891a1ce07c1bb2bf390bc3457ea32a011b212d4",
    "tdGuid" -> "a9e8b0cf791a7fc98ed2d25baace3c368ce0b47a6e17c32fb25fa49c6f1074e8",
    "tdInt" -> "80cda0cb3a3d0dfaac4b5880b1857435e87e56edec9c8379257c80083ae47e1a",
    "tdLong" -> "8e262b6473284b05ba84d4ed926d7cf9fd072cd2c4c3b44d3fcd8e112025506f",
    "tdMax" -> "d034323fec25d964888f5dc8532779e11aa0729013724906b7b4066d55711986",
    "tdMid" -> "2209c32595d53e310f39cfd32f765dd5b11a06b10cdcd730a1018b032a8a47f2",
    "tdMoney" -> "787c742926860111b92f1cca48840fa7b4c00cc354041bb265e767477ce5b6a8",
    "tdNumeric" -> "8c0f266ee6ad49b22beb94b2ce471c3999663e194dad9b48836ccaad39d33c48",
    "tdReal" -> "7af9e3892ac2abb66414e6763105ec07890e07d0031ca1e47e45a7ac278d8841",
    "tdShort" -> "27825b668f671cc1d899898fad51efad0cfbc897f289a1feffc8c9e491758c96",
    "tdSmalldatetime" -> "5eee847b0592f2e45ae6b59387ad5566c3887c15e4e3e2f7258b65c921f9fa64",
    "tdSmallint" -> "227878a210b3302c273c27dcd28158d416824240fb06dd3cdac1b4be745cec79",
    "tdSmallmoney" -> "8ca700499022fa0483a320a94e7058f487fe1675a8b99622faedf3d5b24c3775",
    "tdTime" -> "529e881d6be69060bad399d279e3c473451cccb3db247154e722a7c67a3ed01b",
    "tdTinyint" -> "998fbac588015993ba0604ecb41196a72c180a81f5fe64119accca39b6e9a775",
    "tdUnsized" -> "36f8d6b5be76cfa4295f8b51f8e5cd780dda18c210a741734d07e097287f834c",
    "ulke" -> "98404f5fe2db04357a057e051711033465bb57ed21c92ee6d7b7dae90eb48050",
    "url" -> "5f5dd32597902ddda95184cfc50a84d4840d0d5234e5cdcee5db6e9be713e8e4",
    "uuid4" -> "afbd8df8f9fa4d8075e84cf1e64c16bfdd4bd17f9482e689cd1cb758bbee0273",
    "word" -> "5c2a46e92dcbc9b0cf1e9d5f10f18f226d4e768c634ad34c7b9d54228799b39d")

  val PinnedBareDetail = "3ed6b676bbb0be4a517bad28fe6399e3fc87b74705e0908ea0c5dff610fb5822"
  val PinnedGuidRootDetail = "3869c8c833c1080540af60e9818f3d07949ea32cb5c00d6900f80581f716b084"
}
