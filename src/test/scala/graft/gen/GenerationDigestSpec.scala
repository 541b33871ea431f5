package graft.gen

import graft.ddl.{Catalog, DdlParser}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-table digests of generated rows stay as pinned: family g's frozen
  * oracles rest on byte-identical generation. The inline DDL covers every
  * parent-key shape: GUID, identity int, non-identity int and truncated
  * nvarchar(3) PKs, an always-NULL PK (in `SkipCols`), a PK that is
  * itself an FK (grandparent chain), a self-FK and a two-table FK cycle. */
class GenerationDigestSpec extends AnyFunSuite {
  import GenerationDigestSpec._
  lazy val spark = graft.TestSpark.session

  private lazy val at15 = pipelineFrames(15)
  private lazy val at1500 = pipelineFrames(1500)

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

  private def pipelineFrames(rows: Long): Map[String, DataFrame] = {
    val frames = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    val results = GeneratePipeline.run(spark, catalog, rows, 7, (t, df) => frames(t) = df)
    assert(results.forall(_.ok), results.toString)
    frames.toMap
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
    "LogRoot" -> "ead8f39df409428b093e140d2f0d208fec43f22d5b27247178e61dc9845964bf",
    "Node" -> "4fc8913893c0d0fcd09b6febc50ecc4c4f432dcac4233008210b93f569d65a54",
    "SubDetail" -> "22ec3ba506b72f51548cb9c633f8a1ba0b29092224e5333215298aac4b87c754")

  val PinnedBareDetail = "3ed6b676bbb0be4a517bad28fe6399e3fc87b74705e0908ea0c5dff610fb5822"
  val PinnedGuidRootDetail = "3869c8c833c1080540af60e9818f3d07949ea32cb5c00d6900f80581f716b084"
}
