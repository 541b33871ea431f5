package perfbench

import scala.collection.mutable

/** Seeded SSMS-dialect DDL script for the `gen-load` workload.
  *
  * The reference corpus (an 85-table MSSQL ERP script) is not part of the
  * repository, so the benchmark writes a script with the same census from
  * its seed: 85 tables of which 8 are ASP.NET-identity / EF-migration
  * tables the loader skips, 1,431 columns, 131 foreign keys including
  * self-references and 19 ON DELETE CASCADE, 4 identity columns,
  * 64 nvarchar(max) columns, rowversion and varbinary(max) columns that
  * generation must exclude, one 76-column table, and column names that hit
  * every KEYWORD_MAP entry. The 77 loaded tables form an FK DAG of exactly
  * [[Waves]] generation waves. The seed moves table levels, key kinds,
  * column mixes and edges; the census never changes.
  *
  * Every edge is loadable as generated: each FK references its parent's
  * single-column primary key with the parent's type, parents sit in
  * strictly earlier waves, and the two self-references sit on identity
  * tables, whose ids (1..n) the generator's parentless FK fallback (1..10)
  * always hits. A round-trip load therefore audits zero FK violations.
  */
object DdlSynth {
  val Tables = 85
  val Columns = 1431
  val ForeignKeys = 131
  val Cascades = 19
  val IdentityColumns = 4
  val MaxColumns = 64
  val SelfFks = 2
  val Waves = 7
  val WideTable = "CariHareket"
  val WideColumns = 76

  final case class Col(name: String, typ: String, notNull: Boolean, identity: Boolean = false)
  final case class Table(name: String, cols: Seq[Col], pk: Seq[String])
  final case class Edge(table: String, column: String, ref: String, refCol: String, cascade: Boolean)
  final case class Model(tables: Seq[Table], edges: Seq[Edge], defaults: Seq[(String, String)])

  private val Domain: Seq[String] = Seq(
    "Alis", "AlisSatir", "Arac", "Ayar", "Bakim", "Banka", "BankaHesap", "BankaSube",
    "Birim", "Bordro", "CariAdres", "CariBelge", "CariHareket", "CariHesap", "CariIletisim",
    "CekKarti", "Depo", "Departman", "Donem", "DovizKuru", "FaturaBelge", "FaturaSatir",
    "FiyatListesi", "Garanti", "Gorev", "Iade", "Il", "Ilce", "Indirim", "IrsaliyeBelge",
    "IrsaliyeSatir", "IsEmri", "Izin", "Kampanya", "KasaHareket", "KasaKarti", "Kategori",
    "Kullanici", "Makine", "Marka", "Model", "Musteri", "OdemePlani", "OdemeTipi",
    "ParaBirimi", "Personel", "Pozisyon", "Proje", "Recete", "ReceteSatir", "Rol", "Rota",
    "SatisBelge", "SatisSatir", "SenetKarti", "Servis", "Sevkiyat", "SiparisBelge",
    "SiparisSatir", "Sirket", "Sozlesme", "Stok", "StokBarkod", "StokFiyat", "StokHareket",
    "Sube", "Surucu", "Taksit", "Tedarikci", "TeklifBelge", "TeklifSatir", "Ulke", "Uretim",
    "VergiDairesi", "Yetki", "Zimmet", "Kasa")
  private val LevelSizes = Seq(14, 16, 15, 12, 10, 6, 4)

  /** Free-column stems: every KEYWORD_MAP key appears in at least one,
    * plus type-driven stems covering the generator's type table. */
  private val Stems: Seq[(String, String)] = Seq(
    "TCKN" -> "[nvarchar](11)", "VergiNo" -> "[nvarchar](10)", "VKN" -> "[nvarchar](10)",
    "IBAN" -> "[nvarchar](34)", "EMail" -> "[nvarchar](100)", "EPosta" -> "[nvarchar](100)",
    "Telefon" -> "[nvarchar](20)", "Gsm" -> "[nvarchar](20)", "Unvan" -> "[nvarchar](250)",
    "SirketAdi" -> "[nvarchar](150)", "Ad" -> "[nvarchar](100)", "Soyad" -> "[nvarchar](100)",
    "Adres" -> "[nvarchar](500)", "Sehir" -> "[nvarchar](50)", "Il" -> "[nvarchar](50)",
    "Ilce" -> "[nvarchar](50)", "UlkeAdi" -> "[nvarchar](50)", "Aciklama" -> "[nvarchar](500)",
    "NotMetni" -> "[nvarchar](250)", "Barkod" -> "[nvarchar](13)", "StokAdi" -> "[nvarchar](200)",
    "UrunAdi" -> "[nvarchar](200)", "Kod" -> "[nvarchar](20)", "Fiyat" -> "[numeric](25, 6)",
    "Tutar" -> "[numeric](25, 6)", "Miktar" -> "[decimal](18, 4)", "WebAdres" -> "[nvarchar](200)",
    "Url" -> "[nvarchar](300)", "Tarih" -> "[date]", "BelgeTarih" -> "[datetime]",
    "IslemZamani" -> "[datetime2](7)", "Saat" -> "[time](7)", "Durum" -> "[bit]",
    "Aktif" -> "[bit]", "Oran" -> "[real]", "KdvOran" -> "[float]", "Sira" -> "[int]",
    "Tip" -> "[tinyint]", "Seviye" -> "[smallint]", "Sayac" -> "[bigint]",
    "Bakiye" -> "[money]", "Deger" -> "[decimal](18, 2)", "BelgeNo" -> "[nvarchar](20)",
    "Referans" -> "[uniqueidentifier]", "Baslik" -> "[varchar](100)", "KisaKod" -> "[nchar](5)",
    "Notlar" -> "[ntext]", "Komisyon" -> "[smallmoney]", "KayitZamani" -> "[smalldatetime]")
  private val Audit: Seq[Col] = Seq(
    Col("CreateDate", "[datetime]", notNull = true), Col("CreatedBy", "[uniqueidentifier]", notNull = true),
    Col("UpdateDate", "[datetime]", notNull = false), Col("UpdatedBy", "[uniqueidentifier]", notNull = false))

  private def aspNet: (Seq[Table], Seq[Edge]) = {
    def nv(n: String, len: String, nn: Boolean = false) = Col(n, s"[nvarchar]($len)", nn)
    val t = Seq(
      Table("AspNetRoles", Seq(nv("Id", "450", nn = true), nv("Name", "256"),
        nv("NormalizedName", "256"), nv("ConcurrencyStamp", "max")), Seq("Id")),
      Table("AspNetUsers", Seq(nv("Id", "450", nn = true), nv("UserName", "256"),
        nv("NormalizedUserName", "256"), nv("Email", "256"), nv("NormalizedEmail", "256"),
        Col("EmailConfirmed", "[bit]", notNull = true), nv("PasswordHash", "max"),
        nv("SecurityStamp", "max"), nv("ConcurrencyStamp", "max"), nv("PhoneNumber", "max"),
        Col("PhoneNumberConfirmed", "[bit]", notNull = true),
        Col("TwoFactorEnabled", "[bit]", notNull = true),
        Col("LockoutEnd", "[datetimeoffset](7)", notNull = false),
        Col("LockoutEnabled", "[bit]", notNull = true),
        Col("AccessFailedCount", "[int]", notNull = true)), Seq("Id")),
      Table("AspNetRoleClaims", Seq(Col("Id", "[int]", notNull = true, identity = true),
        nv("RoleId", "450", nn = true), nv("ClaimType", "max"), nv("ClaimValue", "max")), Seq("Id")),
      Table("AspNetUserClaims", Seq(Col("Id", "[int]", notNull = true, identity = true),
        nv("UserId", "450", nn = true), nv("ClaimType", "max"), nv("ClaimValue", "max")), Seq("Id")),
      Table("AspNetUserLogins", Seq(nv("LoginProvider", "128", nn = true),
        nv("ProviderKey", "128", nn = true), nv("ProviderDisplayName", "max"),
        nv("UserId", "450", nn = true)), Seq("LoginProvider", "ProviderKey")),
      Table("AspNetUserRoles", Seq(nv("UserId", "450", nn = true), nv("RoleId", "450", nn = true)),
        Seq("UserId", "RoleId")),
      Table("AspNetUserTokens", Seq(nv("UserId", "450", nn = true),
        nv("LoginProvider", "128", nn = true), nv("Name", "128", nn = true), nv("Value", "max")),
        Seq("UserId", "LoginProvider", "Name")),
      Table("__EFMigrationsHistory", Seq(nv("MigrationId", "150", nn = true),
        nv("ProductVersion", "32", nn = true)), Seq("MigrationId")))
    val e = Seq(
      Edge("AspNetRoleClaims", "RoleId", "AspNetRoles", "Id", cascade = true),
      Edge("AspNetUserClaims", "UserId", "AspNetUsers", "Id", cascade = true),
      Edge("AspNetUserLogins", "UserId", "AspNetUsers", "Id", cascade = true),
      Edge("AspNetUserRoles", "RoleId", "AspNetRoles", "Id", cascade = true),
      Edge("AspNetUserRoles", "UserId", "AspNetUsers", "Id", cascade = true),
      Edge("AspNetUserTokens", "UserId", "AspNetUsers", "Id", cascade = true))
    (t, e)
  }

  def model(seed: Long): Model = {
    require(Domain.size == LevelSizes.sum && Domain.distinct.size == Domain.size)
    val rng = new scala.util.Random(seed)
    val (aspTables, aspEdges) = aspNet

    // levels: a seeded permutation cut into LevelSizes; the wide table
    // always sits in the second-deepest level
    val perm = rng.shuffle(Domain).toBuffer
    val wideAt = LevelSizes.take(LevelSizes.size - 2).sum
    val wi = perm.indexOf(WideTable)
    perm(wi) = perm(wideAt); perm(wideAt) = WideTable
    val levels: Seq[Seq[String]] = LevelSizes.scanLeft(0)(_ + _).sliding(2)
      .map { case Seq(a, b) => perm.slice(a, b).toSeq }.toSeq
    val levelOf: Map[String, Int] =
      levels.zipWithIndex.flatMap { case (ts, l) => ts.map(_ -> l) }.toMap

    // key kinds: 2 identity tables (the self-referencing ones) in the top
    // three levels, 6 short-code tables among the roots, GUIDs elsewhere
    val identity = rng.shuffle(levels.take(3).flatten.filterNot(_ == WideTable)).take(2).toSet
    val codes = rng.shuffle(levels.head.filterNot(identity)).take(6).toSet
    def pkCol(t: String): Col =
      if (identity(t)) Col("Id", "[int]", notNull = true, identity = true)
      else if (codes(t)) Col("Kod", "[nvarchar](3)", notNull = true)
      else Col("Id", "[uniqueidentifier]", notNull = true)

    // edges: one to the level just above fixes each table's wave; the
    // rest go to any earlier level
    val crossTotal = ForeignKeys - aspEdges.size - SelfFks
    val pairs = mutable.ArrayBuffer.empty[(String, String)]
    levels.zipWithIndex.drop(1).foreach { case (ts, l) =>
      ts.foreach(t => pairs += (t -> levels(l - 1)(rng.nextInt(levels(l - 1).size))))
    }
    val children = levels.drop(1).flatten
    while (pairs.size < crossTotal) {
      val c = children(rng.nextInt(children.size))
      val ps = levels.take(levelOf(c)).flatten
      pairs += (c -> ps(rng.nextInt(ps.size)))
    }
    val cascadeIdx = rng.shuffle(pairs.indices.toList).take(Cascades - aspEdges.size).toSet
    val fkCols = mutable.Map.empty[String, mutable.ArrayBuffer[Col]]
    val edges = mutable.ArrayBuffer.empty[Edge]
    pairs.zipWithIndex.foreach { case ((c, p), i) =>
      val pk = pkCol(p)
      val used = fkCols.getOrElseUpdate(c, mutable.ArrayBuffer.empty)
      val base = p + pk.name
      val name = if (used.exists(_.name == base)) s"$base${used.count(_.name.startsWith(base)) + 1}" else base
      used += Col(name, pk.typ, notNull = rng.nextDouble() < 0.7)
      edges += Edge(c, name, p, pk.name, cascadeIdx(i))
    }
    identity.toSeq.sorted.foreach { t =>
      fkCols.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += Col(s"Ust${t}Id", "[int]", notNull = false)
      edges += Edge(t, s"Ust${t}Id", t, "Id", cascade = false)
    }

    // fixed columns per table, then seeded free columns up to the total
    val rowversion = rng.shuffle(Domain.filterNot(_ == WideTable)).take(7).toSet + WideTable
    val audited = rng.shuffle(Domain).take(30).toSet
    def fixed(t: String): Seq[Col] =
      Seq(pkCol(t)) ++ fkCols.getOrElse(t, Nil) ++
        Seq(Col("TenantId", "[uniqueidentifier]", notNull = true)) ++
        (if (rowversion(t)) Seq(Col("RowVersion", "[timestamp]", notNull = true)) else Nil) ++
        (if (audited(t)) Audit else Nil)
    val domainCols = Columns - aspTables.map(_.cols.size).sum
    val width = mutable.Map(Domain.map(t => t -> (fixed(t).size + 2)): _*)
    width(WideTable) = WideColumns
    val others = Domain.filterNot(_ == WideTable)
    var left = domainCols - width.values.sum
    require(left >= 0, s"fixed columns exceed the census: $left")
    while (left > 0) {
      val t = others(rng.nextInt(others.size))
      if (width(t) < 60) { width(t) += 1; left -= 1 }
    }
    // which free columns become nvarchar(max) / varbinary(max)
    val aspMax = aspTables.flatMap(_.cols).count(_.typ == "[nvarchar](max)")
    // the wide table's first free columns carry every stem once, so each
    // KEYWORD_MAP key is hit on every seed
    val freeSlots = Domain.flatMap(t => (0 until width(t) - fixed(t).size).map(t -> _))
      .filterNot { case (t, i) => t == WideTable && i < Stems.size }
    val special = rng.shuffle(freeSlots).take(MaxColumns - aspMax + 3)
    val maxSlots = special.take(MaxColumns - aspMax).toSet
    val binSlots = special.drop(MaxColumns - aspMax).toSet

    val domainTables = Domain.map { t =>
      val names = mutable.Set(fixed(t).map(_.name): _*)
      def unique(stem: String): String =
        if (names.add(stem)) stem
        else Iterator.from(2).map(i => s"$stem$i").find(names.add).get
      val free = (0 until width(t) - fixed(t).size).map { i =>
        if (maxSlots((t, i))) Col(unique("Detay"), "[nvarchar](max)", notNull = false)
        else if (binSlots((t, i))) Col(unique("Dosya"), "[varbinary](max)", notNull = false)
        else {
          val (stem, typ) = Stems(if (i < Stems.size && t == WideTable) i else rng.nextInt(Stems.size))
          Col(unique(stem), typ, notNull = rng.nextDouble() < 0.4)
        }
      }
      Table(t, fixed(t) ++ free, Seq(pkCol(t).name))
    }
    val defaults = domainTables.flatMap(t => t.cols.find(_.typ == "[bit]").map(c => t.name -> c.name))
      .take(5)
    Model((aspTables ++ domainTables).sortBy(_.name), (aspEdges ++ edges).toSeq, defaults)
  }

  /** The script text, as SSMS's "Generate Scripts" writes it. */
  def script(seed: Long): String = {
    val m = model(seed)
    val b = new StringBuilder
    def go(): Unit = b ++= "GO\n"
    b ++= "USE [master]\nGO\n"
    b ++= "CREATE DATABASE [ErpDb]\n CONTAINMENT = NONE\n ON  PRIMARY \n" +
      "( NAME = N'ErpDb', FILENAME = N'C:\\Data\\ErpDb.mdf' , SIZE = 8192KB )\n"
    go()
    b ++= "USE [ErpDb]\nGO\n"
    m.tables.foreach { t =>
      b ++= s"/****** Object:  Table [dbo].[${t.name}] ******/\n"
      b ++= "SET ANSI_NULLS ON\nGO\nSET QUOTED_IDENTIFIER ON\nGO\n"
      b ++= s"CREATE TABLE [dbo].[${t.name}](\n"
      t.cols.foreach { c =>
        val ident = if (c.identity) " IDENTITY(1,1)" else ""
        b ++= s"\t[${c.name}] ${c.typ}$ident ${if (c.notNull) "NOT NULL" else "NULL"},\n"
      }
      b ++= s" CONSTRAINT [PK_${t.name}] PRIMARY KEY CLUSTERED \n(\n"
      b ++= t.pk.map(p => s"\t[$p] ASC").mkString(",\n") + "\n"
      b ++= ")WITH (PAD_INDEX = OFF, STATISTICS_NORECOMPUTE = OFF, IGNORE_DUP_KEY = OFF, " +
        "ALLOW_ROW_LOCKS = ON, ALLOW_PAGE_LOCKS = ON) ON [PRIMARY]\n"
      val lob = t.cols.exists(c => c.typ.contains("(max)") || c.typ == "[ntext]")
      b ++= (if (lob) ") ON [PRIMARY] TEXTIMAGE_ON [PRIMARY]\n" else ") ON [PRIMARY]\n")
      go()
    }
    m.defaults.foreach { case (t, c) =>
      b ++= s"ALTER TABLE [dbo].[$t] ADD  DEFAULT ((1)) FOR [$c]\n"; go()
    }
    m.edges.foreach { e =>
      val name = s"FK_${e.table}_${e.ref}_${e.column}"
      b ++= s"ALTER TABLE [dbo].[${e.table}]  WITH CHECK ADD  CONSTRAINT [$name] FOREIGN KEY([${e.column}])\n"
      b ++= s"REFERENCES [dbo].[${e.ref}] ([${e.refCol}])\n"
      if (e.cascade) b ++= "ON DELETE CASCADE\n"
      go()
      b ++= s"ALTER TABLE [dbo].[${e.table}] CHECK CONSTRAINT [$name]\n"; go()
    }
    b ++= "USE [master]\nGO\nALTER DATABASE [ErpDb] SET  READ_WRITE \nGO\n"
    b.toString
  }

  /** Writes the script as SSMS does: UTF-16LE with a byte-order mark. */
  def write(seed: Long, path: java.nio.file.Path): Unit = {
    val body = script(seed).getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
    java.nio.file.Files.write(path, Array[Byte](0xFF.toByte, 0xFE.toByte) ++ body)
  }
}
