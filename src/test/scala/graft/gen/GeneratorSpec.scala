package graft.gen

import graft.ddl.{Catalog, DdlParser}
import graft.deps.Deps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Generator semantics: determinism, constraint satisfaction, FK
  * consistency, reference dispatch behavior (SURVEY.md §5 test plan). */
class GeneratorSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  lazy val cat: Catalog = DdlParser.parseFile("/root/reference/script.sql")

  test("determinism: same seed ⇒ identical frames; different seed ⇒ different") {
    val a = Generator.tableDf(spark, cat("Ulke"), 15, 42).collect().map(_.toSeq)
    val b = Generator.tableDf(spark, cat("Ulke"), 15, 42).collect().map(_.toSeq)
    val c = Generator.tableDf(spark, cat("Ulke"), 15, 43).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq != c.toSeq)
  }

  test("identity columns get sequence values; schema matches catalog") {
    val banka = Generator.tableDf(spark, cat("Banka"), 15, 42)
    assert(banka.schema.fieldNames.toSeq == cat("Banka").schema.fieldNames.toSeq)
    val ids = banka.collect().map(_.getAs[Int]("Id")).sorted.toSeq
    assert(ids == (1 to 15))
  }

  test("FK values are the generated parent's keys (Ulke → Banka)") {
    val ulkeOnly: Generator.Parents = (child, parent) =>
      Option.when(child == "Banka" && parent == "Ulke")(cat("Ulke"))
    val keys = Generator.tableDf(spark, cat("Ulke"), 30, 42)
      .select("NumKod").collect().map(_.getString(0)).toSet
    val fkVals = Generator.tableDf(spark, cat("Banka"), 30, 42, ulkeOnly)
      .select("UlkeNumKod").collect().map(_.getString(0))
    assert(fkVals.forall(keys.contains), "every FK value must be a parent key")
    // NB: generated Ulke.NumKod values are degenerate ("AUT" — the KOD
    // keyword's AUTO-#### truncated to nvarchar(3), faithful to the
    // reference incl. its PK collisions); GenerationDigestSpec asserts
    // the spread over distinct parent keys
  }

  test("string truncation honors declared lengths (incl. nvarchar(max)→100)") {
    val df = Generator.tableDf(spark, cat("CariHareket"), 20, 42)
    val fields = cat("CariHareket").schema.fields.filter(_.dataType == StringType)
    val rows = df.collect()
    fields.foreach { f =>
      val declared = f.metadata.getLong(DdlParser.MetaMaxLength).toInt
      val cap = if (declared == -1) 100 else if (declared == 0) Int.MaxValue else declared
      rows.foreach { r =>
        val v = r.getAs[String](f.name)
        if (v != null) assert(v.length <= cap, s"${f.name}: '$v'.length > $cap")
      }
    }
  }

  test("decimal values respect precision/scale; keyword coercion is safe") {
    val df = Generator.tableDf(spark, cat("CariHareket"), 20, 42)
    val decFields = cat("CariHareket").schema.fields.collect {
      case f if f.dataType.isInstanceOf[DecimalType] => f
    }
    assert(decFields.nonEmpty)
    val rows = df.collect()
    decFields.foreach { f =>
      val dt = f.dataType.asInstanceOf[DecimalType]
      val limit = BigDecimal(10).pow(dt.precision - dt.scale)
      rows.foreach { r =>
        val v = r.getAs[java.math.BigDecimal](f.name)
        if (v != null) assert(BigDecimal(v).abs < limit, s"${f.name}: $v out of range")
      }
    }
  }

  test("unsafe types (rowversion/varbinary) and SKIP_COLS are NULL") {
    val df = Generator.tableDf(spark, cat("CariHareket"), 5, 42)
    val rows = df.collect()
    rows.foreach { r => assert(r.getAs[Array[Byte]]("RowVersion") == null) }
  }

  test("generated GUIDs are UUID-format and distinct per row") {
    val df = Generator.tableDf(spark, cat("Ulke"), 50, 42)
    val uuids = df.collect().map(_.getAs[String]("TenantId"))
    val re = "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}$".r
    uuids.foreach(u => assert(re.matches(u), s"bad uuid $u"))
    assert(uuids.distinct.length == uuids.length)
  }

  test("topo order + waves: parents precede children, cycles tolerated") {
    val targets = cat.order.filterNot(GeneratePipeline.skipTable)
    val order = Deps.topoOrder(targets, cat.allFks)
    assert(order.toSet == targets.toSet)
    val pos = order.zipWithIndex.toMap
    val violations = cat.allFks.filter(f => f.table != f.refTable &&
      pos.contains(f.table) && pos.contains(f.refTable) &&
      pos(f.refTable) > pos(f.table))
    // cycles are allowed to violate (fallback keeps original order)
    assert(violations.size < cat.allFks.size / 4)
    val waves = Deps.waves(targets, cat.allFks)
    assert(waves.map(_.size).sum == targets.size)
    assert(waves.head.nonEmpty)
  }

  test("recursive-CTE depth (g12) agrees with Deps.waves' level assignment") {
    // the FULL catalog (g12 recurses over every table, not just
    // generation targets), waves computed with the same self-edge drop
    val waves = Deps.waves(cat.order, cat.allFks)
    val waveOf = waves.zipWithIndex.flatMap { case (ts, i) => ts.map(_ -> i) }.toMap
    val rec = graft.queries.Generated.defs("g12_fk_depth_recursive")
      .fn(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rec.keySet == cat.order.toSet, "every table must get a depth")
    val mismatches = rec.filter { case (t, d) => waveOf(t) != d }
    assert(mismatches.isEmpty,
      s"recursive depth must equal the wave index: ${mismatches.take(5)}")
  }

  test("pipeline slice: Ulke→Banka chain end-to-end with FK integrity") {
    val sub = Set("Ulke", "Banka", "Il", "VergiDairesi")
    val subCat = Catalog(
      cat.tables.view.filterKeys(sub).toMap.map { case (k, v) =>
        k -> v.copy(fks = v.fks.filter(f => sub(f.refTable)))
      },
      cat.order.filter(sub))
    val out = tempDir("genslice").toString
    val results = GeneratePipeline.runToParquet(spark, subCat, out, rowCount = 15, seed = 42)
    assert(results.forall(_.ok), results.filterNot(_.ok).mkString(";"))
    val ulke = spark.read.parquet(s"$out/Ulke.parquet")
    val banka = spark.read.parquet(s"$out/Banka.parquet")
    assert(ulke.count() == 15 && banka.count() == 15)
    val joined = banka.join(ulke,
      banka("UlkeNumKod") === ulke("NumKod"), "left_anti").count()
    assert(joined == 0, "every Banka row must join to an Ulke parent")
  }
}
