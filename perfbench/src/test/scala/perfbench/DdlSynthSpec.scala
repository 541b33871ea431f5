package perfbench

import graft.ddl.DdlParser
import graft.deps.Deps
import graft.gen.GeneratePipeline
import graft.rules.RuleInference
import org.scalatest.funsuite.AnyFunSuite

/** The synthesised script parses to the reference corpus's census on
  * every seed, and its loadable tables form exactly `DdlSynth.Waves`
  * generation waves. */
class DdlSynthSpec extends AnyFunSuite {
  for (seed <- Seq(1L, 2L, 7L, 42L)) test(s"seed $seed: DdlParser.parse returns the reference census") {
    val cat = DdlParser.parse(DdlSynth.script(seed))
    val fields = cat.order.flatMap(t => cat(t).schema.fields)
    def sqlType(f: org.apache.spark.sql.types.StructField) = f.metadata.getString(DdlParser.MetaSqlType)
    def safe(f: org.apache.spark.sql.types.StructField) = f.metadata.getBoolean(DdlParser.MetaSafe)

    assert(cat.order.size == 85)
    assert(fields.size == 1431)
    assert(cat.allFks.size == 131)
    assert(cat.allFks.count(f => f.table == f.refTable) == DdlSynth.SelfFks)
    assert(cat.allFks.count(_.onDeleteCascade) == 19)
    assert(fields.count(_.metadata.getBoolean(DdlParser.MetaIdentity)) == 4)
    assert(fields.count(f => sqlType(f) == "nvarchar" && f.metadata.getLong(DdlParser.MetaMaxLength) == -1) == 64)
    // rowversion and varbinary exist and are excluded from generation
    assert(fields.exists(f => sqlType(f) == "timestamp") && fields.filter(f => sqlType(f) == "timestamp").forall(!safe(_)))
    assert(fields.exists(f => sqlType(f) == "varbinary") && fields.filter(f => sqlType(f) == "varbinary").forall(!safe(_)))
    val widths = cat.order.map(t => cat(t).schema.size)
    assert(widths.max == 76 && widths.count(_ >= 76) == 1)
    RuleInference.KeywordMap.map(_._1).foreach { k =>
      assert(fields.exists(_.name.toUpperCase.contains(k)), s"no column name hits KEYWORD_MAP key $k")
    }
    // every FK references its parent's single-column PK
    cat.allFks.foreach(f => assert(cat(f.refTable).pk == Seq(f.refColumn), f.toString))

    val targets = cat.order.filterNot(GeneratePipeline.skipTable)
    assert(targets.size == 77)
    assert(Deps.waves(targets, cat.allFks).size == DdlSynth.Waves)
  }

  test("the script is a function of the seed") {
    assert(DdlSynth.script(3) == DdlSynth.script(3))
    assert(DdlSynth.script(3) != DdlSynth.script(4))
  }

  test("the UTF-16 file decodes back to the same catalog") {
    val p = java.nio.file.Files.createTempFile("perfbench-ddl", ".sql")
    try {
      DdlSynth.write(5, p)
      val viaFile = DdlParser.parseFile(p.toString)
      val direct = DdlParser.parse(DdlSynth.script(5))
      assert(viaFile.order == direct.order)
      assert(viaFile.allFks == direct.allFks)
    } finally java.nio.file.Files.delete(p)
  }
}
