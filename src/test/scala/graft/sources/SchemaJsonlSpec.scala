package graft.sources

import graft.rules.Rule
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** S3/J4/K3: JSONL schema source → rule inference → JSON config sink
  * (the generate_config_v2 pipeline, SURVEY.md §3.3). */
class SchemaJsonlSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  lazy val fixture: String = {
    val p = tempDir("jsonl").resolve("schema.jsonl")
    java.nio.file.Files.writeString(p,
      """{"table_name":"Banka","columns":[{"column_name":"Ad","description_tr":"banka ad bilgisi","data_type":"nvarchar"},{"column_name":"UlkeNumKod","description_tr":"","data_type":"nvarchar"},{"column_name":"Tutar","description_tr":"fatura tutar alanı","data_type":"numeric"}],"foreign_keys":[{"column":"UlkeNumKod","references":"Ulke.NumKod"}]}
        |{"table_name":"Musteri","columns":[{"column_name":"Telefon","description_tr":"","data_type":"nvarchar"},{"column_name":"AktifMi","description_tr":"","data_type":"bit"}],"foreign_keys":[]}
        |this line is not json and must be tolerated
        |{"table_name":"Bos","columns":[],"foreign_keys":[]}""".stripMargin)
    p.toString
  }

  test("PERMISSIVE load tolerates corrupt lines (try/except parity)") {
    val df = SchemaJsonl.load(spark, fixture)
    assert(df.filter(df("table_name").isNotNull).count() == 3)
  }

  test("column relation joins FK parents (J4)") {
    val rel = SchemaJsonl.columnRelation(SchemaJsonl.load(spark, fixture))
    val fk = rel.filter(rel("column_name") === "UlkeNumKod").collect().head
    assert(fk.getAs[String]("fk_parent") == "Ulke")
    assert(rel.count() == 5)
  }

  test("inferred config: FK > description > name > type cascade") {
    val cfg = SchemaJsonl.inferConfig(spark, fixture)
    assert(cfg("Banka")("UlkeNumKod") == Rule.ForeignKey("Ulke"))
    // description 'ad ' → first_name (generate_config_v2.py:38)
    assert(cfg("Banka")("Ad") == Rule.FirstName)
    // description 'tutar' → bounded pyfloat
    assert(cfg("Banka")("Tutar") == Rule.PyFloat(2, positive = true, Some(10), Some(50000)))
    // name fallback TEL → phone, AKTIF → boolean
    assert(cfg("Musteri")("Telefon") == Rule.PhoneNumber)
    assert(cfg("Musteri")("AktifMi") == Rule.BooleanRule)
  }

  test("config sink round-trips through the Rule DSL (K3)") {
    val cfg = SchemaJsonl.inferConfig(spark, fixture)
    val out = tempDir("cfg").resolve("rules.json").toString
    SchemaJsonl.saveConfig(out, cfg)
    val back = graft.rules.RulesConfig.load(spark, out)
    assert(back == cfg)
  }
}
