package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic lock on t24's redaction: after scrubbing, NO email / phone /
  * IPv4 pattern may survive anywhere in the text (the property a privacy
  * review actually cares about — counts alone can't show it), and the
  * counts must reflect every planted instance, including PII embedded
  * mid-text rather than in the appended contact line.
  */
class PiiScrubSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  test("no pattern survives scrubbing; mid-text PII is counted and removed") {
    import spark.implicits._
    val dir = tempDir("graft_pii")
      .toFile.getAbsolutePath
    Seq(
      // PII already inside the document body, not just the planted line
      (1L, "write to alice.b+spam@mail-host.org or call +1-212-5550 now", "en", "fixture"),
      (2L, "server at 192.168.0.1 and 10.10.10.10 replied", "en", "fixture"),
      (3L, "no pii in this document at all", "en", "fixture")
    ).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // rebuild the scrubbed text the same way the query does, then assert
    // zero residual matches for every pattern class
    val out = TextOps.piiScrub(spark, dir).collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // doc 1: body email + body phone, plus the planted email/phone/ip
    assert(byId(1L).getInt(1) == 2, "emails: body + planted")
    assert(byId(1L).getInt(2) == 2, "phones: body + planted")
    assert(byId(1L).getInt(3) == 1, "ip: planted only")
    // doc 2: two body IPs + planted ip
    assert(byId(2L).getInt(3) == 3, "ips: 2 body + planted")
    // doc 3: exactly the planted instances
    assert(byId(3L).getInt(1) == 1 && byId(3L).getInt(2) == 1 && byId(3L).getInt(3) == 1)

    val residual = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("planted", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com tel +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit("."), pmod(col("doc_id") * 7, lit(256L)).cast("string")))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(regexp_replace(col("planted"),
          TextOps.EmailRe, "<EMAIL>"), TextOps.PhoneRe, "<PHONE>"), TextOps.IpRe, "<IP>"))
      .select(
        sum(regexp_count(col("scrubbed"), lit(TextOps.EmailRe))).as("e"),
        sum(regexp_count(col("scrubbed"), lit(TextOps.PhoneRe))).as("p"),
        sum(regexp_count(col("scrubbed"), lit(TextOps.IpRe))).as("i"))
      .collect()(0)
    assert(residual.getLong(0) == 0L && residual.getLong(1) == 0L
      && residual.getLong(2) == 0L, s"residual PII after scrub: $residual")
  }
}
