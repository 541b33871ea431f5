package graft.operators

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.Memos

/** Copy-on-write partition-scoped upsert — the lakehouse MERGE
  * primitive under Delta/Iceberg: an update touching one partition
  * rewrites ONLY that partition's files (dynamic partition overwrite);
  * every other partition's files stay byte-identical on disk. At 100 TB
  * that is the difference between rewriting gigabytes and rewriting the
  * table: write amplification is bounded by the touched partitions, and
  * readers of untouched partitions never even see new files.
  *
  * The graded query (q49) deploys orders partitioned by priority,
  * applies a deterministic update to a hash-selected subset of ONE
  * partition ('1-URGENT'), rewrites that partition copy-on-write, and
  * reads the table back for a per-priority census. The DuckDB oracle
  * restates the merged semantics over raw parquet — the physical
  * rewrite must be result-invisible. CowUpsertSpec asserts the physical
  * half: untouched partition files identical (path + size + mtime),
  * touched partition actually rewritten.
  */
object CopyOnWrite {

  private val cache = Memos.memo[String, DataFrame]()
  /** (untouched-files-unchanged, touched-files-changed) of the last
    * build — the physical claim, exposed for CowUpsertSpec. */
  @volatile private[operators] var lastAudit: Option[(Boolean, Boolean)] = None

  private def listing(dir: Path): Map[String, (Long, Long)] = {
    val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def walk(p: Path): Unit =
      if (Files.isDirectory(p)) {
        val st = Files.list(p); try st.forEach(walk(_)) finally st.close()
      } else if (!p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith(".")) {
        out(dir.relativize(p).toString) =
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }
    walk(dir)
    out.toMap
  }

  def cowUpsert(s: SparkSession, d: String): DataFrame = {
    cache(s, d) {
      val root = Files.createTempDirectory("graft_cow")
      try {
        val dir = root.resolve("orders_cow")
        val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        base.write.partitionBy("o_orderpriority").parquet(dir.toString)

        val before = listing(dir)
        val touched = "o_orderpriority=1-URGENT"
        // the delta: a deterministic ~10% of URGENT orders get +1000.00
        // (k03's md5 gate — rerunnable in both engines)
        val sel = pmod(conv(substring(md5(concat(col("o_orderkey").cast("string"),
          lit(":cow"))), 1, 8), 16, 10).cast("long"), lit(10L)) === 0
        // copy-on-write: read ONLY the touched partition (partition
        // pruning serves the read), apply the update, dynamic-overwrite
        // rewrites just that partition's directory
        val urgent = s.read.parquet(dir.toString)
          .filter(col("o_orderpriority") === "1-URGENT")
        urgent
          .withColumn("o_totalprice",
            when(sel, asDbl(dec(col("o_totalprice")) + lit(1000).cast(Dec)))
              .otherwise(col("o_totalprice")))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("o_orderpriority").parquet(dir.toString)
        val after = listing(dir)

        val untouchedSame = before.view.filterKeys(!_.startsWith(touched)).toMap ==
          after.view.filterKeys(!_.startsWith(touched)).toMap
        val touchedChanged = before.view.filterKeys(_.startsWith(touched)).toMap !=
          after.view.filterKeys(_.startsWith(touched)).toMap
        lastAudit = Some((untouchedSame, touchedChanged))

        s.read.parquet(dir.toString)
          .groupBy(col("o_orderpriority").as("grp"))
          .agg(count(lit(1)).as("n_orders"),
            asDbl(sum(dec("o_totalprice"))).as("sum_price"),
            sum(when(sel.and(col("o_orderpriority") === "1-URGENT"), 1L)
              .otherwise(0L)).as("n_updated"))
          .orderBy("grp")
          .localCheckpoint() // materialize before the scratch dir dies
      } finally {
        def rm(p: Path): Unit = {
          if (Files.isDirectory(p)) {
            val st = Files.list(p); try st.forEach(rm(_)) finally st.close()
          }
          Files.deleteIfExists(p); ()
        }
        rm(root)
      }
    }
  }
}
