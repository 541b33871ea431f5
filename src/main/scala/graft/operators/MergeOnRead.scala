package graft.operators

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Merge-on-read time travel — the OTHER lakehouse mutation posture,
  * beside q49's copy-on-write: commits never rewrite data files. A
  * delete lands as a TOMBSTONE file (Iceberg v2 position/equality
  * deletes, Delta deletion vectors), an insert as an APPEND file, and a
  * read at version v reconstructs the snapshot as
  * base ∖ tombstones(≤v) ∪ appends(≤v) — one keyed anti-join plus a
  * union, paid at READ time. CoW pays write amplification for clean
  * reads; MoR pays a read-side anti-join for O(|delta|) commits — at
  * 100 TB the choice is per-table (hot ingest → MoR, scan-heavy → CoW),
  * and this operator grades the MoR half of that pair.
  *
  * The graded query (q55) commits three versions of orders (full
  * snapshot; delete keys ≡ 0 mod 101; append negated keys ≡ 0 mod 103 —
  * q54's derivation, so the two operators cross-check) and emits each
  * version's census. The DuckDB oracle restates the three snapshots
  * over raw parquet — the log-structured layout must be
  * result-invisible. MergeOnReadSpec asserts the physical half: the
  * base data files stay BYTE-IDENTICAL across both commits (no rewrite
  * — the exact claim CoW cannot make), and the commit files are
  * |delta|-sized.
  */
object MergeOnRead {

  /** (base-files-unchanged-across-commits, tombstone+append rows) of the
    * last build — the physical claim, exposed for MergeOnReadSpec. */
  @volatile private[operators] var lastAudit: Option[(Boolean, Long, Long)] = None

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

  def morTimeTravel(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_mor")
    try {
      val base = orders(s, d)
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
      val baseDir = root.resolve("base")
      base.write.parquet(baseDir.toString)
      val before = listing(baseDir)

      // commit 2: tombstone file (delete keys ≡ 0 mod 101)
      val tombDir = root.resolve("tombstones_v2")
      base.filter(pmod(col("k"), lit(101)) === 0).select("k")
        .write.parquet(tombDir.toString)
      // commit 3: append file (negated keys ≡ 0 mod 103)
      val apndDir = root.resolve("appends_v3")
      base.filter(pmod(col("k"), lit(103)) === 0)
        .select((-col("k")).as("k"), col("p"))
        .write.parquet(apndDir.toString)
      val after = listing(baseDir)

      val baseDf = s.read.parquet(baseDir.toString)
      val tomb = s.read.parquet(tombDir.toString)
      val apnd = s.read.parquet(apndDir.toString)
      lastAudit = Some((before == after, tomb.count(), apnd.count()))

      def snapshot(v: Int): DataFrame = {
        val afterDeletes =
          if (v >= 2) baseDf.join(tomb, Seq("k"), "left_anti") else baseDf
        if (v >= 3) afterDeletes.unionByName(apnd) else afterDeletes
      }
      (1 to 3).map { v =>
        snapshot(v).agg(count(lit(1)).as("n_rows"),
            asDbl(sum(col("p"))).as("sum_price"),
            min(col("k")).as("min_key"), max(col("k")).as("max_key"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_price"),
            col("min_key"), col("max_key"))
      }.reduce(_ unionByName _)
        .orderBy("version")
        .localCheckpoint() // pin before the scratch dir is deleted
    } finally {
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) {
          val st = Files.list(p); try st.forEach(rm(_)) finally st.close()
        }
        Files.deleteIfExists(p)
      }
      rm(root)
    }
  }

  @volatile private[operators] var lastCompactAudit: Option[(Long, Long, Long)] = None

  /** q57 — COMPACTION, the maintenance pass that closes q55's loop: the
    * accumulated tombstone/append log is folded into a fresh base (one
    * anti-join ∪ union write — the read path's plan, paid once), after
    * which reads are plain scans again and the log files retire. The
    * graded frame is the latest-version census read BOTH ways — through
    * the log ('pre') and from the compacted base ('post') — and
    * compaction is RESULT-INVISIBLE, so the oracle states the same
    * snapshot twice. MergeOnReadSpec's sibling test pins the physical
    * half: the compacted base row count equals the logical snapshot and
    * the scratch log is gone from the read path.
    *
    * At 100 TB this is the background job that bounds read
    * amplification: MoR's per-read anti-join cost grows with the log,
    * and compaction resets it — scheduled off the same
    * tombstone/append byte accounting this operator emits. */
  def morCompaction(s: SparkSession, d: String): DataFrame = {
    val root = Files.createTempDirectory("graft_morc")
    try {
      val base = orders(s, d)
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("p"))
      val baseDir = root.resolve("base")
      base.write.parquet(baseDir.toString)
      val tombDir = root.resolve("tombstones")
      base.filter(pmod(col("k"), lit(101)) === 0).select("k")
        .write.parquet(tombDir.toString)
      val apndDir = root.resolve("appends")
      base.filter(pmod(col("k"), lit(103)) === 0)
        .select((-col("k")).as("k"), col("p"))
        .write.parquet(apndDir.toString)

      val baseDf = s.read.parquet(baseDir.toString)
      val tomb = s.read.parquet(tombDir.toString)
      val apnd = s.read.parquet(apndDir.toString)
      val logRead = baseDf.join(tomb, Seq("k"), "left_anti").unionByName(apnd)

      // the compaction pass: fold the log into a fresh base, once
      val newBaseDir = root.resolve("base_compacted")
      logRead.write.parquet(newBaseDir.toString)
      val compacted = s.read.parquet(newBaseDir.toString)
      lastCompactAudit = Some((compacted.count(), tomb.count(), apnd.count()))

      def census(df: DataFrame, phase: String) =
        df.agg(count(lit(1)).as("n_rows"), asDbl(sum(col("p"))).as("sum_price"),
            min(col("k")).as("min_key"), max(col("k")).as("max_key"))
          .select(lit(phase).as("phase"), col("n_rows"), col("sum_price"),
            col("min_key"), col("max_key"))
      census(logRead, "1_pre_compaction")
        .unionByName(census(compacted, "2_post_compaction"))
        .orderBy("phase")
        .localCheckpoint() // pin before the scratch dir is deleted
    } finally {
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) {
          val st = Files.list(p); try st.forEach(rm(_)) finally st.close()
        }
        Files.deleteIfExists(p)
      }
      rm(root)
    }
  }

  /** Read-amplification threshold for q59, in permille: a table whose
    * pending log (tombstones + appends) exceeds 5% of its base rows
    * gets compacted. The standard knob (Iceberg's
    * `min-deletes-to-compact` family, Delta's OPTIMIZE scheduling)
    * made explicit and graded. */
  val AmpThresholdPermille = 50L

  /** q59 — the compaction SCHEDULING signal that closes q57's loop from
    * the other side: q57 emits the tombstone/append accounting a
    * scheduler would trigger on; this IS the trigger. Five MoR tables'
    * pending-log accounting (each table's deterministic commit rules;
    * orders reuses q55/q57's ≡0 mod 101/103 rules verbatim, so the
    * three operators cross-check) is reduced to a read-amplification
    * ratio — (tomb_rows + apnd_rows)·1000 div base_rows — and the
    * compact/don't-compact decision falls out of the documented 50‰
    * threshold. Everything is exact integer arithmetic; the decision
    * bit can never float-drift.
    *
    * Scale: per-table accounting is ONE conditional mergeable aggregate
    * (map-side combined); at 100 TB a deployment reads these counts
    * from commit-log manifests — metadata scale, no data scan at all —
    * and the decision logic is exactly this frame. The five aggs union
    * to a 5-row frame; nothing shuffles more than partial-agg rows. */
  def compactionTrigger(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Column
    def acct(name: String, df: DataFrame, key: Column,
        tombMod: Option[Int], apndMod: Option[Int]): DataFrame = {
      def cnt(m: Option[Int]) = m match {
        case Some(k) => sum(when(pmod(key, lit(k)) === 0, 1L).otherwise(0L))
        case None    => lit(0L)
      }
      df.agg(count(lit(1)).as("base_rows"),
          cnt(tombMod).as("tomb_rows"), cnt(apndMod).as("apnd_rows"))
        .select(lit(name).as("tbl"), col("base_rows"), col("tomb_rows"),
          col("apnd_rows"))
    }
    Seq(
      acct("customer", customer(s, d), col("c_custkey"), Some(251), None),
      acct("lineitem", lineitem(s, d), col("l_orderkey"), Some(7), Some(11)),
      acct("orders", orders(s, d), col("o_orderkey"), Some(101), Some(103)),
      acct("part", part(s, d), col("p_partkey"), Some(3), None),
      acct("supplier", supplier(s, d), col("s_suppkey"), None, Some(2)))
      .reduce(_ unionByName _)
      .withColumn("amp_permille",
        expr("(tomb_rows + apnd_rows) * 1000 div base_rows"))
      .withColumn("compact",
        (col("amp_permille") >= AmpThresholdPermille).cast("int"))
      .orderBy("tbl")
  }

  val triggerOracle: String =
    s"""WITH a AS (
      |  SELECT 'customer' AS tbl, COUNT(*) AS base_rows,
      |    CAST(SUM(CASE WHEN c_custkey % 251 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tomb_rows,
      |    CAST(0 AS BIGINT) AS apnd_rows FROM customer
      |  UNION ALL
      |  SELECT 'lineitem', COUNT(*),
      |    CAST(SUM(CASE WHEN l_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN l_orderkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      |  UNION ALL
      |  SELECT 'orders', COUNT(*),
      |    CAST(SUM(CASE WHEN o_orderkey % 101 = 0 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN o_orderkey % 103 = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'part', COUNT(*),
      |    CAST(SUM(CASE WHEN p_partkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(0 AS BIGINT) FROM part
      |  UNION ALL
      |  SELECT 'supplier', COUNT(*), CAST(0 AS BIGINT),
      |    CAST(SUM(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM supplier)
      |SELECT tbl, base_rows, tomb_rows, apnd_rows,
      |  (tomb_rows + apnd_rows) * 1000 // base_rows AS amp_permille,
      |  CAST(CASE WHEN (tomb_rows + apnd_rows) * 1000 // base_rows
      |    >= ${AmpThresholdPermille} THEN 1 ELSE 0 END AS INT) AS compact
      |FROM a ORDER BY tbl""".stripMargin

  /** Compaction is result-invisible: the oracle states the SAME latest
    * snapshot for both phases. */
  val compactionOracle: String =
    """WITH cur AS (SELECT o_orderkey AS k,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
      |s3 AS (SELECT k, p FROM cur WHERE k % 101 != 0
      |       UNION ALL SELECT -k, p FROM cur WHERE k % 103 = 0),
      |c AS (SELECT COUNT(*) AS n_rows, CAST(SUM(p) AS DOUBLE) AS sum_price,
      |    MIN(k) AS min_key, MAX(k) AS max_key FROM s3)
      |SELECT '1_pre_compaction' AS phase, n_rows, sum_price, min_key, max_key FROM c
      |UNION ALL
      |SELECT '2_post_compaction', n_rows, sum_price, min_key, max_key FROM c
      |ORDER BY phase""".stripMargin

  val oracle: String =
    """WITH cur AS (SELECT o_orderkey AS k,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
      |s1 AS (SELECT k, p FROM cur),
      |s2 AS (SELECT k, p FROM cur WHERE k % 101 != 0),
      |s3 AS (SELECT k, p FROM cur WHERE k % 101 != 0
      |       UNION ALL SELECT -k, p FROM cur WHERE k % 103 = 0)
      |SELECT 1 AS version, COUNT(*) AS n_rows, CAST(SUM(p) AS DOUBLE) AS sum_price,
      |  MIN(k) AS min_key, MAX(k) AS max_key FROM s1
      |UNION ALL SELECT 2, COUNT(*), CAST(SUM(p) AS DOUBLE), MIN(k), MAX(k) FROM s2
      |UNION ALL SELECT 3, COUNT(*), CAST(SUM(p) AS DOUBLE), MIN(k), MAX(k) FROM s3
      |ORDER BY version""".stripMargin
}
