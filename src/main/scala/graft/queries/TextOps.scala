package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.Memos

/** Text-analysis + deduplication operators over the `documents` fixture —
  * the LLM-training-data-pipeline surface (task brief; BASELINE.json
  * north_star): exact dedup, MinHash+LSH near-dedup, SimHash, n-gram
  * Jaccard, language-ID, quality scoring, token counting, fingerprinting.
  *
  * Portability contract with the DuckDB oracle: all hashing is derived
  * from md5 (identical in every engine) via the first 8 hex chars → int,
  * never from engine-native hash functions. All scores are integer
  * arithmetic with at most one final float division, so values are
  * bit-identical across engines.
  *
  * Scale design: every operator is a pure per-row map followed by a
  * keyed aggregation — shingle explosion is the only row amplifier
  * (×~len per doc) and it feeds a partial (map-side) MIN/SUM, so shuffle
  * volume is |docs| × (8 minhashes | 16 bits), not |shingles|. The LSH
  * band join shuffles only (band, h1, h2) keys — the classic
  * O(n·bands) candidate generation, no O(n²) anywhere.
  */
object TextOps {

  /** lowercase → strip non-alphanumerics → collapse runs of spaces. */
  private[queries] def norm(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  private[queries] val NormSqlDuck =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Portable 32-bit content hash: first 8 hex chars of md5 → BIGINT.
    * Used where collisions are harmless (shingle ids: a collision only
    * adds a verify candidate that exact Jaccard then rejects). */
  private def sid(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Portable 60-bit content hash: first 15 hex chars of md5 → BIGINT
    * (max 2⁶⁰−1, well inside signed 64). Used where a collision would be
    * a silent false positive with no downstream exact check — e.g. t19's
    * decontamination gram ids, where at 100 TB gram cardinality (~10¹¹)
    * a 32-bit id guarantees birthday collisions → clean training docs
    * falsely flagged as contaminated. */
  private[queries] def sid60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  // 16 universal-hash parameter pairs for MinHash, banded 4×4 for LSH.
  // Band width matters: on a shared-vocabulary corpus the minimum-hash
  // shingle is hot (common tokens), so narrow 2-row bands admitted 724k
  // candidate pairs at sf0.1; 4-row bands admit 36k with ≈98.6% recall
  // at Jaccard 0.9 (1-(1-s⁴)⁴).
  private[queries] val NumHashes = 16
  private[queries] val BandRows = 4
  private[queries] val MhA: Seq[Long] = (0 until NumHashes).map(j => 1299721L + 997L * j)
  private[queries] val MhB: Seq[Long] = (0 until NumHashes).map(j => 15485863L + 7919L * j)
  private val P31 = 2147483647L

  /** doc_id → distinct 5-char shingles of the normalized text.
    * Positions are exploded first and the substring computed after the
    * generator, so the hot path is a codegen'd substring per output row
    * instead of an interpreted transform() building a 500-element string
    * array per document. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(documents(s, d))

  /** The shingling plan over ANY doc frame — shared by the full-corpus
    * path and t67's corpus/delta slices so the three can never shingle
    * differently. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs
      // the fixture is one small parquet file = one input split; spread
      // the ~200× shingle explosion across the cluster first (shuffling
      // |docs| slim rows to parallelize |docs|·len downstream work)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), norm(col("text")).as("nrm"))
      .filter(length(col("nrm")) >= 5)
      .select(col("doc_id"), col("nrm"),
        explode(expr("sequence(1, length(nrm) - 4)")).as("pos"))
      .select(col("doc_id"), expr("substring(nrm, pos, 5)").as("sh"))
      .distinct()

  /** Salted deterministic bucket: md5 of `key || salt`, first 8 hex
    * chars as a long, mod `buckets` — the ONE expression behind every
    * hash-gated assignment (t17 mixture gate, t21 shard id, t32 split).
    * Single-sourced so no copy can drift from the DuckDB oracle twin
    * `('0x' || substr(md5(key || ':salt'), 1, 8))::BIGINT % n`. */
  private[queries] def saltedBucket(key: Column, salt: String, buckets: Long): Column =
    pmod(conv(substring(md5(concat(key.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long"), lit(buckets))

  /** The t11 oracle's CTE chain ending in `dupes(b_id)` (the ≥0.9-Jaccard
    * near-duplicate victims) — shared by t11 (anti-join) and t14 (the
    * end-to-end curation pipeline). */
  private lazy val DupesCtesDuck: String =
    s"""$ShinglesSqlDuck,
       |sig AS (SELECT doc_id, $mhSelect FROM ids GROUP BY doc_id),
       |bands AS (
       |  ${(0 until NumHashes / BandRows).map(b =>
             s"SELECT doc_id, $b AS band, " + (0 until BandRows).map(r =>
               s"mh${BandRows * b + r} AS h$r").mkString(", ") + " FROM sig")
           .mkString(" UNION ALL\n  ")}),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND ${(0 until BandRows).map(r =>
             s"x.h$r = y.h$r").mkString(" AND ")}
       |          AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ids GROUP BY doc_id),
       |inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS inter
       |          FROM cand c
       |          JOIN ids sa ON sa.doc_id = c.a_id
       |          JOIN ids sb ON sb.doc_id = c.b_id AND sb.sid = sa.sid
       |          GROUP BY c.a_id, c.b_id),
       |dupes AS (SELECT DISTINCT i.b_id
       |          FROM inter i
       |          JOIN sizes za ON za.doc_id = i.a_id
       |          JOIN sizes zb ON zb.doc_id = i.b_id
       |          WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.9)""".stripMargin

  /** The 8-token word-gram id chain ending in `g(doc_id, gid)` (60-bit
    * truncated-md5 gram ids) — the oracle twin of `wordGramIds(_, _, 8)`,
    * shared by t19, t26, and t33 so the gram keying can never drift
    * between the decontamination oracles. Starts its own WITH. */
  private[queries] lazy val Gram8CtesDuck: String =
    s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
       |tk AS (SELECT doc_id, string_split(nrm, ' ') AS ts FROM nr WHERE length(nrm) >= 1),
       |g0 AS (SELECT doc_id, ts, CAST(unnest(generate_series(1, len(ts) - 7)) AS INT) AS i
       |       FROM tk WHERE len(ts) >= 8),
       |g AS (SELECT DISTINCT doc_id,
       |        ('0x' || substr(md5(list_aggregate(ts[i:i+7], 'string_agg', ' ')), 1, 15))::BIGINT AS gid
       |      FROM g0)""".stripMargin

  /** The transitive-closure labeling chain ending in `lab(id,
    * cluster_id)` — the oracle twin of the Spark CC loop, shared by t16
    * (the clustering itself) and t32 (the split keyed on it). Requires
    * DupesCtesDuck's `inter`/`sizes` upstream and a WITH RECURSIVE
    * prefix; a single definition keeps the two oracles keying on the
    * SAME labeling by construction. */
  private lazy val ClusterLabCtesDuck: String =
    """p9 AS (SELECT i.a_id, i.b_id FROM inter i
      |  JOIN sizes za ON za.doc_id = i.a_id
      |  JOIN sizes zb ON zb.doc_id = i.b_id
      |  WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.9),
      |ed AS (SELECT a_id AS src, b_id AS dst FROM p9
      |       UNION SELECT b_id, a_id FROM p9),
      |cc AS (SELECT DISTINCT src AS id, src AS lbl FROM ed
      |       UNION
      |       SELECT ed.dst AS id, cc.lbl FROM cc JOIN ed ON ed.src = cc.id),
      |lab AS (SELECT id, MIN(lbl) AS cluster_id FROM cc GROUP BY id)""".stripMargin

  /** The t04 oracle's CTE chain ending in `sh(doc_id, simhash60)` —
    * shared by t04 (projection) and t13 (self-join on hamming). All bit
    * math stays in BIGINT (`>>`/`<<`/`&`), mirroring the Spark side:
    * a 60-bit tid exceeds the 53-bit double mantissa, so the earlier
    * `FLOOR(tid / 2 ** b)` restatement would corrupt low bits. */
  private[queries] lazy val SimhashCtesDuck: String =
    s"""WITH n AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
       |tok AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS tok
       |        FROM n WHERE length(nrm) >= 1),
       |tid AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS tid FROM tok),
       |bits AS (SELECT doc_id, tid, CAST(unnest(generate_series(0, 59)) AS INT) AS b FROM tid),
       |contrib AS (SELECT doc_id, b,
       |    SUM(CASE WHEN (tid >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM bits GROUP BY doc_id, b),
       |sh AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash60
       |  FROM contrib GROUP BY doc_id)""".stripMargin

  private val ShinglesSqlDuck =
    s"""WITH n AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
       |s AS (SELECT DISTINCT doc_id,
       |        substr(nrm, CAST(unnest(generate_series(1, length(nrm) - 4)) AS INT), 5) AS sh
       |      FROM n WHERE length(nrm) >= 5),
       |ids AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS sid FROM s)""".stripMargin

  /** Exact deduplication: group identical texts, keep the lowest id.
    * At 100 TB: group by md5 digest (fixed 16 bytes) instead of the full
    * text so shuffle rows are tiny — represented here by carrying the
    * digest through the aggregation. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "text_md5")
      .orderBy("keep_id")

  private def mhAggs = MhA.zip(MhB).zipWithIndex.map { case ((a, b), j) =>
    min(pmod(lit(a) * col("sid") + lit(b), lit(P31))).as(s"mh$j")
  }

  /** The signature table — the persisted artifact an LSH index
    * maintains next to itself, shared by t02 (the projection) and t44
    * (the calibration joins) so neither rebuilds it from raw text. */
  private def signatureFrame(s: SparkSession, d: String): DataFrame =
    // cross-RUN artifact (round-16 brief #3): the signature table is a
    // pure function of documents.parquet and IS the index a deployed
    // LSH system persists next to itself — a fresh JVM used to pay the
    // full shingle explosion (3.7 s at sf0.1) to rebuild it. Key =
    // fixture digest + fold-shape tag over the derivation defs
    // (TextArtifactSpec's tag-lock recomputes it — the IncCcFoldTag
    // rule), so a regenerated corpus or an edited derivation can never
    // serve a stale table.
    graft.sources.ArtifactStore.loadOrBuild(s, "minhash_sig",
      graft.sources.ArtifactStore.key(d, "documents.parquet") + "-" + SigFoldTag) {
      signatureFrameUncached(s, d)
    }

  /** The signature BUILD (16 min-hash aggregates over the persisted
    * postings table) — the load-bearing plan behind the minhash_sig
    * artifact; PlanDump dumps this, not the artifact scan. Round 19:
    * the shingle explosion itself moved into the doc_sids artifact
    * (the materialized doc→shingle table the SCALE tradeoff note
    * called for), so the corpus text is shingled exactly ONCE across
    * minhash_sig, lsh_pairs, and the t67 corpus indices — this build
    * is one groupBy over the postings scan. MIN is duplicate-
    * insensitive, so aggregating the DISTINCT postings is byte-
    * identical to the old shingle-stream aggregate. */
  private[graft] def signatureFrameUncached(s: SparkSession, d: String): DataFrame =
    docSids(s, d).groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)

  /** minhash_sig artifact fold-shape tag — sha256 (first 8 hex) over the
    * source of the defs/constants the signature table derives from
    * ([[norm]], [[shingles]], [[sid]], [[mhAggs]], NumHashes/BandRows/
    * MhA/MhB/P31); TextArtifactSpec's tag-lock recomputes it, so a
    * derivation edit without a bump is a test failure, never a stale
    * artifact. */
  private[graft] val SigFoldTag = "sig-6dbff23f"

  /** MinHash signatures: 16 permutations min-hashed over 5-gram shingles. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    signatureFrame(s, d).orderBy("doc_id")

  /** LSH candidate pairs + exact n-gram Jaccard verification.
    * 4 bands × 4 rows: pairs agreeing on any full band are candidates;
    * each candidate pair is then verified with the exact shingle-set
    * Jaccard. Only candidates are ever joined — no quadratic blowup; the
    * band join shuffles (band, h1..h4) keys only. */
  def lshNearDupPairs(s: SparkSession, d: String): DataFrame = {
    // cross-RUN artifact (round-16 brief #3): the verified pair frame
    // is a pure function of documents.parquet and the single most
    // reused derived index on the text board (t03/t11/t14/t16/t30/
    // t32/t34/t44/... all key on it) — a fresh JVM used to pay the
    // full LSH pipeline (6.6 s at sf0.1) to rebuild it. Same key
    // discipline as minhash_sig; the build plan itself is timed as
    // t03's cold (the bench gives each family an empty artifact dir)
    // and dumped by PlanDump.
    var built: DataFrame = null
    val scan = graft.sources.ArtifactStore.loadOrBuild(s, "lsh_pairs",
      graft.sources.ArtifactStore.key(d, "documents.parquet") + "-" + LshPairsFoldTag) {
      built = lshNearDupPairsUncached(s, d); built
    }
    // the build's internal persist served only the artifact write
    if (built != null) built.unpersist()
    scan.orderBy("a_id", "b_id")
  }

  /** Explode a 16-column signature frame into (doc_id, band, h0..h3)
    * band-key rows — the POSTING layout of an LSH index; shared by the
    * static pipeline (t03) and the incremental delta-dedup index (t67),
    * so the two can never band differently. */
  private def bandsOf(sig: DataFrame): DataFrame = {
    val nBands = NumHashes / BandRows
    sig.select(col("doc_id"), explode(array(
      (0 until nBands).map(b => struct(
        lit(b).as("band") +: (0 until BandRows).map(r =>
          col(s"mh${BandRows * b + r}").as(s"h$r")): _*)): _*
    )).as("bd")).select(col("doc_id") +: (col("bd.band") +:
      (0 until BandRows).map(r => col(s"bd.h$r"))): _*)
  }

  private val BandKeys = Seq("band") ++ (0 until BandRows).map(r => s"h$r")

  /** lsh_pairs artifact fold-shape tag — sha256 (first 8 hex) over the
    * source of [[lshNearDupPairsUncached]] plus the signature-derivation
    * defs/constants it composes (the SigFoldTag region); TextArtifactSpec
    * recomputes it, so a derivation edit without a bump is a test
    * failure, never a stale persisted pair set. */
  private[graft] val LshPairsFoldTag = "lsh-a2216959"

  /** Per-language per-mille sampling rates for the training-mixture
    * rebalancing step (English dominates the corpus; downsample it, keep
    * low-resource languages whole). Values are per-mille so the whole
    * operator is integer arithmetic. */
  private[queries] val MixPerMille: Seq[(String, Int)] =
    Seq("de" -> 1000, "en" -> 400, "es" -> 250, "fr" -> 750, "zh" -> 1000)

  /** Mixture-weighted deterministic sampling: each document keeps or
    * drops itself by comparing a salted md5 of its OWN id against its
    * language's rate — no global shuffle, no RNG state, and the same
    * rows survive in every engine, run, and partitioning (the q26
    * discipline, stratified). At 100 TB this is the map-only operator
    * that rebalances a corpus before training; changing the mixture is a
    * rate-table edit, not a re-shard. */
  def mixtureSample(s: SparkSession, d: String): DataFrame = {
    val h = saltedBucket(col("doc_id"), ":mix", 1000L)
    val rate = MixPerMille.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    documents(s, d)
      .filter(h < rate)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Leakage-safe train/val/test split: hash-gate on the document's
    * near-dup CLUSTER root (t16's labeling), not its own id, so every
    * member of a duplicate cluster lands in the SAME split — the
    * eval-contamination guard a per-doc random split silently violates
    * (a near-copy of a training doc in the test split is leakage).
    * Singletons fall back to their own id via coalesce. Same salted-md5
    * per-mille discipline as t17: deterministic, map-only after one
    * keyed join against the checkpointed cluster labeling.
    *
    * Deliberately NOT broadcast-hinted: the labels frame is
    * |clustered docs|, which is data-dependent — web-scale corpora can
    * have 30-50% of documents in dup clusters, and a forced broadcast
    * of that frame is an executor OOM. The keyed join is the scale-safe
    * declaration; AQE converts it to a broadcast join at runtime when
    * the labels side measures small (PlanSpec asserts the conversion on
    * the executed plan at fixture scale). */
  def leakageSafeSplit(s: SparkSession, d: String): DataFrame =
    splitOn(s, d, dupClusters(s, d))

  private def splitOn(s: SparkSession, d: String, clusters: DataFrame): DataFrame = {
    val roots = clusters.select(col("doc_id"), col("cluster_id"))
    val h = saltedBucket(col("split_key"), ":split", 1000L)
    documents(s, d).select("doc_id")
      .join(roots, Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(h < 900, "train").when(h < 950, "val").otherwise("test"))
      .select("doc_id", "split_key", "split")
      .orderBy("doc_id")
  }

  /** Split-integrity audit — the CI gate a training pipeline runs on
    * t32's output before a run: per split, doc and token mass (the
    * 90/5/5 sanity view), plus the one number that must be ZERO — the
    * count of near-dup clusters whose members landed in more than one
    * split. The zero is structural (t32 keys the hash on the cluster
    * root), but an audit that derives it from the DATA catches the
    * regression where someone re-keys the split on doc_id; it is the
    * difference between "the code looks right" and "this exact corpus
    * cannot leak". One cluster labeling feeds both the split and the
    * crossing check, which aggregates |near-dup docs| rows keyed on
    * cluster_id. */
  def splitIntegrity(s: SparkSession, d: String): DataFrame = {
    val clusters = dupClusters(s, d)
    val sp = splitOn(s, d, clusters)
    val toks = tokenStats(s, d).select("doc_id", "n_tokens")
    val crossing = sp
      .join(clusters.select("doc_id", "cluster_id"), "doc_id")
      .groupBy("cluster_id").agg(countDistinct(col("split")).as("n_splits"))
      .agg(coalesce(sum(when(col("n_splits") > 1, 1L).otherwise(0L)), lit(0L))
        .as("n_crossing"))
    sp.join(toks, "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"))
      .crossJoin(broadcast(crossing))
      .select("split", "n_docs", "n_tokens", "n_crossing")
      .orderBy("split")
  }

  /** Benchmark decontamination: corpus documents sharing any 8-token
    * word n-gram with the benchmark set (docs 0-49 stand in for an
    * external eval table) — the standard pre-training hygiene step that
    * removes eval leakage. Grams are joined as 60-bit truncated-md5 ids
    * (wide enough that birthday collisions stay negligible even at
    * 100 TB gram cardinality — a false gram-id collision here would
    * silently flag a clean training doc, with no downstream exact check
    * to reject it, so this id is deliberately wider than the 32-bit
    * shingle ids used where collisions are harmless), the benchmark side
    * is tiny by nature and broadcasts, and the output is per-document
    * evidence (distinct shared grams, distinct benchmark docs matched)
    * for the removal/review queue. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    // wordGramIds is the memoized per-(session, dir) gram index, so both
    // join sides (corpus scan + broadcast benchmark) read the SAME
    // materialized frame — the "persisted gram table reused across
    // decontamination runs" a real deployment keeps, shared with t26,
    // t33, and t25. One shared gram-keying definition so the 8-gram id
    // math can never drift between t19 and the other gram operators.
    val grams = wordGramIds(s, d, 8)
    val bench = grams.filter(col("doc_id") < 50)
      .select(col("gid"), col("doc_id").as("b_id"))
    val corp = grams.filter(col("doc_id") >= 50)
    corp.join(broadcast(bench), "gid")
      .groupBy("doc_id")
      .agg(countDistinct(col("gid")).as("n_hits"),
        countDistinct(col("b_id")).as("n_bench_docs"))
      .orderBy("doc_id")
  }

  /** Vocabulary building: global token counts → top-200 by frequency
    * with rank, cumulative count, and cumulative corpus share — the
    * coverage curve a tokenizer-training / vocab-pruning step reads.
    * The token count aggregation is map-side partial (|vocab| ≪ corpus
    * tokens). The ranking window deliberately does NOT run over the full
    * vocabulary (at 100 TB the distinct-token frame is 10⁷–10⁸ rows and
    * an unpartitioned window funnels it through one task): the corpus
    * total is a scalar aggregate broadcast back, the top-200 selection
    * plans as TakeOrderedAndProject (per-partition heaps, no global
    * sort), and only the 200 survivors flow through the rank/cumulative
    * window — a constant-size frame at any corpus scale.
    * cum_share is one division of two exact BIGINTs, rounded once. */
  def vocab(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d)
      .select(explode(split(norm(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) >= 1)
      .groupBy("tok").agg(count(lit(1)).as("n"))
    // scalar total (1-row frame) — broadcast-joined back, never a window
    val total = counts.agg(sum(col("n")).as("total"))
    // (n desc, tok asc) is a total order, so limit(200) selects exactly
    // the rows the old rk<=200 filter kept, hash-identically
    val top = counts.orderBy(col("n").desc, col("tok").asc).limit(200)
    val w = Window.orderBy(col("n").desc, col("tok").asc)
    top
      .withColumn("rk", row_number().over(w))
      .withColumn("cum_n", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rk"), col("tok"), col("n"), col("cum_n"),
        round(col("cum_n").cast("double") / col("total").cast("double"), 6)
          .as("cum_share"))
      .orderBy("rk")
  }

  /** Near-duplicate CLUSTERS: connected components over the ≥0.9-Jaccard
    * pair graph (t03's verified pairs), cluster id = min doc_id in the
    * component — the step a real curation pipeline needs after pair
    * discovery, because transitive duplicates (A≈B, B≈C) must collapse
    * to ONE canonical doc even when A,C were never a candidate pair.
    *
    * Implementation: iterative min-label propagation to fixpoint over
    * the (tiny relative to the corpus) edge list — each round is one
    * join + one aggregation keyed on doc_id, and the round count is the
    * graph diameter (near-dup clusters are shallow; ~3 rounds here). At
    * 100 TB the same loop runs on the pair output of the banded LSH —
    * |edges| ≪ |docs| — with checkpointing per round; the large-star/
    * small-star variant halves rounds on adversarially long chains. */
  def dupClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = lshNearDupPairs(s, d).filter(col("jaccard") >= 0.9)
      .select(col("a_id"), col("b_id"))
    // the labeling comes back checkpointed: consumers scan the
    // materialized partitions, never re-running the iteration
    val (labels, _) = ccPointerJumping(s, pairs)
    labels
      .join(labels.groupBy("lbl").agg(count(lit(1)).as("cluster_sz")), "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_sz"))
      .orderBy("doc_id")
  }

  /** t16's clustering computed through the OTHER round body — the
    * large-star/small-star edge rewrite (ccLargeSmallStar) instead of
    * label propagation with pointer jumping — over the same ≥0.9 pair
    * graph, checked against the same recursive-CTE oracle labeling.
    * This is what makes the alternative body a graded component rather
    * than a spec-only artifact: both production CC shapes run end-to-end
    * on the real near-dup graph every round, and the oracle (not an
    * internal cross-check) pins that they agree — a pipeline that
    * switches bodies on graph depth/skew needs both proven on live
    * data, not one proven and one trusted. */
  def dupClustersStar(s: SparkSession, d: String): DataFrame = {
    val pairs = lshNearDupPairs(s, d).filter(col("jaccard") >= 0.9)
      .select(col("a_id"), col("b_id"))
    val (labels, _) = ccLargeSmallStar(s, pairs)
    labels
      .join(labels.groupBy("lbl").agg(count(lit(1)).as("cluster_sz")), "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_sz"))
      .orderBy("doc_id")
  }

  /** t52: the near-dup clustering with the CC body AUTO-DISPATCHED by
    * [[ccChoose]] on the live pair graph's average degree, and the
    * choice recorded as an audit column — the "pipeline that switches
    * bodies on graph depth" t34's scaladoc anticipated, now graded. The
    * heuristic inputs are two metadata-scale aggregates over the t03
    * pair artifact; the labeling itself is the t16/t34 cluster build
    * for the chosen body (identical labels by the fixpoint-uniqueness
    * argument, pinned by their shared oracle), so dispatching costs two
    * tiny jobs, never a second CC loop. The
    * ORACLE recomputes the same CASE from the same counts — the
    * dispatch rule is hash-checked, not just the labels. */
  def dupClustersAuto(s: SparkSession, d: String): DataFrame = {
    val pairs = lshNearDupPairs(s, d).filter(col("jaccard") >= 0.9)
      .select(col("a_id"), col("b_id"))
    val algo = ccChooseFor(pairs)
    val base = if (algo == "pointer_jumping") dupClusters(s, d)
               else dupClustersStar(s, d)
    base.withColumn("cc_algo", lit(algo)).orderBy("doc_id")
  }

  /** Average-degree threshold for the CC body dispatch: below it the
    * pair graph is sparse enough to be chain-shaped (depth can approach
    * |component|, the case the star rewrites were kept for); at or
    * above it neighborhoods overlap, components are shallow, and
    * pointer jumping's label rounds converge in a handful of rounds.
    * Shared with the oracle restatement so the choice is hash-checked. */
  private[queries] val CcAvgDegThreshold = 3.0

  /** The dispatch rule itself — pure so both ccAuto and the t52 oracle
    * CASE express the identical function of (edges, nodes). */
  private[queries] def ccChoose(nEdges: Long, nNodes: Long): String =
    if (nNodes == 0 || 2.0 * nEdges / nNodes >= CcAvgDegThreshold)
      "pointer_jumping"
    else "large_small_star"

  /** The ONE measurement+dispatch both ccAuto and the graded t52 path
    * share — two metadata-scale aggregates over the pair list, then
    * [[ccChoose]]. A second copy of the degree measurement could
    * silently diverge from the oracle's restatement. */
  private[queries] def ccChooseFor(pairs: DataFrame): String = {
    val nE = pairs.count()
    val nN = pairs.select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .distinct().count()
    ccChoose(nE, nN)
  }

  /** Auto-dispatched connected components over an undirected pair list
    * (a_id, b_id): measures the graph's average degree via
    * [[ccChooseFor]], picks the round body, and returns (labels, algo)
    * — the labeling is IDENTICAL either way (both bodies converge to
    * the unique min-label fixpoint; t16 vs t34 pin that equivalence on
    * the live graph), so the dispatch is purely a cost choice and the
    * recorded algo is an audit column, not a semantic one. */
  private[queries] def ccAuto(s: SparkSession, pairs: DataFrame): (DataFrame, String) = {
    val algo = ccChooseFor(pairs)
    val (labels, _) =
      if (algo == "pointer_jumping") ccPointerJumping(s, pairs)
      else ccLargeSmallStar(s, pairs)
    (labels, algo)
  }

  /** Partition count for an iterative graph loop: sized to the edge
    * count, not the cluster-wide shuffle default, so each round's jobs
    * don't pay 32 near-empty tasks. */
  private def ccParts(s: SparkSession, nEdges: Long): Int =
    math.max(2, math.min(s.sparkContext.defaultParallelism,
      (nEdges / 50000L).toInt + 1))

  /** Min-label connected components by label propagation WITH pointer
    * jumping, over an undirected pair list (a_id, b_id). Returns the
    * (id, lbl) labeling and the round count.
    *
    * localCheckpoint (not persist) throughout the loop: each round's
    * frame is materialized once and its lineage TRUNCATED, so round k
    * never re-executes rounds 1..k-1 — with plain persist, the
    * unpersist of round k-1's frame invalidates round k's cache entry
    * (CacheManager re-caches dependents lazily, dropping their
    * materialized blocks) and the loop goes quadratic. Lineage
    * truncation is the canonical Spark pattern for iterative graph
    * algorithms; old checkpoint RDDs are reclaimed by the
    * ContextCleaner when their frames go out of scope.
    *
    * Each round takes the min over {own label, neighbors' labels, label
    * OF the label (pointer jumping)}. The third term is what makes
    * convergence O(log diameter) instead of O(diameter) — a 500-node
    * chain collapses in ~9 rounds, not 500 (which would both crawl and
    * overrun any sane round guard). Labels stay inside the component
    * (induction: a label is always some member's id), the update is
    * monotone non-increasing and bounded by the component minimum, and
    * at the fixpoint labels are edge-constant with lbl(c)=c — which
    * forces c = component min. Unique fixpoint ⇒ deterministic result
    * regardless of round count; the guard is a runaway stop, not a knob.
    */
  private[queries] def ccPointerJumping(s: SparkSession, pairs: DataFrame,
      maxRounds: Int = 40): (DataFrame, Int) = {
    val parts = ccParts(s, pairs.count())
    val edges = pairs.unionAll(
        pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .toDF("src", "dst").repartition(parts, col("src")).localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val viaNbr = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("lbl"))
      val viaLbl = labels.join(
          labels.select(col("id").as("l0"), col("lbl").as("lbl2")),
          col("lbl") === col("l0"))
        .select(col("id"), col("lbl2").as("lbl"))
      val next = labels.unionByName(viaNbr).unionByName(viaLbl)
        .groupBy("id").agg(min(col("lbl")).as("lbl")).localCheckpoint()
      changed = next.join(
          labels.select(col("id"), col("lbl").as("prev")), "id")
        .filter(col("lbl") =!= col("prev")).count()
      labels = next
      rounds += 1
    }
    (labels, rounds)
  }

  /** Alternative round body: alternating LARGE-STAR / SMALL-STAR edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) behind the same fixpoint guard. Instead of
    * iterating labels over a FIXED edge list, each round rewrites the
    * edge list itself toward a star forest:
    *   large-star: every neighbor v > u links to min(Γ(u) ∪ {u})
    *   small-star: every neighbor v ≤ u links to min(Γ(u) ∪ {u})
    * Both steps preserve connectivity and strictly shrink tree height;
    * at the fixpoint every node points at its component minimum. On
    * adversarial chain-shaped duplicate graphs this halves the rounds
    * of plain label propagation and matches pointer jumping with a
    * smaller per-round shuffle (edges only, no label-of-label join) —
    * kept as the robustness alternative for skewed/deep pair graphs.
    * Returns the same (id, lbl) labeling and the round count. */
  private[queries] def ccLargeSmallStar(s: SparkSession, pairs: DataFrame,
      maxRounds: Int = 40): (DataFrame, Int) = {
    val parts = ccParts(s, pairs.count())
    def sym(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    def minNbr(se: DataFrame): DataFrame =
      se.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    // normalized undirected edge set (u < v), deduped — the fixpoint
    // comparison domain
    var e = pairs
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .repartition(parts, col("u")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      // large-star on the symmetric view, then small-star on its result;
      // one round = one large + one small (the paper's alternation)
      val s1 = sym(e)
      val large = s1.filter(col("v") > col("u"))
        .join(minNbr(s1), "u")
        .select(col("v").as("a"), col("m").as("b"))
      val e1 = large
        .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val s2 = sym(e1)
      val mins2 = minNbr(s2)
      // small-star emits (v, m) for v ∈ Γ⁻(u) ∪ {u} — the (u, m) link is
      // part of the output (dropping it disconnects u from its new root
      // and the edge set collapses to empty on any pair)
      val small = s2.filter(col("v") <= col("u"))
        .join(mins2, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .unionAll(mins2.select(col("u").as("a"), col("m").as("b")))
      val next = small
        .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
        .repartition(parts, col("u")).localCheckpoint()
      changed = next.exceptAll(e).unionAll(e.exceptAll(next)).count()
      e = next
      rounds += 1
    }
    // Fail loudly on guard exhaustion: a non-converged edge set can hold
    // two parents for one node, and the labeling join below would then
    // fan out ambiguous (id, lbl) rows — silently wrong for consumers
    // that group by id (pointer jumping under the same exhaustion still
    // yields one label per id, so the two bodies would diverge quietly).
    if (changed > 0)
      sys.error(s"ccLargeSmallStar: no fixpoint after $maxRounds rounds")
    // star forest → labeling: children point at their root; roots label
    // themselves (nodes that appear only as a minimum)
    val ids = pairs.select(col("a_id").as("id"))
      .unionAll(pairs.select(col("b_id").as("id"))).distinct()
    val labels = ids.join(e.select(col("v").as("id"), col("u").as("lbl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
    (labels, rounds)
  }

  private[graft] def lshNearDupPairsUncached(s: SparkSession, d: String): DataFrame = {
    // the postings table is consumed 2-4× in this plan (signatures,
    // sizes, both verify sides) — it arrives as the persisted doc_sids
    // ARTIFACT (round 19: the materialized shingle table; one scan,
    // no re-shingling), pinned for the pass so the consumers share one
    // materialization. All downstream joins/aggregations key on the
    // 8-byte sid, never the shingle text (same hash in the oracle, so
    // set cardinalities agree by construction).
    val sh = docSids(s, d).persist()
    val sig = sh.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*)
    val bands = bandsOf(sig)
    val bandKeys = BandKeys
    val cand = bands.as("x").join(bands.as("y"),
        bandKeys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")).distinct()

    // zero-overlap candidates can never reach jaccard ≥ 0.5, so the
    // verification is a pure inner-join chain keyed on 8-byte sids
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val pairs = cand
      .join(sh.select(col("doc_id").as("a_id"), col("sid")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sid")), Seq("b_id", "sid"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sza")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("szb")), "b_id")
      .withColumn("jaccard", col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select("a_id", "b_id", "inter", "jaccard")
    // no orderBy here: the serving wrapper sorts the artifact SCAN, so
    // a builder sort was a second, redundant sort of the |pairs|-row
    // result (SCALE "Known tradeoffs", folded out in round 18)
    // materialize the (tiny, |pairs|-row) result, then release the
    // shingle cache — it exists only to serve this plan's 4 consumers
    pairs.persist().count()
    sh.unpersist()
    pairs
  }

  // ——— t67: incremental delta-dedup against a persisted corpus index ———

  /** Deterministic "today's ingest shard": doc_id ≡ DeltaRes (mod
    * DeltaMod). At 100 TB the delta would be its own partition/day
    * directory; the hash-gate stands in for that partition predicate on
    * the shared fixture (the q26 determinism discipline). */
  private[queries] val DeltaMod = 10L
  private[queries] val DeltaRes = 7L

  private def corpusDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(pmod(col("doc_id"), lit(DeltaMod)) =!= DeltaRes)
  private def deltaDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(pmod(col("doc_id"), lit(DeltaMod)) === DeltaRes)

  /** (doc_id, sid) distinct shingle-id postings of any doc slice. */
  private def sidsOf(docs: DataFrame): DataFrame =
    shinglesOf(docs).select(col("doc_id"), sid(col("sh")).as("sid")).distinct()

  /** The materialized doc→shingle-id postings table for the WHOLE
    * corpus — the table the SCALE "Known tradeoffs" note said a
    * deployment would read instead of re-shingling (round-18 verdict
    * #5). One cross-run artifact, clustered by doc_id at write time
    * (the bucketed-layout stand-in: verify joins and per-doc
    * aggregates read doc-contiguous row groups), feeding EVERY
    * shingle-derived index — minhash_sig (t02), the lsh_pairs build's
    * signatures AND exact-Jaccard verify (t03), and the t67 corpus
    * postings/band indices — so the corpus text is shingled exactly
    * once per corpus, ever. Only delta slices (t67/t68's fresh ingest)
    * still shingle raw text, which is the honest posture: the delta
    * arrives after the table was materialized. */
  private[graft] def docSidsUncached(s: SparkSession, d: String): DataFrame =
    sidsOf(documents(s, d)).repartition(col("doc_id"))

  private def docSids(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "doc_sids",
      graft.sources.ArtifactStore.key(d, "documents.parquet") + "-" + DocSidsFoldTag) {
      docSidsUncached(s, d)
    }

  /** doc_sids artifact fold-shape tag — sha256 (first 8 hex) over the
    * shingle/sid derivation plus [[docSidsUncached]];
    * TextArtifactSpec's tag-lock recomputes it. */
  private[graft] val DocSidsFoldTag = "dsd-fd0a7b6b"

  /** Fresh band keys of exactly the docs matching `pred` — shingle →
    * sign → band of an ingest slice; shared by t67/t68's delta and the
    * two-step roll's shards (t69), so every slice bands identically. */
  private[queries] def bandsOfSlice(s: SparkSession, d: String, pred: Column): DataFrame =
    bandsOf(sidsOf(documents(s, d).filter(pred))
      .groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*))

  /** The delta shard's fresh band keys — shared by t67 (candidates) and
    * t68 (the roll-forward union). */
  private def deltaBands(s: SparkSession, d: String): DataFrame =
    bandsOfSlice(s, d, pmod(col("doc_id"), lit(DeltaMod)) === DeltaRes)

  /** The persisted corpus VERIFICATION index: (doc_id, sid) distinct
    * shingle-id postings of every corpus (non-delta) document — a
    * pushed-down residue filter over the doc_sids postings artifact
    * (round 19), so the corpus text is shingled exactly once across
    * ALL indices. */
  private[graft] def corpusSidsUncached(s: SparkSession, d: String): DataFrame =
    docSids(s, d).filter(pmod(col("doc_id"), lit(DeltaMod)) =!= DeltaRes)

  private def corpusSids(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "corpus_sids",
      graft.sources.ArtifactStore.key(d, "documents.parquet") + "-" + DeltaFoldTag) {
      corpusSidsUncached(s, d)
    }

  /** The persisted corpus CANDIDATE index: band-key postings
    * (doc_id, band, h0..h3) — built FROM the sid-postings artifact, so
    * the corpus text is shingled exactly once across both indices. */
  private[graft] def corpusBandsUncached(s: SparkSession, d: String): DataFrame =
    bandsOf(corpusSids(s, d).groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*))

  private def corpusBands(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "corpus_bands",
      graft.sources.ArtifactStore.key(d, "documents.parquet") + "-" + DeltaFoldTag) {
      corpusBandsUncached(s, d)
    }

  /** t67 — INCREMENTAL DELTA-DEDUP (round-16 brief #5): dedup today's
    * ingest shard against yesterday's corpus WITHOUT rescanning the
    * corpus — the production posture at 100 TB, where the static t03
    * sweep is a once-ever backfill. The corpus side is served entirely
    * from two persisted ArtifactStore indices (band postings for
    * candidates, sid postings for verification); only the DELTA is
    * shingled, signed, and banded fresh, so the new shuffles are all
    * O(|delta|) — the delta's band keys join the corpus postings
    * KEYED on (band, h0..h3), and delta-delta pairs come from one
    * self-join of the same delta band frame. Verification restricts
    * both posting sets to candidate docs (left-semi) before the t03
    * inter/sizes join chain, so corpus postings are touched only where
    * a candidate exists. Result ≡ batch LSH over (corpus ∪ delta)
    * restricted to pairs touching the delta — the oracle states exactly
    * that (t03's chain + the delta predicate), keeping the incremental
    * path honest against the batch semantics. */
  private[graft] def deltaDedupUncached(s: SparkSession, d: String): DataFrame =
    deltaDedupBuild(s, d)._1

  /** Builds the t67 plan. The three multiply-consumed bounded subtrees
    * — the delta postings (|delta| docs), the candidate pair set, and
    * the candidate-restricted verification postings — are persist()ed
    * LAZILY: explain still shows the full plans (PlanDump dumps the
    * real shapes), one materializing action fills and reuses them, and
    * the registered wrapper releases them once the (tiny) result is
    * checkpointed. Without the reuse the corpus postings artifact was
    * scanned and semi-join-shuffled three times (sizes + both
    * verification sides) — measured 7.6 s vs 2.x s at sf0.1. */
  private def deltaDedupBuild(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) =
    deltaDedupBuildOver(s, d, corpusBands(s, d))

  /** The t67 plan over an EXPLICIT corpus candidate index — t67 passes
    * `corpus_bands`, t72 the REAPED index (`reaped_bands`). The
    * verification postings stay candidate-restricted (left-semi), so a
    * tombstoned corpus doc — whose band postings are absent from the
    * reaped index — can never become a candidate and its sids are
    * never read: the candidate index IS the deletion gate. */
  private def deltaDedupBuildOver(s: SparkSession, d: String,
      cb: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val cs = corpusSids(s, d)
    val dsh = sidsOf(deltaDocs(s, d)).persist()
    val dbands = bandsOf(dsh.groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*))
    val onBand = (x: String, y: String) =>
      BandKeys.map(k => col(s"$x.$k") === col(s"$y.$k")).reduce(_ && _)
    // the self-guard matters only when `cb` contains the delta docs
    // themselves (t72's reaped index = the ROLLED index minus
    // tombstones): a delta doc meeting its own postings is not a pair.
    // For t67 (corpus-only index) the predicate is vacuously true.
    val dc = dbands.as("x").join(cb.as("y"),
        onBand("x", "y") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
    val dd = dbands.as("x").join(dbands.as("y"),
        onBand("x", "y") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
    val cand = dc.unionByName(dd).distinct().persist()
    val candIds = cand.select(col("a_id").as("doc_id"))
      .unionByName(cand.select(col("b_id").as("doc_id"))).distinct()
    val sidsAll = cs.unionByName(dsh)
      .join(candIds, Seq("doc_id"), "left_semi").persist()
    val sizes = sidsAll.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val out = cand
      .join(sidsAll.select(col("doc_id").as("a_id"), col("sid")), "a_id")
      .join(sidsAll.select(col("doc_id").as("b_id"), col("sid")), Seq("b_id", "sid"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sza")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("szb")), "b_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select("a_id", "b_id", "inter", "jaccard")
      .orderBy("a_id", "b_id")
    (out, Seq(dsh, cand, sidsAll))
  }

  def deltaDedup(s: SparkSession, d: String): DataFrame =
    pinnedResult(deltaDedupBuild(s, d))

  /** ONE materializing action fills a (plan, scratch) build's lazy
    * persists and reuses them across the plan's consumers; then they
    * release — only the checkpointed |pairs|-row result remains. */
  private def pinnedResult(build: (DataFrame, Seq[DataFrame])): DataFrame = {
    val (plan, scratch) = build
    val out = plan.localCheckpoint()
    scratch.foreach(_.unpersist())
    out
  }

  /** t68 — INDEX ROLL-FORWARD: fold today's delta into the persisted
    * corpus index so TOMORROW'S delta joins (corpus ∪ today) — the
    * nightly maintenance step that completes t67's lifecycle (t67 reads
    * the index, t68 advances it; together they are the steady state a
    * 100 TB dedup service runs instead of ever re-running the t03
    * backfill). The rolled index is corpus_bands ∪ the delta's fresh
    * band keys — a pure union write, O(|delta|) new work — persisted as
    * its own artifact (rolled_bands), and the graded readout is a
    * per-band census over the ROLLED artifact: postings, distinct docs,
    * Σ doc_id, and a Σ(h0+h1+h2+h3) key checksum that flips if ANY
    * posting's band keys drift. The oracle computes the same census
    * from a FULL REBUILD over all documents — roll-forward ≡ rebuild is
    * a cross-engine hash fact (per-doc signatures are independent, so
    * the union must be posting-for-posting the rebuild; the checksum is
    * what turns "must be" into a graded equality). */
  private[graft] def rolledBandsUncached(s: SparkSession, d: String): DataFrame =
    corpusBands(s, d).unionByName(deltaBands(s, d))

  private[queries] def rolledBands(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "rolled_bands",
      graft.sources.ArtifactStore.key(d, "documents.parquet") + "-" + DeltaFoldTag) {
      rolledBandsUncached(s, d)
    }

  /** The graded per-BAND census every band-index-maintenance query
    * reads out: postings, distinct docs, Σ doc_id, and a key checksum
    * that flips if ANY posting's band keys drift — shared by t68 (one
    * roll), t69 (roll∘roll), and t70 (reap), each against its own
    * maintained artifact. */
  private def bandCensus(idx: DataFrame): DataFrame =
    idx.groupBy("band")
      .agg(count(lit(1)).as("n_postings"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("doc_id")).cast("long").as("id_sum"),
        sum(col("h0") + col("h1") + col("h2") + col("h3")).cast("long").as("h_checksum"))
      .orderBy("band")

  def indexRoll(s: SparkSession, d: String): DataFrame =
    bandCensus(rolledBands(s, d))

  /** corpus_sids/corpus_bands/rolled_bands artifact fold-shape tag —
    * sha256 (first 8 hex) over the shared signature-derivation region
    * plus the delta-index defs; TextArtifactSpec's tag-lock recomputes
    * it. */
  private[graft] val DeltaFoldTag = "dlt-2e992893"

  // ——— t69: TWO-STEP band-index roll — the roll is closed under
  // itself (round-18 verdict #1, text modality): t68 proves
  // corpus ∪ delta ≡ rebuild for ONE step; this is the induction —
  // roll #2's corpus input is itself a ROLLED artifact ———

  /** Day-2's ingest shard for the two-step lifecycle: doc_id ≡ 3
    * (mod 10); day-3's shard reuses t67's residue (≡ 7), so
    * {corpus₂, shard A, shard B} partition the id space. */
  private[queries] val ShardARes = 3L

  /** Day-1 corpus band index for the two-step lifecycle: everything
    * outside BOTH ingest shards, banded once — from the doc_sids
    * postings artifact (pushed-down residue filter; no re-shingling). */
  private[graft] def corpusBands2Uncached(s: SparkSession, d: String): DataFrame =
    bandsOf(docSids(s, d)
      .filter(pmod(col("doc_id"), lit(DeltaMod)) =!= ShardARes &&
        pmod(col("doc_id"), lit(DeltaMod)) =!= DeltaRes)
      .groupBy("doc_id").agg(mhAggs.head, mhAggs.tail: _*))

  private def corpusBands2(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "corpus_bands2",
      graft.sources.ArtifactStore.key(d, "documents.parquet") + "-" + BandRoll2FoldTag) {
      corpusBands2Uncached(s, d)
    }

  /** Roll #1 (day 2): corpus₂ artifact ∪ shard A's fresh band keys —
    * t68's roll shape verbatim, persisted so roll #2 can read IT. */
  private[graft] def rolledBandsS1Uncached(s: SparkSession, d: String): DataFrame =
    corpusBands2(s, d).unionByName(
      bandsOfSlice(s, d, pmod(col("doc_id"), lit(DeltaMod)) === ShardARes))

  private def rolledBandsS1(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "rolled_bands_s1",
      graft.sources.ArtifactStore.key(d, "documents.parquet") + "-" + BandRoll2FoldTag) {
      rolledBandsS1Uncached(s, d)
    }

  /** Roll #2 (day 3) — the induction step: the corpus side is the
    * ROLLED artifact from day 2 (never the day-1 corpus_bands2), the
    * only fresh work is shingling+banding shard B. Per-doc signatures
    * are split-independent, so roll∘roll must be posting-for-posting
    * the full rebuild — t69's oracle (t68's FULL-REBUILD census
    * verbatim) grades exactly that, and TextArtifactSpec asserts it
    * in-engine plus the plan fact that roll #2 reads the rolled
    * artifact. */
  private[graft] def rolledBandsS2Uncached(s: SparkSession, d: String): DataFrame =
    rolledBandsS1(s, d).unionByName(
      bandsOfSlice(s, d, pmod(col("doc_id"), lit(DeltaMod)) === DeltaRes))

  private def rolledBandsS2(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "rolled_bands_s2",
      graft.sources.ArtifactStore.key(d, "documents.parquet") + "-" + BandRoll2FoldTag) {
      rolledBandsS2Uncached(s, d)
    }

  /** t69 — the graded readout: the per-band census over the twice-
    * rolled artifact, against the SAME full-rebuild oracle as t68. */
  def bandRollTwoStep(s: SparkSession, d: String): DataFrame =
    bandCensus(rolledBandsS2(s, d))

  /** corpus_bands2/rolled_bands_s1/rolled_bands_s2 artifact fold-shape
    * tag; TextArtifactSpec's tag-lock recomputes it. */
  private[graft] val BandRoll2FoldTag = "bd2-baf221f6"

  // ——— t70: DELETION reap — the band index's missing CRUD leg
  // (round-18 verdict #3): retiring a doc set must not imply a full
  // index rebuild ———

  /** The deletion set: doc_id ≡ 4 (mod 10) — disjoint from both
    * ingest shards, standing in for the tombstone list a takedown /
    * retention pass accumulates. A pushed-down id-only scan of the
    * documents fixture — O(|deletions|) rows reach the reap. */
  private[queries] val DocDelRes = 4L

  private[graft] def docDeletionSet(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(pmod(col("doc_id"), lit(DeltaMod)) === DocDelRes)
      .select("doc_id")

  /** The reap: anti-join the deletion set's postings OUT of the rolled
    * band index — one hash anti-join keyed on doc_id, no re-shingle,
    * no corpus rescan — persisted as the next roll of the index.
    * Surviving postings are byte-identical to their rolled_bands rows
    * (an anti-join can only drop); TextArtifactSpec plants a deleted
    * doc and asserts exactly its postings vanish. */
  private[graft] def reapedBandsUncached(s: SparkSession, d: String): DataFrame =
    rolledBands(s, d).join(docDeletionSet(s, d), Seq("doc_id"), "left_anti")

  private def reapedBands(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "reaped_bands",
      graft.sources.ArtifactStore.key(d, "documents.parquet") + "-" + BandReapFoldTag) {
      reapedBandsUncached(s, d)
    }

  /** t70 — the graded readout: the per-band census over the reaped
    * artifact; oracle = t68's census inverted to the FILTERED corpus
    * (every doc except the deletion residue), so reap ≡
    * rebuild-without-the-deleted is a cross-engine hash fact. */
  def bandReapCensus(s: SparkSession, d: String): DataFrame =
    bandCensus(reapedBands(s, d))

  /** reaped_bands artifact fold-shape tag; TextArtifactSpec's tag-lock
    * recomputes it. */
  private[graft] val BandReapFoldTag = "bdp-b70d6e60"

  // ——— t71: the NIGHTLY-MAINTENANCE composition (round-18 verdict #7)
  // — the runbook a 100 TB deployment would cron, demonstrated as one
  // graded query rather than implied by its parts ———

  /** t71 — one steady-state maintenance day, end to end: (a) dedup
    * today's ingest against the persisted corpus index (t67), (b) roll
    * the band index forward (t68), (c) roll the ANN index forward
    * (v44), (d) reap superseded artifact generations (ArtifactStore.gc
    * — the nightly disk-hygiene step), then (e) verify the rolled ANN
    * index is immediately query-ready by serving top-k from it (v45).
    * The output is the concatenated censuses of every step, each
    * normalized to one (stage, key, n_rows, n_keys, id_sum, checksum)
    * row — and each census is ALREADY oracle-backed on its own (t67/
    * t68/v44/v24's oracles), so the composition's oracle is just their
    * UNION, keeping the whole night cross-engine hash-graded. Stage
    * prefixes (a_..e_ omitted for gc, which produces no frame) force
    * the runbook order into the output ordering. Every step is the
    * REGISTERED implementation — this adds no new pipeline, it proves
    * the existing ones compose into the day-2 cron job. */
  def nightlyMaintenance(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("stage", "key", "n_rows", "n_keys", "id_sum", "checksum")
      .map(col)
    val dd = deltaDedup(s, d)
      .groupBy(col("a_id").cast("long").as("key"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("b_id")).as("n_keys"),
        sum(col("b_id")).cast("long").as("id_sum"),
        sum(col("inter")).cast("long").as("checksum"))
      .withColumn("stage", lit("a_delta_dedup"))
      .select(cols: _*)
    val br = indexRoll(s, d).select(lit("b_band_roll").as("stage"),
      col("band").cast("long").as("key"), col("n_postings").as("n_rows"),
      col("n_docs").as("n_keys"), col("id_sum"),
      col("h_checksum").as("checksum"))
    val ar = VectorOps.annIndexRoll(s, d).select(lit("c_ann_roll").as("stage"),
      col("cell").cast("long").as("key"), col("n_entries").as("n_rows"),
      col("n_vecs").as("n_keys"), col("id_sum"),
      col("code_checksum").as("checksum"))
    // the disk-hygiene step: reap superseded artifact generations
    // before serving — conservative (only provably-stale dirs), and
    // the rolls above have already persisted this cycle's artifacts
    graft.sources.ArtifactStore.gc()
    val sv = VectorOps.annRolledServeTopK(s, d)
      .groupBy(col("q_id").cast("long").as("key"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("hit_id")).as("n_keys"),
        sum(col("hit_id")).cast("long").as("id_sum"),
        sum(col("rk") * col("hit_id") + col("ascore")).cast("long").as("checksum"))
      .withColumn("stage", lit("d_ann_serve"))
      .select(cols: _*)
    dd.unionByName(br).unionByName(ar).unionByName(sv)
      .orderBy("stage", "key")
  }

  // ——— t72: delta-dedup SERVED FROM THE REAPED INDEX — the takedown-
  // compliance fact the reap exists for: a tombstoned corpus doc must
  // stop producing duplicate matches the moment the reap lands ———

  /** t72 — t67's incremental dedup pointed at the REAPED candidate
    * index: identical plan ([[deltaDedupBuildOver]] — one shared def),
    * corpus side `reaped_bands` instead of `corpus_bands`. A deleted
    * doc's band postings are gone, so it can never become a candidate
    * and its verification sids are never read — pairs against deleted
    * docs vanish from the result with NO other pair changing (the
    * oracle states exactly that: t67's batch semantics with
    * deletion-touching pairs excluded, everything else byte-equal).
    * The deletion and delta residues are disjoint (4 vs 7 mod 10), so
    * delta↔delta pairs are untouched — only delta↔deleted-corpus
    * matches disappear, which TextArtifactSpec pins with a planted
    * delta↔deleted duplicate. */
  def reapedDeltaDedup(s: SparkSession, d: String): DataFrame =
    pinnedResult(reapedDeltaDedupBuild(s, d))

  private def reapedDeltaDedupBuild(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) =
    deltaDedupBuildOver(s, d, reapedBands(s, d))

  private[graft] def reapedDeltaDedupUncached(s: SparkSession, d: String): DataFrame =
    reapedDeltaDedupBuild(s, d)._1

  /** Per-source MinHash sketches + pairwise source similarity — the
    * MERGEABLE-SKETCH pattern: a source's sketch is min-per-slot over
    * its gram ids, and MIN is idempotent and associative, so sketches
    * partial-aggregate map-side, merge across partitions/shards/days in
    * any order, and never need the distinct gram SET materialized. At
    * 100 TB each ingest shard keeps a 16-slot sketch per source and
    * cross-source similarity is a 16-integer comparison — the exact
    * gram-set Jaccard computed alongside here is the CALIBRATION track
    * (t44's discipline): fixture-affordable truth that measures the
    * estimate, dropped at deployment scale. Near-mirror sources (the
    * t23 question, but on 8-gram content instead of vocabulary) surface
    * as high est_sim. */
  def sourceMinhashSim(s: SparkSession, d: String): DataFrame = {
    val sg = wordGramIds(s, d, 8)
      .join(documents(s, d).select("doc_id", "source"), "doc_id")
      .select("source", "gid").distinct()
    val sketch = gramSketch(sg)
    val sizes = sg.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = sg.as("a")
      .join(sg.as("b"),
        col("a.gid") === col("b.gid") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    val a = sketch.select(col("source").as("src_a") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"a$j")): _*)
    val b = sketch.select(col("source").as("src_b") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"b$j")): _*)
    val agree = (0 until NumHashes).map(j =>
      when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("n_agree", agree)
      .join(inter, Seq("src_a", "src_b"), "left")
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sza")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("sz").as("szb")), "src_b")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_agree"),
        (col("n_agree").cast("double") / NumHashes).as("est_sim"),
        round(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double"), 6).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Per-group MinHash sketch over a (source, gid) frame — min-per-slot
    * with the 60-bit gid folded into the 31-bit field first (so the
    * affine step can't overflow BIGINT in either engine). Factored so
    * SketchMergeSpec can execute the mergeability claim: because MIN is
    * idempotent and associative, sketch(A ∪ B) = slotwise-min(sketch(A),
    * sketch(B)) — the property that lets shards sketch independently. */
  private[queries] def gramSketch(sg: DataFrame): DataFrame = {
    val slotAggs = MhA.zip(MhB).zipWithIndex.map { case ((a, b), j) =>
      min(pmod(lit(a) * pmod(col("gid"), lit(P31)) + lit(b), lit(P31))).as(s"mh$j")
    }
    sg.groupBy("source").agg(slotAggs.head, slotAggs.tail: _*)
  }

  /** Zipf fit of the token rank-frequency curve: OLS slope/intercept of
    * ln(freq) on ln(rank) over t18's top-200 vocabulary — the corpus
    * statistic that says whether the token distribution is natural-
    * language-shaped (slope ≈ −1) or synthetic/spammy (flat or
    * cliffed). Exact distributed regression: each ln is floor-quantized
    * (t36/t37's discipline — at 1e-5, not 1e-6: with 200 points,
    * np·Σy² must stay inside BIGINT even when ln(freq) reflects a
    * 100 TB corpus's top-token counts; 1e-5 caps the worst product at
    * ~3e17), the five OLS sums (Σx, Σy, Σxy, Σx², Σy²) accumulate in
    * BIGINT — exact under any combine tree — and slope/intercept/r²
    * are final divisions. Bounded by construction: the regression
    * frame is the top-200 rows at any corpus scale (t18's
    * TakeOrderedAndProject discipline upstream). */
  def zipfFit(s: SparkSession, d: String): DataFrame = {
    val xy = vocab(s, d)
      .select(
        floor(log(col("rk").cast("double")) * 1e5).cast("long").as("x"),
        floor(log(col("n").cast("double")) * 1e5).cast("long").as("y"))
    xy.agg(
        count(lit(1)).as("np"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(zipfOutputs: _*)
  }

  private def zipfOutputs: Seq[Column] = {
    val num = (col("np") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (col("np") * col("sxx") - col("sx") * col("sx")).cast("double")
    val deny = (col("np") * col("syy") - col("sy") * col("sy")).cast("double")
    val slope = num / den
    Seq(col("np").as("n_points"),
      round(slope, 6).as("slope"),
      round((col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("np") / 1e5, 6).as("intercept"),
      round((num * num) / (den * deny), 6).as("r2"))
  }

  /** MinHash calibration audit: for every shipped near-dup pair, the
    * 16-slot signature's Jaccard ESTIMATE (agreeing-slot fraction —
    * exactly what the LSH banding thresholds on) next to the exact
    * shingle Jaccard, with the absolute error. This is the measurement
    * that justifies (or re-tunes) the band/row parameters: E[est] =
    * true Jaccard, and the observed error spread at 16 hashes is what
    * a pipeline owner weighs against doubling signature width. The
    * v-series twin is VectorRecallSpec's ANN recall; this makes the
    * text sketch's fidelity a graded, oracle-checked number too.
    *
    * Scale: pairs come from the t03 artifact (|pairs| rows);
    * signatures join KEYED on doc_id and read the signature artifact
    * (shared with t02 — the persisted table a real LSH index
    * maintains). est = k/16 is dyadic-exact; the exact jaccard is one
    * IEEE division — both bit-identical across engines. */
  def minhashCalibration(s: SparkSession, d: String): DataFrame = {
    val pairs = lshNearDupPairs(s, d)
    val sig = signatureFrame(s, d)
    val sa = sig.select(col("doc_id").as("a_id") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"a$j")): _*)
    val sb = sig.select(col("doc_id").as("b_id") +:
      (0 until NumHashes).map(j => col(s"mh$j").as(s"b$j")): _*)
    val agree = (0 until NumHashes).map(j =>
      when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
    pairs.join(sa, "a_id").join(sb, "b_id")
      .withColumn("n_agree", agree)
      .select(col("a_id"), col("b_id"), col("jaccard"), col("n_agree"),
        (col("n_agree").cast("double") / NumHashes).as("est_jaccard"))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 6))
      .orderBy("a_id", "b_id")
  }

  /** 60-bit SimHash over whitespace tokens (with multiplicity). 60 bits
    * (not 16): banding a 16-bit signature yields only 32/32/64 distinct
    * buckets, so candidate volume is Σ|bucket|² ≈ 3n²/43 — a constant
    * off all-pairs, not a complexity-class change. 60 bits band 4×15 →
    * 32,768 buckets per band, so bucket cardinality scales with content
    * diversity. All bit math is integer-exact (shiftright/shiftleft,
    * never pow-of-double division: a 60-bit tid exceeds the 53-bit
    * double mantissa, so floor(tid / 2.0^b) silently corrupts low bits). */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), norm(col("text")).as("nrm"))
      .filter(length(col("nrm")) >= 1)
      .select(col("doc_id"), explode(split(col("nrm"), " ")).as("tok"))
      .withColumn("tid", sid60(col("tok")))
    toks
      .select(col("doc_id"), col("tid"), explode(expr("sequence(0, 59)")).as("b"))
      .withColumn("bit", expr("shiftright(tid, b) & CAST(1 AS BIGINT)"))
      .withColumn("contrib", when(col("bit") === 1, 1).otherwise(-1))
      .groupBy("doc_id", "b").agg(sum(col("contrib")).as("v"))
      .withColumn("bitval",
        when(col("v") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0L))
      .groupBy("doc_id").agg(sum(col("bitval")).as("simhash60"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs (hamming ≤ 2 over the 60-bit signature) via
    * pigeonhole banding: the signature splits into 4 sub-bands of 15
    * bits, and any pair within hamming distance 2 must agree EXACTLY on
    * at least two bands (2 flipped bits touch ≤ 2 of 4 bands) — so
    * candidates meet only inside a band bucket (Σ|bucket|² per band,
    * the t03/v07 scale shape, never all pairs). 2¹⁵ buckets per band
    * means bucket occupancy — and therefore candidate volume — tracks
    * content diversity instead of saturating at a constant fan-in (the
    * 16-bit predecessor had 32/32/64 buckets total: ~3n²/43 candidates).
    * Exact hamming over the full signature verifies each candidate. */
  def simhashNearDupPairs(s: SparkSession, d: String): DataFrame = {
    // checkpointed: both sides of all four band joins read the signatures
    val sh = simhash(s, d).select(col("doc_id"), col("simhash60")).localCheckpoint()
    val bandCols = (0 until SimhashBands).map { k =>
      expr(s"shiftright(simhash60, ${k * SimhashBandBits}) & CAST(32767 AS BIGINT)")
        .as(s"band$k")
    }
    val e = sh.select(col("doc_id") +: col("simhash60") +: bandCols: _*)
    val a = e.select(col("doc_id").as("a_id") +: col("simhash60").as("ha") +:
      (0 until SimhashBands).map(k => col(s"band$k").as(s"a$k")): _*)
    val b = e.select(col("doc_id").as("b_id") +: col("simhash60").as("hb") +:
      (0 until SimhashBands).map(k => col(s"band$k").as(s"c$k")): _*)
    val cand = (0 until SimhashBands).map { k =>
      a.join(b, col(s"a$k") === col(s"c$k") && col("a_id") < col("b_id"))
        .select("a_id", "b_id", "ha", "hb")
    }.reduce(_ unionByName _).distinct()
    cand
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("int"))
      .filter(col("hamming") <= 2)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
  }

  /** 4 sub-bands × 15 bits (shared with the banding SQL + DocStream). */
  private[queries] val SimhashBands = 4
  private[queries] val SimhashBandBits = 15

  /** End-to-end dedup materialization: the corpus minus near-duplicates.
    * Canonical-keep policy: within each ≥0.9-Jaccard pair the lower
    * doc_id survives (higher ids anti-joined away) — the standard
    * "keep first" rule, fully deterministic. */
  def dedupApply(s: SparkSession, d: String): DataFrame = {
    val dupes = lshNearDupPairs(s, d)
      .filter(col("jaccard") >= 0.9)
      .select(col("b_id").as("doc_id")).distinct()
    documents(s, d)
      .join(dupes, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Quality-aware canonical selection: within each near-dup cluster
    * (t16's ≥0.9-Jaccard labeling) keep the HIGHEST-QUALITY member, not
    * the lowest id — the policy real curation pipelines use, since the
    * first-crawled copy of a page is often the worst one (truncated,
    * boilerplate-wrapped). Survivor = argmax alpha_ratio, doc_id-asc
    * tie-break; `upgraded` flags clusters where this differs from t11's
    * keep-first rule (the rows a policy migration would actually flip).
    *
    * Scale: the cluster frame is |near-dup docs| ≪ corpus (dupClusters);
    * quality joins in KEYED on doc_id; the argmax window
    * partitions per cluster_id — frames bounded by cluster size, never
    * corpus-wide. alpha_ratio is integer counts + one IEEE division, so
    * the ordering (and thus the winner) is bit-identical across engines. */
  def qualityCanonicalKeep(s: SparkSession, d: String): DataFrame =
    canonicalKeepOn(s, d, dupClusters(s, d))

  private def canonicalKeepOn(s: SparkSession, d: String, clusters: DataFrame): DataFrame = {
    val cl = clusters.filter(col("cluster_sz") >= 2)
    val q = qualityScore(s, d).select("doc_id", "alpha_ratio")
    val wk = Window.partitionBy("cluster_id")
    val w = wk.orderBy(col("alpha_ratio").desc, col("doc_id").asc)
    cl.join(q, "doc_id")
      .withColumn("first_id", min(col("doc_id")).over(wk))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("cluster_sz"),
        col("doc_id").as("keep_id"), col("alpha_ratio").as("keep_alpha"),
        (col("doc_id") =!= col("first_id")).cast("int").as("upgraded"))
      .orderBy("cluster_id")
  }

  /** Benchmark-contamination span extents: the cross-corpus t30 — for
    * every corpus doc that shares 8-token grams with the benchmark set
    * (t19's docs 0-49 stand-in), the contiguous token ranges those hits
    * cover. This is the scrub-don't-drop path: a doc with one quoted
    * benchmark passage keeps its clean remainder, and the span list is
    * exactly what the redaction step consumes. Two hit positions ≤8
    * tokens apart merge into one extent (their gram windows overlap or
    * abut), mirroring t30's island rule.
    *
    * Scale: positioned grams come from the memoized posGram index (one
    * build per session/dir, shared with t30); the benchmark gram set is
    * bounded by the eval suite's size — broadcast by nature, t19's
    * discipline — and the islands window partitions per doc over HIT
    * positions only (≪ doc length for any doc worth keeping). */
  def contaminationExtents(s: SparkSession, d: String): DataFrame = {
    val n = 8
    val pos = positionedGrams(s, d, n)
    val bench = pos.filter(col("doc_id") < 50).select("gid").distinct()
    val corp = pos.filter(col("doc_id") >= 50)
    val w = Window.partitionBy("doc_id").orderBy("i")
    corp.join(broadcast(bench), "gid")
      .withColumn("prev", lag(col("i"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("i") - col("prev") > n, 1L).otherwise(0L))
      .withColumn("ext",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("ext"))
      .agg(min(col("i")).as("span_start"),
        (max(col("i")) - min(col("i")) + n).as("span_len"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_len", "n_grams")
      .orderBy("doc_id", "span_start")
  }

  /** Curation v2 — the upgraded end-to-end pipeline, composing the
    * round-6 battery in ONE plan: Gopher stop-word gate (t42), near-dup
    * removal under the keep-BEST policy (t40 — cluster members survive
    * only if they are their cluster's argmax-quality member), and
    * contamination accounting by SCRUBBING (t41 — benchmark-hit span
    * tokens are subtracted, not whole docs dropped). Output is the
    * per-source census a pipeline owner reads to see what the upgraded
    * policy ships: docs kept, raw tokens, tokens scrubbed, clean tokens.
    *
    * Scale: every input is an already-bounded frame — the cluster
    * member/keeper sets are |near-dup docs| keys, the scrub totals are
    * |contaminated docs| keys, and both join the corpus KEYED on
    * doc_id (sizes are data-dependent — t32's no-forced-broadcast
    * rule); the only corpus-scale work is t42's single token scan. */
  def curationV2(s: SparkSession, d: String): DataFrame = {
    val clusters = dupClusters(s, d)
    val members = clusters.filter(col("cluster_sz") >= 2)
      .select("doc_id")
    val keepers = canonicalKeepOn(s, d, clusters)
      .select(col("keep_id").as("doc_id")).withColumn("k", lit(1))
    // threshold 1, not the published 2: the synthetic corpus is keyword
    // soup whose docs top out at ONE distinct check word (t42 reports
    // the real flag), so ≥2 would vacuously empty the census — the gate
    // is a config knob and 1 makes it bite (drops ~24%) while leaving a
    // corpus to account for
    val gq = stopwordQualityBase(s, d).filter(col("n_gopher") >= 1)
      .select("doc_id", "n_tokens")
    val scrub = contaminationExtents(s, d)
      .groupBy("doc_id").agg(sum(col("span_len")).as("n_scrubbed"))
    documents(s, d).filter(col("doc_id") >= 50)
      .select("doc_id", "source")
      .join(gq, "doc_id")
      .join(members.withColumn("m", lit(1)), Seq("doc_id"), "left")
      .join(keepers, Seq("doc_id"), "left")
      .filter(col("m").isNull || col("k").isNotNull)
      .join(scrub, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens_total"),
        sum(coalesce(col("n_scrubbed"), lit(0L))).as("n_tokens_scrubbed"))
      .withColumn("n_tokens_clean",
        col("n_tokens_total") - col("n_tokens_scrubbed"))
      .orderBy("source")
  }

  /** End-to-end corpus curation — the flagship training-data pipeline in
    * one plan: language filter (predicted English), quality thresholds
    * (alpha_ratio ≥ 0.82, ≥100 chars), near-dup removal (≥0.9 Jaccard,
    * keep-lowest-id), per-source census of the surviving corpus. Every
    * stage is the already-verified operator (t05/t07/t11) — this proves
    * they compose in a single Catalyst plan: the doc_id-keyed filters are
    * semi/anti joins over metadata-sized key sets, so the full text is
    * scanned exactly once. */
  def corpusCuration(s: SparkSession, d: String): DataFrame = {
    // checkpointed: the filter must hit the scored column (see langId)
    val en = langId(s, d).localCheckpoint()
      .filter(col("pred_lang") === "en").select("doc_id")
    val keepq = qualityScore(s, d)
      .filter(col("alpha_ratio") >= 0.82 && col("n_chars") >= 100)
      .select("doc_id")
    val dupes = lshNearDupPairs(s, d)
      .filter(col("jaccard") >= 0.9)
      .select(col("b_id").as("doc_id")).distinct()
    documents(s, d)
      .join(en, "doc_id")
      .join(keepq, "doc_id")
      .join(dupes, Seq("doc_id"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
      .orderBy("source")
  }

  /** Per-source curation scorecard: the one-stop report a pipeline owner
    * reads before a training run — doc/token mass, near-dup victim rate
    * (t11's ≥0.9 keep-lowest-id victim set), and benchmark-contamination
    * rate (t19's 8-gram hit set), per source. Both rates are one
    * division of two exact counts, rounded once (engine-exact).
    * Composes already-verified operators as doc_id-keyed LEFT joins:
    * the corpus text is scanned once for tokenization, the flag sets
    * join on bare keys, and their size is data-dependent — so no forced
    * broadcast (t32's rule); AQE converts when they measure small. */
  def curationScorecard(s: SparkSession, d: String): DataFrame = {
    val dupes = lshNearDupPairs(s, d).filter(col("jaccard") >= 0.9)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("is_dup", lit(1L))
    val cont = decontaminate(s, d).select("doc_id")
      .withColumn("is_cont", lit(1L))
    documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(norm(col("text")), " ")).cast("long").as("n_tok"))
      .join(dupes, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_victims"),
        sum(coalesce(col("is_cont"), lit(0L))).as("n_contaminated"))
      .withColumn("dup_rate",
        round(col("n_dup_victims").cast("double") / col("n_docs").cast("double"), 6))
      .withColumn("contam_rate",
        round(col("n_contaminated").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("source")
  }

  /** t33's drill-through: the per-(source, reason) removal breakdown the
    * review queue actually pages through — each REMOVED doc attributed
    * to 'dup' (near-dup victim only), 'contaminated' (benchmark 8-gram
    * hit only), or 'both', with doc and token mass per cell. Same
    * composed operators as the scorecard (one extra grouping key over
    * the already-joined frame), same keyed-join discipline: the flag
    * sets are data-dependent, so no forced broadcast — AQE converts
    * when they measure small. */
  def curationReasons(s: SparkSession, d: String): DataFrame = {
    val dupes = lshNearDupPairs(s, d).filter(col("jaccard") >= 0.9)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("is_dup", lit(1L))
    val cont = decontaminate(s, d).select("doc_id")
      .withColumn("is_cont", lit(1L))
    documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(norm(col("text")), " ")).cast("long").as("n_tok"))
      .join(dupes, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .filter(col("is_dup").isNotNull || col("is_cont").isNotNull)
      .withColumn("reason",
        when(col("is_dup").isNotNull && col("is_cont").isNotNull, "both")
          .when(col("is_dup").isNotNull, "dup")
          .otherwise("contaminated"))
      .groupBy("source", "reason")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("source", "reason")
  }

  /** Multi-signal near-dup candidates: the text signal (shingle Jaccard
    * ≥ 0.5, t03) full-outer-merged with the embedding signal (cosine
    * ≥ 0.45 among centroid-cell mates, v15's posture) per document
    * pair — the cross-modal dedup review queue a real curation pipeline
    * feeds to a judge. BOTH signals are bucketed candidate generators
    * (LSH bands on the text side, centroid cells on the embedding
    * side) — a production-shaped composition never rides the v02
    * all-pairs scan, which stays the recall-calibration oracle (v39
    * grades the cell generator against it). Missing signals surface as
    * -1 sentinels (not NULLs: nullable doubles coerce to NaN-laden
    * float64 in arrow/pandas and break exact comparison); n_signals
    * counts the agreeing detectors. */
  def multiSignalDedup(s: SparkSession, d: String): DataFrame = {
    val txt = lshNearDupPairs(s, d).select(col("a_id"), col("b_id"), col("jaccard"))
    val emb = VectorOps.cellCosineNearDupPairs(s, d).select(col("a_id"), col("b_id"), col("cos"))
    txt.join(emb, Seq("a_id", "b_id"), "full_outer")
      .withColumn("n_signals",
        col("jaccard").isNotNull.cast("int") + col("cos").isNotNull.cast("int"))
      .select(col("a_id"), col("b_id"),
        coalesce(col("jaccard"), lit(-1d)).as("jaccard"),
        coalesce(col("cos"), lit(-1d)).as("cos"),
        col("n_signals"))
      .orderBy("a_id", "b_id")
  }

  /** Occurrence count of a marker inside a padded haystack (replace-diff
    * trick — identical non-overlapping left-to-right semantics in every
    * engine; the diff is always an exact multiple of the marker length). */
  private def occ(h: Column, w: String): Column =
    (length(h) - length(replace(h, lit(w), lit("")))) / lit(w.length)

  /** Language ID via stop-word marker scoring (n-gram heuristic).
    *
    * The 16 space-padded markers + 3 CJK markers count through ONE
    * codegen `marker_counts` call each (StringExpressions): the
    * replace-diff restatement inlined the `norm` chain into every
    * marker's count once t14's pred_lang filter collapsed into the scan,
    * overflowing janino's method limit → whole-stage fell back to
    * interpreted. The oracle keeps the replace-diff SQL — the
    * cross-engine check that both count the same occurrences.
    *
    * A consumer that FILTERS on pred_lang (t14/t43) reads a checkpoint
    * of this frame: predicate pushdown would otherwise substitute the
    * scoring aliases into the `pred_lang = 'en'` filter, duplicating
    * the marker_counts call per CASE-branch reference (~60
    * evaluations/row, measured 10× slower than evaluating once). */
  def langId(s: SparkSession, d: String): DataFrame = {
    graft.functions.StringExpressions.register(s)
    import graft.functions.StringExpressions.marker_counts
    val latin = Seq(" the ", " and ", " of ", " is ",
      " der ", " und ", " die ", " ist ",
      " le ", " la ", " et ", " les ",
      " el ", " los ", " las ", " y ")
    val doc = documents(s, d)
      .withColumn("mc", marker_counts(
        concat(lit(" "), norm(col("text")), lit(" ")),
        array(latin.map(lit): _*)))
      .withColumn("zc", marker_counts(
        col("text"), array(Seq("的", "是", "了").map(lit): _*)))
    def score(base: Int): Column =
      (base until base + 4).map(j => col("mc").getItem(j)).reduce(_ + _)
    val scored = doc
      .withColumn("s_en", score(0))
      .withColumn("s_de", score(4))
      .withColumn("s_fr", score(8))
      .withColumn("s_es", score(12))
      .withColumn("s_zh",
        (0 until 3).map(j => col("zc").getItem(j)).reduce(_ + _))
    scored.withColumn("pred_lang",
        when(col("s_zh") >= greatest(col("s_en"), col("s_de"), col("s_fr"), col("s_es")) && col("s_zh") > 0, "zh")
          .when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
      .select("doc_id", "lang", "pred_lang")
      .orderBy("doc_id")
  }

  /** Language-ID confusion matrix: actual × predicted counts — the
    * aggregate accuracy view of t05. */
  def langConfusion(s: SparkSession, d: String): DataFrame =
    langId(s, d)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  /** Token counts: raw whitespace tokens and normalized tokens. */
  /** Per-source document cap (the RefinedWeb/Dolma "domain cap"). */
  private[queries] val SourceCap = 15

  /** t56 — no single source may contribute more than SourceCap docs to
    * the corpus; within a source the LONGEST docs win (n_chars DESC,
    * doc_id ASC tiebreak — deterministic under ties). Emits the per-
    * source admission ledger: doc/char mass kept vs dropped plus the
    * realized cut-off length (min kept n_chars) — the number a curator
    * reads to see HOW aggressive the cap was on each source.
    *
    * Scale: two-phase, so NO source's full document list ever funnels
    * through one ranking task. Phase 1 aggregates per-source totals —
    * one keyed mergeable agg, output is metadata-scale (one row per
    * source); every source AT OR UNDER the cap is fully answered there
    * (everything kept, cutoff = its shortest doc) with no ranking at
    * all. Phase 2 semi-joins the doc frame down to OVER-cap sources
    * only and ranks those through the salted two-level tournament
    * (SketchOps.saltedCap — the ONE body p06 shares): level 1 ranks
    * inside (source, doc_id % 32) — a
    * mega-source becomes 32 bounded slices — and only the ≤ 32·Cap
    * level-1 survivors per source reach the level-2 per-source window,
    * a constant-size frame at any corpus scale. Exact, not
    * approximate: ranking is a total order (n_chars DESC, doc_id ASC)
    * and every global top-Cap row ranks ≤ Cap inside its own salt
    * slice (CellSampleSpec's containment proof; SourceCapSpec executes
    * it on a planted mega-source). Selection metadata only — no text
    * column is ever materialized through the tournament. */
  def sourceCaps(s: SparkSession, d: String): DataFrame =
    sourceCapsOn(documents(s, d).select("doc_id", "source", "n_chars"))

  /** Core over an explicit (doc_id, source, n_chars) frame — factored so
    * SourceCapSpec can drive it with a planted mega-source. */
  private[queries] def sourceCapsOn(docs: DataFrame): DataFrame = {
    // phase 1: per-source totals — feeds both branches and the semi-join
    val totals = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("chars_total"),
      min("n_chars").as("min_chars")).localCheckpoint()
    val under = totals.filter(col("n_docs") <= SourceCap).select(
      col("source"), col("n_docs"),
      col("n_docs").as("n_kept"),
      lit(0L).as("n_dropped"),
      col("chars_total"),
      col("chars_total").as("chars_kept"),
      col("min_chars").as("cutoff_chars"))
    // phase 2: only over-cap sources pay a ranking, and that ranking is
    // the salted two-level tournament — never one giant partition sort
    val overTotals = totals.filter(col("n_docs") > SourceCap)
      .select("source", "n_docs", "chars_total")
    val kept = SketchOps.saltedCap(
      docs.join(broadcast(overTotals.select("source")), Seq("source"), "left_semi"),
      Seq(col("source")), col("doc_id"),
      Seq(col("n_chars").desc, col("doc_id").asc), SourceCap)
    val over = kept.groupBy("source").agg(
        count(lit(1)).as("n_kept"),
        sum("n_chars").as("chars_kept"),
        min("n_chars").as("cutoff_chars"))
      .join(broadcast(overTotals), "source")
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("chars_total"), col("chars_kept"), col("cutoff_chars"))
    under.unionByName(over).orderBy("source")
  }

  def tokenStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("nrm", norm(col("text")))
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_raw_tokens"),
        size(split(col("nrm"), " ")).as("n_tokens"),
        length(col("text")).cast("int").as("n_chars_raw"),
        length(col("nrm")).cast("int").as("n_chars_norm"))
      .orderBy("doc_id")

  /** Quality metrics: punctuation/digit/upper counts + one final ratio. */
  def qualityScore(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_upper", length(col("text")) - length(regexp_replace(col("text"), "[A-Z]", "")))
      .withColumn("n_digit", length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
      .withColumn("n_punct", length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", "")))
      .withColumn("n_spaces", length(col("text")) - length(regexp_replace(col("text"), " ", "")))
      .withColumn("alpha_ratio",
        (col("n_chars") - col("n_digit") - col("n_punct") - col("n_spaces")).cast("double") / col("n_chars"))
      .select("doc_id", "n_chars", "n_upper", "n_digit", "n_punct", "n_spaces", "alpha_ratio")
      .orderBy("doc_id")

  /** The classic English function-word lists behind C4/Gopher-style
    * stop-word quality filters: a doc whose token stream contains
    * almost no function words is navigation chrome, keyword spam, or
    * non-prose — exactly what t07's character ratios can't see. */
  private[queries] val StopWords = Seq(
    "the", "a", "an", "and", "or", "but", "of", "to", "in", "on", "at",
    "is", "are", "was", "for", "with", "as", "by", "it", "be", "that",
    "this", "have", "from", "not")
  private[queries] val GopherWords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Stop-word quality signal (the Gopher stop-word rule + a stop-word
    * ratio): per doc, total tokens, stop-word hits over a fixed 25-word
    * function-word list, the ratio, distinct hits among Gopher's 8
    * check words, and the pass flag (≥ 2 distinct check words — the
    * published rule). Complements t07 (char-class ratios) and t20
    * (repetition): the three together are the standard prose-quality
    * battery.
    *
    * Scale: one token scan, conditional aggregation keyed on doc_id —
    * map-side partial, no joins, no windows; the stop lists are literal
    * IN-lists inside codegen, never a broadcast side. */
  def stopwordQuality(s: SparkSession, d: String): DataFrame =
    stopwordQualityBase(s, d).orderBy("doc_id")

  /** The unordered, CHECKPOINT-BACKED stop-word frame shared by t42's
    * graded readout, t43's gate and t58's waterfall — which reads it
    * for three stage filters AND two censuses, so one call tokenizes
    * the corpus once. The frame is 6 numeric columns per doc. */
  private[queries] def stopwordQualityBase(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), norm(col("text")).as("nrm"))
      .filter(length(col("nrm")) >= 1)
      .select(col("doc_id"), explode(split(col("nrm"), " ")).as("tok"))
    toks.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tok").isin(StopWords: _*), 1L).otherwise(0L)).as("n_stop"),
        countDistinct(when(col("tok").isin(GopherWords: _*), col("tok")))
          .as("n_gopher"))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
        round(col("n_stop").cast("double") / col("n_tokens").cast("double"), 6)
          .as("stop_ratio"),
        col("n_gopher"),
        (col("n_gopher") >= 2).cast("int").as("gopher_pass"))
      .localCheckpoint()
  }

  /** t58 — the curation WATERFALL: t43's pipeline re-read as the funnel
    * curators actually monitor — doc and token mass surviving each gate
    * (raw → eval holdout removed → quality gate → near-dup dedup →
    * decontamination scrub), one row per stage. t43 grades the final
    * per-source census; this grades the PATH to it, so a gate whose
    * cost quietly doubles is visible as its own row, not a diff of two
    * totals. Every stage reuses the shared component frames (stop-word
    * quality, dup clusters, canonical keepers, contamination extents) —
    * the corpus is never rescanned per stage.
    *
    * Scale: stages are successive filters over the |docs|-row quality
    * frame (metadata after the one corpus tokenize); the censuses are
    * five scalar aggregates. */
  def curationWaterfall(s: SparkSession, d: String): DataFrame = {
    // checkpoint-backed — the three stage filters + two censuses
    // re-read it without re-tokenizing
    val swq = stopwordQualityBase(s, d).select("doc_id", "n_tokens", "n_gopher")
    val clusters = dupClusters(s, d)
    val members = clusters.filter(col("cluster_sz") >= 2)
      .select("doc_id").withColumn("m", lit(1))
    val keepers = canonicalKeepOn(s, d, clusters)
      .select(col("keep_id").as("doc_id")).withColumn("k", lit(1))
    val scrub = contaminationExtents(s, d).groupBy("doc_id")
      .agg(sum(col("span_len")).as("n_scrubbed"))
    val s1 = swq.filter(col("doc_id") >= 50)
    val s2 = s1.filter(col("n_gopher") >= 1)
    val s3 = s2
      .join(members, Seq("doc_id"), "left")
      .join(keepers, Seq("doc_id"), "left")
      .filter(col("m").isNull || col("k").isNotNull)
      .select("doc_id", "n_tokens")
      .localCheckpoint() // its own census AND stage 4 read it
    val s4 = s3.join(scrub, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_tokens") - coalesce(col("n_scrubbed"), lit(0L))).as("n_tokens"))
    def census(df: DataFrame, stage: String) =
      df.agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"))
    census(swq, "0_raw")
      .unionByName(census(s1, "1_holdout_removed"))
      .unionByName(census(s2, "2_quality_gate"))
      .unionByName(census(s3, "3_near_dup"))
      .unionByName(census(s4, "4_decontam_scrub"))
      .orderBy("stage")
  }

  /** Document fingerprint: md5 over the normalized text. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), md5(norm(col("text"))).as("fp"))
      .orderBy("doc_id")

  /** Winnowing fingerprints (local-min rolling-hash selection): hash
    * every positional 5-gram, keep the window-of-5 minimum — the
    * classic document-fingerprint scheme; robust to local edits. Output
    * is the per-doc fingerprint-set summary (count + exact sum), both
    * integer-exact. */
  def winnowingFingerprint(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 4)
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), norm(col("text")).as("nrm"))
      .filter(length(col("nrm")) >= 5)
      .select(col("doc_id"), col("nrm"),
        explode(expr("sequence(1, length(nrm) - 4)")).as("pos"))
      .select(col("doc_id"), col("pos"), sid(expr("substring(nrm, pos, 5)")).as("hv"))
      .withColumn("fp", min(col("hv")).over(w))
      .groupBy("doc_id")
      .agg(countDistinct(col("fp")).as("n_fps"), sum_distinct(col("fp")).as("fp_sum"))
      .orderBy("doc_id")
  }

  /** Repetition signals (the Gopher/C4 quality-filter family): per
    * document, the duplicate-token fraction, the most-frequent-bigram
    * occupancy, and the fraction of trigram occurrences that are
    * duplicates — the three signals that catch boilerplate, keyword
    * stuffing, and looping generation. All numerators/denominators are
    * exact integers with one final IEEE division each, so the values are
    * bit-identical across engines. Scale shape: one tokens scan feeds
    * three keyed aggregations (doc_id / (doc_id, gram)); gram counts are
    * map-side partial and nothing ever leaves the doc_id key space. */
  def repetitionSignals(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), split(norm(col("text")), " ").as("ts"))
    def gramCounts(n: Int) = base.filter(size(col("ts")) >= n)
      .select(col("doc_id"), col("ts"),
        explode(expr(s"sequence(1, size(ts) - ${n - 1})")).as("i"))
      .select(col("doc_id"), expr(s"array_join(slice(ts, i, $n), ' ')").as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val tok = base.select(col("doc_id"),
      size(col("ts")).as("n_tokens"),
      size(array_distinct(col("ts"))).as("n_distinct_tokens"))
    val bi = gramCounts(2).groupBy("doc_id")
      .agg(max(col("c")).as("top_bigram_n"), sum(col("c")).as("n_bigrams"))
    val tri = gramCounts(3).groupBy("doc_id")
      .agg(sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("n_dup_trigram_occ"),
        sum(col("c")).as("n_trigrams"))
    tok.join(bi, Seq("doc_id"), "left").join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        ((col("n_tokens") - col("n_distinct_tokens")).cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        col("top_bigram_n"), col("n_bigrams"),
        (col("top_bigram_n").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        col("n_dup_trigram_occ"), col("n_trigrams"),
        (col("n_dup_trigram_occ").cast("double") / col("n_trigrams")).as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** Deterministic output sharding: the step that writes a curated
    * corpus as N balanced training shards. Shard assignment is a salted
    * md5 of the doc id — stable across runs, engines, and partitionings
    * (no RNG, no round-robin order dependence) — and the output is the
    * per-shard balance audit (doc/token/char totals, source spread) a
    * pipeline checks before handing shards to a trainer. At 100 TB the
    * same expression IS the partitionBy column of the final write:
    * rebalancing means changing NumShards, never reshuffling logic. */
  private[queries] val NumShards = 16
  def shardAssignment(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("shard", saltedBucket(col("doc_id"), ":shard", NumShards.toLong))
      .withColumn("n_tok", size(split(norm(col("text")), " ")))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok").cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("shard")

  /** t60's context-window budget (tokens per packed training sequence).
    * Small against real 4k–8k windows so the fixture exercises straddles
    * and underfilled tails; ONE constant shared with the oracle. */
  private[queries] val PackCtx = 256L

  /** Shared by t60 and its streaming twin s30 — online packing must
    * reproduce the batch packing decision for decision. */
  private[queries] lazy val PackOracleDuck: String =
    s"""WITH tk AS (SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 8))::BIGINT % $NumShards AS shard,
       |    len(string_split($NormSqlDuck, ' ')) + 1 AS n_tok
       |  FROM documents),
       |cs AS (SELECT shard, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
       |    CAST(SUM(n_tok) OVER (PARTITION BY shard) AS BIGINT) AS shard_total
       |  FROM tk),
       |x AS (SELECT shard, CAST(cum_before // $PackCtx AS BIGINT) AS seq_id,
       |    CASE WHEN cum_before % $PackCtx + n_tok > $PackCtx THEN 1 ELSE 0 END AS straddle,
       |    shard_total
       |  FROM cs)
       |SELECT shard, seq_id, COUNT(*) AS n_docs_started,
       |  CAST(SUM(straddle) AS BIGINT) AS n_straddlers,
       |  CAST(LEAST($PackCtx, MAX(shard_total) - seq_id * $PackCtx) AS BIGINT) AS fill_tokens
       |FROM x GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin

  /** t60 — SEQUENCE PACKING, the step that turns a curated corpus into
    * fixed-length training sequences: documents concatenate in a
    * deterministic order (doc_id) with a 1-token separator and chop
    * every [[PackCtx]] tokens — GPT-style concat-and-chop, the packing
    * posture large-scale pretraining pipelines use because greedy
    * no-split bin packing is a sequential recurrence that cannot
    * parallelize. Packing runs WITHIN t21's shards (the same
    * salted-bucket rule, so the two operators compose): each shard's
    * running token prefix-sum assigns every doc its sequence id
    * (cum_before div ctx) and start offset, and a doc whose tokens cross
    * the boundary is a straddler (truncation/continuation candidates —
    * the loss-masking set). Graded per (shard, seq_id of the docs that
    * START there): docs started, straddlers, and the sequence's fill
    * (mid sequences pack to exactly ctx; each shard's tail underfills by
    * shard_total mod ctx). A sequence fully covered by one long
    * straddler starts no doc and so carries no row — the graded unit is
    * the PACKING DECISION per document, not a dense sequence inventory.
    *
    * Scale: one shuffle on the shard key, then a per-shard ordered
    * window — the shard is the parallel unit (16 here, thousands in
    * production), so no global sort and no driver-side loop; the same
    * plan packs 100 TB by adding shards. */
  def sequencePacking(s: SparkSession, d: String): DataFrame =
    sequencePackingOn(documents(s, d)
      .select(col("doc_id"),
        saltedBucket(col("doc_id"), ":shard", NumShards.toLong).as("shard"),
        (size(split(norm(col("text")), " ")) + 1).cast("long").as("n_tok")))

  /** Core on an explicit (doc_id, shard, n_tok) frame — factored for
    * SequencePackingSpec's planted boundary cases. */
  private[queries] def sequencePackingOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val before = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy("shard")
    docs
      .withColumn("cum_before", coalesce(sum("n_tok").over(before), lit(0L)))
      .withColumn("shard_total", sum("n_tok").over(whole))
      .select(col("shard"),
        expr(s"cum_before div $PackCtx").cast("long").as("seq_id"),
        (pmod(col("cum_before"), lit(PackCtx)) + col("n_tok") > PackCtx)
          .cast("long").as("straddle"),
        col("shard_total"))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs_started"),
        sum("straddle").as("n_straddlers"),
        least(lit(PackCtx), max(col("shard_total")) - col("seq_id") * PackCtx)
          .as("fill_tokens"))
      .orderBy("shard", "seq_id")
  }

  /** t61 — the PACKING-EFFICIENCY curve: what t60's fixed ctx = 256
    * actually costs, for ctx ∈ {128, 256, 512, 1024} (the v29/v32/k11/
    * m12 tuning-curve discipline applied to the context-window knob).
    * Per candidate window size: total sequences produced, boundary
    * straddlers (the loss-masking set — shrinks as windows grow),
    * per-shard tail waste (underfilled final sequences — grows as
    * windows grow), and the straddle rate in permille. The knee of
    * straddle-vs-waste is where a pretraining run sets its window;
    * this is the table it reads first.
    *
    * ONE corpus pass, not four: the per-shard prefix sums are
    * ctx-INDEPENDENT, so they compute once and a 4-row broadcast of
    * window sizes fans the arithmetic out; everything stays integer. */
  def packingCurve(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val before = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.partitionBy("shard")
    val docs = documents(s, d)
      .select(col("doc_id"),
        saltedBucket(col("doc_id"), ":shard", NumShards.toLong).as("shard"),
        (size(split(norm(col("text")), " ")) + 1).cast("long").as("n_tok"))
      .withColumn("cum_before", coalesce(sum("n_tok").over(before), lit(0L)))
      .withColumn("shard_total", sum("n_tok").over(whole))
    val ctxs = broadcast(Seq(128L, 256L, 512L, 1024L).toDF("ctx"))
    docs.crossJoin(ctxs)
      .select(col("ctx"), col("shard"), col("shard_total"),
        (pmod(col("cum_before"), col("ctx")) + col("n_tok") > col("ctx"))
          .cast("long").as("straddle"))
      .groupBy("ctx", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("straddle").as("n_straddlers"),
        // ceil-div sequences and the final sequence's underfill, exact
        // integer per shard (shard_total is constant within the group)
        expr("(max(shard_total) + ctx - 1) div ctx").as("n_seqs"),
        expr("(max(shard_total) + ctx - 1) div ctx * ctx - max(shard_total)")
          .as("waste"))
      .groupBy("ctx")
      .agg(sum("n_docs").as("n_docs"),
        sum("n_seqs").as("n_seqs"),
        sum("n_straddlers").as("n_straddlers"),
        sum("waste").as("waste_tokens"))
      // guarded readout (round-12 advice): -1 sentinel instead of a
      // NULL-vs-DuckDB-error divergence on an empty fixture
      .withColumn("straddle_permille",
        expr("case when n_docs = 0 then cast(-1 as bigint) " +
          "else n_straddlers * 1000 div n_docs end"))
      .select("ctx", "n_docs", "n_seqs", "n_straddlers", "waste_tokens",
        "straddle_permille")
      .orderBy("ctx")
  }

  /** t65 — DETERMINISTIC EPOCH SHUFFLE: the training-data tail the
    * packing surface leaves open — a trainer reads the corpus once per
    * epoch in a DIFFERENT order, and at 100 TB that order must come
    * from a seeded permutation, never a reshuffle (a global shuffle per
    * epoch re-moves the whole corpus; a seeded hash order moves
    * nothing). Epoch e's read order within each of t21's shards is
    * ascending salted hash h(doc_id, ":ep" + e) — the EPOCH IS THE
    * SALT — so the permutation is reproducible (resume mid-epoch from
    * a position), engine-independent (md5, the saltedBucket twin), and
    * local to the shard (the parallel unit; no cross-shard movement
    * ever). Graded per (epoch, shard): doc count, the first and last
    * docs of the read order, and a position-weighted checksum
    * Σ pos·doc_id that pins the ENTIRE permutation (any transposition
    * of two distinct docs changes it).
    *
    * Scale: one hash-exchange on (epoch, shard) + per-shard sort —
    * NO corpus-scale global sort (the one range exchange in the plan
    * is the 48-row readout; EpochShuffleSpec locks this); epochs fan
    * out from a 3-row broadcast, so e epochs cost e ordered scans of
    * already-sharded data, which is exactly what a trainer pays. */
  private[queries] val EpochCount = 3
  def epochShuffle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    epochShuffleOn(
      documents(s, d).select(col("doc_id"),
        saltedBucket(col("doc_id"), ":shard", NumShards.toLong).as("shard")),
      broadcast((0L until EpochCount.toLong).toDF("epoch")))
  }

  /** Core on explicit (doc_id, shard) docs + epoch frames — factored for
    * EpochShuffleSpec's planted permutation traces. */
  private[queries] def epochShuffleOn(docs: DataFrame, epochs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eh = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":ep"), col("epoch").cast("string"))), 1, 15), 16, 10).cast("long")
    val pos = row_number().over(
      Window.partitionBy("epoch", "shard").orderBy("eh", "doc_id"))
    docs.crossJoin(epochs)
      .select(col("epoch"), col("shard"), col("doc_id"), eh.as("eh"))
      .select(col("epoch"), col("shard"), col("doc_id"), pos.cast("long").as("pos"))
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"),
        min_by(col("doc_id"), col("pos")).as("head_doc"),
        max_by(col("doc_id"), col("pos")).as("tail_doc"),
        sum(col("pos") * col("doc_id")).as("order_checksum"))
      .orderBy("epoch", "shard")
  }

  private val EpochShuffleDuck: String =
    s"""WITH ep AS (SELECT unnest(generate_series(0, ${EpochCount - 1})) AS epoch),
       |sh AS (SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 8))::BIGINT % $NumShards AS shard
       |  FROM documents),
       |r AS (SELECT epoch, shard, doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ep' || CAST(epoch AS VARCHAR)), 1, 15))::BIGINT AS eh
       |  FROM sh, ep),
       |o AS (SELECT epoch, shard, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY eh, doc_id) AS pos
       |  FROM r)
       |SELECT CAST(epoch AS BIGINT) AS epoch, shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(arg_min(doc_id, pos) AS BIGINT) AS head_doc,
       |  CAST(arg_max(doc_id, pos) AS BIGINT) AS tail_doc,
       |  CAST(SUM(pos * doc_id) AS BIGINT) AS order_checksum
       |FROM o GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin

  // --- t62: TRAINED quality scorer (gate distillation) ------------------

  private[queries] val T62Epochs = 6
  /** Update: w -= floorDiv(gradient, n · LrK) — LrK is the integer
    * learning-rate denominator; prototyped on the fixture: 1e6 descends
    * monotonically for 6 epochs, 5e5 oscillates and diverges. */
  private[queries] val T62LrK = 1000000L
  /** Pass gate: predicted keep-probability ≥ 0.5 in nano units. */
  private[queries] val T62Thresh = 500000000L
  /** Label: the lexical-diversity gate (t22's score rule) — distinct
    * tokens per 1000 ≥ this. */
  private[queries] val T62DivGate = 500L

  /** The t62 feature/label frame — one scan, all exact integers:
    * x0 bias (1000), x1 = 10·token count, x2/x3 = ' the '/' a '
    * occurrence permilles (replace-diff counts — streaming-cheap rate
    * features), y = the DISTINCT-COUNT diversity gate in nano units
    * (1e9 = pass). The label is the EXPENSIVE signal (set semantics,
    * per-doc distinct state); the features deliberately exclude it —
    * t62 distills the gate into a scorer that runs without it. */
  private[queries] def t62FeaturesUncached(s: SparkSession, d: String): DataFrame =
    t62FeaturesOf(documents(s, d))

  /** The same feature build over an explicit (doc_id, text, …) frame —
    * factored so s33's ingest gate computes per-BATCH features through
    * the identical expressions (the twin-shares-the-operator rule). */
  private[queries] def t62FeaturesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), norm(col("text")).as("nrm"))
      .withColumn("h", concat(lit(" "), col("nrm"), lit(" ")))
      .withColumn("n_tok", size(split(col("nrm"), " ")).cast("long"))
      .selectExpr(
        "doc_id",
        "cast(1000 as bigint) as x0",
        "n_tok * 10 as x1",
        "((length(h) - length(replace(h, ' the ', ''))) div 5) * 1000 div n_tok as x2",
        "((length(h) - length(replace(h, ' a ', ''))) div 3) * 1000 div n_tok as x3",
        s"case when size(array_distinct(split(nrm, ' '))) * 1000 div n_tok >= $T62DivGate " +
          "then cast(1000000000 as bigint) else cast(0 as bigint) end as y")

  private[queries] def t62Features(s: SparkSession, d: String): DataFrame = {
    t62FeatCache(s, d)(
      t62FeaturesUncached(s, d).localCheckpoint())
  }
  private val t62FeatCache = Memos.memo[String, DataFrame]()

  /** Epoch-1's gradient aggregate over the LIVE feature build — the
    * plan PlanSpec pins (the graded t62 frame is checkpoint-backed, so
    * its registered plan shows only the scan). */
  private[queries] def t62GradientProbe(s: SparkSession, d: String): DataFrame =
    t62FeaturesUncached(s, d).selectExpr(
      (0 until 4).map(j =>
        s"sum(((0 * x0 + 0 * x1 + 0 * x2 + 0 * x3) - y) * x$j) as g$j"): _*)

  /** t62 — the TRAINED quality classifier the board's hand-weighted
    * heuristics (t07/t20/t29/t42) lacked: a linear keep-probability
    * scorer fit by full-batch gradient descent, distilling the
    * lexical-diversity gate into cheap rate features. Mechanically the
    * operator is [[T62Epochs]] rounds of ONE mergeable aggregate each —
    * per-epoch gradients are Σ(error·feature) over exact BIGINTs
    * (map-side partial, order-free, deterministic under any combine
    * tree), only the 4 gradient sums ever reach the driver (never a
    * feature matrix), and the update divides with TRUNCATING integer
    * division on both sides (Long `/` ≡ Spark `div` ≡ DuckDB `//`,
    * which truncates on negatives — probed, not assumed; floorDiv
    * drifted by 1 late-epoch). The graded output is the full TRAINING TRAJECTORY: per
    * epoch, the weights plus that epoch's SSE / pass census / gate
    * agreement, so the oracle re-runs the same closed-form updates in
    * SQL and every intermediate weight is hash-pinned — the descent is
    * the verified object, not just the final scores.
    *
    * Scale: each epoch is one partial-agg pass over the (checkpointed)
    * feature frame — E·O(n) with 4-long driver state; at 100 TB the
    * gradient magnitudes bound at |e|≤2e9 · x≤1e4 · n, so shard-level
    * pre-scaling (divide e before the product) buys another 1e4× in n
    * before BIGINT saturates. The scorer itself (z ≥ τ) then gates
    * arrivals in ONE codegen expression with no distinct-count state —
    * t63 applies it over the batch corpus and s33 gates the arriving
    * document stream with the same weights, both graded against the
    * same weight-CTE oracle. */
  def trainedQualityScorer(s: SparkSession, d: String): DataFrame = {
    val f = t62Features(s, d)
    val n = f.count()
    var w = Array.fill(4)(0L)
    def z(ws: Array[Long]) =
      s"(${ws(0)} * x0 + ${ws(1)} * x1 + ${ws(2)} * x2 + ${ws(3)} * x3)"
    val epochs = (1 to T62Epochs).map { ep =>
      val g = f.selectExpr(
        (0 until 4).map(j => s"sum((${z(w)} - y) * x$j) as g$j") ++
          // overflow guard (round-13 advice): non-ANSI LongType sum
          // WRAPS silently where DuckDB raises — bound the worst-case
          // |Σ(e·x)| ≤ n·max|e|·max(x) in BigInt and fail LOUDLY on
          // this side too; rides the same scan, so the guard is free
          Seq(s"max(abs(${z(w)} - y)) as me", "max(greatest(x0, x1, x2, x3)) as mx"): _*)
        .head()
      // guard the guard first (review finding: me is computed from the
      // same wrapping arithmetic it polices): mx is a plain max over
      // raw features — no products, cannot wrap — so bound the per-row
      // dot product |z| ≤ 4·max|w|·mx with the PRE-update weights; only
      // then is max|z−y| itself trustworthy as the gradient bound
      val maxW = w.map(math.abs).max
      require(BigInt(4) * BigInt(maxW) * BigInt(g.getLong(5)) +
          BigInt(1000000000L) <= BigInt(Long.MaxValue),
        s"t62 epoch-$ep per-row score z can exceed int64 — pre-scale the " +
          "weights/features before trusting any aggregate this epoch")
      require(BigInt(g.getLong(4)) * BigInt(g.getLong(5)) * BigInt(n)
          <= BigInt(Long.MaxValue),
        s"t62 epoch-$ep gradient can exceed int64 — pre-scale the error " +
          "(shard-level e/k before the product; see scaladoc)")
      // plain Long division: TRUNCATING, exactly DuckDB's `//`
      // (probed: -7 // 2 = -3 there — floorDiv would drift by 1 on
      // negative gradients and did, late-epoch, before this pin)
      w = Array.tabulate(4)(j => w(j) - g.getLong(j) / (n * T62LrK))
      val zz = z(w)
      val em = s"(($zz - y) div 1000)" // Spark div truncates ≡ DuckDB //
      f.selectExpr(
          s"cast(sum($em * $em) as bigint) as sse_u",
          s"cast(sum(case when $zz >= $T62Thresh then 1 else 0 end) as bigint) as n_pass",
          s"cast(sum(case when ($zz >= $T62Thresh) = (y > 0) then 1 else 0 end) as bigint) as n_agree")
        .select(lit(ep.toLong).as("epoch"),
          lit(w(0)).as("w_bias"), lit(w(1)).as("w_len"),
          lit(w(2)).as("w_the"), lit(w(3)).as("w_a"),
          col("sse_u"), col("n_pass"), col("n_agree"))
    }
    epochs.reduce(_ unionByName _).orderBy("epoch")
  }

  /** The oracle unrolls the SAME fixed-point updates as closed-form SQL:
    * epoch CTE chain g_e (gradient sums) → w_e (floor-div update) →
    * m_e (that epoch's trajectory row). Built programmatically so the
    * constants can never drift from the Spark side. */
  private def t62ZOf = "(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3)"

  /** The shared CTE chain — feature frame `f` plus the whole training
    * unroll g1/w1 … g6/w6 — factored so t63/s33's readout reuses the
    * SAME weight derivation (the round-13 brief's "reusing t62Duck's
    * weight CTEs"): the applied gate's oracle weights cannot drift
    * from the trajectory oracle's. */
  private def t62DuckCtes: String = {
    val zOf = t62ZOf
    val sb = new StringBuilder
    sb.append(
      s"""WITH f AS (SELECT doc_id, CAST(1000 AS BIGINT) AS x0,
         |    CAST(n_tok * 10 AS BIGINT) AS x1,
         |    ((LENGTH(h) - LENGTH(replace(h, ' the ', ''))) // 5) * 1000 // n_tok AS x2,
         |    ((LENGTH(h) - LENGTH(replace(h, ' a ', ''))) // 3) * 1000 // n_tok AS x3,
         |    CASE WHEN len(list_distinct(string_split(nrm, ' '))) * 1000 // n_tok >= $T62DivGate
         |         THEN CAST(1000000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
         |  FROM (SELECT doc_id, nrm, ' ' || nrm || ' ' AS h,
         |          len(string_split(nrm, ' ')) AS n_tok
         |        FROM (SELECT doc_id, $NormSqlDuck AS nrm FROM documents))),
         |nn AS (SELECT COUNT(*) AS n FROM f),
         |wz AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
         |       CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)""".stripMargin)
    var prev = "wz"
    (1 to T62Epochs).foreach { ep =>
      sb.append(s""",
         |g$ep AS (SELECT ${(0 until 4).map(j =>
             s"CAST(SUM(($zOf - y) * x$j) AS BIGINT) AS g$j").mkString(", ")}
         |  FROM f, $prev w),
         |w$ep AS (SELECT ${(0 until 4).map(j =>
             s"CAST(w.w$j - g.g$j // (nn.n * $T62LrK) AS BIGINT) AS w$j").mkString(", ")}
         |  FROM g$ep g, $prev w, nn)""".stripMargin)
      prev = s"w$ep"
    }
    sb.toString
  }

  private[queries] def t62Duck: String = {
    val zOf = t62ZOf
    val sb = new StringBuilder(t62DuckCtes)
    (1 to T62Epochs).foreach { ep =>
      sb.append(s""",
         |m$ep AS (SELECT CAST($ep AS BIGINT) AS epoch, w.w0 AS w_bias,
         |    w.w1 AS w_len, w.w2 AS w_the, w.w3 AS w_a,
         |    CAST(SUM((($zOf - y)//1000) * (($zOf - y)//1000)) AS BIGINT) AS sse_u,
         |    CAST(SUM(CASE WHEN $zOf >= $T62Thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |    CAST(SUM(CASE WHEN ($zOf >= $T62Thresh) = (y > 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
         |  FROM f, w$ep w GROUP BY w.w0, w.w1, w.w2, w.w3)""".stripMargin)
    }
    sb.append("\n" + (1 to T62Epochs).map(e => s"SELECT * FROM m$e")
      .mkString("", "\nUNION ALL ", "") + "\nORDER BY epoch")
    sb.toString
  }

  // --- t63: the trained gate APPLIED -------------------------------------

  /** The epoch-[[T62Epochs]] weights — the deployed model artifact:
    * a 1-row metadata collect off the trajectory frame, whose training
    * stays E·O(n). */
  private[queries] def t62FinalWeights(s: SparkSession, d: String): Array[Long] = {
    val r = trainedQualityScorer(s, d).filter(col("epoch") === T62Epochs)
      .select("w_bias", "w_len", "w_the", "w_a").head()
    Array.tabulate(4)(r.getLong)
  }

  /** The gate/census readout over an explicit feature frame — shared by
    * t63 (batch corpus) and s33 (per-ingest-batch partials), so the
    * scoring expression cannot drift between the two postures. The
    * score z = w·x is ONE codegen expression over the four rate
    * features — no distinct-count state, which is exactly what the t62
    * distillation buys at ingest time. */
  private[queries] def t63CensusOf(f: DataFrame, w: Array[Long]): DataFrame = {
    val z = s"(${w(0)} * x0 + ${w(1)} * x1 + ${w(2)} * x2 + ${w(3)} * x3)"
    f.selectExpr(
        s"case when $z >= $T62Thresh then cast(1 as bigint) else cast(0 as bigint) end as pred_keep",
        "case when y > 0 then cast(1 as bigint) else cast(0 as bigint) end as actual_keep",
        "x1 div 10 as n_tok")
      .groupBy("pred_keep", "actual_keep")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy("pred_keep", "actual_keep")
  }

  /** t63 — t62's scorer applied as the GATE it was trained to be
    * (round-13 brief #4: the trajectory was verified, the payoff was
    * prose): score every document with the epoch-6 weights and grade
    * the full agreement census against the distilled lexical-diversity
    * gate — the 2×2 confusion matrix in docs AND token mass, i.e. the
    * waterfall numbers a curator would see switching t58's quality
    * stage to the trained gate. The oracle rederives the weights
    * through t62Duck's own CTE chain, so "the weights t63 applies ARE
    * the weights t62 trained" is itself hash-checked.
    *
    * Scale: one partial-agg pass over the checkpointed feature frame;
    * the 4-long weight read is driver-side metadata (the model
    * artifact). Nothing here re-runs the distinct-count label at
    * score time — only the census grading needs y, and a deployment
    * gating arrivals drops that column. */
  def trainedGateApply(s: SparkSession, d: String): DataFrame =
    t63CensusOf(t62Features(s, d), t62FinalWeights(s, d))

  private[queries] def t63Duck: String = {
    val zOf = t62ZOf
    s"""${t62DuckCtes}
       |SELECT CASE WHEN $zOf >= $T62Thresh THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pred_keep,
       |  CASE WHEN y > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS actual_keep,
       |  COUNT(*) AS n_docs, CAST(SUM(x1 // 10) AS BIGINT) AS n_tokens
       |FROM f, w$T62Epochs w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Global token-budget selection: pick the best-scoring documents
    * until a corpus-wide token budget (half the total here) is filled —
    * the "train on the top half by quality" step of a curation pipeline.
    * Semantics: order docs by (score desc, doc_id asc) and keep the
    * longest prefix whose token sum fits the budget (the oracle states
    * exactly this as one global cumulative window).
    *
    * The naive plan — `sum(n_tok) over (order by score desc, doc_id)` on
    * the full corpus — funnels every row through ONE window task (the
    * t18 anti-pattern). Instead the prefix is found by histogram
    * drill-down, so every window in the plan runs over a BOUNDED frame:
    *   1. bucket docs by integer score (≤1001 rows — the score domain,
    *      not the corpus) and cumsum buckets by score desc: buckets
    *      wholly under budget are selected outright; exactly one
    *      straddles it;
    *   2. inside the straddling bucket, re-bucket by doc_id range and
    *      cumsum ranges the same way — RECURSIVELY: the range width is
    *      span/RangeWidth at each level (≤ RangeWidth+1 ranges per
    *      window), and the straddling range recurses until its doc_id
    *      span is ≤ RangeWidth, so a bucket of ANY size drills down in
    *      O(log_RangeWidth span) bounded-window levels;
    *   3. the exact per-row prefix window runs only over the final
    *      straddling range (≤ RangeWidth rows).
    * Selection joins are broadcast semi-joins against the tiny selected
    * bucket/range id lists, so the corpus is scanned, never re-sorted. */
  private[queries] val BudgetDen = 2L
  private[queries] val RangeWidth = 64L
  def tokenBudgetSelect(s: SparkSession, d: String): DataFrame = {
    // the drill-down's bounded-window plan shape is locked by PlanSpec's
    // t22 row; TokenBudgetSpec drives [[budgetPrefix]] itself with
    // adversarial frames
    val docs = documents(s, d)
      // single-file fixture input: spread the tokenize across the
      // cluster before the heavy map (no-op at real scale where the
      // corpus arrives in many splits)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), split(norm(col("text")), " ").as("ts"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tok"),
        size(array_distinct(col("ts"))).cast("long").as("n_distinct"))
      .withColumn("score", expr("n_distinct * 1000 div n_tok"))
      .select("doc_id", "score", "n_tok")
      .localCheckpoint()
    budgetPrefix(docs).orderBy("doc_id")
  }

  /** The drill-down prefix selection over a (doc_id, score, n_tok)
    * frame — split out so TokenBudgetSpec can drive it with adversarial
    * synthetic frames (score ties, budget landing exactly on a bucket
    * edge) and compare against the naive global-window reference. */
  private[queries] def budgetPrefix(docs: DataFrame): DataFrame = {
    val budget = docs.agg(expr(s"sum(n_tok) div $BudgetDen").as("budget"))
    val cumW = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val buckets = docs.groupBy("score").agg(sum(col("n_tok")).as("btok"))
      .withColumn("cum", sum(col("btok")).over(cumW))
      .withColumn("pre", col("cum") - col("btok"))
      .crossJoin(broadcast(budget))
    val fullBuckets = buckets.filter(col("cum") <= col("budget")).select("score")
    val straddle = buckets
      .filter(col("pre") <= col("budget") && col("budget") < col("cum"))
      .select(col("score"), (col("budget") - col("pre")).as("rem"))
    val selBuckets = docs.join(broadcast(fullBuckets), Seq("score"), "leftsemi")
    // recursive range drill-down inside the straddling bucket: `cur`
    // carries (doc_id, score, n_tok, rem) with rem constant across rows;
    // each level splits the current doc_id span into ≤ RangeWidth+1
    // ranges, selects the wholly-fitting prefix ranges, and recurses into
    // the one straddling range with the remaining budget. localCheckpoint
    // per level (t16's loop discipline): the frame shrinks by ~RangeWidth×
    // per level and no level re-executes its predecessors.
    var selected = selBuckets.select("doc_id", "score", "n_tok")
    // two views per level: curJoin keeps the broadcast join at the top of
    // the lineage (so the final tail window provably consumes a bounded
    // join output — the shape PlanSpec freezes), curCp is its checkpoint
    // (lineage truncated, so level k never re-executes levels 1..k-1;
    // consumers of curJoin recompute at most ONE join above a checkpoint)
    var curJoin = docs.join(broadcast(straddle), Seq("score"))
    var curCp = curJoin.localCheckpoint()
    val rngW = Window.orderBy(col("rng").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def spanOf(f: DataFrame): Long = {
      val b = f.agg(min("doc_id"), max("doc_id")).head()
      if (b.isNullAt(0)) 0L else b.getLong(1) - b.getLong(0) + 1L
    }
    var span = spanOf(curCp)
    while (span > RangeWidth) {
      // width = ceil(span / RangeWidth) → ≤ RangeWidth+1 ranges, and the
      // next level's span shrinks to ≤ width ≤ (span + RW - 1) / RW
      val w = (span + RangeWidth - 1L) / RangeWidth
      val bnd = curCp.withColumn("rng", expr(s"doc_id div $w"))
      val ranges = bnd.groupBy("rng", "rem").agg(sum(col("n_tok")).as("rtok"))
        .withColumn("cum", sum(col("rtok")).over(rngW))
        .withColumn("pre", col("cum") - col("rtok"))
      val fullRanges = ranges.filter(col("cum") <= col("rem")).select("rng")
      val straddleRange = ranges
        .filter(col("pre") <= col("rem") && col("rem") < col("cum"))
        .select(col("rng"), (col("rem") - col("pre")).as("rem"))
      selected = selected.unionAll(
        bnd.join(broadcast(fullRanges), Seq("rng"), "leftsemi")
          .select("doc_id", "score", "n_tok"))
      curJoin = bnd.drop("rem").join(broadcast(straddleRange), Seq("rng"))
        .select("doc_id", "score", "n_tok", "rem")
      curCp = curJoin.localCheckpoint()
      span = spanOf(curCp)
    }
    // exact per-row prefix over the final straddling range — ≤ RangeWidth
    // rows by the loop bound, so the unpartitioned window is constant-size
    val tailW = Window.orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val selTail = curJoin
      .withColumn("run", sum(col("n_tok")).over(tailW))
      .filter(col("run") <= col("rem"))
    selected.unionAll(selTail.select("doc_id", "score", "n_tok"))
  }

  /** Cross-source vocabulary overlap: pairwise Jaccard similarity of the
    * per-source token vocabularies — the corpus diagnostic that flags a
    * source as a near-mirror of another (crawl duplicates, re-hosted
    * dumps) before both are fed to training. Inverted-index shape: one
    * distinct (source, token) frame self-joined on token, so the shuffle
    * key is the token and a token contributes at most |sources|² pair
    * rows regardless of corpus size; vocabulary sizes broadcast. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val st = documents(s, d)
      .select(col("source"), explode(split(norm(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) >= 1)
      .distinct()
    val sizes = st.groupBy("source").agg(count(lit(1)).as("vsz"))
    val inter = st.select(col("source").as("source_a"), col("tok"))
      .join(st.select(col("source").as("source_b"), col("tok")), Seq("tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("vsz").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("vsz").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** PII scrubbing audit: redact emails / NANP phone numbers / IPv4
    * addresses and report per-document counts plus the md5 of the
    * scrubbed text. The fixture corpus carries no PII by construction,
    * so the operator PLANTS a deterministic contact line derived from
    * doc_id before scrubbing — every pattern class is exercised with
    * nonzero hits and the redaction output stays hash-comparable across
    * engines (documented in COVERAGE.md; PiiScrubSpec additionally
    * asserts the planted strings are gone from the scrubbed text).
    * Patterns use only syntax with identical semantics in Java regex and
    * RE2 (no lookaround, no backrefs). Map-only: one scan, no shuffle
    * except the presentation sort. */
  private[queries] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[queries] val PhoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
  private[queries] val IpRe =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  def piiScrub(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("planted", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com tel +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit("."), pmod(col("doc_id") * 7, lit(256L)).cast("string")))
      .withColumn("n_email", regexp_count(col("planted"), lit(EmailRe)).cast("int"))
      .withColumn("n_phone", regexp_count(col("planted"), lit(PhoneRe)).cast("int"))
      .withColumn("n_ip", regexp_count(col("planted"), lit(IpRe)).cast("int"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(regexp_replace(col("planted"),
          EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>"))
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
        (length(col("planted")) - length(col("scrubbed"))).cast("int").as("delta_chars"),
        md5(col("scrubbed")).as("scrub_md5"))
      .orderBy("doc_id")

  /** BPE-ish regex token count beside the whitespace count: the
    * merge-friendly pre-tokenizer split (contractions | words | number
    * runs | punctuation runs | spaces). */
  private val BpePattern = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"
  def bpeTokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        regexp_count(lower(col("text")), lit(BpePattern)).cast("int").as("n_bpe"),
        size(split(trim(col("text")), "\\s+")).as("n_ws"))
      .withColumn("tokens_per_word", col("n_bpe").cast("double") / col("n_ws"))
      .orderBy("doc_id")

  /** doc_id → distinct 60-bit ids of word n-grams of the normalized
    * text — the shared front end of the cross-doc gram operators (t25
    * boilerplate, t26 bloom decontamination; t19 builds the same frame
    * inline). Distinct per (doc, gram): these operators reason about
    * presence, not multiplicity.
    *
    * Materialized ONCE per (session, dir, n) — the lshNearDupPairs memo
    * convention. Four graded queries consume the 8-gram frame (t19, t26,
    * and t33's contamination arm via decontaminate) or the 3-gram frame
    * (t25), and each used to re-explode the corpus from raw text; the
    * memo IS the "persisted gram index reused across decontamination
    * runs" that a real deployment keeps as a table. persist(), not
    * localCheckpoint: MEMORY_AND_DISK spills the ~|docs|·len row frame
    * instead of OOMing, and its memo release unpersists it at teardown. */
  private val gramCache = Memos.memo[(String, Int), DataFrame]()

  private[queries] def wordGramIds(s: SparkSession, d: String, n: Int): DataFrame = {
    gramCache(s, (d, n)) {
      // cross-RUN artifact (ArtifactStore): a fresh JVM loads the
      // persisted gram table instead of re-tokenizing the corpus — the
      // end state the round-5 memo comment promised; the session memo
      // above still bounds it to one scan per (session, dir, n)
      val g = graft.sources.ArtifactStore.loadOrBuild(
        s, "gram_index", s"${graft.sources.ArtifactStore.key(d, "documents.parquet")}_n$n")(
        wordGramIdsUncached(s, d, n)).persist()
      g.count() // materialize eagerly so every consumer reads the cache
      g
    }
  }

  /** The one structural definition of "60-bit id per word n-gram
    * occurrence" over any (doc_id, text) frame — batch (wordGramIds)
    * and stream (s09) both key THROUGH this, so the window arithmetic,
    * slice width, and ≥n filter can never fork between them. Emits one
    * row per occurrence; callers that reason about presence add
    * distinct. */
  private[queries] def explodeGramIds(df: DataFrame, n: Int): DataFrame =
    df.select(col("doc_id"), split(norm(col("text")), " ").as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("doc_id"), col("ts"),
        explode(expr(s"sequence(1, size(ts) - ${n - 1})")).as("i"))
      .select(col("doc_id"),
        sid60(expr(s"array_join(slice(ts, i, $n), ' ')")).as("gid"))

  private def wordGramIdsUncached(s: SparkSession, d: String, n: Int): DataFrame =
    explodeGramIds(
      documents(s, d)
        // single-file fixture input: spread the ×len explode across the
        // cluster first (no-op at real scale where the corpus arrives in
        // many splits)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
      n)
      .distinct()

  /** Cross-document boilerplate: word 3-grams present in ≥5 DISTINCT
    * documents are template text (nav chrome, license headers, SEO
    * footers — the stuff RefinedWeb/CCNet-style curation strips before
    * training), and each source is scored by the share of its gram mass
    * that is boilerplate — the ranking a pipeline reads to decide which
    * sources need template-stripping. Complements t20 (repetition
    * WITHIN a doc) with repetition ACROSS docs.
    *
    * Scale: gram→doc counts are a partial (map-side) aggregation over
    * already-distinct (doc, gram) pairs; the ≥5-doc survivor set is
    * Zipf-tail-bounded (a tiny fraction of the gram universe — 151 of
    * ~130k at sf0.01) and broadcasts back for a map-side membership
    * join, so the corpus-wide gram stream shuffles once (the count),
    * never twice. If a pathological corpus outgrew the broadcast, drop
    * the hint and the same plan degrades to a shuffle semi-join. */
  def boilerplateShare(s: SparkSession, d: String): DataFrame = {
    val grams = wordGramIds(s, d, 3)
    val boiler = grams.groupBy("gid").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 5).select("gid")
    val perDoc = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val boilDoc = grams.join(broadcast(boiler), "gid")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    documents(s, d).select("doc_id", "source")
      .join(perDoc, Seq("doc_id"), "left")
      .join(boilDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_boiler"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_grams").as("sum_grams"),
        sum("n_boiler").as("sum_boiler"))
      .withColumn("boiler_share",
        round(col("sum_boiler").cast("double") / col("sum_grams").cast("double"), 6))
      .orderBy("source")
  }

  /** Benchmark decontamination with a bloom prefilter — the 100 TB
    * shape of t19. The benchmark gram set is aggregated into Spark's
    * own bloom sketch (BloomFilterAggregate, the expression behind AQE
    * runtime join filtering), shipped to every task as a 16 KiB
    * constant, and probed by a codegen'd `bloom_contains` BEFORE any
    * join: at real scale the probe discards ~all of the corpus gram
    * stream map-side, so the only rows that reach the exact
    * confirmation join are the sketch's true + false positives. The
    * exact broadcast join then removes the false positives — the
    * output is exact (blooms have no false NEGATIVES), which is what
    * makes it oracle-checkable. Output: per-source clean/contaminated
    * counts, the summary a removal queue reports. */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    graft.functions.BloomExpressions.register(s)
    val grams = wordGramIds(s, d, 8)
    val bench = grams.filter(col("doc_id") < 50).select("gid").distinct()
    // materialize the sketch once on the driver (~16 KiB — the same
    // build-then-rebroadcast shape Spark's own runtime bloom filter
    // uses); an empty benchmark yields a NULL sketch → nothing flagged
    val sketch: Option[Array[Byte]] = Option(
      bench.agg(graft.functions.BloomExpressions
        .bloomAgg(col("gid"), lit(100000L), lit(131072L)).as("bf"))
        .head().get(0)).map(_.asInstanceOf[Array[Byte]])
    val corp = grams.filter(col("doc_id") >= 50)
    val contaminated = sketch match {
      case Some(b) =>
        corp.filter(graft.functions.BloomExpressions.bloomContains(lit(b), col("gid")))
          .join(broadcast(bench), "gid")
          .select("doc_id").distinct()
      case None => corp.select("doc_id").limit(0)
    }
    documents(s, d).filter(col("doc_id") >= 50)
      .select("doc_id", "source")
      .join(broadcast(contaminated.withColumn("hit", lit(1))), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_corpus"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
      .withColumn("n_clean", col("n_corpus") - col("n_contaminated"))
      .orderBy("source")
  }

  /** Char-trigram familiarity — the CCNet/KenLM perplexity-filter shape
    * with an integer-exact model: the corpus itself is the language
    * model (trigram → occurrence count), each document scores the mean
    * model count of its trigrams, and the 25 LEAST familiar documents
    * surface as the gibberish/mojibake review queue. Rare-trigram text
    * (wrong charset, binary spill, keyboard mash) scores low even when
    * t07's punctuation ratios look clean.
    *
    * Scale: the model is bounded by the charset cube (≤ ~50k rows for
    * [a-z0-9 ]) regardless of corpus size — it always broadcasts; the
    * per-occurrence gram stream is map-joined against it and partially
    * aggregated per doc, so the only shuffles are the model build and
    * the |docs|-row final agg. The bottom-25 plans as
    * TakeOrderedAndProject (per-partition heaps), never a global sort.
    * Score = one division of two exact BIGINTs, rounded once. */
  def charTrigramFamiliarity(s: SparkSession, d: String): DataFrame = {
    def tri = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), norm(col("text")).as("nrm"))
      .filter(length(col("nrm")) >= 3)
      .select(col("doc_id"), col("nrm"),
        explode(expr("sequence(1, length(nrm) - 2)")).as("i"))
      .select(col("doc_id"), expr("substring(nrm, i, 3)").as("g"))
    // the trigram MODEL is charset³-bounded (≤ ~47k rows), so it
    // broadcasts against the probe side
    val model = tri.groupBy("g").agg(count(lit(1)).as("c"))
    tri.join(broadcast(model), "g")
      .groupBy("doc_id")
      .agg(sum("c").as("sum_c"), count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("n_grams"),
        round(col("sum_c").cast("double") / col("n_grams").cast("double"), 6)
          .as("familiarity"))
      .orderBy(col("familiarity").asc, col("doc_id").asc)
      .limit(25)
  }

  /** Word-bigram language-model score — the KenLM/CCNet perplexity
    * filter as a real CONDITIONAL model (t27 scores raw trigram
    * occurrence counts; this scores P(wᵢ | wᵢ₋₁) with add-one
    * smoothing). The corpus trains the model — bigram counts c(w₁,w₂),
    * context counts c(w₁) = bigram occurrences starting at w₁, and
    * vocabulary size V — and each document reports the mean smoothed
    * log-probability of its own bigrams; low scores are the
    * gibberish/boilerplate tail a perplexity filter cuts.
    *
    * Float discipline: p = (c+1)/(c(w₁)+V) is ONE double division of
    * exact BIGINTs (IEEE-identical in both engines), and ln(p) is
    * quantized FLOOR(·1e6) → BIGINT BEFORE the per-doc SUM, so
    * aggregation order can never drift the hash (the v03 pattern).
    *
    * Scale: bigram extraction is map-only (a transform over the token
    * array — no posexplode + per-doc window) and memoized per
    * (session, dir) like [[wordGramIds]] (three consumers — two model
    * aggregates and the probe side — must not re-parse the corpus; a
    * real deployment keeps the LM count table persisted across runs).
    * The model is corpus-scale, so it is assembled model-side — c₂⋈c₁
    * joins |distinct bigrams| rows, and ln(p) is quantized there, per
    * bigram TYPE, not per occurrence — and the probe path is ONE keyed
    * join on (w₁,w₂), deliberately NEVER broadcast, unlike t27's
    * charset³-bounded trigram frame (a word-bigram vocabulary grows
    * with the corpus: ~10⁹ distinct bigrams at 100 TB; AQE may still
    * convert at small scale, the t32 discipline); V is a 1-row scalar
    * aggregate crossJoined back (t18's convention); the per-doc mean
    * partial-aggregates map-side. */
  private val bigramCache = Memos.memo[String, DataFrame]()

  private def wordBigrams(s: SparkSession, d: String): DataFrame = {
    bigramCache(s, d) {
      val g = graft.sources.ArtifactStore.loadOrBuild(
        s, "bigram_index", graft.sources.ArtifactStore.key(d, "documents.parquet"))(
        documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), split(norm(col("text")), " ").as("ts"))
          .filter(size(col("ts")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(ts) - 1), " +
              "i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"))
            .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
        .persist()
      g.count() // materialize eagerly so every consumer reads the cache
      g
    }
  }

  /** The trained model (w₁, w₂) → quantized ln p(w₂|w₁) — memoized per
    * (session, dir): this is THE artifact an LM-perplexity filter
    * persists and ships (KenLM's binarized counts); training runs once,
    * scoring passes only pay the probe join. */
  private val lmModelCache = Memos.memo[String, DataFrame]()

  private def bigramLmModel(s: SparkSession, d: String): DataFrame = {
    lmModelCache(s, d) {
      val bg = wordBigrams(s, d)
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      val c1 = bg.groupBy("w1").agg(count(lit(1)).as("cc"))
      val v = documents(s, d)
        .select(explode(split(norm(col("text")), " ")).as("tok"))
        .filter(length(col("tok")) >= 1)
        .agg(countDistinct(col("tok")).as("vs"))
      val m = c2.join(c1, Seq("w1")).crossJoin(broadcast(v))
        .select(col("w1"), col("w2"),
          floor(log((col("c") + 1).cast("double") / (col("cc") + col("vs")).cast("double"))
            * lit(1e6)).cast("long").as("q"))
        .persist()
      m.count() // materialize eagerly so every consumer reads the cache
      m
    }
  }

  def bigramLmScore(s: SparkSession, d: String): DataFrame = {
    val bg = wordBigrams(s, d)
    bg.join(bigramLmModel(s, d), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sq"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sq").cast("double") / col("n_bigrams").cast("double") / lit(1e6), 6)
          .as("avg_logp"))
      .orderBy("doc_id")
  }

  /** BPE merge candidates — the tokenizer-TRAINING inner step (t18
    * counts whole tokens, t10 applies a fixed split; this computes the
    * statistic the trainer's next merge decision reads): adjacent
    * character-pair frequencies over the word vocabulary, weighted by
    * word occurrence count, ranked — the top pair IS the next BPE merge,
    * and ties break deterministically on the pair string.
    *
    * Scale: the ONLY corpus-scale operation is the word-count aggregate
    * (map-side partial to \|vocab\| rows — the t18 shape); the pair
    * explode runs over the VOCAB frame (×word-length, still vocab-scale),
    * so a 100 TB corpus pays one token aggregation and the whole merge
    * loop then iterates on metadata. Top-20 is orderBy+limit
    * (TakeOrderedAndProject) and only those 20 rows meet the rank
    * window — t18's bounded-window discipline. Counts are exact BIGINTs
    * throughout; no float anywhere. */
  def bpeMergeCandidates(s: SparkSession, d: String): DataFrame = {
    val vocab = documents(s, d)
      .select(explode(split(norm(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("f"))
    val pairs = vocab
      .select(col("tok"), col("f"),
        explode(expr("sequence(1, length(tok) - 1)")).as("i"))
      .select(expr("substring(tok, i, 2)").as("pair"), col("f"))
      .groupBy("pair").agg(sum(col("f")).as("n"))
    val top = pairs.orderBy(col("n").desc, col("pair").asc).limit(20)
    val w = Window.orderBy(col("n").desc, col("pair").asc)
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select("rk", "pair", "n")
      .orderBy("rk")
  }

  /** t57 — the BPE TRAINER LOOP t39 computes one statistic of: three
    * full rounds of count-pairs → pick-best-merge → apply-merge over
    * the word vocabulary, with multi-character symbols emerging after
    * round 1 (t39's single round can only see character pairs). Emits
    * per round the chosen merge, its weighted frequency, and the
    * corpus-wide symbol count after application — the compression
    * trajectory a tokenizer trainer monitors.
    *
    * Contract notes: ties break on the pair string (total order);
    * merge application is ONE left-to-right non-overlapping
    * space-delimited replace pass per round — identical semantics in
    * Spark and DuckDB (both scan forward consuming the shared
    * boundary space), so back-to-back occurrences of the best pair
    * merge alternately within a word. That quirk is FROZEN by the
    * oracle (the g02 truncation-collision discipline): what matters is
    * that engine and oracle agree edit-for-edit, and real vocabularies
    * hit it rarely.
    *
    * Scale: the ONLY corpus-scale operation is the word-count
    * aggregate (t39's shape, map-side partial to |vocab| rows); the
    * trainer loop then iterates on the vocab frame — pair explode is
    * vocab×word-length, each round's best merge is a 1-row driver
    * collect (TakeOrderedAndProject), and the re-split vocab
    * localCheckpoints per round (a driver-action loop — the t16 rule
    * applies, unlike the single-action graph loops). */
  def bpeTrainRounds(s: SparkSession, d: String): DataFrame = {
    val vocab = documents(s, d)
      .select(explode(split(norm(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .withColumn("sym", trim(regexp_replace(col("tok"), "(.)", "$1 ")))
    bpeTrainCore(s, vocab)
  }

  /** Core on an explicit (f, sym) vocab frame — factored for
    * BpeMergeSpec's hand-computable planted vocabulary. */
  private[queries] def bpeTrainCore(s: SparkSession, vocabIn: DataFrame): DataFrame = {
    import s.implicits._
    var vocab = vocabIn.localCheckpoint()
    val rows = Seq.newBuilder[(Int, String, String, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= 3 && !exhausted) {
      val pairs = vocab
        .select(col("f"), split(col("sym"), " ").as("a"))
        // a fully-merged single-symbol word contributes no pairs (and
        // Spark's sequence(1, 0) would throw where DuckDB's returns [])
        .filter(size(col("a")) >= 2)
        .select(col("f"), col("a"),
          explode(expr("sequence(1, size(a) - 1)")).as("i"))
        .select(concat(element_at(col("a"), col("i")), lit(" "),
          element_at(col("a"), col("i") + 1)).as("pair"), col("f"))
        .groupBy("pair").agg(sum(col("f")).as("n"))
      val bestArr = pairs.orderBy(col("n").desc, col("pair").asc).limit(1)
        .collect()
      if (bestArr.isEmpty) { exhausted = true } // every word fully merged
      else {
      val best = bestArr.head
      val (bp, bn) = (best.getString(0), best.getLong(1))
      val merged = bp.replace(" ", "")
      // symbols are [a-z0-9] post-norm: safe to inline in the expression
      vocab = vocab.withColumn("sym",
          expr(s"trim(replace(' ' || sym || ' ', ' $bp ', ' $merged '))"))
        .localCheckpoint()
      val symAfter = vocab
        .agg(sum(col("f") * size(split(col("sym"), " ")).cast("long")))
        .collect().head.getLong(0)
      rows += ((r, bp, merged, bn, symAfter))
      }
      r += 1
    }
    rows.result()
      .toDF("round", "pair", "merged", "n_pair", "corpus_symbols_after")
      .orderBy("round")
  }

  /** The trainer's CTE chain (v0 → b1/v1 → b2/v2 → b3/v3), shared by
    * t57's readout and t64's encoder oracle — composing the SAME chain
    * in both cross-locks "the merges t64 applies ARE the merges t57
    * trained" (the t62→t63 oracle pattern). */
  private val BpeCtesDuck: String = {
    def round(r: Int): String = {
      val prev = s"v${r - 1}"
      s"""p$r AS (SELECT l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1] AS pair, f FROM (
         |    SELECT f, string_split(sym, ' ') AS l,
         |      unnest(generate_series(1, len(string_split(sym, ' ')) - 1)) AS i
         |    FROM $prev)),
         |g$r AS (SELECT pair, CAST(SUM(f) AS BIGINT) AS n FROM p$r GROUP BY pair),
         |b$r AS (SELECT pair, replace(pair, ' ', '') AS merged, n FROM g$r
         |        ORDER BY n DESC, pair LIMIT 1),
         |v$r AS (SELECT $prev.f, trim(replace(' ' || $prev.sym || ' ',
         |    ' ' || b$r.pair || ' ', ' ' || b$r.merged || ' ')) AS sym
         |  FROM $prev, b$r)""".stripMargin
    }
    s"""toks AS (SELECT unnest(string_split($NormSqlDuck, ' ')) AS tok
       |  FROM documents),
       |v0 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f,
       |    trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS sym
       |  FROM toks WHERE length(tok) >= 2 GROUP BY tok),
       |${round(1)},
       |${round(2)},
       |${round(3)}""".stripMargin
  }

  private val BpeTrainDuck: String = {
    s"""WITH $BpeCtesDuck
       |SELECT 1 AS round, b1.pair, b1.merged, b1.n AS n_pair,
       |  (SELECT CAST(SUM(f * len(string_split(sym, ' '))) AS BIGINT) FROM v1)
       |    AS corpus_symbols_after FROM b1
       |UNION ALL SELECT 2, b2.pair, b2.merged, b2.n,
       |  (SELECT CAST(SUM(f * len(string_split(sym, ' '))) AS BIGINT) FROM v2) FROM b2
       |UNION ALL SELECT 3, b3.pair, b3.merged, b3.n,
       |  (SELECT CAST(SUM(f * len(string_split(sym, ' '))) AS BIGINT) FROM v3) FROM b3
       |ORDER BY 1""".stripMargin
  }

  /** t57's trained merge table, collected to the driver and memoized
    * per (session, dir) — the t62FinalWeights convention: the merge
    * list is MODEL STATE (vocab-bounded; here 3 rows), trained once per
    * corpus snapshot and then a pure constant of every encode pass. */
  private val bpeMergesCache = Memos.memo[String, Seq[(String, String)]]()

  private[queries] def trainedBpeMerges(s: SparkSession, d: String): Seq[(String, String)] = {
    bpeMergesCache(s, d) {
      val m = bpeTrainRounds(s, d).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // the oracle cross-joins b1..b3 (1 row each), so an exhausted
      // trainer round would zero it — fail loudly instead of diverging
      require(m.size == 3, s"expected 3 trained merges, got ${m.size}")
      m
    }
  }

  /** Per-doc token census under a given merge table: each word is
    * char-split then every merge applies IN TRAINING ORDER via the
    * exact iterated space-delimited replace t57 froze (left-to-right,
    * non-overlapping, shared-boundary-space consuming — back-to-back
    * pair occurrences merge alternately). Factored so BpeEncodeSpec can
    * pin a hand-traced encoding, including a fully-merged word and the
    * alternating quirk. Returns (doc_id, source, n_words, n_tok). */
  private[queries] def bpeEncodeOn(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    // symbols are [a-z0-9] post-norm; the merged form must be the
    // pair's concatenation or the replace chain is not a BPE encode
    require(merges.forall { case (p, m) =>
      p.matches("[a-z0-9]+ [a-z0-9]+") && m == p.replace(" ", "") },
      s"merge table must be space-delimited pairs -> concatenation: $merges")
    val sym = merges.foldLeft(trim(regexp_replace(col("tok"), "(.)", "$1 "))) {
      case (e, (p, m)) =>
        trim(replace(concat(lit(" "), e, lit(" ")), lit(s" $p "), lit(s" $m ")))
    }
    docs
      .select(col("doc_id"), col("source"),
        explode(split(norm(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) >= 1) // an all-punct doc norms to ""
      .select(col("doc_id"), col("source"),
        size(split(sym, " ")).cast("long").as("n_sym"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_tok"))
  }

  /** t64 — ENCODE the corpus with t57's TRAINED merge table, closing
    * the trainer→encoder loop (t57 trains 3 merge rounds; t10's token
    * count is BPE-ish but never applies a trained table). Graded as the
    * per-source census over the per-doc encoding: doc and word counts,
    * total trained-BPE tokens, a doc-sensitive checksum (Σ doc_id ·
    * n_tok — any single doc's count drifting flips it), and the max
    * single-doc count. The oracle composes t57's own CTE chain to
    * re-derive the merges (the t62→t63 cross-lock), so "the merges
    * applied ARE the merges trained" is part of the hash grade.
    *
    * Scale: the merge table is vocab-bounded driver state (3 rows here;
    * a production vocab's merge list broadcasts); the encode is ONE map
    * pass over the corpus — char-split + |merges| codegen'd replaces
    * per word, no join — and the census is one keyed partial agg. */
  def bpeEncodeCensus(s: SparkSession, d: String): DataFrame =
    bpeEncodeOn(documents(s, d), trainedBpeMerges(s, d))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_tok").as("n_tokens"),
        sum(col("doc_id") * col("n_tok")).as("doc_tok_checksum"),
        max("n_tok").as("max_doc_tokens"))
      .orderBy("source")

  /** The trainer chain + per-doc encode census (doc_id, source,
    * n_words, n_tok) — shared by t64's per-source census and t66's
    * fertility readout. */
  private val BpePerDocCtesDuck: String = {
    val sym = (1 to 3).foldLeft("trim(regexp_replace(tok, '(.)', '\\1 ', 'g'))") {
      case (e, r) =>
        s"trim(replace(' ' || $e || ' ', ' ' || b$r.pair || ' ', ' ' || b$r.merged || ' '))"
    }
    s"""$BpeCtesDuck,
       |dtoks AS (SELECT doc_id, source,
       |    unnest(string_split($NormSqlDuck, ' ')) AS tok FROM documents),
       |enc AS (SELECT doc_id, source,
       |    CAST(len(string_split($sym, ' ')) AS BIGINT) AS n_sym
       |  FROM dtoks, b1, b2, b3 WHERE length(tok) >= 1),
       |perdoc AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(n_sym) AS BIGINT) AS n_tok
       |  FROM enc GROUP BY doc_id, source)""".stripMargin
  }

  private[queries] val BpeEncodeDuck: String = {
    s"""WITH $BpePerDocCtesDuck
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(doc_id * n_tok) AS BIGINT) AS doc_tok_checksum,
       |  CAST(MAX(n_tok) AS BIGINT) AS max_doc_tokens
       |FROM perdoc GROUP BY source ORDER BY source""".stripMargin
  }

  /** t66 — TOKENIZER FERTILITY under the trained table: tokens-per-word
    * and chars-per-token per (lang, source) cell — the standard metric
    * a tokenizer evaluation reads per language/domain before committing
    * a vocab (high fertility on a language = the merge table
    * under-serves it; here every doc is keyword soup so the cells are
    * flat, but the MEASUREMENT plumbing is the graded object). Exact
    * integer permille ratios — no float division near the hash.
    *
    * Scale: t64's one encode pass re-aggregated by (lang, source) —
    * the per-doc frame joins documents' (lang, n_chars) KEYED on
    * doc_id (both corpus-scale, the t32 no-forced-broadcast rule), and
    * everything after the join is a ≤|langs·sources|-row partial agg. */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame =
    bpeEncodeOn(documents(s, d), trainedBpeMerges(s, d))
      .join(documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_tok").as("n_tokens"),
        sum("n_chars").as("n_chars"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_words"),
        col("n_tokens"),
        expr("n_tokens * 1000 div n_words").as("fertility_permille"),
        expr("n_chars * 1000 div n_tokens").as("chars_per_token_permille"))
      .orderBy("lang", "source")

  private val TokenizerFertilityDuck: String =
    s"""WITH $BpePerDocCtesDuck
       |SELECT d.lang, p.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(p.n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(p.n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(p.n_tok) * 1000 // SUM(p.n_words) AS BIGINT) AS fertility_permille,
       |  CAST(SUM(d.n_chars) * 1000 // SUM(p.n_tok) AS BIGINT) AS chars_per_token_permille
       |FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
       |GROUP BY d.lang, p.source ORDER BY d.lang, p.source""".stripMargin

  /** Novelty against a previous corpus snapshot — the dedup-across-dumps
    * step (each new CommonCrawl-style dump scored against everything
    * already ingested): documents of the NEW half (doc_id ≥ 250) report
    * how many of their distinct 8-grams already exist anywhere in the
    * OLD half (doc_id < 250) and the novelty share a pipeline thresholds
    * on before paying full processing for a re-crawl.
    *
    * Scale: the inverse of t19's shape — there the benchmark side is
    * suite-bounded and broadcasts; HERE the history side is the
    * accumulated corpus (grows without bound), so the seen-gram set
    * stays a KEYED left join on the 60-bit gid — broadcasting it is the
    * 100 TB mistake. Both sides read the shared memoized gram index;
    * novelty = one division of two exact BIGINTs, rounded once. */
  def noveltyVsSnapshot(s: SparkSession, d: String): DataFrame = {
    val grams = wordGramIds(s, d, 8)
    val seen = grams.filter(col("doc_id") < 250).select("gid").distinct()
      .withColumn("hit", lit(1L))
    grams.filter(col("doc_id") >= 250)
      .join(seen, Seq("gid"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        round((col("n_grams") - col("n_seen")).cast("double")
          / col("n_grams").cast("double"), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** Per-source quality-distribution drift (PSI): each document lands
    * in an alpha-ratio decile bucket (t07's score), and each source's
    * bucket mix is compared against the CORPUS mix with the population
    * stability index Σ (pₛ−q)·ln(pₛ/q) — the drift alarm a curation
    * pipeline monitors per source/crawl snapshot: PSI ≈ 0 means the
    * source matches the corpus quality profile, large PSI means its mix
    * shifted (conventionally >0.25 = act). Cells where the source has
    * no docs are skipped (pₛ = 0 contributes nothing countable), so the
    * reported value is the observed-cell PSI; every kept term is ≥ 0 by
    * sign agreement, so psi ≥ 0 always.
    *
    * Float discipline: pₛ−q = (n_sb·n − n_s·n_b)/(n_s·n) has an exact
    * BIGINT numerator/denominator; ln(pₛ/q) = ln((n_sb·n)/(n_s·n_b))
    * is one double ln of a ratio of exact BIGINT products, quantized
    * FLOOR(·1e6) → BIGINT; each term is then one double divide + one
    * multiply + FLOOR → BIGINT, summed exactly (the v03 pattern —
    * aggregation order can never drift the hash).
    *
    * Scale: ONE corpus scan produces the (source, bucket) counts
    * (map-side partial agg); n_s / n_b / n all derive from that
    * ≤ \|sources\|×10-row frame, so every join below the first agg is
    * metadata-scale at any corpus size. */
  def sourceQualityDrift(s: SparkSession, d: String): DataFrame = {
    val sb = documents(s, d)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_digit",
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).cast("long"))
      .withColumn("n_punct",
        (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("long"))
      .withColumn("n_spaces",
        (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long"))
      // empty docs carry no quality signal and their 0/0 ratio is NaN —
      // which Spark's long cast folds to bucket 0 but DuckDB's BIGINT
      // cast rejects; excluding them keeps both engines identical
      .filter(col("n_chars") > 0)
      .withColumn("alpha_ratio",
        (col("n_chars") - col("n_digit") - col("n_punct") - col("n_spaces")).cast("double")
          / col("n_chars"))
      .select(col("source"),
        least(floor(col("alpha_ratio") * 10).cast("long"), lit(9L)).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("n_sb"))
      // four consumers (sb/ns/nb/n) — materialize the ≤|sources|×10-row
      // frame so the corpus scan runs exactly once (exchange reuse alone
      // leaves repeated scans in the executed plan)
      .localCheckpoint()
    val ns = sb.groupBy("source").agg(sum(col("n_sb")).as("n_s"))
    val nb = sb.groupBy("b").agg(sum(col("n_sb")).as("n_b"))
    val n = sb.agg(sum(col("n_sb")).as("n"))
    sb.join(ns, "source").join(nb, "b").crossJoin(broadcast(n))
      .withColumn("lnq",
        floor(log((col("n_sb") * col("n")).cast("double")
          / (col("n_s") * col("n_b")).cast("double")) * lit(1e6)).cast("long"))
      .withColumn("q",
        floor((col("n_sb") * col("n") - col("n_s") * col("n_b")).cast("double")
          / (col("n_s") * col("n")).cast("double") * col("lnq")).cast("long"))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_docs"),
        count(lit(1)).as("n_buckets"),
        round(sum(col("q")).cast("double") / lit(1e6), 6).as("psi"))
      .orderBy("source")
  }

  /** Gopher-style filter census: each document is judged against three
    * repetition/shape rules and each source reports how many docs each
    * rule rejects — the observability table a curation pipeline reads
    * before committing a filter config (which rule bites, where, how
    * hard), distinct from t14 which APPLIES a filter set. Rules (Gopher
    * §A1.1 shapes, thresholds adapted to the fixture):
    *   len:  30 ≤ word count ≤ 100 000
    *   mwl:  mean word length in [3, 10]
    *   dup:  duplicate-token fraction < 0.6
    * Every threshold compares via integer cross-multiplication (e.g.
    * 3·n_tok ≤ n_alpha ≤ 10·n_tok), so there is NO float anywhere — the
    * census is bit-identical in any engine and under any partitioning.
    * Scale: one scan, per-row maps, one |sources|-row partial agg. */
  def filterCensus(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("source"), norm(col("text")).as("nrm"))
      .withColumn("ts", split(col("nrm"), " "))
      .withColumn("n_tok", size(col("ts")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("ts"))).cast("long"))
      // chars inside words = normalized length minus the separator spaces
      .withColumn("n_alpha", (length(col("nrm")) - (col("n_tok") - 1)).cast("long"))
      .withColumn("f_len", col("n_tok") < 30 || col("n_tok") > 100000L)
      .withColumn("f_mwl",
        col("n_alpha") < col("n_tok") * 3 || col("n_alpha") > col("n_tok") * 10)
      .withColumn("f_dup", (col("n_tok") - col("n_distinct")) * 10 >= col("n_tok") * 6)
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("f_len"), 1L).otherwise(0L)).as("n_fail_len"),
        sum(when(col("f_mwl"), 1L).otherwise(0L)).as("n_fail_mwl"),
        sum(when(col("f_dup"), 1L).otherwise(0L)).as("n_fail_dup"),
        sum(when(!col("f_len") && !col("f_mwl") && !col("f_dup"), 1L)
          .otherwise(0L)).as("n_pass"))
      .orderBy("source")
  }

  /** Per-language length-band quality gate: keep documents whose n_chars
    * falls inside the language's [P10, P90] rank band — the robust
    * "drop the truncation stubs and the concatenation monsters" filter
    * every curation pipeline applies per language (length distributions
    * differ wildly across languages, so one global band over-prunes).
    * The thresholds come from a cumulated HISTOGRAM — groupBy(lang,
    * n_chars) is bounded by the length domain, and the cumulative window
    * runs over that small frame, never a per-document global sort (the
    * t18 anti-pattern). Rank semantics are integer-exact: P10 = smallest
    * length with cum·10 ≥ n_total, P90 = smallest with cum·10 ≥ 9·n_total.
    * Thresholds broadcast back onto a second corpus scan; at 100 TB this
    * is two scans, zero wide sorts, and the band join is |langs| rows. */
  def lengthBandFilter(s: SparkSession, d: String): DataFrame = {
    val hist = documents(s, d)
      .groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
    val tot = hist.groupBy("lang").agg(sum("c").as("n_total"))
    val w = Window.partitionBy("lang").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(tot), "lang")
    val lo = cum.filter(col("cum") * 10 >= col("n_total"))
      .groupBy("lang").agg(min("n_chars").as("lo"))
    val hi = cum.filter(col("cum") * 10 >= col("n_total") * 9)
      .groupBy("lang").agg(min("n_chars").as("hi"))
    val thr = lo.join(hi, "lang").join(tot, "lang")
    documents(s, d).join(broadcast(thr), "lang")
      .filter(col("n_chars").between(col("lo"), col("hi")))
      .groupBy(col("lang"), col("lo"), col("hi"), col("n_total"))
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("kept_chars"))
      .orderBy("lang")
  }

  /** Duplicate-passage extents — the exact-substring dedup diagnostic
    * (the "dedup at passage granularity, not document granularity" shape
    * from the training-data dedup literature), re-expressed relationally:
    * an 8-token gram shared by ≥2 documents marks a duplicated position;
    * overlapping or adjacent duplicated positions (gap ≤ 8 = coverage
    * touches) merge into maximal extents via gaps-and-islands, and each
    * document reports its duplicated-token mass. Unlike t19/t26
    * (presence flags) this keeps POSITIONS — the output says which spans
    * to cut, not just which docs are dirty.
    * Scale: positioned grams shuffle once on gid for the ≥2-doc count
    * (map-side partial over per-doc-distinct pairs); the survivor join
    * stays KEYED — no broadcast assumption, because at 100 TB the
    * duplicated-gram set is itself huge; the islands window partitions
    * per doc_id over duplicated positions only (bounded by doc length). */
  /** Positioned 8-gram frame (doc_id, n_tok, i, gid) — t30's input,
    * memoized per (session, dir) like [[wordGramIds]]: consumed twice
    * per run (the ≥2-doc count and the survivor join) and across runs,
    * it is the materialized POSITIONED gram table a real deployment
    * persists next to the presence-only index. */
  private val posGramCache = Memos.memo[(String, Int), DataFrame]()

  private def positionedGrams(s: SparkSession, d: String, n: Int): DataFrame = {
    posGramCache(s, (d, n)) {
      val g = graft.sources.ArtifactStore.loadOrBuild(
        s, "pos_gram_index", s"${graft.sources.ArtifactStore.key(d, "documents.parquet")}_n$n")(
        documents(s, d)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), split(norm(col("text")), " ").as("ts"))
          .filter(size(col("ts")) >= n)
          .select(col("doc_id"), size(col("ts")).cast("long").as("n_tok"), col("ts"),
            explode(expr(s"sequence(1, size(ts) - ${n - 1})")).as("i"))
          .select(col("doc_id"), col("n_tok"), col("i"),
            sid60(expr(s"array_join(slice(ts, i, $n), ' ')")).as("gid")))
        .persist()
      g.count() // materialize eagerly so every consumer reads the cache
      g
    }
  }

  def dupPassageExtents(s: SparkSession, d: String): DataFrame = {
    val n = 8
    val pos = positionedGrams(s, d, n)
    val shared = pos.select("gid", "doc_id").distinct()
      .groupBy("gid").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("gid")
    val w = Window.partitionBy("doc_id").orderBy("i")
    pos.join(shared, "gid")
      .withColumn("prev", lag(col("i"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("i") - col("prev") > n, 1L).otherwise(0L))
      .withColumn("ext",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("n_tok"), col("ext"))
      .agg((max(col("i")) - min(col("i")) + n).as("ext_len"))
      .groupBy("doc_id", "n_tok")
      .agg(count(lit(1)).as("n_extents"), sum("ext_len").as("dup_tokens"))
      .select(col("doc_id"), col("n_tok"), col("n_extents"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tok").cast("double"), 6)
          .as("dup_share"))
      .orderBy("doc_id")
  }

  /** Lexical-diversity census per source: token/type counts, hapax and
    * dis legomena, and type-token ratio — the data-quality diagnostic
    * that flags template-generated or bot-duplicated sources (low TTR,
    * thin hapax mass) before they skew vocabulary (t18) or mixture
    * (t17) decisions, and the input to Heaps-law capacity planning for
    * tokenizer training. All counts integer; one final rounded division.
    * Scale: tokens partial-agg map-side to (source, tok, n) — shuffle
    * volume is |sources|×|vocab|, not corpus tokens — then a per-source
    * rollup. Two keyed aggregations; no window, no join. */
  def lexicalDiversity(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("source"), explode(split(norm(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) >= 1)
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum("n").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("n") === 2, 1L).otherwise(0L)).as("n_dis"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"), col("n_dis"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"))
      .orderBy("source")

  /** The fixed probe-term set for the retrieval queries (t48/t49): two
    * common tokens plus the one rare token in the fixture vocabulary
    * (`dup`, df≈25/500), so idf actually separates the ranking. */
  private[queries] val QueryTerms = Seq("spark", "query", "dup")
  private[queries] val QueryTermsSqlDuck = QueryTerms.map(t => s"'$t'").mkString(", ")

  /** TF-IDF ranked retrieval for a fixed probe-term set — the ad-hoc
    * "which docs match this query" lookup a curation/review UI issues
    * against the corpus. idf = ln(N/df) is floor-quantized to a 1e-6
    * BIGINT grid (t36/t45's discipline), tf·idf accumulates in exact
    * BIGINT under any combine tree, and the headline score is one final
    * rounded division — hash-identical across engines.
    *
    * Scale: the token explode is filtered to the probe terms BEFORE any
    * shuffle — the semi-join a real inverted index answers with a
    * posting-list probe; without the index the filter still means
    * shuffle volume is |matching doc-term rows|, never corpus tokens.
    * df/idf is a |terms|-row broadcast frame; the top-20 selection plans
    * as TakeOrderedAndProject (per-partition heaps, no global sort), so
    * the ranking never funnels the corpus through one task. */
  def tfidfTopk(s: SparkSession, d: String): DataFrame = {
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val tf = probePostings(s, d)
    val idf = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok"),
        floor(log(col("n_docs").cast("double") / col("df").cast("double")) * 1e6)
          .cast("long").as("idfq"))
    tf.join(broadcast(idf), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tf") * col("idfq")).as("scoreq"))
      .orderBy(col("scoreq").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_terms"),
        round(col("scoreq").cast("double") / 1e6, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** The frozen idf model (tok, idfq) for the probe-term set — trained
    * batch-side from the corpus snapshot; s14 broadcasts it into the
    * ingest stream (models train offline, score online). */
  private[queries] def tfidfIdf(s: SparkSession, d: String): DataFrame = {
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    probePostings(s, d)
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok"),
        floor(log(col("n_docs").cast("double") / col("df").cast("double")) * 1e6)
          .cast("long").as("idfq"))
  }

  /** Per-doc TF-IDF scoring of any (doc_id, text) frame against a given
    * idf model — t48's scoring stage, shared with the in-stream scorer
    * (s14): one probe-filtered explode, one keyed tf aggregation, the
    * broadcast model join, exact BIGINT accumulation. */
  private[queries] def tfidfScore(docs: DataFrame, idf: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(norm(col("text")), " ")).as("tok"))
      .filter(col("tok").isin(QueryTerms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .join(broadcast(idf), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("tf") * col("idfq")).as("scoreq"))

  /** BM25 (k1=1.2, b=0.75) over the same probe-term set — the ranking
    * function an actual retrieval layer runs, with document-length
    * normalization TF-IDF lacks. The only libm call (ln in the idf) is
    * floor-quantized to BIGINT immediately; the per-(doc, term)
    * saturation ratio tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl)) is pure
    * IEEE arithmetic from exact integers written with identical
    * association in both engines, and per-term scores integer-sum.
    *
    * Scale: dl (per-doc token counts) is MAP-ONLY — `size(split(...))`
    * per row, never an explode: the corpus-token explode+groupBy the
    * naive restatement pays shuffles |corpus tokens| rows just to count
    * them per doc. Only probe-matching rows ever shuffle (tf). The
    * doc-length join stays KEYED on doc_id (at corpus scale dl is huge;
    * only the |terms|-row idf frame and the two scalars broadcast).
    * avgdl is one scalar aggregate broadcast back, never a window.
    * Top-20 plans as TakeOrderedAndProject. */
  /** The (doc_id, tok, tf) postings over the fixed probe-term set —
    * the inverted-index slice every retrieval scorer reads (t48's
    * tf-idf, t49's BM25, s14's frozen idf). Memoized per (session,
    * dir) and checkpoint-backed (round-15: each warm retrieval pass
    * used to re-run the corpus explode to rebuild an index that never
    * changes within a session; a real retrieval layer scores against
    * precomputed postings). Also the two-consumer reason the frame was
    * already checkpointed: df/idf aggregates key on tok, the score
    * join keys on doc_id. */
  private[queries] def probePostings(s: SparkSession, d: String): DataFrame = {
    postingsCache(s, d)(
      buildProbePostings(s, d).localCheckpoint())
  }

  /** The postings BUILD plan (one corpus explode) — private[queries]
    * so PlanSpec locks the index-build shapes the memos materialize
    * (a checkpoint scan carries no build evidence). */
  private[queries] def buildProbePostings(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(split(norm(col("text")), " ")).as("tok"))
      .filter(col("tok").isin(QueryTerms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  private val postingsCache = Memos.memo[String, DataFrame]()

  /** Per-doc token counts (the BM25 length-normalization index side) —
    * MAP-ONLY to build (see the bm25Topk scaladoc), 2 longs per doc. */
  private[queries] def docLengths(s: SparkSession, d: String): DataFrame =
    // empty-normalized docs have no tokens (split of "" yields [""]):
    // filter them from dl exactly as the explode+nonempty-filter did
    documents(s, d)
      .select(col("doc_id"), norm(col("text")).as("nrm"))
      .filter(length(col("nrm")) > 0)
      .select(col("doc_id"), size(split(col("nrm"), " ")).cast("long").as("dl"))

  def bm25Topk(s: SparkSession, d: String): DataFrame =
    bm25Score(s, d, probePostings(s, d), docLengths(s, d))

  private def bm25Score(s: SparkSession, d: String,
      tf: DataFrame, dl: DataFrame): DataFrame = {
    val avg = dl.agg((sum(col("dl")).cast("double") /
      count(lit(1)).cast("double")).as("avgdl"))
    val nDocs = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val idf = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok"),
        floor(log(((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)) * 1e6)
          .cast("long").as("idfq"))
    tf.join(broadcast(idf), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(avg))
      .withColumn("q",
        floor(col("idfq").cast("double") *
          (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))
        ).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("q")).as("scoreq"))
      .orderBy(col("scoreq").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_terms"),
        round(col("scoreq").cast("double") / 1e6, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** DSIR-style domain-relevance selection: rank corpus docs by the
    * importance ratio ln p_target(x) − ln p_corpus(x) under add-one-
    * smoothed bigram LMs — the data-selection method that picks
    * pretraining docs RESEMBLING a target domain (here t19's benchmark
    * convention, docs 0–49) instead of filtering on absolute quality.
    * Both scores use the SAME smoothing formula, so the ratio is a
    * like-for-like log-likelihood difference per bigram.
    *
    * Scale: the corpus model is t36's memoized artifact (trained once,
    * keyed probe join — corpus vocabulary never broadcasts); the target
    * model's count frames are keyed LEFT joins with 0-fallback (unseen
    * target bigrams smooth to 1/(c₁+V), exactly add-one) and their size
    * is target-corpus-dependent, so no forced broadcast (the t32 rule —
    * AQE converts while the target is suite-sized). Per-bigram logs
    * floor-quantize at 1e-6 BEFORE the per-doc sums (t36), the final
    * per-bigram average difference computes in exact-below-2⁵³ doubles
    * identically in both engines, and the top-20 most-target-like docs
    * plan as TakeOrderedAndProject. */
  def dsirSelect(s: SparkSession, d: String): DataFrame = {
    val bg = wordBigrams(s, d)
    val tbg = bg.filter(col("doc_id") < 50)
    val c2t = tbg.groupBy("w1", "w2").agg(count(lit(1)).as("c2t"))
    val c1t = tbg.groupBy("w1").agg(count(lit(1)).as("c1t"))
    val vt = documents(s, d).filter(col("doc_id") < 50)
      .select(explode(split(norm(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) >= 1)
      .agg(countDistinct(col("tok")).as("vst"))
    val corp = bg.filter(col("doc_id") >= 50)
    val tq = corp
      .join(c2t, Seq("w1", "w2"), "left")
      .join(c1t, Seq("w1"), "left")
      .crossJoin(broadcast(vt))
      .withColumn("qt",
        floor(log((coalesce(col("c2t"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1t"), lit(0L)) + col("vst")).cast("double")) * 1e6)
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("qt")).as("sqt"))
    val cq = corp.join(bigramLmModel(s, d), Seq("w1", "w2"))
      .groupBy("doc_id").agg(sum(col("q")).as("sqc"))
    tq.join(cq, "doc_id")
      .withColumn("rq",
        floor((col("sqt") - col("sqc")).cast("double") /
          col("n_bigrams").cast("double")).cast("long"))
      .orderBy(col("rq").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("rq").cast("double") / 1e6, 6).as("importance"))
      .orderBy(col("importance").desc, col("doc_id"))
  }

  /** PMI collocations: the top word pairs by pointwise mutual
    * information ln(M·c₁₂ / (c₁·c₂)) with a min-count floor — the
    * phrase-mining / tokenizer-merge signal (t39 ranks by RAW pair
    * frequency; PMI surfaces pairs that co-occur far above what their
    * marginals predict, which is what makes a collocation). Marginals
    * are derived FROM the bigram-count frame (left/right sums), so the
    * measure is self-consistent by construction.
    *
    * Scale: bigram counts partial-aggregate map-side to the |distinct
    * bigrams| frame (memoized via wordBigrams) and are checkpointed
    * ONCE — four consumers (total, both marginals, the scored join)
    * would otherwise re-aggregate the corpus four times (the t48/t49
    * lesson). Marginals are vocabulary-scale and join KEYED (a 100 TB
    * corpus's vocabulary does not broadcast); only the 1-row total
    * crosses. The PMI ratio multiplies in DOUBLE on both engines —
    * M·c₁₂ overflows BIGINT at petabyte token counts — then
    * floor-quantizes at 1e-6 (t36's discipline) so ranking and
    * tie-break (pmi DESC, pair ASC) are decided on identical numbers;
    * top-20 plans as TakeOrderedAndProject. */
  def pmiCollocations(s: SparkSession, d: String): DataFrame = {
    val c2 = wordBigrams(s, d)
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .localCheckpoint()
    val m = c2.agg(sum(col("n_pair")).as("m"))
    val cl = c2.groupBy("w1").agg(sum(col("n_pair")).as("cl"))
    val cr = c2.groupBy("w2").agg(sum(col("n_pair")).as("cr"))
    c2.filter(col("n_pair") >= 20)
      .join(cl, "w1")
      .join(cr, "w2")
      .crossJoin(broadcast(m))
      .withColumn("pmiq",
        floor(log((col("m").cast("double") * col("n_pair").cast("double")) /
          (col("cl").cast("double") * col("cr").cast("double"))) * 1e6)
          .cast("long"))
      .orderBy(col("pmiq").desc, col("w1"), col("w2"))
      .limit(20)
      .select(col("w1"), col("w2"), col("n_pair"),
        round(col("pmiq").cast("double") / 1e6, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
  }

  /** t53 — repeated-span removal with document REWRITE (the C4/RefinedWeb
    * "remove duplicated spans, keep the document" curation step, a
    * different contract from t01/t16 which drop whole documents).
    *
    * The corpus is chunked into fixed 10-word spans; every span keeps
    * only its globally-first occurrence (ordered by doc_id, then span
    * index — deterministic, so later boilerplate repetitions vanish
    * INSIDE surviving documents too); each document is rebuilt from its
    * surviving spans in order. Graded output carries the rebuilt text's
    * md5, not the text — result rows stay fixed-width however large the
    * documents are.
    *
    * Scale: one tokenize pass; spans shuffle by their md5 key (16-byte
    * keys, the t01 discipline) and the keep-first window partitions by
    * span hash — group size = duplicate count, never corpus size; the
    * rebuild re-groups by doc_id, bounded by document length. No
    * all-pairs anything: identical spans meet in the hash shuffle. */
  def spanDedupRewrite(s: SparkSession, d: String): DataFrame =
    spanDedupRewriteOn(documents(s, d))

  /** Core on an explicit (doc_id, text) frame — factored so
    * SpanDedupSpec can drive it with planted span overlaps. */
  private[queries] def spanDedupRewriteOn(docs: DataFrame): DataFrame = {
    val spanW = 10
    val w = docs
      .select(col("doc_id"), split(norm(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 1)
    val spans = w
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(0, cast(ceil(size(w) / ${spanW}.0) as int) - 1)")).as("ci"))
      .select(col("doc_id"), col("ci"),
        array_join(slice(col("w"), col("ci") * spanW + 1, lit(spanW)), " ").as("span"))
    val kept = spans
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("span"))).orderBy(col("doc_id").asc, col("ci").asc)))
      .filter(col("rn") === 1)
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(array_sort(collect_list(struct(col("ci"), col("span")))),
          x => x.getField("span")), " ")).as("rebuilt_md5"))
    // left join from the span census: a document whose EVERY span is a
    // repeat of an earlier doc still appears, rewritten to empty
    spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("rebuilt_md5"), md5(lit(""))).as("rebuilt_md5"))
      .orderBy("doc_id")
  }

  /** t54 — dedup-adjusted EFFECTIVE token counts per source: the number
    * a training-mix planner actually budgets with. Raw token counts
    * overstate a corpus wherever near-duplicates exist; here each t16
    * dup-cluster contributes ONLY its representative's tokens (min
    * doc_id — the same keep rule as t01/t14), everything unclustered
    * counts as-is, and the per-source savings ships as a graded
    * permille. Composes two existing truths — the t16 clustering and
    * the t06 tokenization — rather than re-deriving either.
    *
    * Scale: the cluster frame is |near-dup docs| ≪ corpus (over the
    * checkpointed labeling); representatives derive from it with one keyed agg;
    * both joins onto the token frame are keyed left joins (the cluster
    * side grows with dup density — never forced broadcast); the final
    * rollup is one partial agg over |sources| groups. */
  def effectiveTokens(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d).select(col("doc_id"), col("source"),
      size(split(norm(col("text")), " ")).cast("long").as("n_tok"))
    val clusters = dupClusters(s, d).select("doc_id", "cluster_id")
    val reps = clusters.groupBy("cluster_id").agg(min("doc_id").as("rep"))
    tok.join(clusters, Seq("doc_id"), "left")
      .join(reps, Seq("cluster_id"), "left")
      .withColumn("kept", col("cluster_id").isNull || col("doc_id") === col("rep"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum("n_tok").as("tok_raw"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("tok_effective"))
      .withColumn("savings_permille",
        floor((col("tok_raw") - col("tok_effective")) * lit(1000) / col("tok_raw")).cast("long"))
      .orderBy("source")
  }

  private val ApportionN = 100000L

  /** t55 — training-mix budget apportionment by the largest-remainder
    * (Hamilton) method: a fixed budget of token units splits across
    * sources proportional to t54's EFFECTIVE token mass, with the
    * fractional seats going to the largest remainders — the exact
    * integer apportionment that sums to the budget BY CONSTRUCTION
    * (naive rounding of quotas doesn't, and float quotas aren't even
    * portable). Everything is integer: base = (N·w) div W, remainder =
    * (N·w) mod W, ties on remainder break by source name.
    *
    * Scale: the apportionment runs on the |sources| aggregate frame
    * (≤ dozens of rows) — the global remainder-rank window never sees
    * corpus rows; both scalar frames (total mass, seat shortfall)
    * broadcast (the e16 threshold pattern). Contract: the corpus has
    * nonzero effective mass (W > 0) — at W = 0 the `div` is null in
    * Spark but an error in strict engines, so an empty corpus should
    * be rejected upstream, not apportioned. */
  def budgetApportion(s: SparkSession, d: String): DataFrame = {
    val eff = effectiveTokens(s, d).select(col("source"), col("tok_effective"))
    val tot = eff.agg(sum("tok_effective").as("W"))
    val q = eff.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($ApportionN * tok_effective) div W"))
      .withColumn("rem", expr(s"($ApportionN * tok_effective) % W"))
    val short = q.agg((lit(ApportionN) - sum("base")).as("short"))
    q.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source").asc)))
      .withColumn("alloc",
        (col("base") + when(col("rk") <= col("short"), 1L).otherwise(0L)).cast("long"))
      .select("source", "tok_effective", "alloc")
      .orderBy("source")
  }

  // --- DuckDB oracle twins -------------------------------------------------

  private def mhSelect = MhA.zip(MhB).zipWithIndex.map { case ((a, b), j) =>
    s"MIN(($a * sid + $b) % $P31) AS mh$j"
  }.mkString(",\n  ")

  private val OccDuck = (h: String, w: String) =>
    s"(length($h) - length(replace($h, '$w', ''))) / ${w.length}"

  /** The shared shingle → signature → band-posting CTE chain
    * (ids → sig → bands) — the prefix of every band-index oracle
    * (t67/t68/t69/t70/t71). */
  private lazy val BandsCtesDuck: String =
    s"""$ShinglesSqlDuck,
       |sig AS (SELECT doc_id, $mhSelect FROM ids GROUP BY doc_id),
       |bands AS (
       |  ${(0 until NumHashes / BandRows).map(b =>
             s"SELECT doc_id, $b AS band, " + (0 until BandRows).map(r =>
               s"mh${BandRows * b + r} AS h$r").mkString(", ") + " FROM sig")
           .mkString(" UNION ALL\n  ")})""".stripMargin

  /** The t67 oracle tail, parameterized by an extra pair predicate:
    * "" is t67's oracle (the batch LSH chain over ALL documents,
    * restricted to delta-touching pairs; reused by t71's composition);
    * the deletion exclusion is t72's — the batch semantics minus
    * deletion-touching pairs, everything else byte-equal. */
  private def deltaDedupDuckWhere(extra: String): String =
    s"""$BandsCtesDuck,
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND ${(0 until BandRows).map(r =>
             s"x.h$r = y.h$r").mkString(" AND ")}
       |          AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ids GROUP BY doc_id),
       |inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS inter
       |          FROM cand c
       |          JOIN ids sa ON sa.doc_id = c.a_id
       |          JOIN ids sb ON sb.doc_id = c.b_id AND sb.sid = sa.sid
       |          GROUP BY c.a_id, c.b_id)
       |SELECT i.a_id, i.b_id, i.inter,
       |  CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) AS jaccard
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.a_id
       |JOIN sizes zb ON zb.doc_id = i.b_id
       |WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.5
       |  AND (i.a_id % $DeltaMod = $DeltaRes OR i.b_id % $DeltaMod = $DeltaRes)$extra
       |ORDER BY 1, 2""".stripMargin

  private[queries] lazy val DeltaDedupDuck: String = deltaDedupDuckWhere("")

  /** t72's oracle — every pair touching the deletion residue excluded. */
  private[queries] lazy val ReapedDeltaDedupDuck: String = deltaDedupDuckWhere(
    s"\n  AND i.a_id % $DeltaMod <> $DocDelRes AND i.b_id % $DeltaMod <> $DocDelRes")

  /** t68's oracle — the FULL-REBUILD per-band census over all
    * documents; shared VERBATIM by t69 (roll∘roll must still equal the
    * rebuild) and reused by t71. */
  private[queries] lazy val BandRollCensusDuck: String =
    s"""$BandsCtesDuck
       |SELECT band, COUNT(*) AS n_postings, COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(h0 + h1 + h2 + h3) AS BIGINT) AS h_checksum
       |FROM bands GROUP BY band ORDER BY band""".stripMargin

  /** t70's oracle — the t68 convention inverted: the full-rebuild
    * census over the FILTERED corpus (every doc except the deletion
    * residue). Per-doc signatures are independent, so filtering the
    * postings ≡ rebuilding over the filtered corpus. */
  private[queries] lazy val BandReapCensusDuck: String =
    s"""$BandsCtesDuck
       |SELECT band, COUNT(*) AS n_postings, COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  CAST(SUM(h0 + h1 + h2 + h3) AS BIGINT) AS h_checksum
       |FROM bands WHERE doc_id % $DeltaMod <> $DocDelRes
       |GROUP BY band ORDER BY band""".stripMargin

  /** t71's oracle — the UNION of the maintenance steps' own oracles
    * (t67's pair frame, t68's band census, v44's cell census, v24's
    * served top-k), each aggregated to the shared
    * (stage, key, n_rows, n_keys, id_sum, checksum) census row. Every
    * branch is a sub-SELECT over an oracle that is ITSELF graded
    * standalone, so the composition adds ordering and shape — never
    * new untested semantics. */
  private[queries] lazy val NightlyDuck: String =
    s"""SELECT stage, key, n_rows, n_keys, id_sum, checksum FROM (
       |SELECT 'a_delta_dedup' AS stage, CAST(a_id AS BIGINT) AS key,
       |  COUNT(*) AS n_rows, COUNT(DISTINCT b_id) AS n_keys,
       |  CAST(SUM(b_id) AS BIGINT) AS id_sum, CAST(SUM(inter) AS BIGINT) AS checksum
       |FROM ($DeltaDedupDuck) GROUP BY a_id
       |UNION ALL
       |SELECT 'b_band_roll', CAST(band AS BIGINT), n_postings, n_docs, id_sum, h_checksum
       |FROM ($BandRollCensusDuck)
       |UNION ALL
       |SELECT 'c_ann_roll', CAST(cell AS BIGINT), n_entries, n_vecs, id_sum, code_checksum
       |FROM (${VectorOps.AnnRollCensusDuck})
       |UNION ALL
       |SELECT 'd_ann_serve', CAST(q_id AS BIGINT), COUNT(*), COUNT(DISTINCT hit_id),
       |  CAST(SUM(hit_id) AS BIGINT), CAST(SUM(rk * hit_id + ascore) AS BIGINT)
       |FROM (${VectorOps.IvfPqTopkDuck}) GROUP BY q_id
       |) ORDER BY stage, key""".stripMargin

  /** t59 chunking geometry: 120-char windows, 20-char overlap → stride
    * 100. One definition feeding both the window generator and the
    * chunk-count closed form, so the census can never drift from the
    * emitted windows. */
  private[queries] val ChunkChars = 120
  private[queries] val ChunkOverlap = 20
  private[queries] val ChunkStride = ChunkChars - ChunkOverlap

  /** t59 — RAG CHUNKING with overlap + corpus-wide chunk dedup: the
    * retrieval-ingestion primitive every RAG/embedding pipeline runs
    * before v-family indexing — fixed 120-char windows at stride 100
    * over the normalized text (20-char overlap so a sentence straddling
    * a boundary survives in one piece), the LAST window starting only
    * if the previous one didn't already reach the end (n_chunks =
    * 1 + ceil((len − 120)/100), exact integer closed form). Graded
    * per doc: char count, chunk count, distinct chunk digests, and the
    * number of digests SHARED with at least one other document — the
    * boilerplate signal chunk-level dedup acts on (duplicate docs from
    * t01's fixture share every window, so the column is non-trivially
    * exercised).
    *
    * Scale: the explode multiplies docs by len/stride slim rows; chunks
    * meet by 128-bit digest (groupBy — never all-pairs); the per-doc
    * census is two keyed aggregates + one digest-keyed join back.
    * Window starts are arithmetic on ONE length — no per-row state, so
    * the whole plan is codegen map work + two shuffles at 100 TB. */
  def ragChunking(s: SparkSession, d: String): DataFrame = {
    val chunks = chunkWindows(documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      .select(col("doc_id"), col("n_chars"), col("n_chunks"),
        md5(col("chunk")).as("dg"))
      .localCheckpoint() // feeds the census AND the digest-share join
    val docdg = chunks.select("doc_id", "dg").distinct()
    val shared = docdg.groupBy("dg").agg(countDistinct("doc_id").as("nd"))
    chunks.groupBy("doc_id")
      .agg(max("n_chars").as("n_chars"), max("n_chunks").as("n_chunks"),
        countDistinct("dg").as("n_distinct_chunks"))
      .join(
        docdg.join(shared, "dg").filter(col("nd") >= 2)
          .groupBy("doc_id").agg(countDistinct("dg").as("n_shared_chunks")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shared_chunks"))
      .select("doc_id", "n_chars", "n_chunks", "n_distinct_chunks",
        "n_shared_chunks")
      .orderBy("doc_id")
  }

  /** The window generator on an explicit (doc_id, text) frame, emitting
    * the chunk TEXTS — for ChunkingSpec's planted geometry cases (the
    * graded query only ships digests). The graded query wraps the SAME
    * body (one expression tree, not shared constants), so the spec can
    * never silently test different geometry than t59. */
  private[queries] def ragChunkingOn(docs: DataFrame): DataFrame = chunkWindows(docs)

  /** ONE definition of the chunk geometry: normalize, census the
    * closed-form chunk count, explode the window starts, cut the
    * windows. Emits (doc_id, n_chars, n_chunks, chunk). */
  private def chunkWindows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), norm(col("text")).as("nrm"))
      .withColumn("n_chars", length(col("nrm")).cast("long"))
      .filter(col("n_chars") >= 1)
      .withColumn("n_chunks",
        when(col("n_chars") <= ChunkChars, lit(1L))
          .otherwise(lit(1L) +
            expr(s"(n_chars - $ChunkChars + ${ChunkStride - 1}) div $ChunkStride")))
      .select(col("doc_id"), col("n_chars"), col("n_chunks"), col("nrm"),
        explode(expr("sequence(0, n_chunks - 1)")).as("i"))
      .select(col("doc_id"), col("n_chars"), col("n_chunks"),
        expr(s"substring(nrm, cast(1 + i * $ChunkStride as int), $ChunkChars)")
          .as("chunk"))

  val defs: Map[String, QueryDef] = Map(
    "t59_rag_chunking" -> QueryDef(ragChunking _,
      s"""WITH d AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |base AS (SELECT doc_id, CAST(length(nrm) AS BIGINT) AS n_chars, nrm
         |  FROM d WHERE length(nrm) >= 1),
         |nch AS (SELECT doc_id, n_chars, nrm,
         |    CASE WHEN n_chars <= $ChunkChars THEN 1
         |         ELSE 1 + (n_chars - $ChunkChars + ${ChunkStride - 1}) // $ChunkStride
         |    END AS n_chunks
         |  FROM base),
         |chunks AS (SELECT doc_id, n_chars, n_chunks,
         |    md5(substr(nrm,
         |      CAST(1 + CAST(unnest(generate_series(0, n_chunks - 1)) AS BIGINT)
         |        * $ChunkStride AS INT), $ChunkChars)) AS dg
         |  FROM nch),
         |docdg AS (SELECT DISTINCT doc_id, dg FROM chunks),
         |shared AS (SELECT dg, COUNT(DISTINCT doc_id) AS nd FROM docdg GROUP BY dg),
         |census AS (SELECT doc_id, MAX(n_chars) AS n_chars, MAX(n_chunks) AS n_chunks,
         |    CAST(COUNT(DISTINCT dg) AS BIGINT) AS n_distinct_chunks
         |  FROM chunks GROUP BY doc_id),
         |shr AS (SELECT g.doc_id, CAST(COUNT(DISTINCT g.dg) AS BIGINT) AS n_shared_chunks
         |  FROM docdg g JOIN shared s ON s.dg = g.dg AND s.nd >= 2
         |  GROUP BY g.doc_id)
         |SELECT c.doc_id, c.n_chars, CAST(c.n_chunks AS BIGINT) AS n_chunks,
         |  c.n_distinct_chunks, COALESCE(s.n_shared_chunks, 0) AS n_shared_chunks
         |FROM census c LEFT JOIN shr s ON s.doc_id = c.doc_id
         |ORDER BY c.doc_id""".stripMargin),
    "t57_bpe_train_rounds" -> QueryDef(bpeTrainRounds _, BpeTrainDuck),
    "t64_bpe_encode_census" -> QueryDef(bpeEncodeCensus _, BpeEncodeDuck),
    "t65_epoch_shuffle" -> QueryDef(epochShuffle _, EpochShuffleDuck),
    "t66_tokenizer_fertility" -> QueryDef(tokenizerFertility _, TokenizerFertilityDuck),
    "t56_source_caps" -> QueryDef(sourceCaps _,
      s"""WITH r AS (SELECT doc_id, source, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id ASC) AS rk
         |  FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN rk <= $SourceCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN rk > $SourceCap THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
         |  CAST(SUM(CASE WHEN rk <= $SourceCap THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
         |  MIN(CASE WHEN rk <= $SourceCap THEN n_chars END) AS cutoff_chars
         |FROM r GROUP BY source ORDER BY source""".stripMargin),

    "t01_dedup_exact" -> QueryDef(dedupExact _,
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, md5(text) AS text_md5
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin),

    "t02_minhash_signatures" -> QueryDef(minhashSignatures _,
      s"""$ShinglesSqlDuck
         |SELECT doc_id,
         |  $mhSelect
         |FROM ids GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "t03_lsh_near_dup_pairs" -> QueryDef(lshNearDupPairs _,
      s"""$ShinglesSqlDuck,
         |sig AS (SELECT doc_id, $mhSelect FROM ids GROUP BY doc_id),
         |bands AS (
         |  ${(0 until NumHashes / BandRows).map(b =>
               s"SELECT doc_id, $b AS band, " + (0 until BandRows).map(r =>
                 s"mh${BandRows * b + r} AS h$r").mkString(", ") + " FROM sig")
             .mkString(" UNION ALL\n  ")}),
         |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND ${(0 until BandRows).map(r =>
               s"x.h$r = y.h$r").mkString(" AND ")}
         |          AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ids GROUP BY doc_id),
         |inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS inter
         |          FROM cand c
         |          JOIN ids sa ON sa.doc_id = c.a_id
         |          JOIN ids sb ON sb.doc_id = c.b_id AND sb.sid = sa.sid
         |          GROUP BY c.a_id, c.b_id)
         |SELECT i.a_id, i.b_id, i.inter,
         |  CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) AS jaccard
         |FROM inter i
         |JOIN sizes za ON za.doc_id = i.a_id
         |JOIN sizes zb ON zb.doc_id = i.b_id
         |WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.5
         |ORDER BY 1, 2""".stripMargin),

    // t67's oracle is the BATCH semantics restated: t03's full LSH chain
    // over (corpus ∪ delta) = all documents, restricted to pairs that
    // touch the delta shard — the incremental path must be result-
    // invisible against the backfill
    "t67_delta_dedup" -> QueryDef(deltaDedup _, DeltaDedupDuck),

    // t68's oracle is a FULL REBUILD: the same census computed from
    // scratch over all documents — roll-forward ≡ rebuild is the claim
    "t68_index_roll" -> QueryDef(indexRoll _, BandRollCensusDuck),

    // t69 rolls a ROLLED artifact (roll #2's corpus input is
    // rolled_bands_s1, never the day-1 corpus) — the induction step;
    // its oracle is t68's full-rebuild census VERBATIM (the three
    // slices partition the id space)
    "t69_band_roll_roll" -> QueryDef(bandRollTwoStep _, BandRollCensusDuck),

    // t70 anti-joins the deletion set's postings out of the rolled
    // band index; oracle = full-rebuild census over the FILTERED corpus
    "t70_band_reap" -> QueryDef(bandReapCensus _, BandReapCensusDuck),

    // t71 composes the whole maintenance night (t67 → t68 → v44 → gc →
    // v45); its oracle is the UNION of the steps' own oracles, each
    // normalized to the shared (stage, key, ...) census row
    "t71_nightly_maintenance" -> QueryDef(nightlyMaintenance _, NightlyDuck),

    // t72 serves t67's dedup from the REAPED candidate index —
    // deletion-touching pairs must vanish, everything else byte-equal
    "t72_reaped_delta_dedup" -> QueryDef(reapedDeltaDedup _, ReapedDeltaDedupDuck),

    "t04_simhash" -> QueryDef(simhash _,
      s"""$SimhashCtesDuck
         |SELECT doc_id, simhash60 FROM sh ORDER BY doc_id""".stripMargin),

    // oracle states the SEMANTICS (all-pairs hamming); the engine's
    // pigeonhole banding must be invisible to the result
    "t13_simhash_near_dup" -> QueryDef(simhashNearDupPairs _,
      s"""$SimhashCtesDuck
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.simhash60, b.simhash60)) AS INT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 2
         |ORDER BY a_id, b_id""".stripMargin),

    "t05_lang_id" -> QueryDef(langId _,
      s"""WITH p AS (SELECT doc_id, lang, text,
         |    ' ' || $NormSqlDuck || ' ' AS pad FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  ${OccDuck("pad", " the ")} + ${OccDuck("pad", " and ")} + ${OccDuck("pad", " of ")} + ${OccDuck("pad", " is ")} AS s_en,
         |  ${OccDuck("pad", " der ")} + ${OccDuck("pad", " und ")} + ${OccDuck("pad", " die ")} + ${OccDuck("pad", " ist ")} AS s_de,
         |  ${OccDuck("pad", " le ")} + ${OccDuck("pad", " la ")} + ${OccDuck("pad", " et ")} + ${OccDuck("pad", " les ")} AS s_fr,
         |  ${OccDuck("pad", " el ")} + ${OccDuck("pad", " los ")} + ${OccDuck("pad", " las ")} + ${OccDuck("pad", " y ")} AS s_es,
         |  ${OccDuck("text", "的")} + ${OccDuck("text", "是")} + ${OccDuck("text", "了")} AS s_zh
         |  FROM p)
         |SELECT doc_id, lang,
         |  CASE WHEN s_zh >= GREATEST(s_en, s_de, s_fr, s_es) AND s_zh > 0 THEN 'zh'
         |       WHEN s_en >= GREATEST(s_de, s_fr, s_es) THEN 'en'
         |       WHEN s_de >= GREATEST(s_fr, s_es) THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS pred_lang
         |FROM sc ORDER BY doc_id""".stripMargin),

    "t06_token_stats" -> QueryDef(tokenStats _,
      s"""SELECT doc_id,
         |  CAST(LEN(string_split_regex(trim(text), '\\s+')) AS INT) AS n_raw_tokens,
         |  CAST(LEN(string_split($NormSqlDuck, ' ')) AS INT) AS n_tokens,
         |  CAST(LENGTH(text) AS INT) AS n_chars_raw,
         |  CAST(LENGTH($NormSqlDuck) AS INT) AS n_chars_norm
         |FROM documents ORDER BY doc_id""".stripMargin),

    "t07_quality_score" -> QueryDef(qualityScore _,
      """SELECT doc_id,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS INT) AS n_upper,
        |  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digit,
        |  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INT) AS n_punct,
        |  CAST(LENGTH(text) - LENGTH(replace(text, ' ', '')) AS INT) AS n_spaces,
        |  CAST(LENGTH(text) - (LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')))
        |     - (LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')))
        |     - (LENGTH(text) - LENGTH(replace(text, ' ', ''))) AS DOUBLE) / LENGTH(text) AS alpha_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    "t08_fingerprint" -> QueryDef(fingerprint _,
      s"""SELECT doc_id, md5($NormSqlDuck) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),

    "t09_winnowing_fingerprint" -> QueryDef(winnowingFingerprint _,
      s"""WITH n AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |s AS (SELECT doc_id,
         |        CAST(unnest(generate_series(1, length(nrm) - 4)) AS INT) AS pos,
         |        substr(nrm, CAST(unnest(generate_series(1, length(nrm) - 4)) AS INT), 5) AS sh
         |      FROM n WHERE length(nrm) >= 5),
         |h AS (SELECT doc_id, pos, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS hv FROM s),
         |w AS (SELECT doc_id, MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp FROM h)
         |SELECT doc_id, COUNT(DISTINCT fp) AS n_fps,
         |  CAST(SUM(DISTINCT fp) AS BIGINT) AS fp_sum
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "t12_lang_confusion" -> QueryDef(langConfusion _,
      s"""WITH p AS (SELECT doc_id, lang, text,
         |    ' ' || $NormSqlDuck || ' ' AS pad FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  ${OccDuck("pad", " the ")} + ${OccDuck("pad", " and ")} + ${OccDuck("pad", " of ")} + ${OccDuck("pad", " is ")} AS s_en,
         |  ${OccDuck("pad", " der ")} + ${OccDuck("pad", " und ")} + ${OccDuck("pad", " die ")} + ${OccDuck("pad", " ist ")} AS s_de,
         |  ${OccDuck("pad", " le ")} + ${OccDuck("pad", " la ")} + ${OccDuck("pad", " et ")} + ${OccDuck("pad", " les ")} AS s_fr,
         |  ${OccDuck("pad", " el ")} + ${OccDuck("pad", " los ")} + ${OccDuck("pad", " las ")} + ${OccDuck("pad", " y ")} AS s_es,
         |  ${OccDuck("text", "的")} + ${OccDuck("text", "是")} + ${OccDuck("text", "了")} AS s_zh
         |  FROM p),
         |pred AS (SELECT doc_id, lang,
         |  CASE WHEN s_zh >= GREATEST(s_en, s_de, s_fr, s_es) AND s_zh > 0 THEN 'zh'
         |       WHEN s_en >= GREATEST(s_de, s_fr, s_es) THEN 'en'
         |       WHEN s_de >= GREATEST(s_fr, s_es) THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS pred_lang
         |  FROM sc)
         |SELECT lang, pred_lang, COUNT(*) AS n FROM pred
         |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin),

    "t11_dedup_apply" -> QueryDef(dedupApply _,
      s"""$DupesCtesDuck
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT b_id FROM dupes)
         |ORDER BY d.doc_id""".stripMargin),

    // the flagship end-to-end curation statement: language filter +
    // quality thresholds + near-dup removal + per-source census, all in
    // one plan — composed from the same CTE pieces as t05/t07/t11
    "t14_corpus_curation" -> QueryDef(corpusCuration _,
      s"""$DupesCtesDuck,
         |p AS (SELECT doc_id, text, ' ' || $NormSqlDuck || ' ' AS pad FROM documents),
         |sc AS (SELECT doc_id,
         |  ${OccDuck("pad", " the ")} + ${OccDuck("pad", " and ")} + ${OccDuck("pad", " of ")} + ${OccDuck("pad", " is ")} AS s_en,
         |  ${OccDuck("pad", " der ")} + ${OccDuck("pad", " und ")} + ${OccDuck("pad", " die ")} + ${OccDuck("pad", " ist ")} AS s_de,
         |  ${OccDuck("pad", " le ")} + ${OccDuck("pad", " la ")} + ${OccDuck("pad", " et ")} + ${OccDuck("pad", " les ")} AS s_fr,
         |  ${OccDuck("pad", " el ")} + ${OccDuck("pad", " los ")} + ${OccDuck("pad", " las ")} + ${OccDuck("pad", " y ")} AS s_es,
         |  ${OccDuck("text", "的")} + ${OccDuck("text", "是")} + ${OccDuck("text", "了")} AS s_zh
         |  FROM p),
         |en AS (SELECT doc_id FROM sc
         |  WHERE NOT (s_zh >= GREATEST(s_en, s_de, s_fr, s_es) AND s_zh > 0)
         |    AND s_en >= GREATEST(s_de, s_fr, s_es)),
         |keepq AS (SELECT doc_id FROM documents
         |  WHERE CAST(LENGTH(text) - (LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')))
         |     - (LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')))
         |     - (LENGTH(text) - LENGTH(replace(text, ' ', ''))) AS DOUBLE) / LENGTH(text) >= 0.82
         |    AND LENGTH(text) >= 100)
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(LENGTH(d.text)) AS BIGINT) AS sum_chars
         |FROM documents d
         |JOIN en ON en.doc_id = d.doc_id
         |JOIN keepq ON keepq.doc_id = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT b_id FROM dupes)
         |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // both engines count HASHED gram ids, so even a (theoretical) md5
    // truncation collision cannot make them disagree; 15 hex chars =
    // 60-bit ids (see sid60) keep collisions negligible at corpus scale
    "t19_decontaminate" -> QueryDef(decontaminate _,
      s"""$Gram8CtesDuck,
         |bench AS (SELECT gid, doc_id AS b_id FROM g WHERE doc_id < 50),
         |corp AS (SELECT gid, doc_id FROM g WHERE doc_id >= 50)
         |SELECT corp.doc_id,
         |  CAST(COUNT(DISTINCT corp.gid) AS BIGINT) AS n_hits,
         |  CAST(COUNT(DISTINCT bench.b_id) AS BIGINT) AS n_bench_docs
         |FROM corp JOIN bench ON bench.gid = corp.gid
         |GROUP BY corp.doc_id ORDER BY corp.doc_id""".stripMargin),

    "t18_vocab" -> QueryDef(vocab _,
      s"""WITH nr AS (SELECT $NormSqlDuck AS nrm FROM documents),
         |tok AS (SELECT unnest(string_split(nrm, ' ')) AS tok FROM nr WHERE length(nrm) >= 1),
         |c AS (SELECT tok, COUNT(*) AS n FROM tok WHERE length(tok) >= 1 GROUP BY tok),
         |r AS (SELECT tok, n,
         |    ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rk,
         |    CAST(SUM(n) OVER (ORDER BY n DESC, tok ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
         |    CAST(SUM(n) OVER () AS BIGINT) AS total
         |  FROM c)
         |SELECT rk, tok, n, cum_n,
         |  round(CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share
         |FROM r WHERE rk <= 200 ORDER BY rk""".stripMargin),

    "t17_mixture_sample" -> QueryDef(mixtureSample _,
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8))::BIGINT % 1000) <
         |  CASE lang ${MixPerMille.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")} ELSE 0 END
         |ORDER BY doc_id""".stripMargin),

    // transitive closure via DuckDB's recursive CTE = the oracle twin of
    // the Spark-side label-propagation loop; both converge to the same
    // unique fixpoint (min doc_id per component)
    "t16_dup_clusters" -> QueryDef(dupClusters _,
      s"""${DupesCtesDuck.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$ClusterLabCtesDuck,
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_sz FROM lab GROUP BY cluster_id)
         |SELECT lab.id AS doc_id, lab.cluster_id, sz.cluster_sz
         |FROM lab JOIN sz ON sz.cluster_id = lab.cluster_id
         |ORDER BY doc_id""".stripMargin),

    // the SAME clustering truth, computed through the alternating
    // large-star/small-star edge-rewrite body — the oracle pins that
    // both production CC shapes label the live pair graph identically
    "t34_cc_star_clusters" -> QueryDef(dupClustersStar _,
      s"""${DupesCtesDuck.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$ClusterLabCtesDuck,
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_sz FROM lab GROUP BY cluster_id)
         |SELECT lab.id AS doc_id, lab.cluster_id, sz.cluster_sz
         |FROM lab JOIN sz ON sz.cluster_id = lab.cluster_id
         |ORDER BY doc_id""".stripMargin),

    // same labels; the oracle ALSO recomputes the dispatch heuristic
    // (avg degree of the ≥0.9 pair graph vs threshold 3) so the body
    // choice itself is hash-checked, not just the labeling
    // composes the t54 chain; apportionment in exact integers so Σalloc
    // equals the budget by construction in both engines
    "t55_budget_apportion" -> QueryDef(budgetApportion _,
      s"""${DupesCtesDuck.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$ClusterLabCtesDuck,
         |reps AS (SELECT cluster_id, MIN(id) AS rep FROM lab GROUP BY cluster_id),
         |tok AS (SELECT doc_id, source,
         |    CAST(LEN(string_split($NormSqlDuck, ' ')) AS BIGINT) AS n_tok FROM documents),
         |fl AS (SELECT t.source, t.n_tok,
         |    CASE WHEN l.id IS NULL OR t.doc_id = r.rep THEN 1 ELSE 0 END AS kept
         |  FROM tok t LEFT JOIN lab l ON l.id = t.doc_id
         |  LEFT JOIN reps r ON r.cluster_id = l.cluster_id),
         |eff AS (SELECT source,
         |    CAST(SUM(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_effective
         |  FROM fl GROUP BY source),
         |tt AS (SELECT CAST(SUM(tok_effective) AS BIGINT) AS w FROM eff),
         |qa AS (SELECT source, tok_effective,
         |    ($ApportionN * tok_effective) // tt.w AS base,
         |    ($ApportionN * tok_effective) % tt.w AS rem
         |  FROM eff, tt),
         |sh AS (SELECT $ApportionN - CAST(SUM(base) AS BIGINT) AS short FROM qa),
         |rr AS (SELECT source, tok_effective, base, rem,
         |    row_number() OVER (ORDER BY rem DESC, source ASC) AS rk FROM qa)
         |SELECT r.source, r.tok_effective,
         |  CAST(r.base + CASE WHEN r.rk <= s.short THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |FROM rr r, sh s ORDER BY r.source""".stripMargin),

    // composes the t16 labeling CTE (shared definition — the keying can
    // never drift) with the t06 tokenization; keep rule = cluster MIN id
    "t54_effective_tokens" -> QueryDef(effectiveTokens _,
      s"""${DupesCtesDuck.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$ClusterLabCtesDuck,
         |reps AS (SELECT cluster_id, MIN(id) AS rep FROM lab GROUP BY cluster_id),
         |tok AS (SELECT doc_id, source,
         |    CAST(LEN(string_split($NormSqlDuck, ' ')) AS BIGINT) AS n_tok FROM documents),
         |fl AS (SELECT t.source, t.n_tok,
         |    CASE WHEN l.id IS NULL OR t.doc_id = r.rep THEN 1 ELSE 0 END AS kept
         |  FROM tok t LEFT JOIN lab l ON l.id = t.doc_id
         |  LEFT JOIN reps r ON r.cluster_id = l.cluster_id)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(kept) AS BIGINT) AS n_kept,
         |  CAST(SUM(n_tok) AS BIGINT) AS tok_raw,
         |  CAST(SUM(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_effective,
         |  CAST(FLOOR((SUM(n_tok) - SUM(CASE WHEN kept = 1 THEN n_tok ELSE 0 END)) * 1000
         |       / SUM(n_tok)) AS BIGINT) AS savings_permille
         |FROM fl GROUP BY source ORDER BY source""".stripMargin),

    "t53_span_dedup_rewrite" -> QueryDef(spanDedupRewrite _,
      s"""WITH w AS (SELECT doc_id, string_split($NormSqlDuck, ' ') AS w FROM documents),
         |ch AS (SELECT doc_id, w,
         |    CAST(unnest(generate_series(0, CAST(CEIL(len(w) / 10.0) AS INT) - 1)) AS BIGINT) AS ci
         |  FROM w WHERE len(w) >= 1),
         |sp AS (SELECT doc_id, ci,
         |    array_to_string(list_slice(w, ci * 10 + 1, ci * 10 + 10), ' ') AS span
         |  FROM ch),
         |kp AS (SELECT doc_id, ci, span,
         |    row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, ci) AS rn
         |  FROM sp),
         |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
         |    md5(string_agg(span, ' ' ORDER BY ci)) AS rebuilt_md5
         |  FROM kp WHERE rn = 1 GROUP BY doc_id),
         |cen AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id)
         |SELECT c.doc_id, c.n_spans,
         |  COALESCE(r.n_kept, 0) AS n_kept,
         |  COALESCE(r.rebuilt_md5, md5('')) AS rebuilt_md5
         |FROM cen c LEFT JOIN reb r ON r.doc_id = c.doc_id
         |ORDER BY c.doc_id""".stripMargin),

    "t52_cc_auto_clusters" -> QueryDef(dupClustersAuto _,
      s"""${DupesCtesDuck.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$ClusterLabCtesDuck,
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_sz FROM lab GROUP BY cluster_id),
         |hx AS (SELECT CAST(COUNT(*) AS BIGINT) AS ne FROM p9),
         |hn AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS nn FROM ed),
         |alg AS (SELECT CASE WHEN nn = 0 OR 2.0 * ne / nn >= $CcAvgDegThreshold
         |               THEN 'pointer_jumping' ELSE 'large_small_star' END AS cc_algo
         |        FROM hx, hn)
         |SELECT lab.id AS doc_id, lab.cluster_id, sz.cluster_sz, alg.cc_algo
         |FROM lab JOIN sz ON sz.cluster_id = lab.cluster_id, alg
         |ORDER BY doc_id""".stripMargin),

    "t15_multi_signal_dedup" -> QueryDef(multiSignalDedup _,
      s"""$DupesCtesDuck,
         |tp AS (SELECT i.a_id, i.b_id,
         |    CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) AS jaccard
         |  FROM inter i
         |  JOIN sizes za ON za.doc_id = i.a_id
         |  JOIN sizes zb ON zb.doc_id = i.b_id
         |  WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.5),
         |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM ev),
         |ec AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM en WHERE vec_id < 16),
         |eaff AS (SELECT en.vec_id, ec.cid,
         |    ROW_NUMBER() OVER (PARTITION BY en.vec_id
         |      ORDER BY round(list_dot_product(en.v, ec.cv) / (en.nrm * ec.cn), 6) DESC,
         |        ec.cid ASC) AS crn
         |  FROM en, ec),
         |ecells AS (SELECT vec_id, cid AS cell FROM eaff WHERE crn = 1),
         |em AS (SELECT ecells.cell, en.vec_id, en.v, en.nrm FROM en JOIN ecells USING (vec_id)),
         |ep AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
         |  FROM em a JOIN em b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45)
         |SELECT COALESCE(tp.a_id, ep.a_id) AS a_id,
         |  COALESCE(tp.b_id, ep.b_id) AS b_id,
         |  COALESCE(tp.jaccard, -1) AS jaccard,
         |  COALESCE(ep.cos, -1) AS cos,
         |  (CASE WHEN tp.jaccard IS NOT NULL THEN 1 ELSE 0 END
         |   + CASE WHEN ep.cos IS NOT NULL THEN 1 ELSE 0 END) AS n_signals
         |FROM tp FULL OUTER JOIN ep ON tp.a_id = ep.a_id AND tp.b_id = ep.b_id
         |ORDER BY a_id, b_id""".stripMargin),

    // integer numerators/denominators + one IEEE division each → values
    // bit-identical across engines; SUMs cast to BIGINT (HUGEINT trap)
    "t20_repetition_signals" -> QueryDef(repetitionSignals _,
      s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tk AS (SELECT doc_id, string_split(nrm, ' ') AS ts FROM nr),
         |tok AS (SELECT doc_id, len(ts) AS n_tokens, len(list_distinct(ts)) AS n_distinct_tokens FROM tk),
         |b0 AS (SELECT doc_id, ts, CAST(unnest(generate_series(1, len(ts) - 1)) AS INT) AS i
         |       FROM tk WHERE len(ts) >= 2),
         |bgc AS (SELECT doc_id, list_aggregate(ts[i:i+1], 'string_agg', ' ') AS g, COUNT(*) AS c
         |        FROM b0 GROUP BY doc_id, g),
         |bi AS (SELECT doc_id, MAX(c) AS top_bigram_n, CAST(SUM(c) AS BIGINT) AS n_bigrams
         |       FROM bgc GROUP BY doc_id),
         |t0 AS (SELECT doc_id, ts, CAST(unnest(generate_series(1, len(ts) - 2)) AS INT) AS i
         |       FROM tk WHERE len(ts) >= 3),
         |tgc AS (SELECT doc_id, list_aggregate(ts[i:i+2], 'string_agg', ' ') AS g, COUNT(*) AS c
         |        FROM t0 GROUP BY doc_id, g),
         |tri AS (SELECT doc_id,
         |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_trigram_occ,
         |    CAST(SUM(c) AS BIGINT) AS n_trigrams
         |  FROM tgc GROUP BY doc_id)
         |SELECT tok.doc_id, n_tokens, n_distinct_tokens,
         |  CAST(n_tokens - n_distinct_tokens AS DOUBLE) / n_tokens AS dup_token_frac,
         |  top_bigram_n, n_bigrams,
         |  CAST(top_bigram_n AS DOUBLE) / n_bigrams AS top_bigram_frac,
         |  n_dup_trigram_occ, n_trigrams,
         |  CAST(n_dup_trigram_occ AS DOUBLE) / n_trigrams AS dup_trigram_frac
         |FROM tok LEFT JOIN bi USING (doc_id) LEFT JOIN tri USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // all-integer packing arithmetic (token counts, prefix sums, div and
    // mod against the shared ctx constant) — no float surface at all
    "t60_sequence_packing" -> QueryDef(sequencePacking _, PackOracleDuck),

    // the window-size knob measured: straddlers shrink and tail waste
    // grows with ctx; ceil-div and the permille rate are exact integers
    // the trained scorer's full trajectory: weights + SSE + censuses per
    // epoch, oracle = the same closed-form fixed-point updates in SQL
    "t62_trained_quality_scorer" -> QueryDef(trainedQualityScorer _, t62Duck),
    "t63_trained_gate_apply" -> QueryDef(trainedGateApply _, t63Duck),

    "t61_packing_curve" -> QueryDef(packingCurve _,
      s"""WITH tk AS (SELECT doc_id,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 8))::BIGINT % $NumShards AS shard,
         |    len(string_split($NormSqlDuck, ' ')) + 1 AS n_tok
         |  FROM documents),
         |cs AS (SELECT shard, n_tok,
         |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
         |    CAST(SUM(n_tok) OVER (PARTITION BY shard) AS BIGINT) AS shard_total
         |  FROM tk),
         |cx AS (SELECT CAST(unnest([128, 256, 512, 1024]) AS BIGINT) AS ctx),
         |x AS (SELECT cx.ctx, cs.shard, cs.shard_total,
         |    CASE WHEN cs.cum_before % cx.ctx + cs.n_tok > cx.ctx THEN 1 ELSE 0 END AS straddle
         |  FROM cs, cx),
         |sh AS (SELECT ctx, shard, COUNT(*) AS n_docs,
         |    CAST(SUM(straddle) AS BIGINT) AS n_straddlers,
         |    (MAX(shard_total) + ctx - 1) // ctx AS n_seqs,
         |    (MAX(shard_total) + ctx - 1) // ctx * ctx - MAX(shard_total) AS waste
         |  FROM x GROUP BY ctx, shard)
         |SELECT ctx, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_seqs) AS BIGINT) AS n_seqs,
         |  CAST(SUM(n_straddlers) AS BIGINT) AS n_straddlers,
         |  CAST(SUM(waste) AS BIGINT) AS waste_tokens,
         |  CAST(CASE WHEN SUM(n_docs) = 0 THEN -1
         |    ELSE SUM(n_straddlers) * 1000 // SUM(n_docs) END AS BIGINT) AS straddle_permille
         |FROM sh GROUP BY ctx ORDER BY ctx""".stripMargin),

    "t21_shard_assignment" -> QueryDef(shardAssignment _,
      s"""WITH sh AS (SELECT doc_id, source, text,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 8))::BIGINT % $NumShards AS shard,
         |    len(string_split($NormSqlDuck, ' ')) AS n_tok
         |  FROM documents)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
         |  COUNT(DISTINCT source) AS n_sources
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin),

    "t22_token_budget_select" -> QueryDef(tokenBudgetSelect _,
      s"""WITH nr AS (SELECT doc_id, string_split($NormSqlDuck, ' ') AS ts FROM documents),
         |d AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
         |        (CAST(len(list_distinct(ts)) AS BIGINT) * 1000) // CAST(len(ts) AS BIGINT) AS score
         |      FROM nr),
         |b AS (SELECT SUM(n_tok) // $BudgetDen AS budget FROM d),
         |r AS (SELECT doc_id, score, n_tok,
         |        SUM(n_tok) OVER (ORDER BY score DESC, doc_id ASC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
         |      FROM d)
         |SELECT doc_id, score, n_tok FROM r, b WHERE running <= budget
         |ORDER BY doc_id""".stripMargin),

    "t23_source_overlap" -> QueryDef(sourceOverlap _,
      s"""WITH st AS (SELECT DISTINCT source, tok FROM (
         |    SELECT source, unnest(string_split($NormSqlDuck, ' ')) AS tok FROM documents) u
         |  WHERE length(tok) >= 1),
         |sz AS (SELECT source, COUNT(*) AS vsz FROM st GROUP BY source),
         |pr AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
         |       FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
         |       GROUP BY 1, 2)
         |SELECT source_a, source_b, n_inter, za.vsz AS n_a, zb.vsz AS n_b,
         |  CAST(n_inter AS DOUBLE) / (za.vsz + zb.vsz - n_inter) AS jaccard
         |FROM pr JOIN sz za ON za.source = pr.source_a
         |        JOIN sz zb ON zb.source = pr.source_b
         |ORDER BY source_a, source_b""".stripMargin),

    "t24_pii_scrub" -> QueryDef(piiScrub _,
      s"""WITH p AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com tel +1-555-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS planted
         |  FROM documents),
         |s AS (SELECT doc_id, planted,
         |    CAST(len(regexp_extract_all(planted, '$EmailRe')) AS INT) AS n_email,
         |    CAST(len(regexp_extract_all(planted, '$PhoneRe')) AS INT) AS n_phone,
         |    CAST(len(regexp_extract_all(planted, '$IpRe')) AS INT) AS n_ip,
         |    regexp_replace(regexp_replace(regexp_replace(planted,
         |      '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'),
         |      '$IpRe', '<IP>', 'g') AS scrubbed
         |  FROM p)
         |SELECT doc_id, n_email, n_phone, n_ip,
         |  CAST(length(planted) - length(scrubbed) AS INT) AS delta_chars,
         |  md5(scrubbed) AS scrub_md5
         |FROM s ORDER BY doc_id""".stripMargin),

    "t10_bpe_token_count" -> QueryDef(bpeTokenCount _,
      s"""SELECT doc_id,
         |  CAST(LEN(regexp_extract_all(lower(text), '${BpePattern.replace("'", "''")}')) AS INT) AS n_bpe,
         |  CAST(LEN(string_split_regex(trim(text), '\\s+')) AS INT) AS n_ws,
         |  CAST(LEN(regexp_extract_all(lower(text), '${BpePattern.replace("'", "''")}')) AS DOUBLE)
         |    / LEN(string_split_regex(trim(text), '\\s+')) AS tokens_per_word
         |FROM documents ORDER BY doc_id""".stripMargin),

    // all three rules compare via integer cross-multiplication — no
    // float ever enters the census, so the counts cannot drift
    "t28_filter_census" -> QueryDef(filterCensus _,
      s"""WITH b AS (SELECT source, $NormSqlDuck AS nrm FROM documents),
         |m AS (SELECT source,
         |    CAST(len(string_split(nrm, ' ')) AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(string_split(nrm, ' '))) AS BIGINT) AS n_distinct,
         |    CAST(length(nrm) - (len(string_split(nrm, ' ')) - 1) AS BIGINT) AS n_alpha
         |  FROM b),
         |f AS (SELECT source,
         |    (n_tok < 30 OR n_tok > 100000) AS f_len,
         |    (n_alpha < n_tok * 3 OR n_alpha > n_tok * 10) AS f_mwl,
         |    ((n_tok - n_distinct) * 10 >= n_tok * 6) AS f_dup
         |  FROM m)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
         |  CAST(SUM(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_mwl,
         |  CAST(SUM(CASE WHEN f_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_dup,
         |  CAST(SUM(CASE WHEN NOT f_len AND NOT f_mwl AND NOT f_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         |FROM f GROUP BY source ORDER BY source""".stripMargin),

    "t29_length_band_filter" -> QueryDef(lengthBandFilter _,
      """WITH h AS (SELECT lang, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_total FROM h GROUP BY 1),
        |cum AS (SELECT h.lang, h.n_chars, t.n_total,
        |    CAST(SUM(c) OVER (PARTITION BY h.lang ORDER BY h.n_chars
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM h JOIN t ON t.lang = h.lang),
        |lo AS (SELECT lang, MIN(n_chars) AS lo FROM cum WHERE cum * 10 >= n_total GROUP BY lang),
        |hi AS (SELECT lang, MIN(n_chars) AS hi FROM cum WHERE cum * 10 >= 9 * n_total GROUP BY lang)
        |SELECT d.lang, lo.lo, hi.hi, t.n_total, COUNT(*) AS n_kept,
        |  CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
        |FROM documents d
        |JOIN lo ON lo.lang = d.lang JOIN hi ON hi.lang = d.lang JOIN t ON t.lang = d.lang
        |WHERE d.n_chars BETWEEN lo.lo AND hi.hi
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin),

    "t30_dup_passage_extents" -> QueryDef(dupPassageExtents _,
      s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tk AS (SELECT doc_id, string_split(nrm, ' ') AS ts FROM nr),
         |p0 AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok, ts,
         |        CAST(unnest(generate_series(1, len(ts) - 7)) AS INT) AS i
         |       FROM tk WHERE len(ts) >= 8),
         |p AS (SELECT doc_id, n_tok, i,
         |        ('0x' || substr(md5(list_aggregate(ts[i:i+7], 'string_agg', ' ')), 1, 15))::BIGINT AS gid
         |      FROM p0),
         |sh AS (SELECT gid FROM (SELECT gid, doc_id FROM p GROUP BY 1, 2)
         |       GROUP BY gid HAVING COUNT(*) >= 2),
         |dd AS (SELECT p.doc_id, p.n_tok, p.i FROM p JOIN sh ON sh.gid = p.gid),
         |l AS (SELECT doc_id, n_tok, i,
         |        LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM dd),
         |b AS (SELECT doc_id, n_tok, i,
         |        CASE WHEN prev IS NULL OR i - prev > 8 THEN 1 ELSE 0 END AS brk FROM l),
         |e AS (SELECT doc_id, n_tok, i,
         |        CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ext FROM b),
         |x AS (SELECT doc_id, n_tok, ext, MAX(i) - MIN(i) + 8 AS ext_len FROM e GROUP BY 1, 2, 3)
         |SELECT doc_id, n_tok, CAST(COUNT(*) AS BIGINT) AS n_extents,
         |  CAST(SUM(ext_len) AS BIGINT) AS dup_tokens,
         |  round(CAST(SUM(ext_len) AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS dup_share
         |FROM x GROUP BY 1, 2 ORDER BY doc_id""".stripMargin),

    "t31_lexical_diversity" -> QueryDef(lexicalDiversity _,
      s"""WITH nr AS (SELECT source, $NormSqlDuck AS nrm FROM documents),
         |tk AS (SELECT source, unnest(string_split(nrm, ' ')) AS tok FROM nr),
         |tf AS (SELECT source, tok, COUNT(*) AS n FROM tk
         |       WHERE length(tok) >= 1 GROUP BY 1, 2)
         |SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_types,
         |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |  CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
         |  round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS ttr
         |FROM tf GROUP BY source ORDER BY source""".stripMargin),

    // the scorecard's flag sets restate the t11 victim CTE and the t19
    // gram chain (both shared constants), so all three oracles key on
    // the same definitions by construction
    "t33_curation_scorecard" -> QueryDef(curationScorecard _,
      s"""$DupesCtesDuck,
         |${Gram8CtesDuck.stripPrefix("WITH ")},
         |bench AS (SELECT DISTINCT gid FROM g WHERE doc_id < 50),
         |cont AS (SELECT DISTINCT doc_id FROM g
         |         WHERE doc_id >= 50 AND gid IN (SELECT gid FROM bench)),
         |base AS (SELECT doc_id, source,
         |    CAST(len(string_split($NormSqlDuck, ' ')) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT b.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(b.n_tok) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN dp.b_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_victims,
         |  CAST(SUM(CASE WHEN ct.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  round(CAST(SUM(CASE WHEN dp.b_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
         |  round(CAST(SUM(CASE WHEN ct.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS contam_rate
         |FROM base b
         |LEFT JOIN dupes dp ON dp.b_id = b.doc_id
         |LEFT JOIN cont ct ON ct.doc_id = b.doc_id
         |GROUP BY b.source ORDER BY b.source""".stripMargin),

    // the scorecard's drill-through: same shared dup/contamination CTE
    // chain, one extra grouping key (removal reason) over removed docs
    "t35_curation_reasons" -> QueryDef(curationReasons _,
      s"""$DupesCtesDuck,
         |${Gram8CtesDuck.stripPrefix("WITH ")},
         |bench AS (SELECT DISTINCT gid FROM g WHERE doc_id < 50),
         |cont AS (SELECT DISTINCT doc_id FROM g
         |         WHERE doc_id >= 50 AND gid IN (SELECT gid FROM bench)),
         |base AS (SELECT doc_id, source,
         |    CAST(len(string_split($NormSqlDuck, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |flagged AS (SELECT b.source, b.n_tok,
         |    CASE WHEN dp.b_id IS NOT NULL AND ct.doc_id IS NOT NULL THEN 'both'
         |         WHEN dp.b_id IS NOT NULL THEN 'dup'
         |         ELSE 'contaminated' END AS reason
         |  FROM base b
         |  LEFT JOIN dupes dp ON dp.b_id = b.doc_id
         |  LEFT JOIN cont ct ON ct.doc_id = b.doc_id
         |  WHERE dp.b_id IS NOT NULL OR ct.doc_id IS NOT NULL)
         |SELECT source, reason,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |FROM flagged GROUP BY source, reason
         |ORDER BY source, reason""".stripMargin),

    // split hash keys on the cluster ROOT (t16's recursive-CTE labeling,
    // same fixpoint as the Spark loop), so a whole near-dup cluster
    // stands or falls in one split — the leakage guard itself
    "t32_leakage_safe_split" -> QueryDef(leakageSafeSplit _,
      s"""${DupesCtesDuck.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$ClusterLabCtesDuck,
         |k AS (SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS split_key
         |      FROM documents d LEFT JOIN lab ON lab.id = d.doc_id),
         |h AS (SELECT doc_id, split_key,
         |  ('0x' || substr(md5(CAST(split_key AS VARCHAR) || ':split'), 1, 8))::BIGINT % 1000 AS hv
         |  FROM k)
         |SELECT doc_id, split_key,
         |  CASE WHEN hv < 900 THEN 'train' WHEN hv < 950 THEN 'val' ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin),

    // the n_crossing column must be 0 — derived from the DATA, not
    // assumed from t32's construction
    "t47_split_integrity" -> QueryDef(splitIntegrity _,
      s"""${DupesCtesDuck.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$ClusterLabCtesDuck,
         |k AS (SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS split_key
         |      FROM documents d LEFT JOIN lab ON lab.id = d.doc_id),
         |h AS (SELECT doc_id, split_key,
         |  ('0x' || substr(md5(CAST(split_key AS VARCHAR) || ':split'), 1, 8))::BIGINT % 1000 AS hv
         |  FROM k),
         |spl AS (SELECT doc_id,
         |  CASE WHEN hv < 900 THEN 'train' WHEN hv < 950 THEN 'val' ELSE 'test' END AS split
         |  FROM h),
         |nr2 AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tk2 AS (SELECT doc_id, CAST(len(string_split(nrm, ' ')) AS BIGINT) AS n_tokens FROM nr2),
         |cr AS (SELECT COALESCE(CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_crossing
         |       FROM (SELECT lab.cluster_id, COUNT(DISTINCT spl.split) AS ns
         |             FROM lab JOIN spl ON spl.doc_id = lab.id GROUP BY lab.cluster_id) q)
         |SELECT spl.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(tk2.n_tokens) AS BIGINT) AS n_tokens, cr.n_crossing
         |FROM spl JOIN tk2 ON tk2.doc_id = spl.doc_id CROSS JOIN cr
         |GROUP BY spl.split, cr.n_crossing ORDER BY spl.split""".stripMargin),

    "t25_boilerplate_share" -> QueryDef(boilerplateShare _,
      s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tk AS (SELECT doc_id, string_split(nrm, ' ') AS ts FROM nr WHERE length(nrm) >= 1),
         |g0 AS (SELECT doc_id, ts, CAST(unnest(generate_series(1, len(ts) - 2)) AS INT) AS i
         |       FROM tk WHERE len(ts) >= 3),
         |g AS (SELECT DISTINCT doc_id,
         |        ('0x' || substr(md5(list_aggregate(ts[i:i+2], 'string_agg', ' ')), 1, 15))::BIGINT AS gid
         |      FROM g0),
         |b AS (SELECT gid FROM g GROUP BY gid HAVING COUNT(*) >= 5),
         |pd AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
         |bd AS (SELECT doc_id, COUNT(*) AS n_boiler FROM g
         |       WHERE gid IN (SELECT gid FROM b) GROUP BY doc_id)
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(COALESCE(pd.n_grams, 0)) AS BIGINT) AS sum_grams,
         |  CAST(SUM(COALESCE(bd.n_boiler, 0)) AS BIGINT) AS sum_boiler,
         |  round(CAST(SUM(COALESCE(bd.n_boiler, 0)) AS DOUBLE)
         |    / CAST(SUM(COALESCE(pd.n_grams, 0)) AS DOUBLE), 6) AS boiler_share
         |FROM documents d
         |LEFT JOIN pd ON pd.doc_id = d.doc_id
         |LEFT JOIN bd ON bd.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // the bloom sketch is a prefilter only — the exact confirmation join
    // makes the result identical to plain exact decontamination, which is
    // exactly what the oracle states (no bloom on the DuckDB side)
    "t26_bloom_decontaminate" -> QueryDef(bloomDecontaminate _,
      s"""$Gram8CtesDuck,
         |bench AS (SELECT DISTINCT gid FROM g WHERE doc_id < 50),
         |contam AS (SELECT DISTINCT doc_id FROM g
         |           WHERE doc_id >= 50 AND gid IN (SELECT gid FROM bench))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_corpus,
         |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM contam) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contaminated,
         |  CAST(COUNT(*) - SUM(CASE WHEN doc_id IN (SELECT doc_id FROM contam) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clean
         |FROM documents WHERE doc_id >= 50
         |GROUP BY source ORDER BY source""".stripMargin),

    "t27_trigram_familiarity" -> QueryDef(charTrigramFamiliarity _,
      s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |t AS (SELECT doc_id,
         |        substr(nrm, CAST(unnest(generate_series(1, length(nrm) - 2)) AS INT), 3) AS g
         |      FROM nr WHERE length(nrm) >= 3),
         |m AS (SELECT g, COUNT(*) AS c FROM t GROUP BY g),
         |p AS (SELECT t.doc_id, CAST(SUM(m.c) AS BIGINT) AS sum_c,
         |        CAST(COUNT(*) AS BIGINT) AS n_grams
         |      FROM t JOIN m ON m.g = t.g GROUP BY t.doc_id)
         |SELECT doc_id, n_grams,
         |  round(CAST(sum_c AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS familiarity
         |FROM p ORDER BY familiarity ASC, doc_id ASC LIMIT 25""".stripMargin),

    // corpus pays ONE token aggregation; the merge statistic iterates
    // on the vocab-bounded frame (t18's shape)
    "t39_bpe_merge_candidates" -> QueryDef(bpeMergeCandidates _,
      s"""WITH nr AS (SELECT $NormSqlDuck AS nrm FROM documents),
         |v AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
         |      FROM (SELECT unnest(string_split(nrm, ' ')) AS tok FROM nr)
         |      WHERE length(tok) >= 2 GROUP BY tok),
         |p AS (SELECT substr(tok, CAST(i AS INT), 2) AS pair, f
         |      FROM (SELECT tok, f, unnest(generate_series(1, length(tok) - 1)) AS i FROM v)),
         |c AS (SELECT pair, CAST(SUM(f) AS BIGINT) AS n FROM p GROUP BY pair),
         |t AS (SELECT pair, n FROM c ORDER BY n DESC, pair ASC LIMIT 20)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS BIGINT) AS rk,
         |  pair, n
         |FROM t ORDER BY rk""".stripMargin),

    // history side joins KEYED (corpus-scale at 100 TB) — the inverse
    // of t19's broadcast-benchmark discipline
    "t38_novelty_vs_snapshot" -> QueryDef(noveltyVsSnapshot _,
      s"""$Gram8CtesDuck,
         |seen AS (SELECT DISTINCT gid FROM g WHERE doc_id < 250),
         |nw AS (SELECT doc_id, g.gid, CASE WHEN seen.gid IS NULL THEN 0 ELSE 1 END AS hit
         |       FROM g LEFT JOIN seen USING (gid) WHERE doc_id >= 250)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(hit) AS BIGINT) AS n_seen,
         |  round(CAST(COUNT(*) - SUM(hit) AS DOUBLE) / COUNT(*), 6) AS novelty
         |FROM nw GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "t37_source_quality_drift" -> QueryDef(sourceQualityDrift _,
      """WITH s0 AS (SELECT source, CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
        |    CAST(LENGTH(text) - LENGTH(replace(text, ' ', '')) AS BIGINT) AS n_spaces
        |  FROM documents),
        |bk AS (SELECT source,
        |    LEAST(CAST(FLOOR(CAST(n_chars - n_digit - n_punct - n_spaces AS DOUBLE)
        |      / n_chars * 10) AS BIGINT), 9) AS b FROM s0 WHERE n_chars > 0),
        |sb AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS n_sb FROM bk GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(SUM(n_sb) AS BIGINT) AS n_s FROM sb GROUP BY 1),
        |nb AS (SELECT b, CAST(SUM(n_sb) AS BIGINT) AS n_b FROM sb GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_sb) AS BIGINT) AS n FROM sb),
        |t AS (SELECT sb.source, ns.n_s,
        |    CAST(FLOOR(ln(CAST(sb.n_sb * tot.n AS DOUBLE)
        |        / CAST(ns.n_s * nb.n_b AS DOUBLE)) * 1e6) AS BIGINT) AS lnq,
        |    sb.n_sb * tot.n - ns.n_s * nb.n_b AS num,
        |    ns.n_s * tot.n AS den
        |  FROM sb JOIN ns USING (source) JOIN nb USING (b) CROSS JOIN tot)
        |SELECT source, MAX(n_s) AS n_docs, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  round(CAST(SUM(CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * lnq)
        |    AS BIGINT)) AS DOUBLE) / 1e6, 6) AS psi
        |FROM t GROUP BY source ORDER BY source""".stripMargin),

    // both LM scores share t36's smoothing/quantization; unseen target
    // bigrams COALESCE to the add-one floor, and the per-bigram average
    // difference computes in exact-below-2^53 doubles on both engines
    "t51_dsir_select" -> QueryDef(dsirSelect _,
      s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tk AS (SELECT doc_id, string_split(nrm, ' ') AS ts FROM nr),
         |bg AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
         |       FROM (SELECT doc_id, ts,
         |               CAST(unnest(generate_series(1, len(ts) - 1)) AS INT) AS i
         |             FROM tk WHERE len(ts) >= 2)),
         |cb AS (SELECT * FROM bg WHERE doc_id >= 50),
         |tb AS (SELECT * FROM bg WHERE doc_id < 50),
         |c2t AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2t FROM tb GROUP BY 1, 2),
         |c1t AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1t FROM tb GROUP BY 1),
         |vt AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vst
         |       FROM (SELECT unnest(ts) AS tok FROM tk WHERE doc_id < 50)
         |       WHERE length(tok) >= 1),
         |tq AS (SELECT cb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |    CAST(SUM(CAST(FLOOR(ln(CAST(COALESCE(c2t.c2t, 0) + 1 AS DOUBLE) /
         |        CAST(COALESCE(c1t.c1t, 0) + vt.vst AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS sqt
         |  FROM cb LEFT JOIN c2t USING (w1, w2) LEFT JOIN c1t USING (w1)
         |  CROSS JOIN vt GROUP BY cb.doc_id),
         |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cc FROM bg GROUP BY 1),
         |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vs
         |      FROM (SELECT unnest(ts) AS tok FROM tk) WHERE length(tok) >= 1),
         |cq AS (SELECT cb.doc_id,
         |    CAST(SUM(CAST(FLOOR(ln(CAST(c2.c + 1 AS DOUBLE) / CAST(c1.cc + v.vs AS DOUBLE))
         |        * 1e6) AS BIGINT)) AS BIGINT) AS sqc
         |  FROM cb JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
         |  GROUP BY cb.doc_id),
         |j AS (SELECT tq.doc_id, tq.n_bigrams,
         |    CAST(FLOOR(CAST(tq.sqt - cq.sqc AS DOUBLE) / CAST(tq.n_bigrams AS DOUBLE)) AS BIGINT) AS rq
         |  FROM tq JOIN cq USING (doc_id)),
         |sel AS (SELECT doc_id, n_bigrams, rq FROM j
         |        ORDER BY rq DESC, doc_id LIMIT 20)
         |SELECT doc_id, n_bigrams, round(CAST(rq AS DOUBLE) / 1e6, 6) AS importance
         |FROM sel ORDER BY importance DESC, doc_id""".stripMargin),

    // marginals derive from the same c2 frame in both engines; the PMI
    // ratio multiplies in DOUBLE (M·c overflows BIGINT at PB scale) and
    // floor-quantizes before the rank, so the top-20 cut is tie-stable
    "t50_pmi_collocations" -> QueryDef(pmiCollocations _,
      s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tk AS (SELECT doc_id, string_split(nrm, ' ') AS ts FROM nr),
         |bg AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
         |       FROM (SELECT doc_id, ts,
         |               CAST(unnest(generate_series(1, len(ts) - 1)) AS INT) AS i
         |             FROM tk WHERE len(ts) >= 2)),
         |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM bg GROUP BY 1, 2),
         |mm AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS m FROM c2),
         |cl AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS cl FROM c2 GROUP BY 1),
         |cr AS (SELECT w2, CAST(SUM(n_pair) AS BIGINT) AS cr FROM c2 GROUP BY 1),
         |p AS (SELECT c2.w1, c2.w2, c2.n_pair,
         |    CAST(FLOOR(ln((CAST(mm.m AS DOUBLE) * CAST(c2.n_pair AS DOUBLE)) /
         |                  (CAST(cl.cl AS DOUBLE) * CAST(cr.cr AS DOUBLE))) * 1e6) AS BIGINT) AS pmiq
         |  FROM c2 JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN mm
         |  WHERE c2.n_pair >= 20),
         |sel AS (SELECT w1, w2, n_pair, pmiq FROM p
         |        ORDER BY pmiq DESC, w1, w2 LIMIT 20)
         |SELECT w1, w2, n_pair, round(CAST(pmiq AS DOUBLE) / 1e6, 6) AS pmi
         |FROM sel ORDER BY pmi DESC, w1, w2""".stripMargin),

    "t36_bigram_lm_score" -> QueryDef(bigramLmScore _,
      s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tk AS (SELECT doc_id, string_split(nrm, ' ') AS ts FROM nr),
         |bg AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
         |       FROM (SELECT doc_id, ts,
         |               CAST(unnest(generate_series(1, len(ts) - 1)) AS INT) AS i
         |             FROM tk WHERE len(ts) >= 2)),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, COUNT(*) AS cc FROM bg GROUP BY 1),
         |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vs
         |      FROM (SELECT unnest(ts) AS tok FROM tk) WHERE length(tok) >= 1),
         |sc AS (SELECT bg.doc_id,
         |        CAST(FLOOR(ln(CAST(c2.c + 1 AS DOUBLE) / CAST(c1.cc + v.vs AS DOUBLE))
         |             * 1e6) AS BIGINT) AS q
         |       FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  round(CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1e6, 6) AS avg_logp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // the argmax ordering is (alpha_ratio DESC, doc_id ASC): alpha_ratio
    // is integer counts + one IEEE division in both engines, so the
    // winner is bit-identical by construction
    "t40_quality_canonical_keep" -> QueryDef(qualityCanonicalKeep _,
      s"""${DupesCtesDuck.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$ClusterLabCtesDuck,
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_sz FROM lab GROUP BY cluster_id),
         |q AS (SELECT doc_id,
         |    CAST(LENGTH(text) - (LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')))
         |       - (LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')))
         |       - (LENGTH(text) - LENGTH(replace(text, ' ', ''))) AS DOUBLE) / LENGTH(text) AS alpha_ratio
         |  FROM documents),
         |j AS (SELECT lab.id AS doc_id, lab.cluster_id, sz.cluster_sz, q.alpha_ratio
         |      FROM lab JOIN sz ON sz.cluster_id = lab.cluster_id
         |      JOIN q ON q.doc_id = lab.id
         |      WHERE sz.cluster_sz >= 2),
         |r AS (SELECT doc_id, cluster_id, cluster_sz, alpha_ratio,
         |      ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY alpha_ratio DESC, doc_id ASC) AS rk,
         |      MIN(doc_id) OVER (PARTITION BY cluster_id) AS first_id FROM j)
         |SELECT cluster_id, cluster_sz, doc_id AS keep_id, alpha_ratio AS keep_alpha,
         |  CAST(CASE WHEN doc_id <> first_id THEN 1 ELSE 0 END AS INT) AS upgraded
         |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin),

    // positioned-gram chain shared with t30; benchmark side (docs 0-49)
    // is DISTINCT gids only — the broadcast-bounded side, t19's shape
    "t41_contamination_extents" -> QueryDef(contaminationExtents _,
      s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tk AS (SELECT doc_id, string_split(nrm, ' ') AS ts FROM nr),
         |p0 AS (SELECT doc_id, ts, CAST(unnest(generate_series(1, len(ts) - 7)) AS INT) AS i
         |       FROM tk WHERE len(ts) >= 8),
         |p AS (SELECT doc_id, i,
         |        ('0x' || substr(md5(list_aggregate(ts[i:i+7], 'string_agg', ' ')), 1, 15))::BIGINT AS gid
         |      FROM p0),
         |bench AS (SELECT DISTINCT gid FROM p WHERE doc_id < 50),
         |dd AS (SELECT p.doc_id, p.i FROM p JOIN bench ON bench.gid = p.gid
         |       WHERE p.doc_id >= 50),
         |l AS (SELECT doc_id, i, LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM dd),
         |b AS (SELECT doc_id, i, CASE WHEN prev IS NULL OR i - prev > 8 THEN 1 ELSE 0 END AS brk FROM l),
         |e AS (SELECT doc_id, i, CAST(SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ext FROM b)
         |SELECT doc_id, MIN(i) AS span_start, MAX(i) - MIN(i) + 8 AS span_len,
         |  CAST(COUNT(*) AS BIGINT) AS n_grams
         |FROM e GROUP BY doc_id, ext ORDER BY doc_id, span_start""".stripMargin),

    // t43's CTE graph re-read as per-stage censuses (the waterfall);
    // swq restates t42's counts WITHOUT the gate so stage 0/1 see every
    // tokenizable doc
    "t58_curation_waterfall" -> QueryDef(curationWaterfall _,
      s"""${DupesCtesDuck.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$ClusterLabCtesDuck,
         |csz AS (SELECT cluster_id, COUNT(*) AS cluster_sz FROM lab GROUP BY cluster_id),
         |alq AS (SELECT doc_id,
         |    CAST(LENGTH(text) - (LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')))
         |       - (LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')))
         |       - (LENGTH(text) - LENGTH(replace(text, ' ', ''))) AS DOUBLE) / LENGTH(text) AS alpha_ratio
         |  FROM documents),
         |cj AS (SELECT lab.id AS doc_id, lab.cluster_id, alq.alpha_ratio
         |       FROM lab JOIN csz ON csz.cluster_id = lab.cluster_id
         |       JOIN alq ON alq.doc_id = lab.id WHERE csz.cluster_sz >= 2),
         |cr AS (SELECT doc_id, cluster_id,
         |       ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY alpha_ratio DESC, doc_id ASC) AS rk
         |       FROM cj),
         |keepers AS (SELECT doc_id FROM cr WHERE rk = 1),
         |members AS (SELECT doc_id FROM cj),
         |nr2 AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tok2 AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS tok
         |         FROM nr2 WHERE length(nrm) >= 1),
         |swq AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       COUNT(DISTINCT CASE WHEN tok IN (${GopherWords.map("'" + _ + "'").mkString(", ")})
         |         THEN tok END) AS n_gopher
         |       FROM tok2 GROUP BY doc_id),
         |tk2 AS (SELECT doc_id, string_split(nrm, ' ') AS ts FROM nr2),
         |sp0 AS (SELECT doc_id, ts, CAST(unnest(generate_series(1, len(ts) - 7)) AS INT) AS i
         |        FROM tk2 WHERE len(ts) >= 8),
         |sp AS (SELECT doc_id, i,
         |        ('0x' || substr(md5(list_aggregate(ts[i:i+7], 'string_agg', ' ')), 1, 15))::BIGINT AS gid
         |       FROM sp0),
         |sbench AS (SELECT DISTINCT gid FROM sp WHERE doc_id < 50),
         |sdd AS (SELECT sp.doc_id, sp.i FROM sp JOIN sbench ON sbench.gid = sp.gid
         |        WHERE sp.doc_id >= 50),
         |sl AS (SELECT doc_id, i, LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM sdd),
         |sbr AS (SELECT doc_id, i, CASE WHEN prev IS NULL OR i - prev > 8 THEN 1 ELSE 0 END AS brk FROM sl),
         |sex AS (SELECT doc_id, i, SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ext FROM sbr),
         |sx AS (SELECT doc_id, ext, MAX(i) - MIN(i) + 8 AS span_len FROM sex GROUP BY 1, 2),
         |scrub AS (SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS n_scrubbed FROM sx GROUP BY doc_id),
         |st3 AS (SELECT doc_id, n_tokens FROM swq
         |       WHERE doc_id >= 50 AND n_gopher >= 1
         |         AND (doc_id NOT IN (SELECT doc_id FROM members)
         |              OR doc_id IN (SELECT doc_id FROM keepers))),
         |st4 AS (SELECT st3.doc_id, st3.n_tokens - COALESCE(scrub.n_scrubbed, 0) AS n_tokens
         |       FROM st3 LEFT JOIN scrub ON scrub.doc_id = st3.doc_id)
         |SELECT '0_raw' AS stage, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM swq
         |UNION ALL SELECT '1_holdout_removed', COUNT(*), CAST(SUM(n_tokens) AS BIGINT)
         |  FROM swq WHERE doc_id >= 50
         |UNION ALL SELECT '2_quality_gate', COUNT(*), CAST(SUM(n_tokens) AS BIGINT)
         |  FROM swq WHERE doc_id >= 50 AND n_gopher >= 1
         |UNION ALL SELECT '3_near_dup', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM st3
         |UNION ALL SELECT '4_decontam_scrub', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM st4
         |ORDER BY stage""".stripMargin),

    "t42_stopword_quality" -> QueryDef(stopwordQuality _,
      s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tok AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS tok
         |        FROM nr WHERE length(nrm) >= 1)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN tok IN (${StopWords.map("'" + _ + "'").mkString(", ")})
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
         |  round(CAST(SUM(CASE WHEN tok IN (${StopWords.map("'" + _ + "'").mkString(", ")})
         |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS stop_ratio,
         |  CAST(COUNT(DISTINCT CASE WHEN tok IN (${GopherWords.map("'" + _ + "'").mkString(", ")})
         |    THEN tok END) AS BIGINT) AS n_gopher,
         |  CAST(CASE WHEN COUNT(DISTINCT CASE WHEN tok IN (${GopherWords.map("'" + _ + "'").mkString(", ")})
         |    THEN tok END) >= 2 THEN 1 ELSE 0 END AS INT) AS gopher_pass
         |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // the upgraded flagship: t40's keep-best survivors + t41's span
    // scrubbing + t42's stop-word gate, restated as one CTE graph over
    // the SAME shared chains the individual oracles use
    "t43_curation_v2" -> QueryDef(curationV2 _,
      s"""${DupesCtesDuck.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$ClusterLabCtesDuck,
         |csz AS (SELECT cluster_id, COUNT(*) AS cluster_sz FROM lab GROUP BY cluster_id),
         |alq AS (SELECT doc_id,
         |    CAST(LENGTH(text) - (LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')))
         |       - (LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')))
         |       - (LENGTH(text) - LENGTH(replace(text, ' ', ''))) AS DOUBLE) / LENGTH(text) AS alpha_ratio
         |  FROM documents),
         |cj AS (SELECT lab.id AS doc_id, lab.cluster_id, alq.alpha_ratio
         |       FROM lab JOIN csz ON csz.cluster_id = lab.cluster_id
         |       JOIN alq ON alq.doc_id = lab.id WHERE csz.cluster_sz >= 2),
         |cr AS (SELECT doc_id, cluster_id,
         |       ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY alpha_ratio DESC, doc_id ASC) AS rk
         |       FROM cj),
         |keepers AS (SELECT doc_id FROM cr WHERE rk = 1),
         |members AS (SELECT doc_id FROM cj),
         |nr2 AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tok2 AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS tok
         |         FROM nr2 WHERE length(nrm) >= 1),
         |gq AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
         |       FROM tok2 GROUP BY doc_id
         |       HAVING COUNT(DISTINCT CASE WHEN tok IN (${GopherWords.map("'" + _ + "'").mkString(", ")})
         |         THEN tok END) >= 1),
         |tk2 AS (SELECT doc_id, string_split(nrm, ' ') AS ts FROM nr2),
         |sp0 AS (SELECT doc_id, ts, CAST(unnest(generate_series(1, len(ts) - 7)) AS INT) AS i
         |        FROM tk2 WHERE len(ts) >= 8),
         |sp AS (SELECT doc_id, i,
         |        ('0x' || substr(md5(list_aggregate(ts[i:i+7], 'string_agg', ' ')), 1, 15))::BIGINT AS gid
         |       FROM sp0),
         |sbench AS (SELECT DISTINCT gid FROM sp WHERE doc_id < 50),
         |sdd AS (SELECT sp.doc_id, sp.i FROM sp JOIN sbench ON sbench.gid = sp.gid
         |        WHERE sp.doc_id >= 50),
         |sl AS (SELECT doc_id, i, LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM sdd),
         |sbr AS (SELECT doc_id, i, CASE WHEN prev IS NULL OR i - prev > 8 THEN 1 ELSE 0 END AS brk FROM sl),
         |sex AS (SELECT doc_id, i, SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ext FROM sbr),
         |sx AS (SELECT doc_id, ext, MAX(i) - MIN(i) + 8 AS span_len FROM sex GROUP BY 1, 2),
         |scrub AS (SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS n_scrubbed FROM sx GROUP BY doc_id),
         |base AS (SELECT d.doc_id, d.source, gq.n_tokens
         |         FROM documents d JOIN gq ON gq.doc_id = d.doc_id
         |         WHERE d.doc_id >= 50
         |           AND (d.doc_id NOT IN (SELECT doc_id FROM members)
         |                OR d.doc_id IN (SELECT doc_id FROM keepers)))
         |SELECT b2.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(b2.n_tokens) AS BIGINT) AS n_tokens_total,
         |  CAST(SUM(COALESCE(s2.n_scrubbed, 0)) AS BIGINT) AS n_tokens_scrubbed,
         |  CAST(SUM(b2.n_tokens) - SUM(COALESCE(s2.n_scrubbed, 0)) AS BIGINT) AS n_tokens_clean
         |FROM base b2 LEFT JOIN scrub s2 ON s2.doc_id = b2.doc_id
         |GROUP BY b2.source ORDER BY b2.source""".stripMargin),

    // the sketch side folds gid into the 31-bit field before the affine
    // hash (no BIGINT overflow in either engine); est = k/16 dyadic
    "t46_source_minhash_sim" -> QueryDef(sourceMinhashSim _,
      s"""$Gram8CtesDuck,
         |sg AS (SELECT DISTINCT d.source, g.gid
         |       FROM g JOIN documents d ON d.doc_id = g.doc_id),
         |sk AS (SELECT source, ${MhA.zip(MhB).zipWithIndex.map { case ((a, b), j) =>
               s"MIN(($a * (gid % ${P31}) + $b) % ${P31}) AS mh$j" }.mkString(",\n    ")}
         |  FROM sg GROUP BY source),
         |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM sg GROUP BY source),
         |iv AS (SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS inter
         |       FROM sg a JOIN sg b ON b.gid = a.gid AND a.source < b.source
         |       GROUP BY a.source, b.source),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b,
         |    (${(0 until NumHashes).map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END").mkString(" + ")}) AS n_agree
         |  FROM sk a JOIN sk b ON a.source < b.source)
         |SELECT pr.src_a, pr.src_b, pr.n_agree,
         |  CAST(pr.n_agree AS DOUBLE) / $NumHashes AS est_sim,
         |  round(CAST(COALESCE(iv.inter, 0) AS DOUBLE) /
         |    CAST(za.sz + zb.sz - COALESCE(iv.inter, 0) AS DOUBLE), 6) AS jaccard
         |FROM pr
         |LEFT JOIN iv ON iv.src_a = pr.src_a AND iv.src_b = pr.src_b
         |JOIN sz za ON za.source = pr.src_a
         |JOIN sz zb ON zb.source = pr.src_b
         |ORDER BY pr.src_a, pr.src_b""".stripMargin),

    // quantized at 1e-5 (BIGINT headroom for np·Σy² at 100 TB token
    // counts); every CAST sits at the same point as the Spark column
    // expression so the three final divisions are bit-identical
    "t45_zipf_fit" -> QueryDef(zipfFit _,
      s"""WITH nr AS (SELECT $NormSqlDuck AS nrm FROM documents),
         |tok AS (SELECT unnest(string_split(nrm, ' ')) AS tok FROM nr WHERE length(nrm) >= 1),
         |c AS (SELECT tok, COUNT(*) AS n FROM tok WHERE length(tok) >= 1 GROUP BY tok),
         |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rk FROM c),
         |xy AS (SELECT CAST(FLOOR(ln(CAST(rk AS DOUBLE)) * 1e5) AS BIGINT) AS x,
         |       CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1e5) AS BIGINT) AS y
         |       FROM r WHERE rk <= 200),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
         |       CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |       CAST(SUM(x * y) AS BIGINT) AS sxy,
         |       CAST(SUM(x * x) AS BIGINT) AS sxx,
         |       CAST(SUM(y * y) AS BIGINT) AS syy FROM xy)
         |SELECT np AS n_points,
         |  round(CAST(np * sxy - sx * sy AS DOUBLE) /
         |        CAST(np * sxx - sx * sx AS DOUBLE), 6) AS slope,
         |  round((CAST(sy AS DOUBLE) - (CAST(np * sxy - sx * sy AS DOUBLE) /
         |        CAST(np * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
         |        / np / 1e5, 6) AS intercept,
         |  round((CAST(np * sxy - sx * sy AS DOUBLE) * CAST(np * sxy - sx * sy AS DOUBLE)) /
         |        (CAST(np * sxx - sx * sx AS DOUBLE) * CAST(np * syy - sy * sy AS DOUBLE)), 6) AS r2
         |FROM s""".stripMargin),

    // n_agree is a plain INT sum of CASEs (never a SUM aggregate — the
    // HUGEINT trap); est = k/16 is dyadic-exact in both engines
    "t44_minhash_calibration" -> QueryDef(minhashCalibration _,
      s"""$DupesCtesDuck,
         |tp AS (SELECT i.a_id, i.b_id,
         |    CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) AS jaccard
         |  FROM inter i
         |  JOIN sizes za ON za.doc_id = i.a_id
         |  JOIN sizes zb ON zb.doc_id = i.b_id
         |  WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.5),
         |cal AS (SELECT tp.a_id, tp.b_id, tp.jaccard,
         |    (${(0 until NumHashes).map(j => s"CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END").mkString("\n     + ")}) AS n_agree
         |  FROM tp
         |  JOIN sig sa ON sa.doc_id = tp.a_id
         |  JOIN sig sb ON sb.doc_id = tp.b_id)
         |SELECT a_id, b_id, jaccard, n_agree,
         |  CAST(n_agree AS DOUBLE) / $NumHashes AS est_jaccard,
         |  round(abs(CAST(n_agree AS DOUBLE) / $NumHashes - jaccard), 6) AS abs_err
         |FROM cal ORDER BY a_id, b_id""".stripMargin),

    // idf is floor-quantized to a BIGINT grid before any sum (the one
    // libm call), tf·idf sums exactly; inner LIMIT 20 selects on the
    // total order (scoreq DESC, doc_id) so both engines keep the same 20
    "t48_tfidf_topk" -> QueryDef(tfidfTopk _,
      s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tkn AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS tok FROM nr),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tkn
         |       WHERE tok IN ($QueryTermsSqlDuck) GROUP BY 1, 2),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |idf AS (SELECT tok,
         |    CAST(FLOOR(ln(CAST(n_docs AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 1e6)
         |         AS BIGINT) AS idfq
         |  FROM tf CROSS JOIN nd GROUP BY tok, n_docs),
         |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         |    CAST(SUM(tf * idfq) AS BIGINT) AS scoreq
         |  FROM tf JOIN idf USING (tok) GROUP BY doc_id
         |  ORDER BY scoreq DESC, doc_id LIMIT 20)
         |SELECT doc_id, n_terms, round(CAST(scoreq AS DOUBLE) / 1e6, 6) AS score
         |FROM sc ORDER BY score DESC, doc_id""".stripMargin),

    // double constants in scientific notation (2.2e0 not 2.2): a bare
    // decimal literal is DECIMAL in DuckDB, and DECIMAL→DOUBLE coercion
    // inside the saturation ratio must not differ from Spark's double
    // literals; association is parenthesized identically in both engines
    "t49_bm25_topk" -> QueryDef(bm25Topk _,
      s"""WITH nr AS (SELECT doc_id, $NormSqlDuck AS nrm FROM documents),
         |tkn AS (SELECT doc_id, unnest(string_split(nrm, ' ')) AS tok FROM nr),
         |dl AS (SELECT doc_id, CAST(len(string_split(nrm, ' ')) AS BIGINT) AS dl
         |       FROM nr WHERE length(nrm) > 0),
         |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tkn
         |       WHERE tok IN ($QueryTermsSqlDuck) GROUP BY 1, 2),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |idf AS (SELECT tok,
         |    CAST(FLOOR(ln((CAST(n_docs - COUNT(*) AS DOUBLE) + 5e-1) /
         |                  (CAST(COUNT(*) AS DOUBLE) + 5e-1) + 1e0) * 1e6)
         |         AS BIGINT) AS idfq
         |  FROM tf CROSS JOIN nd GROUP BY tok, n_docs),
         |q AS (SELECT tf.doc_id,
         |    CAST(FLOOR(CAST(idfq AS DOUBLE) *
         |        (CAST(tf AS DOUBLE) * 2.2e0) /
         |        (CAST(tf AS DOUBLE) + 1.2e0 *
         |          (2.5e-1 + 7.5e-1 * (CAST(dl.dl AS DOUBLE) / avgdl)))) AS BIGINT) AS q
         |  FROM tf JOIN idf USING (tok) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN ad),
         |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         |    CAST(SUM(q) AS BIGINT) AS scoreq
         |  FROM q GROUP BY doc_id
         |  ORDER BY scoreq DESC, doc_id LIMIT 20)
         |SELECT doc_id, n_terms, round(CAST(scoreq AS DOUBLE) / 1e6, 6) AS score
         |FROM sc ORDER BY score DESC, doc_id""".stripMargin)
  )
}
