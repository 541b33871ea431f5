package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.Memos

/** Similarity search over the `embeddings` fixture (`array<float>`, d=64).
  *
  * Numeric portability: every dot product / norm is an IN-ORDER
  * sequential fold over the array in DOUBLE (Spark `aggregate` over a
  * `zip_with`; DuckDB `list_dot_product` over `::DOUBLE[]`), so both
  * engines execute the identical sequence of IEEE adds. Cosines are
  * additionally rounded to 6 decimals before ranking, with the vector id
  * as tiebreaker, so orderings are deterministic.
  *
  * Scale design: brute-force top-k is the correctness baseline —
  * queries are a broadcast side (k rows) against a partitioned scan of
  * the corpus, a map-only plan followed by a per-query top-k
  * (TakeOrdered-style, no global sort). The LSH-bucketed variant
  * (random-hyperplane signs) is the 100 TB path: candidates meet only
  * inside a bucket, shuffling |corpus| × one small key instead of
  * |queries| × |corpus| pairs.
  */
object VectorOps {

  /** embeddings with double-cast vector and its sequential-fold norm.
    * All dot products go through the codegen'd DotProductD expression
    * (graft.functions.VectorExpressions) — same in-order IEEE fold as
    * the interpreted aggregate/zip_with composition, ~250× faster on
    * pair scans. */
  /** The one (v, nrm) preparation both batch and stream share — any
    * frame with an `embedding ARRAY<FLOAT>` column. Uses the Column
    * builder (not the registry) so a streaming micro-batch's cloned
    * session needs no function registration. */
  private[queries] def withVecNorm(df: DataFrame): DataFrame =
    df.withColumn("v", expr("transform(embedding, x -> cast(x AS double))"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorExpressions.dot_d(col("v"), col("v"))))

  private def vecs(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    withVecNorm(embeddings(s, d))
  }

  private def dot(a: String, b: String) =
    graft.functions.VectorExpressions.dot_d(col(a), col(b))

  /** Brute-force cosine top-10 for query vectors vec_id < 10. */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    base.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("rk"), col("vec_id").as("hit_id"), col("cos"))
      .orderBy("q_id", "rk")
  }

  /** All near-duplicate pairs with cosine ≥ 0.45 (fixture max ≈ 0.51).
    *
    * This is the deliberate O(n²) CALIBRATION baseline — the exact
    * truth set v39 grades the bucketed pair generation against — and
    * nothing production-shaped may ride it: t15's embedding signal
    * consumes [[cellCosineNearDupPairs]] (centroid-bucketed), not this.
    * At 100 TB the audit runs on a deterministic hash-sample instead —
    * [[sampledTruthPairs]] is that path IN CODE (the filter precedes
    * the pair join, so the quadratic shrinks by k²) and v41 grades the
    * sampled estimate's fidelity against this exact frame.
    * Memoized per (session, dir) — the t03/t11 convention — because
    * v02's own oracle row and v39's truth side share one execution. */
  def cosineNearDupPairs(s: SparkSession, d: String): DataFrame = {
    cosinePairsCache(s, d) {
      // cross-RUN artifact (round-16 brief #3): the exact truth-pair set
      // is a pure function of embeddings.parquet and the calibration
      // reference four graders key on (v39/v41/v42 + v02's own row) — a
      // fresh JVM used to pay the O(n²) baseline (5.0 s at sf0.1) to
      // rebuild it. Key = fixture digest + fold-shape tag over the
      // derivation defs (VectorArtifactSpec's tag-lock recomputes it).
      graft.sources.ArtifactStore.loadOrBuild(s, "cos_pairs",
        graft.sources.ArtifactStore.key(d, "embeddings.parquet") + "-" + CosPairsFoldTag) {
        cosineNearDupPairsUncached(s, d)
      }.orderBy("a_id", "b_id").localCheckpoint()
    }
  }

  /** The exact all-pairs BUILD behind the cos_pairs artifact — the
    * load-bearing plan (PlanDump/cleared-lane evidence), deliberately
    * quadratic: it is the truth set, not the production path. */
  private[graft] def cosineNearDupPairsUncached(s: SparkSession, d: String): DataFrame = {
    val a = vecs(s, d).select(col("vec_id").as("a_id"), col("v").as("av"), col("nrm").as("an"))
    val b = vecs(s, d).select(col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("bn"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", round(dot("av", "bv") / (col("an") * col("bn")), 6))
      .filter(col("cos") >= 0.45)
      .select("a_id", "b_id", "cos")
    // no orderBy here: the serving wrapper sorts the artifact scan
    // (SCALE "Known tradeoffs" double-sort, folded out in round 18)
  }

  /** cos_pairs artifact fold-shape tag — sha256 (first 8 hex) over the
    * source of [[vecs]] and [[cosineNearDupPairsUncached]];
    * VectorArtifactSpec's tag-lock recomputes it, so a derivation edit
    * without a bump is a test failure, never a stale truth set. */
  private[graft] val CosPairsFoldTag = "cos-a54aef08"

  private val cosinePairsCache = Memos.memo[String, DataFrame]()

  /** The centroid-affinity frame (vec_id, cid, ccos, crn): every
    * vector's rounded cosine + rank against all 16 coarse centroids.
    * This is the IVF routing table SIX operators derive cells/probes
    * from (v08, v17, v19, v21, v24, v25), so — like the t19 gram index
    * and the v02/t15 pair frame — it is memoized per (session, dir)
    * and localCheckpoint'ed: |vectors|×16 rows, built once per harness
    * run. Plan-shape assertions for the build run against
    * centroidAffinityUncached (the t05 cached-plan lesson). */
  private[queries] def centroidAffinityUncached(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    e.crossJoin(broadcast(cents))
      .withColumn("ccos", round(dot("v", "cv") / (col("nrm") * col("cn")), 6))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)))
      .select(col("vec_id"), col("cid"), col("ccos"), col("crn"))
  }

  private[queries] def centroidAffinity(s: SparkSession, d: String): DataFrame = {
    affinityCache(s, d) {
      // cross-RUN artifact (the gram-index pattern): the routing table
      // IS the coarse half of a deployed ANN index — a fresh JVM loads
      // the parquet instead of re-scoring the corpus against centroids
      val f = graft.sources.ArtifactStore.loadOrBuild(
        s, "ivf_affinity", graft.sources.ArtifactStore.key(d, "embeddings.parquet"))(
        centroidAffinityUncached(s, d)).persist()
      f.count() // materialize eagerly so every consumer reads the cache
      f
    }
  }

  private val affinityCache = Memos.memo[String, DataFrame]()

  /** The PQ candidate frame (vec_id, m, j, d2, ip): every vector's
    * quantized sub-vectors against every seed codeword — the frame
    * v12's encode+LUT, v18's training assignment, and v24's composite
    * all start from. Memoized like the affinity frame; build-shape
    * assertions run against pqCandUncached. */
  private[queries] def pqCandUncachedK(s: SparkSession, d: String, k: Int): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val eq = embeddings(s, d).withColumn("qv",
      expr("transform(embedding, x -> cast(floor(cast(x AS double) * 200.0D) AS double))"))
    val sub = eq.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("m"), col("qv"))
      .select(col("vec_id"), col("m"), expr("slice(qv, m * 8 + 1, 8)").as("sv"))
    val cb = sub.filter(col("vec_id") < k)
      .select(col("m"), col("vec_id").as("j"), col("sv").as("cv"))
    val d2 = (dot("sv", "sv") + dot("cv", "cv") - lit(2.0) * dot("sv", "cv")).cast("long")
    sub.join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("j"), d2.as("d2"),
        dot("sv", "cv").cast("long").as("ip"))
  }

  private[queries] def pqCandUncached(s: SparkSession, d: String): DataFrame =
    pqCandUncachedK(s, d, 16)

  /** The 64-codeword candidate frame — v24's raised rung and v32's
    * curve superset: a K-codeword codebook is the j < K prefix, so ONE
    * frame serves every rung of the codebook-size curve. */
  private[queries] def pqCand64Uncached(s: SparkSession, d: String): DataFrame =
    pqCandUncachedK(s, d, 64)

  /** v33's candidate frame: the quantized vectors pass through a ±1
    * Hadamard rotation (r_i = Σ_j (−1)^popcount(i∧j) x_j — a structured
    * orthogonal transform, H·Hᵀ = 64·I) BEFORE sub-vector slicing, the
    * OPQ idea with a FIXED deterministic rotation: inner products scale
    * uniformly by 64 (rankings preserved) while each 8-dim subspace now
    * mixes all 64 original dims, spreading energy so the codeword
    * budget quantizes evenly (measured on this corpus: recall@5 0.42 →
    * 0.48 over v24 at the same 64-codeword budget). All arithmetic
    * stays exact integers — the rotation is ±1 sums of grid ints,
    * computed by the codegen'd FWHT butterfly Expression
    * (graft.functions.Fwht, 64·log 64 ops/row — the §2.7 rung (b)
    * answer to the n² SQL formulation, which also blew the 64 KB
    * codegen method limit); the frame is built once per corpus and
    * persists as a cross-run artifact. */
  private[queries] def pqCandOpqUncached(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    graft.functions.HadamardExpressions.register(s)
    // the rotation runs as the codegen'd FWHT butterfly (n·log n; see
    // graft.functions.Fwht) — bit-identical to the naive n² H·x the
    // DuckDB oracle states, which as a SQL expression tree also blew
    // whole-stage codegen past the 64 KB method limit
    val eq = embeddings(s, d)
      .withColumn("qv0",
        expr("transform(embedding, x -> cast(floor(cast(x AS double) * 200.0D) AS double))"))
      .withColumn("qv", graft.functions.HadamardExpressions.fwht(col("qv0")))
    val sub = eq.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("m"), col("qv"))
      .select(col("vec_id"), col("m"), expr("slice(qv, m * 8 + 1, 8)").as("sv"))
    val cb = sub.filter(col("vec_id") < 64)
      .select(col("m"), col("vec_id").as("j"), col("sv").as("cv"))
    val d2 = (dot("sv", "sv") + dot("cv", "cv") - lit(2.0) * dot("sv", "cv")).cast("long")
    sub.join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("j"), d2.as("d2"),
        dot("sv", "cv").cast("long").as("ip"))
  }

  // one memo for the three candidate frames, keyed by (artifact name, dir)
  private val pqCandCache = Memos.memo[(String, String), DataFrame]()

  private def pqCandMemo(name: String,
      build: (SparkSession, String) => DataFrame)(s: SparkSession, d: String): DataFrame =
    pqCandCache(s, (name, d)) {
      // cross-RUN artifact: the candidate frame is the PQ half of the
      // deployed index (codes derive from it with one partial agg)
      val f = graft.sources.ArtifactStore.loadOrBuild(
        s, name, graft.sources.ArtifactStore.key(d, "embeddings.parquet"))(
        build(s, d)).persist()
      f.count() // materialize eagerly so every consumer reads the cache
      f
    }

  private[queries] def pqCand(s: SparkSession, d: String): DataFrame =
    pqCandMemo("pq_cand", pqCandUncached)(s, d)

  private[queries] def pqCand64(s: SparkSession, d: String): DataFrame =
    pqCandMemo("pq_cand64", pqCand64Uncached(_, _))(s, d)

  private[queries] def pqCandOpq(s: SparkSession, d: String): DataFrame =
    pqCandMemo("pq_cand_opq", pqCandOpqUncached(_, _))(s, d)

  private val resPqIndexCache = Memos.memo[String, (DataFrame, DataFrame)]()

  /** Per-label quantized centroids.
    * Floats are quantized to 1e-6 grid BIGINTs before summation so the
    * aggregation is exact integer math — deterministic under any
    * combine order (and under a 1000-way combine tree at 100 TB). */
  def labelCentroids(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("qx", floor(col("x").cast("double") * 1e6).cast("long"))
      .groupBy("label", "pos")
      .agg(sum(col("qx")).as("sq"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sq").cast("double") / col("n") / 1e6).as("centroid"))
      .orderBy("label", "pos")

  /** Pairwise inter-centroid squared distances — the cluster-geometry
    * diagnostic read before trusting labels as strata (two labels whose
    * centroids nearly coincide are not separable classes) and the seed
    * quality check for IVF codebooks (v08/v11). Exact cross-engine math:
    * each per-(label,pos) mean is floored onto the 1e-6 grid
    * (qm = ⌊sum·1e6 / n⌋, one double division both engines compute
    * identically), the squared-difference sum then aggregates in BIGINT
    * — |qm| ≤ ~2e6, so a 64-dim term sum caps at ~2.6e14, far inside
    * both BIGINT and the 2⁵³ double-exact range for the final /1e12.
    * Scale: the means frame is |labels|×dim rows, so the pos-keyed
    * self-join is metadata-scale regardless of corpus size. */
  def centroidDistances(s: SparkSession, d: String): DataFrame = {
    val m = embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("qx", floor(col("x").cast("double") * 1e6).cast("long"))
      .groupBy("label", "pos")
      .agg(floor(sum(col("qx")).cast("double") / count(lit(1))).cast("long").as("qm"))
    val a = m.select(col("label").as("la"), col("pos"), col("qm").as("qa"))
    val b = m.select(col("label").as("lb"), col("pos"), col("qm").as("qb"))
    a.join(b, "pos").filter(col("la") < col("lb"))
      .withColumn("t", col("qa") - col("qb"))
      .groupBy("la", "lb")
      .agg(sum(col("t") * col("t")).as("num"))
      .select(col("la"), col("lb"), (col("num").cast("double") / 1e12).as("dist2"))
      .orderBy("la", "lb")
  }

  /** Semantic dedup, cluster-then-pair (the SemDeDup shape, Abbas et
    * al. 2023): every vector assigns to its nearest of the 16 seed
    * centroids (v08's cells — same rounded-cosine + cid tie-break),
    * then near-duplicate pairs are sought ONLY within a cell, and each
    * vector reports how many LOWER-id cell-mates it duplicates
    * (cos ≥ 0.45) — keep-lowest-id, t11's policy, so is_kept is
    * deterministic without any cross-cell coordination.
    *
    * This is the semantic complement of the lexical ladder: t03 catches
    * shared text, v15 catches paraphrases that share no shingles. Scale
    * shape: the pair join keys on the cell id — candidates meet only
    * inside a cluster (|cell|² per cell, cells ≪ corpus; a production
    * run shards oversized cells), never the v02 all-pairs baseline. The
    * 16-row codebook broadcasts; the member frame joins KEYED on cell
    * (its size is data-dependent — no forced broadcast, t32's rule). */
  def semanticDedup(s: SparkSession, d: String): DataFrame =
    cellAssignments(s, d)
      .join(cellPairFrame(s, d).filter(col("cos") >= 0.45)
          .groupBy(col("b_id").as("vec_id"))
          .agg(count(lit(1)).as("n_dup_prior")),
        Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_dup_prior"))
      .withColumn("is_kept",
        when(col("n_dup_prior") === 0, 1L).otherwise(0L))
      .orderBy("vec_id")

  /** Every vector's centroid cell — the crn = 1 slice of the routing
    * artifact, the ONE cell-assignment definition v15/v29/v39 and the
    * cell pair frame share. */
  private[queries] def cellAssignments(s: SparkSession, d: String): DataFrame =
    centroidAffinity(s, d).filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))

  /** The within-cell candidate pair frame behind the SEMANTIC dedup
    * family (v15's dedup, v29's threshold curve, t15's embedding
    * signal via [[cellCosineNearDupPairs]], v39's recall grade):
    * members meet ONLY inside their centroid cell — the pair join keys
    * on the cell id, so pair volume is Σ|cell|² (cells ≪ corpus; a
    * production run shards oversized cells), never the v02 all-pairs
    * |corpus|². Emits every a_id < b_id cell-mate pair with its rounded
    * cosine, UNthresholded — v29 sweeps τ over it, the others filter. */
  private[queries] def cellPairFrame(s: SparkSession, d: String): DataFrame = {
    val m = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
      .join(cellAssignments(s, d), "vec_id")
    val a = m.select(col("cell"), col("vec_id").as("a_id"),
      col("v").as("av"), col("nrm").as("an"))
    val b = m.select(col("cell"), col("vec_id").as("b_id"),
      col("v").as("bv"), col("nrm").as("bn"))
    a.join(b, Seq("cell")).filter(col("a_id") < col("b_id"))
      .withColumn("cos", round(dot("av", "bv") / (col("an") * col("bn")), 6))
      .select(col("cell"), col("a_id"), col("b_id"), col("cos"))
  }

  /** The scale-safe embedding near-dup pair source — within-cell pairs
    * at the v15 threshold (cos ≥ 0.45). This is what production-shaped
    * compositions (t15's multi-signal merge) consume; the v02 all-pairs
    * frame stays a pure calibration oracle, and v39 grades THIS frame's
    * recall against it. Memoized per (session, dir): t15 and v39 share
    * one execution, and the (tiny) result localCheckpoints for every
    * later consumer. Plan-shape assertions run against
    * [[cellCosineNearDupPairsUncached]] (the t05 cached-plan lesson). */
  def cellCosineNearDupPairs(s: SparkSession, d: String): DataFrame = {
    cellPairsCache(s, d)(
      cellCosineNearDupPairsUncached(s, d).localCheckpoint())
  }

  private[queries] def cellCosineNearDupPairsUncached(
      s: SparkSession, d: String): DataFrame =
    cellPairFrame(s, d).filter(col("cos") >= 0.45)
      .select("a_id", "b_id", "cos")
      .orderBy("a_id", "b_id")

  private val cellPairsCache = Memos.memo[String, DataFrame]()

  /** v39 — recall of the centroid-bucketed pair generation against the
    * v02 exact all-pairs truth set, at the shared τ = 0.45 on the shared
    * rounded-cosine grid: the calibration row that justifies serving
    * t15's embedding signal from [[cellCosineNearDupPairs]] instead of
    * the O(n²) scan (v19's IVF-recall discipline applied to the dedup
    * candidate generator). n_hit counts candidate pairs CONFIRMED in
    * the truth set via an inner join — by construction every cell pair
    * is an all-pairs pair, so n_hit = n_cand unless threshold or
    * rounding drifts between the two builds; the join is the drift
    * tripwire. recall_permille is exact integer arithmetic.
    *
    * Scale: the truth side is the one deliberate O(n²) pass — the
    * calibration cost a recall audit pays by definition, run on a
    * SAMPLE at 100 TB via the executable [[sampledTruthPairs]] path
    * (v41 grades that sample's fidelity); the candidate side is the
    * production frame. */
  def cellPairRecall(s: SparkSession, d: String): DataFrame = {
    val truth = cosineNearDupPairs(s, d).select("a_id", "b_id")
    val cand = cellCosineNearDupPairs(s, d)
      .select(col("a_id").as("ca"), col("b_id").as("cb"))
    val hit = cand.join(truth,
      col("ca") === col("a_id") && col("cb") === col("b_id"))
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      // guarded readout (round-12 advice): Spark's `div` yields NULL on a
      // zero denominator while DuckDB's `//` raises — a broken/empty
      // fixture must fail LOUDLY and IDENTICALLY in both engines, so both
      // sides emit the -1 sentinel instead
      .withColumn("recall_permille",
        expr("case when n_true = 0 then cast(-1 as bigint) else n_hit * 1000 div n_true end"))
      .select("n_true", "n_cand", "n_hit", "recall_permille")
  }

  /** The SAMPLED truth-pair path — the executable form of v02's "run on
    * a SAMPLE at 100 TB" posture (round-12 brief #3): the corpus filters
    * to a deterministic hash-sample (saltedBucket(vec_id,":cal",k) = 0,
    * the t21 shard hash both engines compute identically) BEFORE the
    * pair join, so the calibration cost drops from O(n²) to O((n/k)²)
    * in the PLAN, not in prose. The truth predicate (rounded cosine ≥ τ)
    * is endpoint-local, so pairs-among-sampled-vectors ≡ exact truth
    * pairs with both endpoints sampled — an unbiased restriction of the
    * v02 frame, never an approximation of it. */
  private[queries] def sampledTruthPairs(s: SparkSession, d: String, k: Long): DataFrame = {
    val sampled = vecs(s, d)
      .filter(TextOps.saltedBucket(col("vec_id"), ":cal", k) === 0)
    val a = sampled.select(col("vec_id").as("a_id"), col("v").as("av"), col("nrm").as("an"))
    val b = sampled.select(col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("bn"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", round(dot("av", "bv") / (col("an") * col("bn")), 6))
      .filter(col("cos") >= 0.45)
      .select("a_id", "b_id", "cos")
  }

  /** v41 — the sampled-calibration FIDELITY curve (round-12 brief #3):
    * v39's recall audit re-run on deterministic hash-samples of the
    * truth space, k ∈ {1, 2, 4} (keep-1-in-k vectors, pairs need both
    * endpoints). The k = 1 row IS the exact audit — it rides the
    * memoized v02 frame and must equal v39's row (VectorRecallSpec
    * cross-locks it); k = 2/4 run the [[sampledTruthPairs]] path whose
    * pair join only ever sees the sampled corpus. At 100 TB a recall
    * audit runs ONLY the k ≫ 1 rows; this table grades how far the
    * sampled estimate drifts from the exact one at fixture scale, so
    * the "sample at scale" claim ships with its measured fidelity, not
    * as prose. Readout is exact integer permille with the -1 empty-
    * sample sentinel on both engines. */
  def sampledPairRecall(s: SparkSession, d: String): DataFrame = {
    val perK = Seq(1L, 2L, 4L).map { k =>
      def inSample(c: Column) = TextOps.saltedBucket(c, ":cal", k) === 0
      val truth = (if (k == 1L) cosineNearDupPairs(s, d) else sampledTruthPairs(s, d, k))
        .select("a_id", "b_id")
      val cand = cellCosineNearDupPairs(s, d)
        .filter(inSample(col("a_id")) && inSample(col("b_id")))
        .select(col("a_id").as("ca"), col("b_id").as("cb"))
      val hit = cand.join(truth,
        col("ca") === col("a_id") && col("cb") === col("b_id"))
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
        .withColumn("k", lit(k))
    }
    perK.reduce(_ unionByName _)
      .withColumn("recall_permille",
        expr("case when n_true = 0 then cast(-1 as bigint) " +
          "else n_hit * 1000 div n_true end"))
      .select("k", "n_true", "n_cand", "n_hit", "recall_permille")
      .orderBy("k")
  }

  /** v29 — SemDeDup THRESHOLD tuning curve: what v15's fixed τ = 0.45
    * actually buys. For τ ∈ {0.30, 0.40, 0.45, 0.50, 0.60} over the SAME
    * within-cell pair frame v15 dedups on: surviving pair mass, victim
    * mass (distinct higher-id members with a dup prior), and the corpus
    * keep rate in integer permille. The whole curve costs ONE pair pass
    * plus a broadcast threshold join — not five dedup runs — the v21/v23/
    * v28 tuning-curve pattern applied to the dedup knob itself (pick τ
    * from this table, then run v15 once at scale).
    *
    * Determinism: cosines are the same round(·, 6) doubles v15 grades,
    * thresholds are literals parsed identically by both engines, and the
    * keep rate is integer floor arithmetic — no new float surface. */
  def semdedupThresholdCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = cellPairFrame(s, d).select("b_id", "cos")
    val taus = Seq(0.30, 0.40, 0.45, 0.50, 0.60).toDF("tau")
    val total = vecs(s, d).agg(count(lit(1)).as("n_total"))
    val hits = pairs.crossJoin(broadcast(taus)).filter(col("cos") >= col("tau"))
      .groupBy("tau")
      .agg(count(lit(1)).as("n_pairs"), countDistinct("b_id").as("n_victims"))
    taus.crossJoin(broadcast(total))
      .join(hits, Seq("tau"), "left")
      .na.fill(0L, Seq("n_pairs", "n_victims"))
      .withColumn("keep_permille",
        floor((col("n_total") - col("n_victims")) * lit(1000) / col("n_total")).cast("long"))
      .select("tau", "n_pairs", "n_victims", "n_total", "keep_permille")
      .orderBy("tau")
  }

  /** Per-vector L2 norm (sequential fold), rounded. */
  def vectorNorms(s: SparkSession, d: String): DataFrame =
    vecs(s, d)
      .select(col("vec_id"), col("label"), round(col("nrm"), 6).as("l2_norm"))
      .orderBy("vec_id")

  // --- LSH-bucketed ANN (the 100 TB path) -------------------------------

  /** Random-hyperplane weights, deterministic integer grid (so both
    * engines can inline the identical literal vectors). */
  private[queries] val NumPlanes = 4
  private[queries] val Dim = 64
  private[queries] def planeWeight(j: Int, k: Int): Double = ((j * 131 + k * 31) % 17 - 8).toDouble
  private def planeArr(j: Int) = array((0 until Dim).map(k => lit(planeWeight(j, k))): _*)

  private def bucketCol(nPlanes: Int): Column =
    (0 until nPlanes).map { j =>
      val dotJ = graft.functions.VectorExpressions.dot_d(col("v"), planeArr(j))
      when(dotJ > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private def withBucket(s: SparkSession, d: String, nPlanes: Int = NumPlanes): DataFrame =
    vecs(s, d).withColumn("bucket", bucketCol(nPlanes))

  /** Sign-LSH bucket assignment (4 hyperplanes → 16 buckets). At scale,
    * the bucket is the shuffle/cluster key: candidates meet only within
    * a bucket, so the pair space is Σ|bucket|² not |corpus|². */
  def lshBuckets(s: SparkSession, d: String): DataFrame =
    withBucket(s, d).select(col("vec_id"), col("bucket")).orderBy("vec_id")

  /** LSH-bucketed near-dup pairs — the 100 TB variant of v02: candidate
    * pairs must share the 8-plane signature (256 buckets), shrinking the
    * pair space from |corpus|² to Σ|bucket|². Recall tradeoff is
    * explicit: sign-LSH keeps ≈(1−θ/π)⁸ of true pairs at angle θ, i.e.
    * near-1 for true duplicates, low for merely-similar pairs. */
  def lshNearDupPairs(s: SparkSession, d: String): DataFrame = {
    val e = withBucket(s, d, nPlanes = 8)
    val a = e.select(col("vec_id").as("a_id"), col("v").as("av"),
      col("nrm").as("an"), col("bucket").as("ab"))
    val b = e.select(col("vec_id").as("b_id"), col("v").as("bv"),
      col("nrm").as("bn"), col("bucket").as("bb"))
    a.join(b, col("ab") === col("bb") && col("a_id") < col("b_id"))
      .withColumn("cos", round(dot("av", "bv") / (col("an") * col("bn")), 6))
      .filter(col("cos") >= 0.45)
      .select("a_id", "b_id", "cos")
      .orderBy("a_id", "b_id")
  }

  /** ANN top-5 via multi-probe LSH: the query searches its own bucket
    * plus the 4 buckets at Hamming distance 1 (single-plane flips) —
    * the standard multi-probe trick that buys recall without more
    * tables. Single-probe recall@5 measured 0.08 on this corpus
    * (near-orthogonal vectors, neighbor angles ≈ 66°); multi-probe ≤1
    * lifts it several-fold while still scanning 5/16ths of the corpus
    * (VectorRecallSpec reports both paths). */
  def annLshTopK(s: SparkSession, d: String): DataFrame = {
    val base = withBucket(s, d)
    val flips = Seq(0) ++ (0 until NumPlanes).map(1 << _)
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qb0"))
      .withColumn("qb", explode(array(flips.map(f => expr(s"qb0 ^ $f")): _*)))
    base.join(broadcast(q), col("qb") === col("bucket") && col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id").as("hit_id"), col("cos"))
      .orderBy("q_id", "rk")
  }

  // --- IVF (inverted-file) ANN — the partition-pruned scale path --------

  /** IVF top-5: coarse-quantize the corpus to 16 centroids (vectors
    * 0..15 play the trained codebook — deterministic), assign every
    * vector to its nearest centroid cell, then answer queries by probing
    * only their 2 nearest cells. At 100 TB the cell is the storage
    * partition: a query touches 2/16ths of the data, and the codebook is
    * a broadcast. Exact ranking inside the probed cells. */
  def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val aff = centroidAffinity(s, d)
    val cells = aff.filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    ivfSearchOn(e, aff, cells)
  }

  /** THE 2-probe search tail v08/v34/v35 share (probes + query build,
    * cell equi-join, exact cosine rerank, top-5) — only the `cells`
    * frame differs between the full index and its delete/insert
    * overlays, so a tie-break or rounding change here reaches all
    * three and the overlays' result-invisibility contracts
    * (VectorDeleteSpec/VectorInsertSpec) cannot silently drift. */
  private def ivfSearchOn(e: DataFrame, aff: DataFrame, cells: DataFrame): DataFrame = {
    val probes = aff.filter(col("vec_id") < 10 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      .join(probes, "q_id")
    e.join(cells, "vec_id")
      .join(broadcast(q), col("cell") === col("pcell") && col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id").as("hit_id"), col("cos"))
      .orderBy("q_id", "rk")
  }

  /** v34 — IVF with a DELETION OVERLAY: v08's 2-probe search over an
    * index that has tombstoned vectors (vec_id ≡ 0 mod 7 — the same
    * mod-list discipline as the MoR commit rules, q55/q57/q59) WITHOUT
    * rebuilding anything: the routing table stays the deployed
    * cross-run artifact, and deletes apply as one KEYED anti-join on
    * the candidate set before scoring. This is the missing maintenance
    * rung of the ANN ladder — at 100 TB an index rebuild is a
    * multi-hour job, so production serving (FAISS remove_ids, Vespa/
    * Milvus tombstones) overlays deletes exactly like this and
    * compacts on q59's schedule. Results are identical to rebuilding
    * (the oracle restates the search over the filtered corpus —
    * overlay vs rebuild must be result-invisible, q42/q55's
    * layout-invisibility rule), and a deleted vector can never be
    * returned (VectorDeleteSpec).
    *
    * Scale: v08's shapes plus one anti-join keyed on vec_id (the
    * tombstone list is data-scale metadata, never broadcast-forced);
    * query vectors whose own ids are tombstoned still query — the
    * query side is external to the index. */
  def ivfTopKWithDeletes(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val aff = centroidAffinity(s, d)
    val tomb = e.filter(pmod(col("vec_id"), lit(7)) === 0).select("vec_id")
    val cells = aff.filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
      .join(tomb, Seq("vec_id"), "left_anti") // the overlay — index untouched
    ivfSearchOn(e, aff, cells)
  }

  /** v35 — IVF with an INSERT overlay, v34's complement: the newest 10%
    * of the corpus (vec_id above a data-derived cutoff — the "arrived
    * since the last index build" slice) is NOT served from the deployed
    * routing artifact; their cell assignments compute ON THE FLY against
    * the same 16 broadcast centroids and UNION with the artifact's rows
    * before the 2-probe search. This is FAISS `add` without retraining /
    * the lakehouse base+delta read applied to ANN: inserts never force
    * an index rebuild because the assignment RULE, not the materialized
    * table, defines the index. Graded against v08's oracle VERBATIM —
    * overlay vs full-index must be result-invisible (the q42/q55/v34
    * rule) — while the plan carries both branches: the artifact scan
    * AND a live dot_d assignment (VectorInsertSpec pins both).
    *
    * Scale: the delta branch scans ONLY the new slice (at 100 TB, the
    * day's arrivals) against the broadcast centroids; the base branch
    * stays the artifact read. Compaction (fold the delta into the
    * artifact) is q59's scheduling decision. */
  /** The v35/v36 index-build cutoff: ids above 90% of max are "arrived
    * since the last build". ONE definition — the insert overlay (v35)
    * and the compaction trigger that accounts for it (v36) must agree
    * on the slice or the trigger grades a different overlay than the
    * one being served. */
  private def insertCut(e: DataFrame): DataFrame =
    broadcast(e.agg((max(col("vec_id")) * 9 / 10).cast("long").as("cut")))

  /** v35's live-assignment rule for the not-yet-indexed slice (vec_id >
    * cut): nearest centroid by rounded cosine against the broadcast
    * 16-row centroid frame, ties to the lower cid. ONE definition, same
    * reason as [[insertCut]]: the insert overlay (v35) and the
    * compaction trigger accounting for it (v36) must route an arrival
    * identically or the trigger grades a different overlay than the one
    * being served. Emits (vec_id, cell). */
  private def deltaAssignments(e: DataFrame, cut: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    e.crossJoin(cut).filter(col("vec_id") > col("cut"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", round(dot("v", "cv") / (col("nrm") * col("cn")), 6))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
  }

  def ivfTopKWithInserts(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val aff = centroidAffinity(s, d)
    val cut = insertCut(e)
    // base: the deployed artifact, minus the not-yet-indexed slice —
    // the 1-row cut frame cross-joins straight onto the artifact rows
    // (an equi-join back through the embedding table would shuffle two
    // corpus-scale frames just to attach one broadcast scalar)
    val baseCells = aff.filter(col("crn") === 1)
      .crossJoin(cut)
      .filter(col("vec_id") <= col("cut"))
      .select(col("vec_id"), col("cid").as("cell"))
    // delta: fresh assignments for the new slice — same centroids, same
    // rule, computed live
    ivfSearchOn(e, aff, baseCells.unionByName(deltaAssignments(e, cut)))
  }

  /** Read-amplification threshold for v36, in permille: a cell whose
    * overlay (tombstones + unindexed arrivals) exceeds 20% of its
    * indexed base rows rebuilds — q59's MoR knob
    * (`AmpThresholdPermille`) transplanted to the ANN index, sized so
    * the decision actually splits on this corpus (every cell carries
    * ~143‰ of mod-7 tombstones; the insert skew decides the rest). */
  val CellAmpThresholdPermille = 200L

  /** v36 — the ANN index compaction TRIGGER, closing v34/v35's loop the
    * way q59 closes q57's: v34 serves deletes as tombstone overlays and
    * v35 serves arrivals as live-assigned delta cells — both
    * result-invisible but both paid at READ time (an anti-join probe, a
    * second scan branch). This grades the rebuild/don't-rebuild decision
    * PER CELL from the overlays' own accounting: indexed base rows per
    * cell (the deployed routing artifact at or below v35's build
    * cutoff), tombstoned rows among them (v34's mod-7 rule), and
    * arrivals routed to the cell by v35's live-assignment rule — reduced
    * to amp_permille = (tomb+ins)·1000 div base against the documented
    * 200‰ threshold. Exact integer arithmetic; the decision bit cannot
    * float-drift. Cells absent from the artifact have nothing to
    * compact — their arrivals wait for the next full build (LEFT join).
    *
    * Scale: both accountings are keyed partial aggregates over frames
    * the serving path already maintains (the routing artifact, the
    * delta-assignment branch); at 100 TB the trigger reads |cells| rows
    * of metadata, never the vectors — FAISS/Milvus segment-compaction
    * policies are exactly this decision on exactly this accounting. */
  def ivfCompactionTrigger(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val aff = centroidAffinity(s, d)
    val cut = insertCut(e)
    val art = aff.filter(col("crn") === 1).crossJoin(cut)
      .filter(col("vec_id") <= col("cut"))
      .groupBy(col("cid").as("cell"))
      .agg(count(lit(1)).as("base_rows"),
        sum(when(pmod(col("vec_id"), lit(7)) === 0, 1L).otherwise(0L))
          .as("tomb_rows"))
    // arrivals routed by v35's delta branch — shared definition
    val ins = deltaAssignments(e, cut)
      .groupBy("cell").agg(count(lit(1)).as("ins_rows"))
    art.join(ins, Seq("cell"), "left")
      .na.fill(0L, Seq("ins_rows"))
      .withColumn("amp_permille",
        expr("(tomb_rows + ins_rows) * 1000 div base_rows"))
      .withColumn("compact",
        (col("amp_permille") >= CellAmpThresholdPermille).cast("int"))
      .select("cell", "base_rows", "tomb_rows", "ins_rows",
        "amp_permille", "compact")
      .orderBy("cell")
  }

  /** The v38 frame with its (rebuilt cells, rebuilt rows, untriggered
    * overlay rows) audit — VectorRebuildSpec pins the physical half.
    * The audit lives in the frame's own memo entry, so a v38 run on
    * another (session, dir) can never overwrite the one a test reads. */
  private val rebuildCache = Memos.memo[String, (DataFrame, (Long, Long, Long))]()

  private[queries] def rebuildAudit(s: SparkSession, d: String): Option[(Long, Long, Long)] =
    rebuildCache.get(s, d).map(_._2)

  /** v38 — ACTING on v36's trigger: the per-cell index REBUILD that
    * folds v34/v35's overlay frames back into the base cell, q57's
    * compaction shape transplanted to the ANN index. For every cell
    * v36 marks `compact`, the materialized segment is rewritten — the
    * artifact's base rows minus their tombstones, plus the arrivals
    * v35's live rule routes to the cell — to a fresh parquet segment
    * (a real write + read-back, not a plan alias), after which that
    * cell serves as a PLAIN SCAN: no per-read anti-join, no live
    * assignment branch. Untriggered cells keep the overlay read path
    * untouched. The graded frame is the 2-probe top-5 search run BOTH
    * ways — through the overlays ('pre') and through the rebuilt
    * segments + remaining overlays ('post') — and the rebuild is
    * RESULT-INVISIBLE, so the oracle states the same search twice
    * (q57's pre/post hash-match rule). Tombstones (the mod-7 rule)
    * apply to base AND arrival rows — one id space, one delete log.
    *
    * At 100 TB this is the background job that bounds ANN read
    * amplification (FAISS index merges, Milvus segment compaction):
    * rebuild cost is |triggered cells' rows| — data-proportional to the
    * hot cells only — and the search plan sheds its overlay branches
    * exactly where the trigger said the rent was highest. */
  def ivfCompactionRebuild(s: SparkSession, d: String): DataFrame = {
    rebuildCache(s, d) {
      val root = java.nio.file.Files.createTempDirectory("graft_ivfreb")
      try {
        val e = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
        val aff = centroidAffinity(s, d)
        val cut = insertCut(e)
        val tomb = e.filter(pmod(col("vec_id"), lit(7)) === 0).select("vec_id")
        // the overlay serving state: deployed artifact rows below the
        // build cutoff tombstone-filtered at read, arrivals live-routed
        val baseCells = aff.filter(col("crn") === 1).crossJoin(cut)
          .filter(col("vec_id") <= col("cut"))
          .select(col("vec_id"), col("cid").as("cell"))
        val preCells = baseCells.unionByName(deltaAssignments(e, cut))
          .join(tomb, Seq("vec_id"), "left_anti")
        val trig = ivfCompactionTrigger(s, d)
          .filter(col("compact") === 1).select("cell")
        // the rebuild: triggered cells' folded rows become a fresh
        // materialized segment — written once, then a plain scan
        val segDir = root.resolve("segments").toString
        preCells.join(broadcast(trig), Seq("cell"))
          .write.parquet(segDir)
        val rebuilt = s.read.parquet(segDir)
          .select(col("vec_id"), col("cell"))
        val untrig = preCells.join(broadcast(trig), Seq("cell"), "left_anti")
        val audit = (trig.count(), rebuilt.count(), untrig.count())
        def search(cells: DataFrame, phase: String) =
          ivfSearchOn(e, aff, cells).withColumn("phase", lit(phase))
            .select("phase", "q_id", "rk", "hit_id", "cos")
        (search(preCells, "1_pre_rebuild")
          .unionByName(search(rebuilt.unionByName(untrig), "2_post_rebuild"))
          .orderBy("phase", "q_id", "rk")
          .localCheckpoint(), // pin before the scratch segment is deleted
          audit)
      } finally StreamOps.rmrf(root)
    }._1
  }

  /** v37 — the IVF PROBE-COUNT recall curve, the tuning knob v08 fixes
    * at 2 made MEASURED (the v28/v32/k11/m12 curve discipline): for
    * nProbes ∈ 1..4, the exact-top-5 recall and the candidate volume of
    * probing the query's nProbes nearest cells. This is THE operating
    * curve an ANN deployment reads before setting its probe count —
    * recall climbs with probes while scanned fraction grows linearly
    * (p/16ths of the corpus), and the knee is where serving should sit.
    *
    * One plan, not four: the crn≤4 candidate set computes ONCE (a
    * vector's probe rank pr is the crn of its cell in the query's
    * probe list — unique, since a vector lives in one cell), then a
    * 4-row broadcast range-join expands each candidate to every
    * p ≥ pr and ONE window ranks per (query, p). Ground truth is the
    * v01 brute-force top-5, a broadcast map-only pass. recall_permille
    * = hits·1000 div (5·queries) — exact integer; ranking on the
    * shared rounded-cosine grid.
    *
    * Scale: candidates meet in cells (never all-pairs); the expansion
    * multiplies the CANDIDATE set (≤4×), not the corpus; the exact pass
    * is |queries|·|corpus| map-only with a broadcast query side — the
    * calibration cost every recall audit pays by definition. */
  def ivfProbeRecallCurve(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val aff = centroidAffinity(s, d)
    val cells = aff.filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val exact = e.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id").as("hit_id"))
    val probes = aff.filter(col("vec_id") < 10 && col("crn") <= 4)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"), col("crn").as("pr"))
    val cand = e.join(cells, "vec_id")
      .join(broadcast(probes.join(q, "q_id")),
        col("cell") === col("pcell") && col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("q_id"), col("pr"), col("vec_id").as("hit_id"), col("cos"))
      .localCheckpoint() // feeds the expansion AND its own stats twice
    val byP = cand.join(
      broadcast(s.range(1, 5).select(col("id").cast("int").as("n_probes"))),
      col("pr") <= col("n_probes"))
    val hits = byP.withColumn("rk", row_number().over(
        Window.partitionBy("q_id", "n_probes")
          .orderBy(col("cos").desc, col("hit_id").asc)))
      .filter(col("rk") <= 5)
      .join(exact, Seq("q_id", "hit_id"))
      .groupBy("n_probes").agg(count(lit(1)).as("n_hits"))
    byP.groupBy("n_probes")
      .agg(countDistinct("q_id").as("n_queries"),
        count(lit(1)).as("n_candidates"))
      .join(hits, Seq("n_probes"), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("recall_permille",
        expr("case when n_queries = 0 then cast(-1 as bigint) " +
          "else n_hits * 1000 div (5 * n_queries) end"))
      .select("n_probes", "n_queries", "n_candidates", "n_hits", "recall_permille")
      .orderBy("n_probes")
  }

  /** v40 — the index-STALENESS recall curve: what v35's insert overlay
    * and v38's rebuild actually BUY. For build-point fractions
    * f ∈ {70, 80, 90, 100} percent of the id space ("the index was
    * built when f % of the corpus had arrived"; 90 is v35/v36's own
    * cutoff), the 2-probe search is served from ONLY the indexed rows
    * (vec_id ≤ cut_f — no live routing, the posture of a deployment
    * WITHOUT the overlay) and graded against the FULL-corpus exact
    * top-5 — the result the user expects regardless of index age. The
    * f = 100 row is the overlay/rebuild serving state's recall (v35 and
    * v38 are result-invisible vs the full index), so the curve's gap
    * below it is precisely the freshness SLA the maintenance operators
    * close — measured, not asserted (VectorRecallSpec pins the
    * monotone climb and the v37 cross-lock: the 100 % row equals the
    * probe curve's n_probes = 2 row by construction).
    *
    * One plan, not four (v37's expansion discipline): the 2-probe
    * candidate set computes ONCE over the full corpus, a 4-row
    * broadcast of data-derived cuts filters it per staleness point, and
    * ONE window ranks per (cut, query). Exact integer readout. */
  def ivfStalenessCurve(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val aff = centroidAffinity(s, d)
    val cells = aff.filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val exact = e.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("vec_id").as("hit_id"))
    val probes = aff.filter(col("vec_id") < 10 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"))
    val cand = e.join(cells, "vec_id")
      .join(broadcast(probes.join(q, "q_id")),
        col("cell") === col("pcell") && col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("q_id"), col("vec_id").as("hit_id"), col("cos"))
      .localCheckpoint() // feeds the expansion AND its own stats
    val cuts = broadcast(Seq(70L, 80L, 90L, 100L).toDF("pct")
      .crossJoin(broadcast(e.agg(max("vec_id").as("mx"))))
      .withColumn("cut", expr("mx * pct div 100"))
      .select("pct", "cut"))
    val byCut = cand.crossJoin(cuts).filter(col("hit_id") <= col("cut"))
    val hits = byCut.withColumn("rk", row_number().over(
        Window.partitionBy("pct", "q_id")
          .orderBy(col("cos").desc, col("hit_id").asc)))
      .filter(col("rk") <= 5)
      .join(exact, Seq("q_id", "hit_id"))
      .groupBy("pct").agg(count(lit(1)).as("n_hits"))
    byCut.groupBy("pct")
      .agg(countDistinct("q_id").as("n_queries"),
        count(lit(1)).as("n_candidates"))
      .join(hits, Seq("pct"), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("recall_permille",
        expr("case when n_queries = 0 then cast(-1 as bigint) " +
          "else n_hits * 1000 div (5 * n_queries) end"))
      .select("pct", "n_queries", "n_candidates", "n_hits", "recall_permille")
      .orderBy("pct")
  }

  /** v31 — FILTERED ANN, pre- vs post-filter, measured side by side:
    * each query wants its top-5 among vectors of ITS OWN LABEL, served
    * from the same 2-probe IVF candidate set as v08. PRE-filtering
    * applies the label predicate to the candidates and ranks the
    * survivors (always 5 when enough exist in the probed cells);
    * POST-filtering ranks the unfiltered candidates first, takes the
    * global top-20, and only then filters — the census grades how many
    * of the 5 slots the post-filter path LOSES per query (the classic
    * filtered-vector-search failure: selective predicates starve a
    * fixed shortlist). Per query: label, eligible candidates in the
    * probed cells, both hit counts, their overlap, and the post-filter
    * deficit.
    *
    * Scale: the predicate joins BEFORE ranking in the pre path —
    * exactly how a deployment pushes metadata filters into the cell
    * scan (the IVF cell is a partition; label is a column in it); the
    * post path exists to measure what NOT pushing down costs. All
    * ranking on the shared rounded-cosine grid — deterministic. */
  def filteredAnn(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("label"), col("v"), col("nrm"))
    val aff = centroidAffinity(s, d)
    val cells = aff.filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val probes = aff.filter(col("vec_id") < 10 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"))
    val base = e.join(cells, "vec_id")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
      .join(probes, "q_id")
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
    val cand = base.join(broadcast(q),
        col("cell") === col("pcell") && col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .withColumn("eligible", (col("label") === col("q_label")).cast("int"))
      .localCheckpoint() // one candidate frame feeds both paths
    val preRows = cand.filter(col("eligible") === 1)
      .withColumn("rk", row_number().over(
        byQ.orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select("q_id", "vec_id")
      .localCheckpoint() // feeds its own count AND the overlap join
    val postRows = cand
      .withColumn("rk", row_number().over(
        byQ.orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 20 && col("eligible") === 1)
      .withColumn("frk", row_number().over(byQ.orderBy(col("rk").asc)))
      .filter(col("frk") <= 5)
      .select("q_id", "vec_id")
      .localCheckpoint() // ditto
    val pre = preRows.groupBy("q_id").agg(count(lit(1)).as("n_pre"))
    val post = postRows.groupBy("q_id").agg(count(lit(1)).as("n_post"))
    val overlap = preRows.join(postRows, Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
    val elig = cand.groupBy("q_id", "q_label")
      .agg(sum(col("eligible").cast("long")).as("n_eligible"))
    elig
      .join(pre, Seq("q_id"), "left")
      .join(post, Seq("q_id"), "left")
      .join(overlap, Seq("q_id"), "left")
      .select(col("q_id"), col("q_label").as("label"), col("n_eligible"),
        coalesce(col("n_pre"), lit(0L)).as("n_pre"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (lit(5L) - coalesce(col("n_post"), lit(0L))).as("post_deficit"))
      .orderBy("q_id")
  }

  private val FilteredAnnDuck: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      |aff AS (SELECT e.vec_id, c.cid,
      |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_dot_product(e.v, c.cv) /
      |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
      |        c.cid ASC) AS crn
      |  FROM e, c),
      |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
      |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
      |cand AS (SELECT pr.q_id, q.label AS q_label, b.vec_id, b.label,
      |    round(list_dot_product(q.v, b.v) /
      |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos,
      |    CASE WHEN b.label = q.label THEN 1 ELSE 0 END AS eligible
      |  FROM probes pr
      |  JOIN e q ON q.vec_id = pr.q_id
      |  JOIN cells cl ON cl.cell = pr.pcell
      |  JOIN e b ON b.vec_id = cl.vec_id AND b.vec_id != pr.q_id),
      |prerows AS (SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
      |    FROM cand WHERE eligible = 1) WHERE rk <= 5),
      |postrows AS (SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rk) AS frk FROM (
      |      SELECT q_id, vec_id, eligible,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
      |      FROM cand) WHERE rk <= 20 AND eligible = 1) WHERE frk <= 5),
      |pre AS (SELECT q_id, COUNT(*) AS n_pre FROM prerows GROUP BY q_id),
      |post AS (SELECT q_id, COUNT(*) AS n_post FROM postrows GROUP BY q_id),
      |ovl AS (SELECT a.q_id, COUNT(*) AS n_overlap FROM prerows a
      |  JOIN postrows b ON b.q_id = a.q_id AND b.vec_id = a.vec_id GROUP BY a.q_id),
      |elig AS (SELECT q_id, q_label, CAST(SUM(eligible) AS BIGINT) AS n_eligible
      |  FROM cand GROUP BY 1, 2)
      |SELECT e.q_id, e.q_label AS label, e.n_eligible,
      |  CAST(COALESCE(p.n_pre, 0) AS BIGINT) AS n_pre,
      |  CAST(COALESCE(o.n_post, 0) AS BIGINT) AS n_post,
      |  CAST(COALESCE(v.n_overlap, 0) AS BIGINT) AS n_overlap,
      |  CAST(5 - COALESCE(o.n_post, 0) AS BIGINT) AS post_deficit
      |FROM elig e LEFT JOIN pre p ON p.q_id = e.q_id
      |LEFT JOIN post o ON o.q_id = e.q_id
      |LEFT JOIN ovl v ON v.q_id = e.q_id
      |ORDER BY e.q_id""".stripMargin

  /** v42's similarity band: candidates at cos ≥ DupGate are the
    * anchor's near-duplicates/positives (the v02 class — excluded, a
    * hard negative must NOT be the same content); candidates below
    * NegFloor are easy negatives a contrastive loss learns nothing
    * from. The band between is what gets mined. On the synthetic
    * embeddings the raw cos 90th percentile is ~0.16 and the max
    * ~0.49, so 0.2 keeps the genuinely-confusable tail and 0.9 is the
    * dup wall (vacuously empty here — planted dups sit outside the
    * anchor set — but the gate is part of the operator's contract and
    * HardNegativeSpec plants a pair that trips it). */
  private[queries] val HnDupGate = 0.9
  private[queries] val HnNegFloor = 0.2

  /** v42 — HARD-NEGATIVE MINING for contrastive/embedding training:
    * for each anchor (vec_id < 10), the top-5 candidates in the
    * [NegFloor, DupGate) similarity band — similar enough to be
    * confusable, provably not the same content — mined through the
    * SAME IVF routing as v31 (candidates meet the anchor only in its
    * top-2 affinity cells). This is the data-side step that makes
    * contrastive training work at scale: random negatives are too
    * easy, near-duplicates are false negatives; the band is the
    * training signal. Graded per (anchor, rank): the mined negative,
    * its rounded cosine, a same-label flag, plus the anchor's band
    * census (band size, dup-excluded count) riding every row.
    *
    * Scale: identical shape to v31 — the ≤|anchors|·2-row probe frame
    * broadcasts, candidates stay cell-local (never all-pairs), the
    * per-anchor top-5 is one bounded window over cell-sized candidate
    * sets; the dup/band gates are row predicates. Mining negatives for
    * a FULL training set (every vector an anchor) keeps the same plan
    * with the broadcast dropped — both sides partition on cell. */
  def hardNegativeMining(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("label"), col("v"), col("nrm"))
    val aff = centroidAffinity(s, d)
    val cells = aff.filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val probes = aff.filter(col("vec_id") < 10 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"))
    val base = e.join(cells, "vec_id")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
      .join(probes, "q_id")
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
    val cand = base.join(broadcast(q),
        col("cell") === col("pcell") && col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .localCheckpoint() // one candidate frame feeds the census + the mine
    val stats = cand.groupBy("q_id").agg(
      sum((col("cos") >= HnDupGate).cast("long")).as("n_dup_excluded"),
      sum((col("cos") >= HnNegFloor && col("cos") < HnDupGate).cast("long"))
        .as("n_band"))
    cand.filter(col("cos") >= HnNegFloor && col("cos") < HnDupGate)
      .withColumn("rk", row_number().over(
        byQ.orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .join(stats, "q_id")
      .select(col("q_id"), col("rk").cast("long").as("rk"),
        col("vec_id").as("neg_id"), col("cos").as("cosv"),
        (col("label") === col("q_label")).cast("long").as("same_label"),
        col("n_band"), col("n_dup_excluded"))
      .orderBy("q_id", "rk")
  }

  private val HardNegativeDuck: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
      |aff AS (SELECT e.vec_id, c.cid,
      |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY round(list_dot_product(e.v, c.cv) /
      |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
      |        c.cid ASC) AS crn
      |  FROM e, c),
      |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
      |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
      |cand AS (SELECT pr.q_id, q.label AS q_label, b.vec_id, b.label,
      |    round(list_dot_product(q.v, b.v) /
      |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
      |  FROM probes pr
      |  JOIN e q ON q.vec_id = pr.q_id
      |  JOIN cells cl ON cl.cell = pr.pcell
      |  JOIN e b ON b.vec_id = cl.vec_id AND b.vec_id != pr.q_id),
      |stats AS (SELECT q_id,
      |    CAST(SUM(CASE WHEN cos >= $HnDupGate THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_excluded,
      |    CAST(SUM(CASE WHEN cos >= $HnNegFloor AND cos < $HnDupGate THEN 1 ELSE 0 END) AS BIGINT) AS n_band
      |  FROM cand GROUP BY q_id),
      |hn AS (SELECT q_id, q_label, vec_id, label, cos,
      |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
      |  FROM cand WHERE cos >= $HnNegFloor AND cos < $HnDupGate)
      |SELECT h.q_id, CAST(h.rk AS BIGINT) AS rk, h.vec_id AS neg_id, h.cos AS cosv,
      |  CAST(CASE WHEN h.label = h.q_label THEN 1 ELSE 0 END AS BIGINT) AS same_label,
      |  s.n_band, s.n_dup_excluded
      |FROM hn h JOIN stats s ON s.q_id = h.q_id
      |WHERE h.rk <= 5 ORDER BY h.q_id, h.rk""".stripMargin

  /** One Lloyd refinement round of the IVF codebook: every vector
    * assigns to its nearest of the 16 seed centroids (v08's cells, same
    * rounded-cosine + cid tie-break), and each centroid moves to the
    * member mean — computed as 1e-6-grid integer sums (v03's
    * discipline), so the update is EXACT under any combine tree, which
    * is what makes repeated rounds reproducible on a 1000-way cluster.
    * This is the iteration that trains a production IVF index: repeat
    * to convergence with localCheckpoint per round (t16's loop
    * discipline). Per round: one broadcast of the 16-row codebook, one
    * |vectors|-row assignment window partitioned by vec_id, one keyed
    * partial aggregation — no all-pairs anything. */
  def kmeansRound(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    lloydRound(e, cents).orderBy("cell", "pos")
  }

  /** One assignment+update step over an explicit codebook — split out so
    * KmeansSpec can iterate it to convergence and assert the spherical
    * k-means objective is monotone round over round. `e` needs
    * (vec_id, v, nrm); `cents` needs (cid, cv, cn). */
  private[queries] def lloydRound(e: DataFrame, cents: DataFrame): DataFrame = {
    val cells = e.crossJoin(broadcast(cents))
      .withColumn("ccos", round(dot("v", "cv") / (col("nrm") * col("cn")), 6))
      .withColumn("crn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("ccos").desc, col("cid").asc)))
      .filter(col("crn") === 1)
      .select(col("cid").as("cell"), col("v"))
    cells
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("qx", floor(col("x") * 1e6).cast("long"))
      .groupBy("cell", "pos")
      .agg(sum(col("qx")).as("sq"), count(lit(1)).as("n_members"))
      .select(col("cell"), col("pos"),
        (col("sq").cast("double") / col("n_members") / 1e6).as("centroid"),
        col("n_members"))
  }

  /** Cell-balanced diverse sample: an equal quota of the most
    * representative members (top-8 by cosine-to-centroid) from every
    * IVF cell — the embedding-space analogue of t17's mixture sampling,
    * used to build a small subset that still spans the corpus's modes
    * instead of oversampling its densest region. cell_sz rides along so
    * the selection's coverage skew is auditable.
    *
    * Scale: per-group top-k via a two-level tournament, NOT one window
    * per cell — with 16 cells a single rank window funnels n/16 rows
    * through one task (the t18 failure shape re-materialized per
    * group). Level 1 ranks inside (cell, salt % 32): 512 bounded
    * slices; only the ≤ 32·8 level-1 survivors per cell reach the
    * level-2 window, a constant-size frame at any corpus scale. The
    * composition is exact, not approximate: ranking is a TOTAL order
    * (ccos DESC, vec_id ASC), and every global top-8 row ranks ≤ 8
    * inside its own salt slice, so the survivor union provably
    * contains the global top-8. */
  def cellBalancedSample(s: SparkSession, d: String): DataFrame = {
    // the assignment feeds BOTH the size audit and the tournament —
    // materialize it once (it IS the IVF index a deployment persists)
    val cells = ivfCells(s, d).localCheckpoint()
    val sz = cells.groupBy("cell").agg(count(lit(1)).as("cell_sz"))
    tournamentTopK(cells, 8)
      .join(broadcast(sz), "cell")
      .select(col("cell"), col("rk"), col("vec_id"), col("ccos"), col("cell_sz"))
      .orderBy("cell", "rk")
  }

  /** The v08/v11 cell assignment as a reusable frame: (vec_id, cell,
    * ccos) — nearest of the 16 seed centroids, rounded-cosine + cid-asc
    * tie-break. */
  private[queries] def ivfCells(s: SparkSession, d: String): DataFrame =
    centroidAffinity(s, d).filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"), col("ccos"))

  /** Exact per-cell top-k over a (vec_id, cell, ccos) frame via the
    * salted two-level tournament (containment proof in
    * cellBalancedSample's scaladoc). Factored so CellSampleSpec can
    * assert tournament ≡ one naive per-cell window on the SAME frame. */
  private[queries] def tournamentTopK(cells: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cells.withColumn("salt", pmod(col("vec_id"), lit(32)))
      .withColumn("srk", row_number().over(
        Window.partitionBy("cell", "salt").orderBy(col("ccos").desc, col("vec_id").asc)))
      .filter(col("srk") <= k)
      .withColumn("rk", row_number().over(
        Window.partitionBy("cell").orderBy(col("ccos").desc, col("vec_id").asc)))
      .filter(col("rk") <= k)
      .select("cell", "rk", "vec_id", "ccos")
  }

  // --- SQ8 scalar quantization — the memory-bound scale path ------------

  /** SQ8 top-5: symmetric int8 scalar quantization (fixed grid
    * q = floor(x · 200), |x| ≤ 0.64 in this corpus → |q| ≤ 127) and
    * ranking by the INTEGER dot product of quantized vectors. At 100 TB
    * this is the memory-bandwidth lever: 4× smaller vectors (64 B vs
    * 256 B at d=64) scan 4× faster, and integer scores are exact in
    * every engine — no float-fold portability discipline needed at all.
    * Composes with v05–v08: quantize inside LSH buckets / IVF cells.
    * Quantized values are carried as exact integer-valued doubles so
    * the codegen'd dot_d expression serves this path too. */
  def sq8TopK(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = embeddings(s, d).withColumn("qv",
      expr("transform(embedding, x -> cast(floor(cast(x AS double) * 200.0D) AS double))"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qv").as("qq"))
    e.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("score", dot("qq", "qv").cast("long"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id").as("hit_id"), col("score"))
      .orderBy("q_id", "rk")
  }

  /** Two-stage retrieval: SQ8 integer coarse scan → exact re-rank. The
    * coarse stage ranks ALL candidates by the cheap quantized dot
    * product and keeps the top 50 per query; only those 50 get the full
    * double-precision cosine. This is the production ANN shape at
    * 100 TB: the memory-bound scan touches 4× less data (v09's lever),
    * the exact math runs on 50 rows/query instead of |corpus|, and the
    * candidate ranking is integer-exact so the boundary is deterministic
    * in every engine. Composes with v08: coarse-scan inside probed cells. */
  def rerankTopK(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val base = vecs(s, d).withColumn("qv8",
      expr("transform(embedding, x -> cast(floor(cast(x AS double) * 200.0D) AS double))"))
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qv8").as("qq8"),
        col("v").as("qv"), col("nrm").as("qn"))
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
    base.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("score", dot("qq8", "qv8").cast("long"))
      .withColumn("crk", row_number().over(
        byQ.orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("crk") <= 50)
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .withColumn("rk", row_number().over(
        byQ.orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id").as("hit_id"), col("cos"))
      .orderBy("q_id", "rk")
  }

  /** Truncated-dimension (Matryoshka-style) two-stage retrieval: the
    * coarse stage scores candidates on only the FIRST 16 of 64
    * dimensions, SQ8-quantized — a 16× cheaper scan than full-precision
    * (4× fewer dims × 4× smaller values) — keeps the top 50 per query,
    * and the exact cosine re-ranks those 50. Dimension truncation is
    * the third independent bandwidth lever next to v09's value
    * quantization and v12's codebook compression: with
    * prefix-informative embeddings the coarse index stores just the
    * leading sub-vector. The candidate cut is integer-exact (quantized
    * dot of the prefix), so the stage boundary is deterministic in
    * every engine. */
  def truncatedRerankTopK(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val base = vecs(s, d).withColumn("tq",
      expr("transform(slice(embedding, 1, 16), x -> cast(floor(cast(x AS double) * 200.0D) AS double))"))
    val q = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("tq").as("qt"),
        col("v").as("qv"), col("nrm").as("qn"))
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
    base.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("score", dot("qt", "tq").cast("long"))
      .withColumn("crk", row_number().over(
        byQ.orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("crk") <= 50)
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .withColumn("rk", row_number().over(
        byQ.orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id").as("hit_id"), col("cos"))
      .orderBy("q_id", "rk")
  }

  // --- PQ (product quantization) — the compressed-index scale path ------

  /** PQ-ADC top-5: product-quantize the corpus (8 subspaces × 8 dims,
    * 16 codewords each — vectors 0..15 play the trained codebook, the
    * v08 convention) and answer queries by Asymmetric Distance
    * Computation: the query precomputes a tiny per-subspace lookup
    * table of distances to every codeword, and a corpus vector's
    * approximate distance is the SUM of 8 table lookups — no float math
    * ever touches the corpus at query time. This is the compressed-ANN
    * shape at 100 TB: the index stores 8 4-bit codes (4 B) instead of
    * 64 floats (256 B) per vector — 64× less scan bandwidth — the LUT
    * (|queries|·8·16 rows) broadcasts, the ADC join is keyed on
    * (subspace, code), and the per-(vector, query) sum partial-
    * aggregates map-side. Composes with v08 (PQ inside probed cells)
    * and v10 (exact re-rank of ADC survivors).
    *
    * Encoding minimizes L2² reconstruction error (the PQ training
    * objective); scoring ranks by approximate INNER PRODUCT (v09's
    * ranking convention, so the recall ladder v09 → v12 isolates the
    * quantization loss). Portability: sub-vectors are SQ8-quantized
    * (v09's fixed grid), so every L2² (computed |a|²+|b|²−2a·b through
    * the codegen'd dot_d) and every LUT inner product is an exact
    * integer — bit-identical rankings in both engines with zero float
    * discipline. */
  def pqAdcTopK(s: SparkSession, d: String): DataFrame = {
    // the shared candidate frame: quantized sub-vectors × seed codebook
    // with exact integer L2² (encode objective) + inner product (ADC
    // score) — memoized, build shape asserted via pqCandUncached
    val cand = pqCand(s, d)
    // encode: nearest codeword per (vector, subspace); min(struct) is a
    // partial (map-side) aggregation — no window over the corpus
    val enc = cand
      .groupBy("vec_id", "m").agg(min(struct(col("d2"), col("j"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.j").as("code"))
    // query LUTs: |queries| × 8 subspaces × 16 codeword inner products
    val lut = cand.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("m"), col("j"), col("ip").as("qip"))
    enc.join(broadcast(lut), Seq("m"))
      .filter(col("code") === col("j"))
      .groupBy("q_id", "vec_id").agg(sum(col("qip")).as("ascore"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("ascore").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id").as("hit_id"), col("ascore"))
      .orderBy("q_id", "rk")
  }

  /** IVF-PQ top-5 — the production composite the ladder builds toward:
    * v08's coarse quantizer routes each query to its 2 nearest of 16
    * cells, and ONLY the vectors living in those probed cells are
    * scored, by v12's PQ-ADC table lookups (8 subspaces × 64 codewords
    * — the round-8 raised rung; 16 codewords measured recall@5 0.32,
    * 64 lifts it, and v32 grades the whole curve — integer-exact inner
    * products). This is the FAISS IVFPQ shape: at 100 TB the index
    * scans nprobe/nlist of the corpus AND reads 6-bit codes instead of
    * 256-byte vectors — the two compressions multiply (2/16 cells ×
    * ~43× code compression ≈ 340× less scan bandwidth than the v01
    * flat scan).
    *
    * Scale: centroid affinity and the query LUT×probe frame broadcast
    * (16 rows and |queries|·nprobe·8·64 rows respectively); the corpus
    * routes through ONE keyed join (codes ⋈ cell assignment on vec_id —
    * both corpus-sized, both already clustered by vec_id from their
    * group-bys); the ADC sum partial-aggregates map-side. Every score
    * is an exact integer (v12's quantized grid), so Spark and DuckDB
    * rank bit-identically. Cells partition the corpus, so a (query,
    * vector) pair matches at most one probed cell — the 8-term ADC sum
    * never double-counts. */
  def ivfPqTopK(s: SparkSession, d: String): DataFrame =
    // v12's PQ machinery at the 64-codeword rung: the memoized candidate
    // frame carries integer L2² (encode) + inner product (LUT) per codeword
    ivfPqTopKOn(s, d, pqCand64(s, d))

  /** v33 — v24 with the OPQ-style Hadamard rotation in front of the
    * sub-quantizer (see pqCandOpqUncached): same 16-cell/2-probe
    * router, same 64-codeword budget, same ADC plan — only the space
    * the codes live in changes, which is exactly the OPQ claim. The
    * measured lift over v24 at the shared budget (recall@5 0.42 →
    * 0.48 at sf0.01) is recorded in VectorRecallSpec. */
  def ivfPqOpqTopK(s: SparkSession, d: String): DataFrame =
    ivfPqTopKOn(s, d, pqCandOpq(s, d))

  private def ivfPqTopKOn(s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    val aff = centroidAffinity(s, d)
    val cells = aff.filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val probes = aff.filter(col("vec_id") < 10 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"))
    val enc = cand
      .groupBy("vec_id", "m").agg(min(struct(col("d2"), col("j"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.j").as("code"))
    // LUT ⋈ probes — 10 queries × 2 probes × 8 subspaces × 64 codewords
    // = 10,240 rows at ANY corpus size: broadcast structurally justified
    val plut = cand.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("m").as("lm"), col("j"), col("ip").as("qip"))
      .join(probes, "q_id")
    enc.join(cells, "vec_id")
      .join(broadcast(plut),
        col("m") === col("lm") && col("cell") === col("pcell") &&
          col("code") === col("j"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum(col("qip")).as("ascore"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("ascore").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id").as("hit_id"), col("ascore"))
      .orderBy("q_id", "rk")
  }

  /** v43 — ANN INDEX CROSS-RUN PERSISTENCE, graded (round-16 brief #6):
    * the search-ready IVF-PQ index — (vec_id, cell, m, code): the
    * routing cell plus 8 PQ codes per vector, exactly what v37's
    * staleness curve assumes a deployment keeps on disk — persists as
    * ONE ArtifactStore artifact, and this query serves a fresh-JVM
    * top-k that SCANS it: the corpus is never re-embedded,
    * re-quantized, or re-routed at serve time. Only query-side state is
    * built fresh (quantize + LUT against the 64-codeword codebook =
    * vec_id < 64 rows, a pushed-down id-range read of the embeddings
    * fixture), which is the honest serving posture — queries arrive
    * after the index is built. Result ≡ v24 BY CONSTRUCTION (the index
    * is v24's enc ⋈ cells materialized), so it shares v24's oracle
    * verbatim (the q61 convention: build path and artifact-scan path
    * must agree); VectorArtifactSpec locks the frame equality, the
    * served-from-disk path, and the fold tag. Scale: the artifact is 8
    * slim integer rows per vector — the ADC layout FAISS ships; serve
    * cost is one keyed join of codes against a 10-query × 2-probe
    * broadcast LUT (10,240 rows at ANY corpus size). */
  def annPersistedIndexTopK(s: SparkSession, d: String): DataFrame = {
    annTopKCache(s, d)(
      annPersistedTopKUncached(s, d).localCheckpoint())
  }

  private val annTopKCache = Memos.memo[String, DataFrame]()

  /** v43's serve plan over the persisted index — the uncached evidence
    * (PlanDump / VectorArtifactSpec run against this). */
  private[graft] def annPersistedTopKUncached(s: SparkSession, d: String): DataFrame =
    annServeOverIndex(s, d,
      graft.sources.ArtifactStore.loadOrBuild(s, "ann_index",
        graft.sources.ArtifactStore.key(d, "embeddings.parquet") + "-" + AnnIndexFoldTag) {
        annIndexUncached(s, d)
      })

  /** The ONE serve plan every persisted-index reader shares (v43 over
    * `ann_index`, v45 over `rolled_ann`, v48 over `reaped_ann`): only
    * query-side state is built fresh, the corpus arrives as `idx` —
    * however it was maintained. private[graft] so VectorArtifactSpec
    * can drive it with a hand-filtered rebuild for the v48 equality. */
  private[graft] def annServeOverIndex(s: SparkSession, d: String, idx: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    // probes come from the deployed router artifact (the coarse half of
    // the same index family); the LUT quantizes ONLY ids < 64 — the
    // codebook rows plus the 10 queries — behind a pushed-down filter
    val probes = centroidAffinity(s, d).filter(col("vec_id") < 10 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"))
    val eq = embeddings(s, d).filter(col("vec_id") < 64).withColumn("qv",
      expr("transform(embedding, x -> cast(floor(cast(x AS double) * 200.0D) AS double))"))
    val sub = eq.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("m"), col("qv"))
      .select(col("vec_id"), col("m"), expr("slice(qv, m * 8 + 1, 8)").as("sv"))
    val cb = sub.select(col("m"), col("vec_id").as("j"), col("sv").as("cv"))
    val plut = sub.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("m"), col("sv"))
      .join(cb, "m")
      .select(col("q_id"), col("m").as("lm"), col("j"),
        dot("sv", "cv").cast("long").as("qip"))
      .join(probes, "q_id")
    idx.join(broadcast(plut),
        col("m") === col("lm") && col("cell") === col("pcell") &&
          col("code") === col("j"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum(col("qip")).as("ascore"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("ascore").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id").as("hit_id"), col("ascore"))
      .orderBy("q_id", "rk")
  }

  /** The index BUILD behind the ann_index artifact — v24's enc ⋈ cells
    * materialized once per corpus (composes the pq_cand64 and
    * ivf_affinity artifacts, so a scratch-dir cleared pass rebuilds the
    * whole chain). */
  private[graft] def annIndexUncached(s: SparkSession, d: String): DataFrame = {
    val enc = pqCand64(s, d)
      .groupBy("vec_id", "m").agg(min(struct(col("d2"), col("j"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.j").as("code"))
    enc.join(cellAssignments(s, d), "vec_id")
      .select("vec_id", "cell", "m", "code")
  }

  /** ann_index artifact fold-shape tag — sha256 (first 8 hex) over the
    * source of the defs the persisted index derives from
    * ([[pqCandUncachedK]], [[centroidAffinityUncached]],
    * [[cellAssignments]], [[annIndexUncached]]); VectorArtifactSpec's
    * tag-lock recomputes it. */
  private[graft] val AnnIndexFoldTag = "ann-fd6ba877"

  // ——— v44: incremental ANN index roll-forward (the t67/t68 lifecycle
  // for vectors — round-17 verdict #3) ———

  /** Deterministic "today's embedding ingest shard": vec_id ≡ VecDeltaRes
    * (mod VecDeltaMod) — the t67 convention; at 100 TB the delta would
    * be its own partition/day directory and the hash gate stands in for
    * that partition predicate on the shared fixture. */
  private[queries] val VecDeltaMod = 10L
  private[queries] val VecDeltaRes = 7L

  /** Route + PQ-encode EXACTLY the vectors matching `pred`, against the
    * FROZEN quantizers (the 16 id-pinned coarse centroids and the
    * 64-codeword id-pinned sub-vector codebook — training data, fixed
    * at index build like any deployed FAISS index): per vector its
    * nearest cell (rounded cosine, cid-asc tie-break — v08's router)
    * plus 8 PQ codes (min integer L2², j-asc tie-break — v12's
    * encoder). Per-vector output depends only on the vector and the
    * frozen quantizers — NO cross-vector state — which is exactly what
    * makes the roll-forward ≡ rebuild equality hold posting-for-
    * posting. Scale: the slice scans once for routing and once for
    * encoding; both quantizers broadcast (16 and 512 rows at ANY corpus
    * size); every downstream shuffle is O(|slice|). */
  private[graft] def annEncodeSlice(s: SparkSession, d: String, pred: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorExpressions.register(s)
    val e = embeddings(s, d)
    val cents = withVecNorm(e.filter(col("vec_id") < 16))
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val cells = withVecNorm(e.filter(pred))
      .select(col("vec_id"), col("v"), col("nrm"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", round(dot("v", "cv") / (col("nrm") * col("cn")), 6))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    def subs(df: DataFrame) = df
      .withColumn("qv",
        expr("transform(embedding, x -> cast(floor(cast(x AS double) * 200.0D) AS double))"))
      .select(col("vec_id"), explode(expr("sequence(0, 7)")).as("m"), col("qv"))
      .select(col("vec_id"), col("m"), expr("slice(qv, m * 8 + 1, 8)").as("sv"))
    val cb = subs(e.filter(col("vec_id") < 64))
      .select(col("m"), col("vec_id").as("j"), col("sv").as("cv"))
    val d2 = (dot("sv", "sv") + dot("cv", "cv") - lit(2.0) * dot("sv", "cv")).cast("long")
    val codes = subs(e.filter(pred)).join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("j"), d2.as("d2"))
      .groupBy("vec_id", "m").agg(min(struct(col("d2"), col("j"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.j").as("code"))
    codes.join(cells, "vec_id").select("vec_id", "cell", "m", "code")
  }

  /** The persisted CORPUS half of the rolling index: yesterday's
    * vectors (the non-delta slice), encoded once and kept on disk —
    * the v43 `ann_index` layout restricted to the corpus shard. */
  private[graft] def corpusAnnUncached(s: SparkSession, d: String): DataFrame =
    annEncodeSlice(s, d, pmod(col("vec_id"), lit(VecDeltaMod)) =!= VecDeltaRes)

  private def corpusAnn(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "corpus_ann",
      graft.sources.ArtifactStore.key(d, "embeddings.parquet") + "-" + AnnRollFoldTag) {
      corpusAnnUncached(s, d)
    }

  /** v44 — ANN INDEX ROLL-FORWARD: fold today's delta vectors into the
    * persisted corpus index WITHOUT re-embedding, re-routing, or
    * re-encoding the corpus — the nightly maintenance step that
    * completes v43's lifecycle (v43 serves the persisted index, v44
    * advances it; together they are the steady state a 100 TB vector
    * store runs instead of ever re-running the index backfill — the
    * t67/t68 pair for vectors). The rolled index is the corpus_ann
    * artifact ∪ a fresh route+encode of ONLY the delta slice (both
    * quantizers frozen and broadcast, so the new work is O(|delta|)),
    * persisted as its own artifact (rolled_ann); the graded readout is
    * a per-CELL census over the ROLLED artifact — entries, distinct
    * vectors, Σ vec_id, and a Σ(m+1)·code checksum that flips if ANY
    * posting's code or subspace drifts. The oracle computes the same
    * census from a FULL REBUILD (v24's enc ⋈ cells chain over ALL
    * vectors) — roll-forward ≡ rebuild is a cross-engine hash fact
    * (per-vector encodings are independent of the split, so the union
    * must be posting-for-posting the rebuild; the checksum turns "must
    * be" into a graded equality, the t68 convention). */
  private[graft] def rolledAnnUncached(s: SparkSession, d: String): DataFrame =
    corpusAnn(s, d).unionByName(
      annEncodeSlice(s, d, pmod(col("vec_id"), lit(VecDeltaMod)) === VecDeltaRes))

  private def rolledAnn(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "rolled_ann",
      graft.sources.ArtifactStore.key(d, "embeddings.parquet") + "-" + AnnRollFoldTag) {
      rolledAnnUncached(s, d)
    }

  private val annRollCache = Memos.memo[String, DataFrame]()

  /** The graded per-CELL census every index-maintenance query reads
    * out: entries, distinct vectors, Σ vec_id, and a Σ(m+1)·code
    * checksum that flips if ANY posting's code or subspace drifts —
    * shared by v44 (one roll), v46 (roll∘roll), and v47 (reap), each
    * against its own maintained artifact. */
  private def annCellCensus(idx: DataFrame): DataFrame =
    idx.groupBy("cell")
      .agg(count(lit(1)).as("n_entries"),
        countDistinct(col("vec_id")).as("n_vecs"),
        sum(col("vec_id")).cast("long").as("id_sum"),
        sum((col("m") + 1) * col("code")).cast("long").as("code_checksum"))
      .orderBy("cell")

  def annIndexRoll(s: SparkSession, d: String): DataFrame = {
    annRollCache(s, d)(
      annCellCensus(rolledAnn(s, d)).localCheckpoint())
  }

  /** corpus_ann/rolled_ann artifact fold-shape tag — sha256 (first 8
    * hex) over the slice-encoder and roll defs plus the delta-split
    * constants; VectorArtifactSpec's tag-lock recomputes it. */
  private[graft] val AnnRollFoldTag = "anr-7d62c517"

  /** v45 — SERVE FROM THE ROLLED INDEX: tomorrow's query path after
    * v44's nightly roll, closing the lifecycle loop — build the index
    * once (v43's backfill), serve it (v43), roll the delta in (v44),
    * and SERVE THE ROLLED ARTIFACT (this query) without ever touching
    * ann_index again. The plan is v43's serve plan verbatim
    * ([[annServeOverIndex]] — one keyed join of the index scan against
    * the 10,240-row broadcast LUT; only query-side state built fresh)
    * pointed at `rolled_ann` instead of `ann_index`; because the roll
    * is posting-for-posting the rebuild (v44's graded fact), the
    * top-5 over it must equal v24's — so v45 shares v24's oracle
    * VERBATIM (the q61/v43 convention), turning "the rolled index is
    * immediately query-ready" into a cross-engine hash fact rather
    * than a claim. */
  def annRolledServeTopK(s: SparkSession, d: String): DataFrame = {
    annRolledServeCache(s, d)(
      annRolledServeUncached(s, d).localCheckpoint())
  }

  private val annRolledServeCache = Memos.memo[String, DataFrame]()

  /** v45's serve plan over the rolled artifact — the uncached evidence
    * (PlanDump / VectorArtifactSpec run against this). */
  private[graft] def annRolledServeUncached(s: SparkSession, d: String): DataFrame =
    annServeOverIndex(s, d, rolledAnn(s, d))

  // ——— v46: TWO-STEP roll-forward — the roll is closed under itself
  // (round-18 verdict #1: v44 proves corpus ∪ delta ≡ rebuild for ONE
  // step; the steady-state claim needs the induction — a roll whose
  // corpus input is itself a ROLLED artifact) ———

  /** Day-2's ingest shard for the two-step lifecycle: vec_id ≡ 3
    * (mod 10). Day-3's shard reuses v44's residue (≡ 7), so
    * {corpus₂, shard A, shard B} partition the id space exactly like
    * v44's {corpus, delta} — the same full-rebuild census grades both
    * lifecycles. */
  private[queries] val VecShardARes = 3L

  /** Day-1 corpus for the two-step lifecycle: everything outside BOTH
    * ingest shards, encoded once against the frozen quantizers. */
  private[graft] def corpusAnn2Uncached(s: SparkSession, d: String): DataFrame =
    annEncodeSlice(s, d,
      pmod(col("vec_id"), lit(VecDeltaMod)) =!= VecShardARes &&
        pmod(col("vec_id"), lit(VecDeltaMod)) =!= VecDeltaRes)

  private def corpusAnn2(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "corpus_ann2",
      graft.sources.ArtifactStore.key(d, "embeddings.parquet") + "-" + AnnRoll2FoldTag) {
      corpusAnn2Uncached(s, d)
    }

  /** Roll #1 (day 2): corpus₂ artifact ∪ a fresh encode of shard A —
    * v44's roll shape verbatim, persisted so roll #2 can read IT as
    * its corpus. */
  private[graft] def rolledAnnS1Uncached(s: SparkSession, d: String): DataFrame =
    corpusAnn2(s, d).unionByName(
      annEncodeSlice(s, d, pmod(col("vec_id"), lit(VecDeltaMod)) === VecShardARes))

  private def rolledAnnS1(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "rolled_ann_s1",
      graft.sources.ArtifactStore.key(d, "embeddings.parquet") + "-" + AnnRoll2FoldTag) {
      rolledAnnS1Uncached(s, d)
    }

  /** Roll #2 (day 3) — the induction step: the corpus side is the
    * ROLLED artifact from day 2 (rolled_ann_s1 — NOT the day-1
    * corpus_ann2, which this plan never touches), and the only fresh
    * work is routing + encoding shard B. Because per-vector encodings
    * depend only on the vector and the FROZEN quantizers, roll∘roll
    * must be posting-for-posting the full rebuild — v46's census
    * oracle (the same FULL-REBUILD census as v44's) turns that "must
    * be" into a graded cross-engine equality, and VectorArtifactSpec
    * asserts it in-engine at posting granularity plus the plan fact
    * that roll #2 reads the rolled artifact. */
  private[graft] def rolledAnnS2Uncached(s: SparkSession, d: String): DataFrame =
    rolledAnnS1(s, d).unionByName(
      annEncodeSlice(s, d, pmod(col("vec_id"), lit(VecDeltaMod)) === VecDeltaRes))

  private def rolledAnnS2(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "rolled_ann_s2",
      graft.sources.ArtifactStore.key(d, "embeddings.parquet") + "-" + AnnRoll2FoldTag) {
      rolledAnnS2Uncached(s, d)
    }

  private val annRoll2Cache = Memos.memo[String, DataFrame]()

  /** v46 — the graded readout: the per-cell census over the twice-
    * rolled artifact, against the SAME full-rebuild oracle as v44
    * (corpus₂ ∪ shard A ∪ shard B = all vectors, so the census must be
    * identical — one induction step more than v44 proves). */
  def annRollTwoStep(s: SparkSession, d: String): DataFrame = {
    annRoll2Cache(s, d)(
      annCellCensus(rolledAnnS2(s, d)).localCheckpoint())
  }

  /** corpus_ann2/rolled_ann_s1/rolled_ann_s2 artifact fold-shape tag —
    * sha256 (first 8 hex) over the slice-encoder, the two-step roll
    * defs, and the shard constants; VectorArtifactSpec's tag-lock
    * recomputes it. */
  private[graft] val AnnRoll2FoldTag = "an2-4927fd27"

  // ——— v47: DELETION reap — the lifecycle's missing CRUD leg
  // (round-18 verdict #3: create=backfill, read=v43/v45, update=v44;
  // retiring a doc set must not imply a full index rebuild) ———

  /** The deletion set: vec_id ≡ 4 (mod 10) — a residue disjoint from
    * both ingest shards, standing in for the tombstone list a
    * production store accumulates (the q47 forget-cascade posture).
    * Read as a pushed-down id-only scan of the embeddings fixture —
    * O(|deletions|) rows reach the reap. */
  private[queries] val VecDelRes = 4L

  private[graft] def annDeletionSet(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(VecDeltaMod)) === VecDelRes)
      .select("vec_id")

  /** The reap: anti-join the deletion set's postings OUT of the rolled
    * index — one hash anti-join keyed on vec_id, O(|index| scan +
    * |deletions| build side), no re-route, no re-encode, no corpus
    * rescan — persisted as the next roll of the index. Every surviving
    * posting is byte-identical to its rolled_ann row (the anti-join
    * can only drop rows), which VectorArtifactSpec asserts with a
    * planted deleted vector. */
  private[graft] def reapedAnnUncached(s: SparkSession, d: String): DataFrame =
    rolledAnn(s, d).join(annDeletionSet(s, d), Seq("vec_id"), "left_anti")

  private def reapedAnn(s: SparkSession, d: String): DataFrame =
    graft.sources.ArtifactStore.loadOrBuild(s, "reaped_ann",
      graft.sources.ArtifactStore.key(d, "embeddings.parquet") + "-" + AnnReapFoldTag) {
      reapedAnnUncached(s, d)
    }

  private val annReapCache = Memos.memo[String, DataFrame]()

  /** v47 — the graded readout: the per-cell census over the reaped
    * artifact; the oracle is the v44 convention INVERTED — a full
    * rebuild census over the FILTERED corpus (every vector except the
    * deletion residue), so reap ≡ rebuild-without-the-deleted is a
    * cross-engine hash fact. */
  def annReapCensus(s: SparkSession, d: String): DataFrame = {
    annReapCache(s, d)(
      annCellCensus(reapedAnn(s, d)).localCheckpoint())
  }

  /** reaped_ann artifact fold-shape tag — sha256 (first 8 hex) over
    * the deletion-set and reap defs plus the roll tag's derivation
    * (the reap consumes rolled_ann); VectorArtifactSpec's tag-lock
    * recomputes it. */
  private[graft] val AnnReapFoldTag = "anp-dc26b4fc"

  /** v48 — SERVE FROM THE REAPED INDEX: the takedown-compliance fact
    * the reap exists for — a deleted vector must stop being SERVED the
    * moment the reap lands, not at the next rebuild. The plan is the
    * ONE shared serve def ([[annServeOverIndex]] — v43/v45's plan
    * verbatim) pointed at `reaped_ann`; the oracle is the full
    * IVF-PQ top-k recomputed over the FILTERED corpus (v24's chain
    * with the deletion residue excluded from the index side — queries
    * themselves are external and still arrive for every q_id), so
    * "deletions are immediately invisible to queries" is a
    * cross-engine hash fact: any tombstoned vector still surfacing in
    * a top-5, or any surviving neighbor shifting rank incorrectly,
    * hash-mismatches. VectorArtifactSpec additionally asserts
    * in-engine that v48 ≡ a serve over the filtered full rebuild, that
    * no deleted id appears among the hits, and that the result
    * MATERIALLY differs from v24's (the fixture must actually have
    * deleted vectors in pre-reap top-5s, or the grade is vacuous). */
  def annReapedServeTopK(s: SparkSession, d: String): DataFrame = {
    annReapedServeCache(s, d)(
      annReapedServeUncached(s, d).localCheckpoint())
  }

  private val annReapedServeCache = Memos.memo[String, DataFrame]()

  /** v48's serve plan over the reaped artifact — the uncached evidence
    * (PlanDump / VectorArtifactSpec run against this). */
  private[graft] def annReapedServeUncached(s: SparkSession, d: String): DataFrame =
    annServeOverIndex(s, d, reapedAnn(s, d))

  /** Residual IVF-PQ top-5 — v24 upgraded to the full FAISS recipe:
    * the PQ codes quantize each vector's RESIDUAL against its cell
    * centroid (x − c), and the codebook is TRAINED — one v18-style
    * Lloyd round over the residual sub-vectors (seed = residuals of
    * vectors 16..31, then each codeword moves to its member mean,
    * floor-quantized back to the integer grid). Residuals are the
    * point of IVFPQ: once the coarse quantizer explains the cell mean,
    * what's left is small and centered, so the codeword budget spends
    * its resolution on the differences that decide rankings. Round 8
    * raised both rungs from 16 to 64 codewords/subspace (VectorRecall-
    * Spec records the lifted operating points; v32 grades the full
    * recall-vs-codebook-size curve) — at this TOY scale (500 vectors,
    * 16 cells, 10 queries) residual-vs-raw stays within ±1–3-hit
    * sampling noise; the graded value here is the exact deterministic
    * PLUMBING of the production recipe, whose advantage materializes
    * at real corpus/codebook scale. Scoring stays
    * asymmetric inner product: <q, x> ≈ <q, c> +
    * Σ_m <q_m, cw_{m,code_m}> — the per-cell constant <q, c> joins in
    * with the probe; the query is never residualized under IP.
    *
    * Scale: v24's shapes plus one training round — assignment is the
    * same map-side min(struct) partial agg, the member-mean update is
    * one keyed partial agg to the ≤8×64×8 = 4096-row codebook frame
    * (v18's discipline), and the trained codebook re-broadcasts. The
    * means floor-quantize back to integers (IEEE division is correctly
    * rounded, so floor agrees across engines), keeping every
    * downstream distance/score exact integer arithmetic. Codes ⋈
    * cells stays the one keyed corpus join; the LUT×probe frame stays
    * 2,560 rows at any corpus size. */
  def ivfPqResidualTopK(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val aff = centroidAffinity(s, d)
    val cells = aff.filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val probes = aff.filter(col("vec_id") < 10 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"))
    val eq = embeddings(s, d).withColumn("qv",
      expr("transform(embedding, x -> cast(floor(cast(x AS double) * 200.0D) AS double))"))
    val cq = eq.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("qv").as("cqv"))
    // trained INDEX state (codebook + codes) — a pure function of the
    // corpus, memoized per (session, dir) like pqCandMemo's candidate
    // frames: the residual build + Lloyd round is index TRAINING a
    // deployment runs once, not per query
    val (cb, enc) = resPqIndexCache(s, d) {
      // residual per corpus vector vs its OWN cell centroid (map-side:
      // cells is keyed on vec_id, the centroid frame broadcasts)
      val res = eq.join(cells, "vec_id")
        .join(broadcast(cq), col("cell") === col("cid"))
        .withColumn("rv", expr("zip_with(qv, cqv, (a, b) -> a - b)"))
      // pinned: sub feeds the seed codebook, BOTH assignment passes, and
      // the member-mean update — lazily it re-runs the residual build per
      // consumer (measured 3.2 s warm at sf0.1; ~1 s pinned)
      val sub = res.select(col("vec_id"), col("cell"),
          explode(expr("sequence(0, 7)")).as("m"), col("rv"))
        .select(col("vec_id"), col("cell"), col("m"),
          expr("slice(rv, m * 8 + 1, 8)").as("sv"))
        .localCheckpoint()
      // seed codebook: vectors 16..79's residual sub-vectors (nonzero,
      // unlike the centroid vectors' own residuals) — 64 codewords per
      // subspace, the same raised rung as v24
      val cb0 = sub.filter(col("vec_id") >= 16 && col("vec_id") < 80)
        .select(col("m"), (col("vec_id") - 16).cast("int").as("j"), col("sv").as("cw"))
      def d2r = (graft.functions.VectorExpressions.dot_d(col("sv"), col("sv"))
        + graft.functions.VectorExpressions.dot_d(col("cw"), col("cw"))
        - lit(2.0) * graft.functions.VectorExpressions.dot_d(col("sv"), col("cw"))).cast("long")
      def assign(codebook: DataFrame): DataFrame = sub.join(broadcast(codebook), "m")
        .select(col("vec_id"), col("m"), col("j"), d2r.as("d2"))
        .groupBy("vec_id", "m").agg(min(struct(col("d2"), col("j"))).as("best"))
        .select(col("vec_id"), col("m"), col("best.j").as("code"))
      // ONE Lloyd round: move each codeword to its member mean, floored
      // back onto the integer grid (v18's keyed partial-agg update)
      val cbB = assign(cb0).join(sub, Seq("vec_id", "m"))
        .select(col("m"), col("code").as("j"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("m", "j", "pos")
        .agg(sum(col("x").cast("long")).as("sq"), count(lit(1)).as("nm"))
        .withColumn("cwx", floor(col("sq").cast("double") / col("nm")).cast("double"))
        .groupBy("m", "j")
        .agg(expr("transform(sort_array(collect_list(struct(pos, cwx))), t -> t.cwx)").as("cw"))
        .localCheckpoint() // ≤8×64 rows; consumed by the final assignment AND the LUT
      (cbB, assign(cbB).localCheckpoint()) // codes: |vectors|×8 rows
    }
    // query side: RAW quantized query (IP metric never residualizes the
    // query) — LUT term <q_m, cw> plus the per-probed-cell <q, c>
    val q = eq.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("qv"))
    val qcell = q.join(probes, "q_id")
      .join(broadcast(cq), col("pcell") === col("cid"))
      .withColumn("ipcell",
        graft.functions.VectorExpressions.dot_d(col("qv"), col("cqv")).cast("long"))
      .select(col("q_id"), col("pcell"), col("ipcell"), col("qv"))
    val qsub = qcell.select(col("q_id"), col("pcell"), col("ipcell"),
        explode(expr("sequence(0, 7)")).as("m"), col("qv"))
      .select(col("q_id"), col("pcell"), col("ipcell"), col("m"),
        expr("slice(qv, m * 8 + 1, 8)").as("qsv"))
    val plut = qsub.join(broadcast(cb), "m")
      .select(col("q_id"), col("pcell"), col("ipcell"), col("m").as("lm"),
        col("j"), graft.functions.VectorExpressions.dot_d(col("qsv"), col("cw"))
          .cast("long").as("qip"))
    enc.join(cells, "vec_id")
      .join(broadcast(plut),
        col("m") === col("lm") && col("cell") === col("pcell") &&
          col("code") === col("j"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg((sum(col("qip")) + min(col("ipcell"))).as("ascore"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("ascore").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("vec_id").as("hit_id"), col("ascore"))
      .orderBy("q_id", "rk")
  }

  /** Graded recall@5 of the IVF index (v08) against the exact baseline
    * (v01): per query, how many of the true top-5 the 2-probe
    * approximate search returned. VectorRecallSpec measures this
    * internally; this makes the number part of the ORACLE-CHECKED
    * surface — the recall/scan-fraction trade-off an operator reads
    * before shipping an index config is itself a deterministic query.
    * Composes the two existing operators; both sides' plans keep their
    * own scale shapes (broadcast queries / probed-cell pruning), and
    * the comparison join is |queries|×5 rows. */
  def ivfRecall(s: SparkSession, d: String): DataFrame = {
    val exact = cosineTopK(s, d).filter(col("rk") <= 5)
      .select(col("q_id"), col("hit_id"))
    val approx = ivfTopK(s, d)
      .select(col("q_id").as("aq"), col("hit_id").as("a_hit"))
    exact.join(approx,
        col("q_id") === col("aq") && col("hit_id") === col("a_hit"), "left")
      .groupBy("q_id")
      .agg(count(col("a_hit")).as("n_found"))
      .select(col("q_id"), col("n_found"),
        round(col("n_found").cast("double") / 5.0, 6).as("recall"))
      .orderBy("q_id")
  }

  /** v32 — recall@5 vs PQ codebook size for the IVF-PQ composite: the
    * tuning curve behind v24's raised rung, K ∈ {16, 32, 64} codewords
    * per subspace, all sharing v24's router (16 cells, 2 probes — the
    * curve isolates QUANTIZATION loss; the router bound is the ceiling
    * every rung shares). The 64-codeword candidate frame is the
    * superset: a K-codeword codebook is its j < K prefix, so the three
    * rungs cost ONE corpus scan fanned out by a 3-row broadcast — the
    * encode argmin per rung is the same map-side min(struct) partial
    * agg, and recall joins each rung's top-5 against the v01 exact
    * baseline on (q_id, hit_id), a |K-rungs|·|queries|·5-row frame.
    * This is v21's nprobe-curve discipline applied to the codebook
    * dial: the size/accuracy trade-off an operator reads before
    * committing codebook bits at 100 TB, as an oracle-checked table. */
  def ivfPqCodebookCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val aff = centroidAffinity(s, d)
    val cells = aff.filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val probes = aff.filter(col("vec_id") < 10 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"))
    val cand = pqCand64(s, d)
    val ks = Seq(16, 32, 64).toDF("kk")
    val enc = cand.crossJoin(broadcast(ks)).filter(col("j") < col("kk"))
      .groupBy("kk", "vec_id", "m").agg(min(struct(col("d2"), col("j"))).as("best"))
      .select(col("kk"), col("vec_id"), col("m"), col("best.j").as("code"))
    val plut = cand.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("m").as("lm"), col("j"), col("ip").as("qip"))
      .join(probes, "q_id")
    val top5 = enc.join(cells, "vec_id")
      .join(broadcast(plut),
        col("m") === col("lm") && col("cell") === col("pcell") &&
          col("code") === col("j"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("kk", "q_id", "vec_id").agg(sum(col("qip")).as("ascore"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("kk", "q_id")
          .orderBy(col("ascore").desc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
    val exact = cosineTopK(s, d).filter(col("rk") <= 5)
      .select(col("q_id").as("eq"), col("hit_id").as("ehit"))
    val hitCounts = top5.join(exact,
        col("q_id") === col("eq") && col("vec_id") === col("ehit"))
      .groupBy("kk").agg(count(lit(1)).as("n_hits"))
    ks.join(hitCounts, Seq("kk"), "left")
      .select(col("kk").as("n_codewords"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / 50.0, 6).as("recall"))
      .orderBy("n_codewords")
  }

  /** One PQ codebook training round — the missing half of v12's story:
    * v12 quantizes against a FIXED seed codebook; this is the Lloyd
    * step that trains it, run independently in each of the 8 subspaces
    * (assign every sub-vector to its nearest codeword under the same
    * integer L2² objective v12 encodes with, then move each codeword to
    * its member mean). Repeating per round with localCheckpoint (t16's
    * loop discipline) trains the production codebook; v11 is the same
    * step for the coarse IVF quantizer.
    *
    * Scale: the codebook is 8×16 sub-vectors — broadcast; assignment is
    * a map-side min(struct) partial aggregation per (vector, subspace),
    * never a window; the update is one keyed partial aggregation to the
    * 8×16×8 = 1024-row codebook frame. Integer-grid sums (the quantized
    * sub-vectors are exact integers) make the update reproducible under
    * any combine tree — v03/v11's discipline. */
  def pqTrainRound(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = embeddings(s, d).withColumn("qv",
      expr("transform(embedding, x -> cast(floor(cast(x AS double) * 200.0D) AS double))"))
    val sub = e.select(col("vec_id"), explode(expr("sequence(0, 7)")).as("m"), col("qv"))
      .select(col("vec_id"), col("m"), expr("slice(qv, m * 8 + 1, 8)").as("sv"))
    val enc = pqCand(s, d)
      .select(col("vec_id"), col("m"), col("j"), col("d2"))
      .groupBy("vec_id", "m").agg(min(struct(col("d2"), col("j"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.j").as("code"))
    enc.join(sub, Seq("vec_id", "m"))
      .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
      .withColumn("qx", col("x").cast("long"))
      .groupBy("m", "code", "pos")
      .agg(sum(col("qx")).as("sq"), count(lit(1)).as("n_members"))
      .select(col("m"), col("code"), col("pos"),
        (col("sq").cast("double") / col("n_members")).as("centroid"),
        col("n_members"))
      .orderBy("m", "code", "pos")
  }

  /** Semantic decontamination — the embedding-space twin of t19/t26's
    * n-gram decontamination: every corpus vector reports its maximum
    * cosine against a held-out benchmark set (vec_id ≡ 0 mod 17 plays
    * the benchmark suite) plus how many benchmark items it matches at
    * ≥ 0.4, and the contaminated flag a curation pipeline filters on.
    * Paraphrased eval leakage survives exact/n-gram checks (t19 needs a
    * verbatim 8-gram); embedding overlap is the standard second line.
    *
    * Scale: the benchmark side is bounded by the SUITE size — a few
    * thousand rows no matter how large the corpus — so the broadcast is
    * structurally justified (not data-dependent like t32's labels); the
    * corpus side is one map-only scan through the codegen'd dot_d, and
    * the per-vector max/count partial-aggregates map-side on vec_id.
    * Per-pair cosines round(·,6) before aggregation (max over rounded
    * values is order-independent), counts are exact integers. */
  /** The benchmark-suite side of semantic decontamination (vec_id ≡ 0
    * mod 17 plays the held-out suite) — shared by batch v16 and stream
    * s15 so the model can never fork between them. */
  private[queries] def benchVectors(s: SparkSession, d: String): DataFrame =
    vecs(s, d).filter(col("vec_id") % 17 === 0)
      .select(col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("bn"))

  /** The one scoring body batch v16 and stream s15 share: every corpus
    * vector × broadcast benchmark suite → per-vector max cosine, ≥0.4
    * hit count, contaminated flag. Per-pair cosines round(·,6) BEFORE
    * aggregation, so the result is identical under any partitioning —
    * including a micro-batch split. */
  private[queries] def semanticScoreAgainst(corpus: DataFrame,
      bench: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(bench))
      .withColumn("cos", round(dot("v", "bv") / (col("nrm") * col("bn")), 6))
      .groupBy("vec_id")
      .agg(max(col("cos")).as("max_cos"),
        sum(when(col("cos") >= 0.4, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("contaminated",
        when(col("max_cos") >= 0.4, 1L).otherwise(0L))

  def semanticDecontaminate(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    semanticScoreAgainst(base.filter(col("vec_id") % 17 =!= 0),
      benchVectors(s, d))
      .orderBy("vec_id")
  }

  /** IVF recall-vs-probes tuning curve: mean recall@5 over the query
    * set at nprobe ∈ {1, 2, 4} — the trade-off curve an ANN operator
    * actually tunes against (v19 grades ONE operating point; this is
    * the curve it sits on). Recall is monotone in nprobe by
    * construction — more probed cells only add candidates.
    *
    * Scale: the |vectors|×16 affinity frame is the SHARED memoized
    * routing table (centroidAffinity — three curve points, and five
    * sibling operators, would re-derive it otherwise; the t48/t49
    * lesson) and each point reuses v08's exact scale
    * shape: probed cells bound the candidate set, the rank window
    * partitions per query, and the final count is |queries|×5 rows per
    * point. The exact baseline comes from the v01 path with its own
    * plan intact. */
  def ivfProbeCurve(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    val aff = centroidAffinity(s, d).select("vec_id", "cid", "crn")
    val cells = aff.filter(col("crn") === 1).select(col("vec_id"), col("cid").as("cell"))
    val base = e.join(cells, "vec_id")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val exact = cosineTopK(s, d).filter(col("rk") <= 5)
      .select(col("q_id"), col("hit_id"))
    // recall denominator DERIVED from the exact baseline (1-row scalar
    // broadcast), never a hard-coded |queries|×5: a query with fewer
    // than 5 eligible neighbors would silently misstate recall if the
    // constant and the data ever disagreed (round-6 advice)
    val exn = exact.agg(count(lit(1)).as("n_exact"))
    // One plan, not three (v37's expansion discipline, round-20's named
    // lever): candidates at nprobe=1/2 are SUBSETS of the nprobe=4 set —
    // a vector's probe rank pr is the crn of its cell in the query's
    // probe list (unique: a vector lives in one cell, probe cells are
    // distinct per query) — so the corpus-side candidate join and the
    // cosines compute ONCE at np_max=4, and a 3-row broadcast range-join
    // expands each candidate to every nprobe ≥ pr. ONE window ranks per
    // (query, nprobe) over the metadata-sized candidate rows; per-point
    // recall is a keyed aggregate. Semantics proven identical: same rows
    // per (q_id, nprobe) partition, same (cos desc, hit_id asc) order,
    // inner-join-with-truth count ≡ the old per-point left_semi count
    // because (q_id, hit_id) is unique in the candidate frame.
    import s.implicits._
    val probes = aff.filter(col("vec_id") < 10 && col("crn") <= 4)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"), col("crn").as("pr"))
    val cand = base.join(broadcast(q.join(probes, "q_id")),
        col("cell") === col("pcell") && col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("q_id"), col("pr"), col("vec_id").as("hit_id"), col("cos"))
      .localCheckpoint() // feeds the expansion; |queries|-bounded rows
    val nps = Seq(1, 2, 4).toDF("nprobe")
    val found = cand.join(broadcast(nps), col("pr") <= col("nprobe"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id", "nprobe")
          .orderBy(col("cos").desc, col("hit_id").asc)))
      .filter(col("rk") <= 5)
      .join(exact, Seq("q_id", "hit_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_found"))
    nps.join(found, Seq("nprobe"), "left")
      .na.fill(0L, Seq("n_found"))
      .crossJoin(broadcast(exn))
      .select(col("nprobe"), col("n_found"),
        round(col("n_found").cast("double") / col("n_exact"), 6).as("recall"))
      .orderBy("nprobe")
  }

  /** v30 — Matryoshka (truncated-dimension) recall curve: recall@5 of
    * EXACT search over the first D ∈ {8, 16, 32, 48} dimensions against
    * the full-dim cosine baseline — the curve behind v22's fixed
    * 16-dim coarse stage, and the dial a deployment reads to pick how
    * much of each embedding the first-pass index stores (a 16-dim
    * prefix is 4× less scan bandwidth than 64). Truncated ranking uses
    * the SQ-grid integer inner product (v22's coarse-stage convention —
    * floor(x·200) per coordinate, exact int64 scores, bit-identical
    * rank order in both engines); the baseline and denominator come
    * from the v01 exact path (the v21 rule: never a hard-coded
    * constant).
    *
    * Scale: each curve point is the brute-force shape ONLY because the
    * corpus fixture is exact-rankable; the operator a deployment runs
    * is v22 (truncated coarse → exact rerank) — this curve is its
    * tuning table, |queries|×5 rows per point. */
  def matryoshkaRecallCurve(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = vecs(s, d)
    val exact = cosineTopK(s, d).filter(col("rk") <= 5)
      .select(col("q_id"), col("hit_id"))
    val exn = exact.agg(count(lit(1)).as("n_exact"))
    Seq(8, 16, 32, 48).map { dim =>
      val t = e.withColumn("tq",
        expr(s"transform(slice(embedding, 1, $dim), x -> cast(floor(cast(x AS double) * 200.0D) AS double))"))
      val q = t.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("tq").as("qt"))
      val hits = t.join(broadcast(q), col("q_id") =!= col("vec_id"))
        .withColumn("score", dot("qt", "tq").cast("long"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("score").desc, col("vec_id").asc)))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("vec_id").as("hit_id"))
      exact.join(hits, Seq("q_id", "hit_id"), "left_semi")
        .agg(count(lit(1)).as("n_found"))
        .crossJoin(broadcast(exn))
        .select(lit(dim).as("dim"), col("n_found"),
          round(col("n_found").cast("double") / col("n_exact"), 6).as("recall"))
    }.reduce(_ unionByName _).orderBy("dim")
  }

  private val MatryoshkaCurveDuck: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |p0 AS (SELECT q.vec_id AS q_id, b.vec_id AS hit_id,
      |        round(list_dot_product(q.v, b.v) /
      |              (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
      |      FROM e q JOIN e b ON q.vec_id < 10 AND b.vec_id != q.vec_id),
      |r0 AS (SELECT q_id, hit_id,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk
      |      FROM p0),
      |ex AS (SELECT q_id, hit_id FROM r0 WHERE rk <= 5),
      |exn AS (SELECT COUNT(*) AS n_exact FROM ex),
      |dims AS (SELECT CAST(unnest([8, 16, 32, 48]) AS INT) AS dim),
      |t AS (SELECT dims.dim, e.vec_id,
      |    list_transform(e.v[1:dims.dim], x -> floor(x * 200.0)) AS tq
      |  FROM e, dims),
      |p AS (SELECT q.dim, q.vec_id AS q_id, b.vec_id AS hit_id,
      |    CAST(list_dot_product(q.tq, b.tq) AS BIGINT) AS score
      |  FROM t q JOIN t b ON b.dim = q.dim AND q.vec_id < 10 AND b.vec_id != q.vec_id),
      |r AS (SELECT dim, q_id, hit_id,
      |    ROW_NUMBER() OVER (PARTITION BY dim, q_id ORDER BY score DESC, hit_id ASC) AS rk
      |  FROM p),
      |top AS (SELECT dim, q_id, hit_id FROM r WHERE rk <= 5),
      |f AS (SELECT d.dim, CAST(COUNT(t2.hit_id) AS BIGINT) AS n_found
      |  FROM dims d LEFT JOIN (
      |    SELECT top.dim, top.q_id, top.hit_id FROM top
      |    JOIN ex ON ex.q_id = top.q_id AND ex.hit_id = top.hit_id) t2
      |  ON t2.dim = d.dim GROUP BY d.dim)
      |SELECT f.dim, f.n_found,
      |  round(CAST(f.n_found AS DOUBLE) / exn.n_exact, 6) AS recall
      |FROM f, exn ORDER BY f.dim""".stripMargin

  /** Margin-ranked multi-probe LSH recall curve — the tuning curve for
    * the sign-LSH rung of the ANN ladder (v21's shape for LSH; raises
    * the round-6 weak point: v06's naive Hamming≤1 probing measured
    * recall@5 0.40 at a 5/16 scan).
    *
    * Standard multi-probe LSH (Lv et al., VLDB'07): the probe sequence
    * flips the planes the query is CLOSEST to — rank all 16 flip masks
    * by the summed |margin| of their flipped planes and probe the first
    * T. A pair of near-zero margins outranks one large single-plane
    * flip, which is exactly the case naive Hamming-order probing wastes
    * a probe on. recall@T is graded for T ∈ {1, 3, 5, 8}; T=5 is v06's
    * scan fraction.
    *
    * Scale: the ranked probe frame is |queries|×16 rows
    * (localCheckpoint, computed once for all four curve points); each
    * point is v06's exact shape — probe buckets bound candidates,
    * per-query rank window, |queries|×5 rows out. Margins quantize to
    * the 1e-6 BIGINT grid before ranking (the v03 discipline) so probe
    * order — and therefore recall — is decided on identical numbers in
    * both engines. The recall denominator derives from the exact
    * baseline (the v21 rule), never a hard-coded constant. */
  def lshProbeCurve(s: SparkSession, d: String): DataFrame = {
    val base = withBucket(s, d)
    val q0 = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qb0"))
    val withMargins = (0 until NumPlanes).foldLeft(q0) { (df, j) =>
      df.withColumn(s"m$j",
        floor(abs(graft.functions.VectorExpressions.dot_d(col("qv"), planeArr(j))) * 1e6)
          .cast("long"))
    }
    val ranked = withMargins
      .withColumn("mask", explode(array((0 until (1 << NumPlanes)).map(lit): _*)))
      .withColumn("msum", (0 until NumPlanes).map(j =>
          when(shiftright(col("mask"), j).bitwiseAND(lit(1)) === 1, col(s"m$j"))
            .otherwise(lit(0L))).reduce(_ + _))
      .withColumn("prn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("msum").asc, col("mask").asc)))
      .select(col("q_id"), col("qv"), col("qn"),
        col("qb0").bitwiseXOR(col("mask")).as("pb"), col("prn"))
      .localCheckpoint()
    val exact = cosineTopK(s, d).filter(col("rk") <= 5)
      .select(col("q_id"), col("hit_id"))
    val exn = exact.agg(count(lit(1)).as("n_exact"))
    // One plan, not four (v37's expansion discipline, round-20's named
    // lever): the probed-bucket candidate sets are NESTED in T — a base
    // vector matches at most one probe rank per query (one bucket per
    // vector, distinct pb per query since pb = qb0 XOR distinct masks) —
    // so the corpus-side bucket join and the cosines compute ONCE at
    // T_max=8 carrying prn, and a 4-row broadcast range-join expands
    // each candidate to every T ≥ its prn. ONE window ranks per
    // (query, T); per-point recall is a keyed aggregate. Inner-join-
    // with-truth count ≡ the old per-point left_semi count because
    // (q_id, hit_id) is unique in the candidate frame.
    import s.implicits._
    val cand = base.join(broadcast(ranked.filter(col("prn") <= 8)),
        col("pb") === col("bucket") && col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .select(col("q_id"), col("prn"), col("vec_id").as("hit_id"), col("cos"))
      .localCheckpoint() // feeds the expansion; |queries|-bounded rows
    val ts = Seq(1, 3, 5, 8).toDF("n_probes")
    val found = cand.join(broadcast(ts), col("prn") <= col("n_probes"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id", "n_probes")
          .orderBy(col("cos").desc, col("hit_id").asc)))
      .filter(col("rk") <= 5)
      .join(exact, Seq("q_id", "hit_id"))
      .groupBy("n_probes").agg(count(lit(1)).as("n_found"))
    ts.join(found, Seq("n_probes"), "left")
      .na.fill(0L, Seq("n_found"))
      .crossJoin(broadcast(exn))
      .select(col("n_probes"), col("n_found"),
        round(col("n_found").cast("double") / col("n_exact"), 6).as("recall"))
      .orderBy("n_probes")
  }

  /** MMR (maximal marginal relevance) diverse top-5 for query vector 0:
    * greedy argmax of λ·cos(q,d) − (1−λ)·max cos(d, selected) with
    * λ = 0.7 over the exact top-20 candidate pool — the re-ranker that
    * stops a result list from being five near-copies of the best hit
    * (plain top-k happily returns a dup cluster; MMR's diversity
    * penalty is v20's coverage idea applied inside a result page).
    *
    * Scale: the pool is TakeOrderedAndProject top-20 — BOUNDED at any
    * corpus size — so the greedy loop runs on a constant-size frame:
    * each round is one 1-row winner broadcast + a map-only greatest()
    * update (v20's shape), localCheckpointed. All cosines floor-
    * quantize to the 1e-6 BIGINT grid BEFORE any comparison and the
    * MMR score is pure integer arithmetic (7·relq − 3·mcq), so the
    * argmax and its vec_id tie-break are decided on identical numbers
    * in both engines. */
  def mmrTopk(s: SparkSession, d: String): DataFrame = {
    val base = vecs(s, d)
    val q = base.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val cand = base.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"), col("nrm"),
        floor(dot("qv", "v") / (col("qn") * col("nrm")) * 1e6)
          .cast("long").as("relq"))
      .orderBy(col("relq").desc, col("vec_id").asc).limit(20)
      .localCheckpoint()
    var mc = cand.withColumn("mcq", lit(-1000000L)) // cos −1: nothing selected yet
    var out: DataFrame = null
    for (i <- 1 to 5) {
      val w = mc
        .withColumn("scoreq", lit(7L) * col("relq") - lit(3L) * col("mcq"))
        .orderBy(col("scoreq").desc, col("vec_id").asc).limit(1)
        .select(col("vec_id").as("w_id"), col("relq").as("w_relq"),
          col("scoreq").as("w_scoreq"))
      val row = w.select(lit(i).as("sel_rank"), col("w_id").as("vec_id"),
        round(col("w_relq").cast("double") / 1e6, 6).as("relevance"),
        round(col("w_scoreq").cast("double") / 1e7, 7).as("mmr_score"))
      out = if (out == null) row else out.unionByName(row)
      if (i < 5) {
        val sv = cand.join(broadcast(w.select(col("w_id").as("vec_id"))), "vec_id")
          .select(col("v").as("sv"), col("nrm").as("sn"))
        mc = mc.join(broadcast(w.select("w_id")),
            col("vec_id") === col("w_id"), "left_anti")
          .crossJoin(broadcast(sv))
          .withColumn("mcq", greatest(col("mcq"),
            floor(dot("v", "sv") / (col("nrm") * col("sn")) * 1e6).cast("long")))
          .drop("sv", "sn")
          .localCheckpoint()
      }
    }
    out.orderBy("sel_rank")
  }

  /** k-center farthest-first seeding (k = 5, seed₁ = vec 0) — the
    * deterministic initialization step upstream of v11's Lloyd round
    * and v18's PQ training: each next seed is the vector LEAST covered
    * by the chosen set (argmin of max cosine-to-chosen, 1e-6-rounded,
    * vec_id tie-break), the greedy 2-approximation of the k-center
    * cover. kmeans++'s D²-sampling replaces the argmin with a draw;
    * farthest-first is its derandomized twin — same spread-the-seeds
    * effect, bit-reproducible.
    *
    * Scale: the coverage frame mc(vec_id, mc) updates per round with
    * ONE broadcast of the single chosen row and a map-only greatest() —
    * k·|vectors| work, no shuffle, no window, and NO driver collect:
    * each round's winner is a 1-row TakeOrderedAndProject frame that
    * broadcasts into the next round (the whole k-step greedy is one
    * lazy plan). Output is the k seeds with their selection
    * farthestness. */
  def kcenterSeeds(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val e = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
    def seedCols(seed: DataFrame) = broadcast(seed.select(
      col("vec_id").as("s_id"), col("v").as("sv"), col("nrm").as("sn")))
    def cosToSeed = round(dot("v", "sv") / (col("nrm") * col("sn")), 6)
    val seed1 = e.filter(col("vec_id") === 0)
    // the coverage frame carries (v, nrm) so every round's update is
    // MAP-ONLY: anti-broadcast the 1-row winner out, cross-broadcast the
    // new seed in, greatest() the new cosine — no keyed join per round.
    // localCheckpoint per round (the t16 iterative-loop rule): each mc
    // is read twice (this round's argmin + next round's update), so an
    // unmaterialized chain re-derives the whole lineage ~2^k times
    var mc = e.filter(col("vec_id") =!= 0).crossJoin(seedCols(seed1))
      .select(col("vec_id"), col("v"), col("nrm"), cosToSeed.as("c"))
      .localCheckpoint()
    var out = seed1.select(lit(1).as("seed_rank"), col("vec_id"),
      lit(-1.0).as("farthest_cos"))
    for (i <- 2 to k) {
      val w = mc.orderBy(col("c").asc, col("vec_id").asc).limit(1)
        .select(col("vec_id").as("w_id"), col("c").as("w_c"))
      out = out.unionByName(
        w.select(lit(i).as("seed_rank"), col("w_id").as("vec_id"),
          col("w_c").as("farthest_cos")))
      if (i < k) {
        val seedI = e.join(broadcast(w.select(col("w_id").as("vec_id"))), "vec_id")
        mc = mc.join(broadcast(w.select("w_id")),
            col("vec_id") === col("w_id"), "left_anti")
          .crossJoin(seedCols(seedI))
          .select(col("vec_id"), col("v"), col("nrm"),
            greatest(col("c"), cosToSeed).as("c"))
          .localCheckpoint()
      }
    }
    out.orderBy("seed_rank")
  }

  // --- v26: binary (sign-bit) embeddings + Hamming ANN --------------------

  /** Pack dims [off, off+32) of `v` into one 32-bit word by sign —
    * 32-bit words for the same reason as k06 (shifting bit 63 overflows
    * a strict engine's signed shift). Map-only fold, codegen'd. */
  private def signPack(vcol: String, off: Int): Column =
    expr(s"aggregate(sequence(0, 31), cast(0 as bigint), (acc, i) -> " +
      s"acc + IF(element_at($vcol, i + ${off + 1}) > cast(0 as double), " +
      s"shiftleft(cast(1 as bigint), i), cast(0 as bigint)))")

  /** v26 — binary-embedding ANN: each 64-dim float vector collapses to
    * TWO 32-bit sign words (16 B vs 256 B — the 16× memory-bandwidth
    * lever, one step past v09's SQ8), and candidates rank by Hamming
    * distance = popcount(xor) on the words — pure integer, identical in
    * every engine, and the cheapest distance a scan can evaluate. The
    * graded result is the top-10 by (hamming, id) per query; sign
    * agreement is a monotone proxy for cosine on mean-centered-ish
    * data, and VectorRecallSpec measures exactly how lossy the proxy is
    * against v01's exact ranking (the ladder's documented-recall
    * discipline). At 100 TB this scan composes with v08's IVF cells:
    * binarize WITHIN a cell, probe cells first. */
  def binaryHammingTopK(s: SparkSession, d: String): DataFrame = {
    val packed = vecs(s, d).select(col("vec_id"),
      signPack("v", 0).as("lo"), signPack("v", 32).as("hi"))
    val q = packed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    packed.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("hamming",
        (bit_count(expr("qlo ^ lo")) + bit_count(expr("qhi ^ hi"))).cast("long"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("hamming").asc, col("vec_id").asc)))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("rk"), col("vec_id").as("hit_id"), col("hamming"))
      .orderBy("q_id", "rk")
  }

  private def signPackDuck(off: Int): String =
    s"CAST(list_sum(list_transform(range(0, 32), i -> CASE WHEN v[i + ${off + 1}] > 0 " +
      s"THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"

  private val BinaryHammingDuck: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id, ${signPackDuck(0)} AS lo, ${signPackDuck(32)} AS hi FROM e),
       |j AS (SELECT q.vec_id AS q_id, b.vec_id AS hit_id,
       |        CAST(bit_count(xor(q.lo, b.lo)) + bit_count(xor(q.hi, b.hi)) AS BIGINT) AS hamming
       |      FROM p q JOIN p b ON q.vec_id < 10 AND b.vec_id != q.vec_id),
       |r AS (SELECT q_id, hit_id, hamming,
       |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming ASC, hit_id ASC) AS rk
       |      FROM j)
       |SELECT q_id, rk, hit_id, hamming FROM r WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin

  /** v27 — the COMPOSED production ANN stack in one graded query:
    * IVF 2-probe routing (v08's shared affinity artifact) → binary-
    * hamming shortlist of 20 inside the probed cells (v26's sign
    * words — the 16 B/vector scan) → exact cosine rerank of the
    * shortlist to top-5. Each rung pays for the next: the router reads
    * |probes/cells| of the corpus, the shortlist scans it at 16 B/row,
    * and exact math touches 20 rows/query — the v26 scaladoc's
    * "compose with IVF cells" promise as an oracle-checked query.
    * Recall is the composition of the rungs' documented recalls; the
    * result contract (like v08/v10) is determinism, not exactness. */
  def ivfBinaryTopK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"),
      signPack("v", 0).as("lo"), signPack("v", 32).as("hi"))
    val probes = centroidAffinity(s, d)
      .filter(col("vec_id") < 10 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"))
    val q = packed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid2"), col("v").as("qv"), col("nrm").as("qn"),
        col("lo").as("qlo"), col("hi").as("qhi"))
    val cand = probes
      .join(ivfCells(s, d).select(col("vec_id").as("hit_id"), col("cell")),
        col("pcell") === col("cell"))
      .filter(col("hit_id") =!= col("q_id"))
      .join(packed.withColumnRenamed("vec_id", "hit_id"), "hit_id")
      .join(broadcast(q), col("q_id") === col("qid2"))
    val short = cand
      .withColumn("hamming",
        (bit_count(expr("qlo ^ lo")) + bit_count(expr("qhi ^ hi"))).cast("long"))
      .withColumn("hrn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("hamming").asc, col("hit_id").asc)))
      .filter(col("hrn") <= 20)
    short
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("hit_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("hit_id"), col("cos"))
      .orderBy("q_id", "rk")
  }

  private val IvfBinaryDuck: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pk AS (SELECT vec_id, v, ${signPackDuck(0)} AS lo, ${signPackDuck(32)} AS hi FROM e),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |aff AS (SELECT e.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(list_dot_product(e.v, c.cv) /
       |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
       |        c.cid ASC) AS crn
       |  FROM e, c),
       |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
       |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
       |cand AS (SELECT pr.q_id, cl.vec_id AS hit_id,
       |    CAST(bit_count(xor(qp.lo, bp.lo)) + bit_count(xor(qp.hi, bp.hi)) AS BIGINT) AS hamming
       |  FROM probes pr
       |  JOIN cells cl ON cl.cell = pr.pcell AND cl.vec_id != pr.q_id
       |  JOIN pk qp ON qp.vec_id = pr.q_id
       |  JOIN pk bp ON bp.vec_id = cl.vec_id),
       |sh AS (SELECT q_id, hit_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming ASC, hit_id ASC) AS hrn
       |  FROM cand),
       |rr AS (SELECT s.q_id, s.hit_id,
       |    round(list_dot_product(q.v, b.v) /
       |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
       |  FROM sh s JOIN e q ON q.vec_id = s.q_id
       |  JOIN e b ON b.vec_id = s.hit_id
       |  WHERE s.hrn <= 20),
       |r AS (SELECT q_id, hit_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk FROM rr)
       |SELECT q_id, rk, hit_id, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** v28 — the composed stack's TUNING CURVE: recall@5 at shortlist
    * sizes 10/20/40 as oracle-checked numbers (v21's discipline for the
    * binary rung): the deployment question is "how many candidates must
    * the 16 B scan hand the exact rerank", answered with measured
    * points, not folklore. The candidate frame and exact truth compute
    * ONCE (localCheckpoint) and all three curve points filter them; the
    * recall denominator derives from the exact-baseline count (never a
    * hard-coded literal — the k-denominator lesson from round 6's
    * advice). */
  def binaryShortlistCurve(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"),
      signPack("v", 0).as("lo"), signPack("v", 32).as("hi"))
    val probes = centroidAffinity(s, d)
      .filter(col("vec_id") < 10 && col("crn") <= 2)
      .select(col("vec_id").as("q_id"), col("cid").as("pcell"))
    val q = packed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid2"), col("v").as("qv"), col("nrm").as("qn"),
        col("lo").as("qlo"), col("hi").as("qhi"))
    val cand = probes
      .join(ivfCells(s, d).select(col("vec_id").as("hit_id"), col("cell")),
        col("pcell") === col("cell"))
      .filter(col("hit_id") =!= col("q_id"))
      .join(packed.withColumnRenamed("vec_id", "hit_id"), "hit_id")
      .join(broadcast(q), col("q_id") === col("qid2"))
      .withColumn("hamming",
        (bit_count(expr("qlo ^ lo")) + bit_count(expr("qhi ^ hi"))).cast("long"))
      .withColumn("hrn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("hamming").asc, col("hit_id").asc)))
      .withColumn("cos", round(dot("qv", "v") / (col("qn") * col("nrm")), 6))
      .select("q_id", "hit_id", "hrn", "cos")
      .localCheckpoint() // one shortlist frame serves all curve points
    val truth = cosineTopK(s, d).filter(col("rk") <= 5)
      .select(col("q_id").as("tq"), col("hit_id").as("th"))
      .localCheckpoint()
    val nTruth = truth.count() // derived denominator
    // One window, not three (v37's expansion discipline, round-20's
    // named lever): the shortlist sets are NESTED in t (hrn ≤ 10 ⊂ 20 ⊂
    // 40), so a 3-row broadcast range-join expands the one checkpointed
    // candidate frame per curve point and ONE window ranks per
    // (shortlist, query); per-point hits are a keyed aggregate over the
    // same inner truth join as before.
    import s.implicits._
    val sizes = Seq(10L, 20L, 40L).toDF("shortlist")
    val found = cand.join(broadcast(sizes), col("hrn") <= col("shortlist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("shortlist", "q_id")
          .orderBy(col("cos").desc, col("hit_id").asc)))
      .filter(col("rk") <= 5)
      .join(truth, col("q_id") === col("tq") && col("hit_id") === col("th"))
      .groupBy("shortlist").agg(count(lit(1)).as("n_hits"))
    sizes.join(found, Seq("shortlist"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("shortlist"), col("n_hits"),
        lit(nTruth).as("n_truth"),
        round(col("n_hits") / lit(nTruth.toDouble), 6).as("recall"))
      .orderBy("shortlist")
  }

  private val BinaryCurveDuck: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pk AS (SELECT vec_id, ${signPackDuck(0)} AS lo, ${signPackDuck(32)} AS hi FROM e),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       |aff AS (SELECT e.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(list_dot_product(e.v, c.cv) /
       |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
       |        c.cid ASC) AS crn
       |  FROM e, c),
       |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
       |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
       |cand AS (SELECT pr.q_id, cl.vec_id AS hit_id,
       |    ROW_NUMBER() OVER (PARTITION BY pr.q_id
       |      ORDER BY bit_count(xor(qp.lo, bp.lo)) + bit_count(xor(qp.hi, bp.hi)) ASC,
       |        cl.vec_id ASC) AS hrn,
       |    round(list_dot_product(qv.v, bv.v) /
       |          (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(bv.v, bv.v))), 6) AS cos
       |  FROM probes pr
       |  JOIN cells cl ON cl.cell = pr.pcell AND cl.vec_id != pr.q_id
       |  JOIN pk qp ON qp.vec_id = pr.q_id
       |  JOIN pk bp ON bp.vec_id = cl.vec_id
       |  JOIN e qv ON qv.vec_id = pr.q_id
       |  JOIN e bv ON bv.vec_id = cl.vec_id),
       |truth AS (SELECT q_id AS tq, hit_id AS th FROM (
       |    SELECT q.vec_id AS q_id, b.vec_id AS hit_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_dot_product(q.v, b.v) /
       |            (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) DESC,
       |          b.vec_id ASC) AS rk
       |    FROM e q JOIN e b ON q.vec_id < 10 AND b.vec_id != q.vec_id) x WHERE rk <= 5),
       |nt AS (SELECT COUNT(*) AS n_truth FROM truth),
       |sizes AS (SELECT CAST(unnest([10, 20, 40]) AS BIGINT) AS shortlist),
       |top5 AS (SELECT s.shortlist, cd.q_id, cd.hit_id,
       |    ROW_NUMBER() OVER (PARTITION BY s.shortlist, cd.q_id
       |      ORDER BY cd.cos DESC, cd.hit_id ASC) AS rk
       |  FROM sizes s JOIN cand cd ON cd.hrn <= s.shortlist),
       |hits AS (SELECT t5.shortlist, COUNT(*) AS n_hits
       |  FROM top5 t5 JOIN truth t ON t.tq = t5.q_id AND t.th = t5.hit_id
       |  WHERE t5.rk <= 5 GROUP BY t5.shortlist)
       |SELECT h.shortlist, h.n_hits, n.n_truth,
       |  round(CAST(h.n_hits AS DOUBLE) / CAST(n.n_truth AS DOUBLE), 6) AS recall
       |FROM hits h, nt n ORDER BY h.shortlist""".stripMargin

  // --- DuckDB oracle twins -------------------------------------------------

  private def planeSqlList(j: Int): String =
    (0 until Dim).map(k => planeWeight(j, k).toInt.toString).mkString("[", ",", "]")

  private def bucketSqlDuck(nPlanes: Int = NumPlanes): String =
    (0 until nPlanes).map { j =>
      s"(CASE WHEN list_dot_product(v, ${planeSqlList(j)}::DOUBLE[]) > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  private val CosDuck =
    "list_dot_product(%s, %s) / (sqrt(list_dot_product(%s, %s)) * sqrt(list_dot_product(%s, %s)))"

  /** The shared IVF-PQ derivation CTEs (through the per-vector `enc`
    * codes and `cells` routing) — the prefix of v24/v43's top-k oracle,
    * reused verbatim by v44's full-rebuild census oracle. */
  private lazy val IvfPqEncCtesDuck: String =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
        |v AS (SELECT vec_id,
        |    list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 200.0)) AS qv
        |  FROM embeddings),
        |sub AS (SELECT vec_id, CAST(ms.m AS INT) AS m,
        |    (qv[ms.m * 8 + 1 : ms.m * 8 + 8])::DOUBLE[] AS sv
        |  FROM v, (SELECT unnest(generate_series(0, 7)) AS m) ms),
        |cb AS (SELECT m, vec_id AS j, sv AS cv FROM sub WHERE vec_id < 64),
        |cand AS (SELECT s.vec_id, s.m, c.j,
        |    CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
        |       - 2 * list_dot_product(s.sv, c.cv) AS BIGINT) AS d2,
        |    CAST(list_dot_product(s.sv, c.cv) AS BIGINT) AS ip
        |  FROM sub s JOIN cb c ON c.m = s.m),
        |enc AS (SELECT vec_id, m, j AS code FROM (
        |    SELECT vec_id, m, j,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, j ASC) AS rn
        |    FROM cand) t WHERE rn = 1)""".stripMargin

  /** The IVF-PQ top-5 oracle tail, parameterized by an extra index-
    * side predicate: "" is v24's oracle (shared verbatim by v43/v45 —
    * artifact-scan paths must agree with the in-session build path,
    * and t71's serve check references it); the deletion-residue
    * exclusion is v48's (the top-k over the FILTERED corpus). */
  private def ivfPqTopkDuckWhere(extra: String): String = IvfPqEncCtesDuck +
      s""",
        |lut AS (SELECT vec_id AS q_id, m, j, ip AS qip FROM cand WHERE vec_id < 10),
        |adc AS (SELECT l.q_id, en.vec_id, CAST(SUM(l.qip) AS BIGINT) AS ascore
        |  FROM enc en
        |  JOIN cells cl ON cl.vec_id = en.vec_id
        |  JOIN probes pr ON pr.pcell = cl.cell
        |  JOIN lut l ON l.q_id = pr.q_id AND l.m = en.m AND l.j = en.code
        |  WHERE en.vec_id <> pr.q_id$extra
        |  GROUP BY l.q_id, en.vec_id),
        |top AS (SELECT q_id, vec_id, ascore,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ascore DESC, vec_id ASC) AS rk
        |  FROM adc)
        |SELECT q_id, rk, vec_id AS hit_id, ascore
        |FROM top WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  private[queries] lazy val IvfPqTopkDuck: String = ivfPqTopkDuckWhere("")

  /** v48's oracle — the serve over the filtered corpus. */
  private[queries] lazy val ReapedTopkDuck: String =
    ivfPqTopkDuckWhere(s" AND en.vec_id % $VecDeltaMod <> $VecDelRes")

  /** v44's oracle — the FULL-REBUILD census: the same per-cell census
    * computed from scratch over ALL vectors (v24's enc ⋈ cells chain);
    * roll-forward ≡ rebuild is the claim. */
  private[queries] lazy val AnnRollCensusDuck: String = IvfPqEncCtesDuck +
      """
        |SELECT cl.cell, COUNT(*) AS n_entries,
        |  COUNT(DISTINCT en.vec_id) AS n_vecs,
        |  CAST(SUM(en.vec_id) AS BIGINT) AS id_sum,
        |  CAST(SUM((en.m + 1) * en.code) AS BIGINT) AS code_checksum
        |FROM enc en JOIN cells cl ON cl.vec_id = en.vec_id
        |GROUP BY cl.cell ORDER BY cl.cell""".stripMargin

  /** v47's oracle — the v44 convention inverted: the full-rebuild
    * census over the FILTERED corpus (every vector except the deletion
    * residue). Per-vector encodings are independent, so filtering the
    * census postings ≡ rebuilding over the filtered corpus; the
    * engine's anti-join reap must reproduce it posting-for-posting. */
  private[queries] lazy val AnnReapCensusDuck: String = IvfPqEncCtesDuck +
      s"""
        |SELECT cl.cell, COUNT(*) AS n_entries,
        |  COUNT(DISTINCT en.vec_id) AS n_vecs,
        |  CAST(SUM(en.vec_id) AS BIGINT) AS id_sum,
        |  CAST(SUM((en.m + 1) * en.code) AS BIGINT) AS code_checksum
        |FROM enc en JOIN cells cl ON cl.vec_id = en.vec_id
        |WHERE en.vec_id % $VecDeltaMod <> $VecDelRes
        |GROUP BY cl.cell ORDER BY cl.cell""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "v30_matryoshka_recall_curve" -> QueryDef(matryoshkaRecallCurve _, MatryoshkaCurveDuck),
    "v31_filtered_ann" -> QueryDef(filteredAnn _, FilteredAnnDuck),
    "v42_hard_negative_mining" -> QueryDef(hardNegativeMining _, HardNegativeDuck),
    "v26_binary_hamming_topk" -> QueryDef(binaryHammingTopK _, BinaryHammingDuck),
    "v27_ivf_binary_topk" -> QueryDef(ivfBinaryTopK _, IvfBinaryDuck),
    "v28_binary_shortlist_curve" -> QueryDef(binaryShortlistCurve _, BinaryCurveDuck),

    "v01_cosine_topk" -> QueryDef(cosineTopK _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT q.vec_id AS q_id, b.vec_id AS hit_id,
        |        round(list_dot_product(q.v, b.v) /
        |              (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |      FROM e q JOIN e b ON q.vec_id < 10 AND b.vec_id != q.vec_id),
        |r AS (SELECT q_id, hit_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk
        |      FROM p)
        |SELECT q_id, rk, hit_id, cos FROM r WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin),

    "v02_cosine_near_dup_pairs" -> QueryDef(cosineNearDupPairs _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  round(list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
        |ORDER BY a_id, b_id""".stripMargin),

    "v03_label_centroids" -> QueryDef(labelCentroids _,
      """WITH x AS (SELECT label,
        |    CAST(unnest(generate_series(1, len(embedding))) AS INT) - 1 AS pos,
        |    embedding[CAST(unnest(generate_series(1, len(embedding))) AS INT)] AS x
        |  FROM embeddings)
        |SELECT label, pos,
        |  CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1e6 AS centroid
        |FROM x GROUP BY label, pos ORDER BY label, pos""".stripMargin),

    "v14_centroid_distances" -> QueryDef(centroidDistances _,
      """WITH x AS (SELECT label,
        |    CAST(unnest(generate_series(1, len(embedding))) AS INT) - 1 AS pos,
        |    embedding[CAST(unnest(generate_series(1, len(embedding))) AS INT)] AS x
        |  FROM embeddings),
        |m AS (SELECT label, pos,
        |    CAST(FLOOR(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS DOUBLE)
        |         / COUNT(*)) AS BIGINT) AS qm
        |  FROM x GROUP BY label, pos)
        |SELECT a.label AS la, b.label AS lb,
        |  CAST(CAST(SUM((a.qm - b.qm) * (a.qm - b.qm)) AS BIGINT) AS DOUBLE) / 1e12 AS dist2
        |FROM m a JOIN m b ON a.pos = b.pos AND a.label < b.label
        |GROUP BY 1, 2 ORDER BY la, lb""".stripMargin),

    // v15's pair frame swept across five thresholds in one pass; the
    // oracle restates cells + pairs and joins the literal τ list
    "v29_semdedup_threshold_curve" -> QueryDef(semdedupThresholdCurve _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, sqrt(list_dot_product(v, v)) AS cn
        |      FROM e WHERE vec_id < 16),
        |aff AS (SELECT n.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
        |      ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM n, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |m AS (SELECT cells.cell, n.vec_id, n.v, n.nrm FROM n JOIN cells USING (vec_id)),
        |p AS (SELECT b.vec_id AS b_id,
        |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
        |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |t AS (SELECT CAST(unnest([0.30, 0.40, 0.45, 0.50, 0.60]) AS DOUBLE) AS tau),
        |tot AS (SELECT COUNT(*) AS n_total FROM n),
        |h AS (SELECT t.tau, COUNT(*) AS n_pairs, COUNT(DISTINCT p.b_id) AS n_victims
        |  FROM t JOIN p ON p.cos >= t.tau GROUP BY t.tau)
        |SELECT t.tau, CAST(COALESCE(h.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(h.n_victims, 0) AS BIGINT) AS n_victims,
        |  tot.n_total,
        |  CAST(FLOOR((tot.n_total - COALESCE(h.n_victims, 0)) * 1000 / tot.n_total) AS BIGINT)
        |    AS keep_permille
        |FROM t CROSS JOIN tot LEFT JOIN h ON h.tau = t.tau
        |ORDER BY t.tau""".stripMargin),

    // cluster-then-pair semantic dedup: pairs are sought only within a
    // cell; the oracle restates the same cell assignment + keep-lowest
    "v15_semantic_dedup" -> QueryDef(semanticDedup _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |c AS (SELECT vec_id AS cid, v AS cv, sqrt(list_dot_product(v, v)) AS cn
        |      FROM e WHERE vec_id < 16),
        |aff AS (SELECT n.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
        |      ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM n, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |m AS (SELECT cells.cell, n.vec_id, n.v, n.nrm FROM n JOIN cells USING (vec_id)),
        |dup AS (SELECT b.vec_id AS b_id, COUNT(*) AS n_dup_prior
        |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45
        |  GROUP BY b.vec_id)
        |SELECT m.vec_id, m.cell,
        |  CAST(COALESCE(dup.n_dup_prior, 0) AS BIGINT) AS n_dup_prior,
        |  CAST(CASE WHEN dup.b_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_kept
        |FROM m LEFT JOIN dup ON dup.b_id = m.vec_id
        |ORDER BY m.vec_id""".stripMargin),

    // benchmark side is suite-bounded at any corpus scale → broadcast
    "v16_semantic_decontaminate" -> QueryDef(semanticDecontaminate _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |b AS (SELECT vec_id AS b_id, v AS bv, nrm AS bn FROM n WHERE vec_id % 17 = 0),
        |c AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 17 != 0),
        |p AS (SELECT c.vec_id,
        |        round(list_dot_product(c.v, b.bv) / (c.nrm * b.bn), 6) AS cos
        |      FROM c, b)
        |SELECT vec_id, max(cos) AS max_cos,
        |  CAST(SUM(CASE WHEN cos >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(CASE WHEN max(cos) >= 0.4 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    "v04_vector_norms" -> QueryDef(vectorNorms _,
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT vec_id, label, round(sqrt(list_dot_product(v, v)), 6) AS l2_norm
        |FROM e ORDER BY vec_id""".stripMargin),

    "v05_lsh_buckets" -> QueryDef(lshBuckets _,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |SELECT vec_id, ${bucketSqlDuck()} AS bucket FROM e ORDER BY vec_id""".stripMargin),

    "v07_lsh_near_dup_pairs" -> QueryDef(lshNearDupPairs _,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |             ${bucketSqlDuck(8)} AS bucket FROM embeddings)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(list_dot_product(a.v, b.v) /
         |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
         |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v) /
         |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
         |ORDER BY a_id, b_id""".stripMargin),

    "v08_ivf_topk" -> QueryDef(ivfTopK _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS ccos,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
        |p AS (SELECT pr.q_id, b.vec_id AS hit_id,
        |    round(list_dot_product(q.v, b.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM probes pr
        |  JOIN e q ON q.vec_id = pr.q_id
        |  JOIN cells cl ON cl.cell = pr.pcell
        |  JOIN e b ON b.vec_id = cl.vec_id AND b.vec_id != pr.q_id),
        |r AS (SELECT q_id, hit_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk FROM p)
        |SELECT q_id, rk, hit_id, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // insert overlay vs full index must be result-invisible: graded
    // against v08's oracle VERBATIM (the assignment RULE defines the
    // index, not the materialized table)
    "v35_ivf_insert_overlay" -> QueryDef(ivfTopKWithInserts _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
        |p AS (SELECT pr.q_id, b.vec_id AS hit_id,
        |    round(list_dot_product(q.v, b.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM probes pr
        |  JOIN e q ON q.vec_id = pr.q_id
        |  JOIN cells cl ON cl.cell = pr.pcell
        |  JOIN e b ON b.vec_id = cl.vec_id AND b.vec_id != pr.q_id),
        |r AS (SELECT q_id, hit_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk FROM p)
        |SELECT q_id, rk, hit_id, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // overlay vs rebuild must be result-invisible: the oracle searches
    // the FILTERED corpus directly
    "v34_ivf_with_deletes" -> QueryDef(ivfTopKWithDeletes _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff
        |          WHERE crn = 1 AND vec_id % 7 != 0),
        |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
        |p AS (SELECT pr.q_id, b.vec_id AS hit_id,
        |    round(list_dot_product(q.v, b.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM probes pr
        |  JOIN e q ON q.vec_id = pr.q_id
        |  JOIN cells cl ON cl.cell = pr.pcell
        |  JOIN e b ON b.vec_id = cl.vec_id AND b.vec_id != pr.q_id),
        |r AS (SELECT q_id, hit_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk FROM p)
        |SELECT q_id, rk, hit_id, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // the rebuild/don't-rebuild decision per cell from v34/v35's own
    // overlay accounting — oracle re-derives cells, cut, tombstones,
    // and arrivals from the rules, all integer arithmetic
    "v36_ivf_compaction_trigger" -> QueryDef(ivfCompactionTrigger _,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         |aff AS (SELECT e.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(list_dot_product(e.v, c.cv) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
         |        c.cid ASC) AS crn
         |  FROM e, c),
         |cut AS (SELECT (MAX(vec_id) * 9) // 10 AS cut FROM e),
         |art AS (SELECT cid AS cell, COUNT(*) AS base_rows,
         |    CAST(SUM(CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tomb_rows
         |  FROM aff, cut WHERE crn = 1 AND vec_id <= cut GROUP BY cid),
         |ins AS (SELECT cid AS cell, COUNT(*) AS ins_rows
         |  FROM aff, cut WHERE crn = 1 AND vec_id > cut GROUP BY cid)
         |SELECT a.cell, a.base_rows, a.tomb_rows,
         |  COALESCE(i.ins_rows, 0) AS ins_rows,
         |  CAST(((a.tomb_rows + COALESCE(i.ins_rows, 0)) * 1000) // a.base_rows AS BIGINT)
         |    AS amp_permille,
         |  CAST(CASE WHEN ((a.tomb_rows + COALESCE(i.ins_rows, 0)) * 1000) // a.base_rows
         |         >= $CellAmpThresholdPermille THEN 1 ELSE 0 END AS INT) AS compact
         |FROM art a LEFT JOIN ins i ON i.cell = a.cell
         |ORDER BY a.cell""".stripMargin),

    // the rebuild is result-invisible, so the oracle states the SAME
    // search (v34's filtered-corpus restatement) under both phases —
    // q57's pre/post hash-match rule
    "v38_ivf_compaction_rebuild" -> QueryDef(ivfCompactionRebuild _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff
        |          WHERE crn = 1 AND vec_id % 7 != 0),
        |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
        |p AS (SELECT pr.q_id, b.vec_id AS hit_id,
        |    round(list_dot_product(q.v, b.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM probes pr
        |  JOIN e q ON q.vec_id = pr.q_id
        |  JOIN cells cl ON cl.cell = pr.pcell
        |  JOIN e b ON b.vec_id = cl.vec_id AND b.vec_id != pr.q_id),
        |r AS (SELECT q_id, hit_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk FROM p),
        |sel AS (SELECT q_id, rk, hit_id, cos FROM r WHERE rk <= 5)
        |SELECT '1_pre_rebuild' AS phase, q_id, rk, hit_id, cos FROM sel
        |UNION ALL
        |SELECT '2_post_rebuild' AS phase, q_id, rk, hit_id, cos FROM sel
        |ORDER BY phase, q_id, rk""".stripMargin),

    // the candidate generator's recall vs the v02 exact truth set —
    // both sets restated, the hit join on the shared rounded grid
    "v39_cell_pair_recall" -> QueryDef(cellPairRecall _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |tp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
        |aff AS (SELECT n.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
        |      ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM n, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |m AS (SELECT cells.cell, n.vec_id, n.v, n.nrm FROM n JOIN cells USING (vec_id)),
        |cp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45),
        |h AS (SELECT COUNT(*) AS n_hit
        |  FROM cp JOIN tp ON tp.a_id = cp.a_id AND tp.b_id = cp.b_id)
        |SELECT (SELECT COUNT(*) FROM tp) AS n_true,
        |  (SELECT COUNT(*) FROM cp) AS n_cand,
        |  h.n_hit,
        |  CAST(CASE WHEN (SELECT COUNT(*) FROM tp) = 0 THEN -1
        |    ELSE (h.n_hit * 1000) // (SELECT COUNT(*) FROM tp) END AS BIGINT)
        |    AS recall_permille
        |FROM h""".stripMargin),

    // the sampled-calibration fidelity curve: v39 re-run on 1-in-k
    // deterministic hash-samples (both engines compute the same md5
    // bucket); k=1 is the exact audit, k=2/4 the scale posture
    "v41_sampled_pair_recall" -> QueryDef(sampledPairRecall _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |ks AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS k),
        |sv AS (SELECT ks.k, n.vec_id, n.v, n.nrm FROM n, ks
        |  WHERE ('0x' || substr(md5(CAST(n.vec_id AS VARCHAR) || ':cal'), 1, 8))::BIGINT % ks.k = 0),
        |tp AS (SELECT a.k, a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM sv a JOIN sv b ON a.k = b.k AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45),
        |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < 16),
        |aff AS (SELECT n.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY n.vec_id
        |      ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cn), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM n, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |m AS (SELECT cells.cell, n.vec_id, n.v, n.nrm FROM n JOIN cells USING (vec_id)),
        |cp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45),
        |cpk AS (SELECT ks.k, cp.a_id, cp.b_id FROM cp, ks
        |  WHERE ('0x' || substr(md5(CAST(cp.a_id AS VARCHAR) || ':cal'), 1, 8))::BIGINT % ks.k = 0
        |    AND ('0x' || substr(md5(CAST(cp.b_id AS VARCHAR) || ':cal'), 1, 8))::BIGINT % ks.k = 0),
        |t AS (SELECT k, COUNT(*) AS n_true FROM tp GROUP BY k),
        |cd AS (SELECT k, COUNT(*) AS n_cand FROM cpk GROUP BY k),
        |h AS (SELECT cpk.k, COUNT(*) AS n_hit FROM cpk
        |  JOIN tp ON tp.k = cpk.k AND tp.a_id = cpk.a_id AND tp.b_id = cpk.b_id
        |  GROUP BY cpk.k)
        |SELECT ks.k,
        |  CAST(COALESCE(t.n_true, 0) AS BIGINT) AS n_true,
        |  CAST(COALESCE(cd.n_cand, 0) AS BIGINT) AS n_cand,
        |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(CASE WHEN COALESCE(t.n_true, 0) = 0 THEN -1
        |    ELSE COALESCE(h.n_hit, 0) * 1000 // t.n_true END AS BIGINT)
        |    AS recall_permille
        |FROM ks LEFT JOIN t ON t.k = ks.k LEFT JOIN cd ON cd.k = ks.k
        |LEFT JOIN h ON h.k = ks.k
        |ORDER BY ks.k""".stripMargin),

    // the freshness SLA curve: recall of a stale index (arrivals above
    // the build point invisible — no overlay) vs the full-corpus truth,
    // per build-point fraction; integers on the rounded-cosine grid
    "v40_ivf_staleness_curve" -> QueryDef(ivfStalenessCurve _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |exact AS (SELECT q_id, hit_id FROM (
        |    SELECT q.q_id, b.vec_id AS hit_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.q_id
        |        ORDER BY round(list_dot_product(q.qv, b.v) /
        |            (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.v, b.v))), 6) DESC,
        |          b.vec_id ASC) AS rk
        |    FROM q JOIN e b ON b.vec_id != q.q_id) WHERE rk <= 5),
        |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
        |cand AS (SELECT pr.q_id, b.vec_id AS hit_id,
        |    round(list_dot_product(qe.v, b.v) /
        |          (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM probes pr
        |  JOIN e qe ON qe.vec_id = pr.q_id
        |  JOIN cells cl ON cl.cell = pr.pcell
        |  JOIN e b ON b.vec_id = cl.vec_id AND b.vec_id != pr.q_id),
        |cuts AS (SELECT pct, (SELECT MAX(vec_id) FROM e) * pct // 100 AS cut
        |  FROM (SELECT CAST(unnest([70, 80, 90, 100]) AS BIGINT) AS pct)),
        |bycut AS (SELECT cu.pct, cd.q_id, cd.hit_id, cd.cos
        |  FROM cand cd JOIN cuts cu ON cd.hit_id <= cu.cut),
        |r AS (SELECT pct, q_id, hit_id,
        |    ROW_NUMBER() OVER (PARTITION BY pct, q_id
        |      ORDER BY cos DESC, hit_id ASC) AS rk
        |  FROM bycut),
        |h AS (SELECT r.pct, COUNT(*) AS n_hits FROM r
        |  JOIN exact ON exact.q_id = r.q_id AND exact.hit_id = r.hit_id
        |  WHERE r.rk <= 5 GROUP BY r.pct),
        |st AS (SELECT pct, COUNT(DISTINCT q_id) AS n_queries,
        |    COUNT(*) AS n_candidates FROM bycut GROUP BY pct)
        |SELECT st.pct, st.n_queries, st.n_candidates,
        |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(CASE WHEN st.n_queries = 0 THEN -1
        |    ELSE (COALESCE(h.n_hits, 0) * 1000) // (5 * st.n_queries) END AS BIGINT)
        |    AS recall_permille
        |FROM st LEFT JOIN h ON h.pct = st.pct
        |ORDER BY st.pct""".stripMargin),

    // the probe-count operating curve: recall vs candidate volume for
    // nProbes 1..4, ground truth = brute-force top-5; all counts and
    // the permille recall are exact integers on the rounded-cosine grid
    "v37_ivf_probe_recall_curve" -> QueryDef(ivfProbeRecallCurve _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        |exact AS (SELECT q_id, hit_id FROM (
        |    SELECT q.q_id, b.vec_id AS hit_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.q_id
        |        ORDER BY round(list_dot_product(q.qv, b.v) /
        |            (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.v, b.v))), 6) DESC,
        |          b.vec_id ASC) AS rk
        |    FROM q JOIN e b ON b.vec_id != q.q_id) WHERE rk <= 5),
        |probes AS (SELECT vec_id AS q_id, cid AS pcell, crn AS pr
        |  FROM aff WHERE vec_id < 10 AND crn <= 4),
        |cand AS (SELECT pr.q_id, pr.pr, b.vec_id AS hit_id,
        |    round(list_dot_product(qe.v, b.v) /
        |          (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM probes pr
        |  JOIN e qe ON qe.vec_id = pr.q_id
        |  JOIN cells cl ON cl.cell = pr.pcell
        |  JOIN e b ON b.vec_id = cl.vec_id AND b.vec_id != pr.q_id),
        |byp AS (SELECT n.p AS n_probes, cd.q_id, cd.hit_id, cd.cos FROM cand cd
        |  JOIN (SELECT CAST(unnest(generate_series(1, 4)) AS INT) AS p) n ON cd.pr <= n.p),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id, n_probes
        |    ORDER BY cos DESC, hit_id ASC) AS rk FROM byp),
        |hits AS (SELECT r.n_probes, COUNT(*) AS n_hits FROM ranked r
        |  JOIN exact x ON x.q_id = r.q_id AND x.hit_id = r.hit_id
        |  WHERE r.rk <= 5 GROUP BY r.n_probes),
        |stats AS (SELECT n_probes, COUNT(DISTINCT q_id) AS n_queries,
        |    COUNT(*) AS n_candidates FROM byp GROUP BY n_probes)
        |SELECT s.n_probes, s.n_queries, s.n_candidates,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  CAST(CASE WHEN s.n_queries = 0 THEN -1
        |    ELSE (COALESCE(h.n_hits, 0) * 1000) // (5 * s.n_queries) END AS BIGINT)
        |    AS recall_permille
        |FROM stats s LEFT JOIN hits h ON h.n_probes = s.n_probes
        |ORDER BY s.n_probes""".stripMargin),

    "v11_kmeans_round" -> QueryDef(kmeansRound _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |m AS (SELECT aff.cid AS cell, e.v FROM aff JOIN e USING (vec_id) WHERE crn = 1),
        |x AS (SELECT cell,
        |    CAST(unnest(generate_series(1, len(v))) AS INT) - 1 AS pos,
        |    v[CAST(unnest(generate_series(1, len(v))) AS INT)] AS x
        |  FROM m)
        |SELECT cell, pos,
        |  CAST(SUM(CAST(FLOOR(x * 1e6) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1e6 AS centroid,
        |  COUNT(*) AS n_members
        |FROM x GROUP BY cell, pos ORDER BY cell, pos""".stripMargin),

    "v13_truncated_rerank" -> QueryDef(truncatedRerankTopK _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_transform(embedding[1:16], x -> CAST(FLOOR(CAST(x AS DOUBLE) * 200.0) AS DOUBLE)) AS tq
        |  FROM embeddings),
        |p AS (SELECT q.vec_id AS q_id, b.vec_id AS hit_id,
        |    CAST(list_dot_product(q.tq, b.tq) AS BIGINT) AS score,
        |    round(list_dot_product(q.v, b.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM e q JOIN e b ON q.vec_id < 10 AND b.vec_id != q.vec_id),
        |c AS (SELECT q_id, hit_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, hit_id ASC) AS crk
        |  FROM p),
        |r AS (SELECT q_id, hit_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk
        |  FROM c WHERE crk <= 50)
        |SELECT q_id, rk, hit_id, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // every distance is an exact small integer (SQ8 grid, 8-dim
    // subspaces), so encode argmins, LUT entries, and ADC sums agree
    // bit-for-bit across engines with zero float discipline
    "v12_pq_adc_topk" -> QueryDef(pqAdcTopK _,
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 200.0)) AS qv
        |  FROM embeddings),
        |sub AS (SELECT vec_id, CAST(ms.m AS INT) AS m,
        |    (qv[ms.m * 8 + 1 : ms.m * 8 + 8])::DOUBLE[] AS sv
        |  FROM v, (SELECT unnest(generate_series(0, 7)) AS m) ms),
        |cb AS (SELECT m, vec_id AS j, sv AS cv FROM sub WHERE vec_id < 16),
        |cand AS (SELECT s.vec_id, s.m, c.j,
        |    CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
        |       - 2 * list_dot_product(s.sv, c.cv) AS BIGINT) AS d2,
        |    CAST(list_dot_product(s.sv, c.cv) AS BIGINT) AS ip
        |  FROM sub s JOIN cb c ON c.m = s.m),
        |enc AS (SELECT vec_id, m, j AS code FROM (
        |    SELECT vec_id, m, j,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, j ASC) AS rn
        |    FROM cand) t WHERE rn = 1),
        |lut AS (SELECT vec_id AS q_id, m, j, ip AS qip FROM cand WHERE vec_id < 10),
        |adc AS (SELECT l.q_id, e.vec_id, CAST(SUM(l.qip) AS BIGINT) AS ascore
        |  FROM enc e JOIN lut l ON l.m = e.m AND l.j = e.code
        |  GROUP BY l.q_id, e.vec_id),
        |top AS (SELECT q_id, vec_id, ascore,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ascore DESC, vec_id ASC) AS rk
        |  FROM adc WHERE vec_id <> q_id)
        |SELECT q_id, rk, vec_id AS hit_id, ascore
        |FROM top WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
    "v24_ivfpq_topk" -> QueryDef(ivfPqTopK _, IvfPqTopkDuck),
    // v43 serves v24's EXACT semantics from the persisted index — the
    // oracle is shared verbatim (the q61 convention), so the artifact
    // scan path and the in-session build path must agree to the hash
    "v43_ann_persisted_index" -> QueryDef(annPersistedIndexTopK _, IvfPqTopkDuck),
    // v46 rolls a ROLLED artifact (roll #2's corpus input is
    // rolled_ann_s1, never the day-1 corpus) — the induction step; its
    // oracle is v44's full-rebuild census VERBATIM (the three slices
    // partition the id space)
    "v46_ann_roll_roll" -> QueryDef(annRollTwoStep _, AnnRollCensusDuck),
    // v47 anti-joins the deletion set's postings out of the rolled
    // index; oracle = full-rebuild census over the FILTERED corpus
    "v47_ann_reap" -> QueryDef(annReapCensus _, AnnReapCensusDuck),
    // v48 serves top-k from the REAPED artifact — deletions must be
    // immediately invisible to queries; oracle = the full IVF-PQ top-k
    // recomputed over the filtered corpus
    "v48_ann_reaped_serve" -> QueryDef(annReapedServeTopK _, ReapedTopkDuck),
    // v44 folds the delta slice into the persisted corpus index; the
    // oracle is the full-rebuild census — roll ≡ rebuild as a hash fact
    "v44_ann_index_roll" -> QueryDef(annIndexRoll _, AnnRollCensusDuck),
    // v45 serves top-k by scanning the ROLLED artifact — rolled ≡
    // rebuild, so it shares v24's oracle verbatim (the v43 convention)
    "v45_ann_rolled_serve" -> QueryDef(annRolledServeTopK _, IvfPqTopkDuck),
    "v25_ivfpq_residual_topk" -> QueryDef(ivfPqResidualTopK _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
        |v AS (SELECT vec_id,
        |    list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 200.0)) AS qv
        |  FROM embeddings),
        |cq AS (SELECT vec_id AS cid, qv AS cqv FROM v WHERE vec_id < 16),
        |res AS (SELECT v.vec_id, cl.cell,
        |    list_transform(range(1, 65), i -> v.qv[i] - cq.cqv[i]) AS rv
        |  FROM v JOIN cells cl ON cl.vec_id = v.vec_id JOIN cq ON cq.cid = cl.cell),
        |sub AS (SELECT vec_id, cell, CAST(ms.m AS INT) AS m,
        |    (rv[ms.m * 8 + 1 : ms.m * 8 + 8])::DOUBLE[] AS sv
        |  FROM res, (SELECT unnest(generate_series(0, 7)) AS m) ms),
        |cb0 AS (SELECT m, CAST(vec_id - 16 AS INT) AS j, sv AS cw
        |  FROM sub WHERE vec_id >= 16 AND vec_id < 80),
        |enc0 AS (SELECT vec_id, m, j AS code FROM (
        |    SELECT s.vec_id, s.m, c0.j,
        |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
        |        CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c0.cw, c0.cw)
        |           - 2 * list_dot_product(s.sv, c0.cw) AS BIGINT) ASC, c0.j ASC) AS rn
        |    FROM sub s JOIN cb0 c0 ON c0.m = s.m) t0 WHERE rn = 1),
        |mm AS (SELECT e0.m, e0.code AS j, s.sv FROM enc0 e0
        |       JOIN sub s ON s.vec_id = e0.vec_id AND s.m = e0.m),
        |mx AS (SELECT m, j, CAST(unnest(generate_series(1, 8)) AS INT) - 1 AS pos, sv
        |  FROM mm),
        |g AS (SELECT m, j, pos, CAST(SUM(CAST(sv[pos + 1] AS BIGINT)) AS BIGINT) AS sq,
        |    COUNT(*) AS nm FROM mx GROUP BY m, j, pos),
        |cb AS (SELECT m, j, list(FLOOR(CAST(sq AS DOUBLE) / nm) ORDER BY pos) AS cw
        |  FROM g GROUP BY m, j),
        |encc AS (SELECT vec_id, m, j AS code FROM (
        |    SELECT s.vec_id, s.m, c2.j,
        |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
        |        CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c2.cw, c2.cw)
        |           - 2 * list_dot_product(s.sv, c2.cw) AS BIGINT) ASC, c2.j ASC) AS rn
        |    FROM sub s JOIN cb c2 ON c2.m = s.m) t WHERE rn = 1),
        |qc AS (SELECT q.vec_id AS q_id, pr.pcell,
        |    CAST(list_dot_product(q.qv, cq.cqv) AS BIGINT) AS ipcell, q.qv
        |  FROM v q JOIN probes pr ON pr.q_id = q.vec_id JOIN cq ON cq.cid = pr.pcell),
        |qsub AS (SELECT q_id, pcell, ipcell, CAST(ms.m AS INT) AS m,
        |    (qv[ms.m * 8 + 1 : ms.m * 8 + 8])::DOUBLE[] AS qsv
        |  FROM qc, (SELECT unnest(generate_series(0, 7)) AS m) ms),
        |plut AS (SELECT q_id, pcell, ipcell, qs.m, c2.j,
        |    CAST(list_dot_product(qs.qsv, c2.cw) AS BIGINT) AS qip
        |  FROM qsub qs JOIN cb c2 ON c2.m = qs.m),
        |adc AS (SELECT l.q_id, en.vec_id,
        |    CAST(SUM(l.qip) + MIN(l.ipcell) AS BIGINT) AS ascore
        |  FROM encc en
        |  JOIN cells cl ON cl.vec_id = en.vec_id
        |  JOIN plut l ON l.pcell = cl.cell AND l.m = en.m AND l.j = en.code
        |  WHERE en.vec_id <> l.q_id
        |  GROUP BY l.q_id, en.vec_id),
        |top AS (SELECT q_id, vec_id, ascore,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ascore DESC, vec_id ASC) AS rk
        |  FROM adc)
        |SELECT q_id, rk, vec_id AS hit_id, ascore
        |FROM top WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // v24's chain verbatim except the quantized frame passes through the
    // ±1 Hadamard rotation before sub-vector slicing
    "v33_ivfpq_opq_topk" -> QueryDef(ivfPqOpqTopK _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
        |v0 AS (SELECT vec_id,
        |    list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 200.0)) AS qv0
        |  FROM embeddings),
        |v AS (SELECT vec_id,
        |    list_transform(range(0, 64), i -> list_sum(list_transform(range(0, 64),
        |      j -> CASE WHEN bit_count(i & j) % 2 = 0 THEN qv0[j + 1]
        |                ELSE -qv0[j + 1] END))) AS qv
        |  FROM v0),
        |sub AS (SELECT vec_id, CAST(ms.m AS INT) AS m,
        |    (qv[ms.m * 8 + 1 : ms.m * 8 + 8])::DOUBLE[] AS sv
        |  FROM v, (SELECT unnest(generate_series(0, 7)) AS m) ms),
        |cb AS (SELECT m, vec_id AS j, sv AS cv FROM sub WHERE vec_id < 64),
        |cand AS (SELECT s.vec_id, s.m, c.j,
        |    CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
        |       - 2 * list_dot_product(s.sv, c.cv) AS BIGINT) AS d2,
        |    CAST(list_dot_product(s.sv, c.cv) AS BIGINT) AS ip
        |  FROM sub s JOIN cb c ON c.m = s.m),
        |enc AS (SELECT vec_id, m, j AS code FROM (
        |    SELECT vec_id, m, j,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, j ASC) AS rn
        |    FROM cand) t WHERE rn = 1),
        |lut AS (SELECT vec_id AS q_id, m, j, ip AS qip FROM cand WHERE vec_id < 10),
        |adc AS (SELECT l.q_id, en.vec_id, CAST(SUM(l.qip) AS BIGINT) AS ascore
        |  FROM enc en
        |  JOIN cells cl ON cl.vec_id = en.vec_id
        |  JOIN probes pr ON pr.pcell = cl.cell
        |  JOIN lut l ON l.q_id = pr.q_id AND l.m = en.m AND l.j = en.code
        |  WHERE en.vec_id <> pr.q_id
        |  GROUP BY l.q_id, en.vec_id),
        |top AS (SELECT q_id, vec_id, ascore,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ascore DESC, vec_id ASC) AS rk
        |  FROM adc)
        |SELECT q_id, rk, vec_id AS hit_id, ascore
        |FROM top WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // v24's chain with the codebook-size dial fanned out by a ks CTE,
    // recall-joined against v01's exact chain
    "v32_ivfpq_codebook_curve" -> QueryDef(ivfPqCodebookCurve _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
        |v AS (SELECT vec_id,
        |    list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 200.0)) AS qv
        |  FROM embeddings),
        |sub AS (SELECT vec_id, CAST(ms.m AS INT) AS m,
        |    (qv[ms.m * 8 + 1 : ms.m * 8 + 8])::DOUBLE[] AS sv
        |  FROM v, (SELECT unnest(generate_series(0, 7)) AS m) ms),
        |cb AS (SELECT m, vec_id AS j, sv AS cv FROM sub WHERE vec_id < 64),
        |cand AS (SELECT s.vec_id, s.m, c.j,
        |    CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
        |       - 2 * list_dot_product(s.sv, c.cv) AS BIGINT) AS d2,
        |    CAST(list_dot_product(s.sv, c.cv) AS BIGINT) AS ip
        |  FROM sub s JOIN cb c ON c.m = s.m),
        |ks AS (SELECT CAST(unnest([16, 32, 64]) AS INT) AS kk),
        |enc AS (SELECT kk, vec_id, m, j AS code FROM (
        |    SELECT ks.kk, cd.vec_id, cd.m, cd.j,
        |      ROW_NUMBER() OVER (PARTITION BY ks.kk, cd.vec_id, cd.m
        |        ORDER BY cd.d2 ASC, cd.j ASC) AS rn
        |    FROM cand cd, ks WHERE cd.j < ks.kk) t WHERE rn = 1),
        |lut AS (SELECT vec_id AS q_id, m, j, ip AS qip FROM cand WHERE vec_id < 10),
        |adc AS (SELECT en.kk, l.q_id, en.vec_id, CAST(SUM(l.qip) AS BIGINT) AS ascore
        |  FROM enc en
        |  JOIN cells cl ON cl.vec_id = en.vec_id
        |  JOIN probes pr ON pr.pcell = cl.cell
        |  JOIN lut l ON l.q_id = pr.q_id AND l.m = en.m AND l.j = en.code
        |  WHERE en.vec_id <> pr.q_id
        |  GROUP BY en.kk, l.q_id, en.vec_id),
        |top5 AS (SELECT kk, q_id, vec_id FROM (
        |    SELECT kk, q_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY kk, q_id ORDER BY ascore DESC, vec_id ASC) AS rk
        |    FROM adc) t WHERE rk <= 5),
        |p AS (SELECT q.vec_id AS q_id, b.vec_id AS hit_id,
        |        round(list_dot_product(q.v, b.v) /
        |              (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |      FROM e q JOIN e b ON q.vec_id < 10 AND b.vec_id != q.vec_id),
        |ex AS (SELECT q_id, hit_id FROM (
        |    SELECT q_id, hit_id,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk
        |    FROM p) t WHERE rk <= 5),
        |hits AS (SELECT t.kk, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM top5 t JOIN ex ON ex.q_id = t.q_id AND ex.hit_id = t.vec_id
        |  GROUP BY t.kk)
        |SELECT ks.kk AS n_codewords,
        |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 50.0, 6) AS recall
        |FROM ks LEFT JOIN hits h ON h.kk = ks.kk
        |ORDER BY n_codewords""".stripMargin),

    // composes v01's and v08's oracle chains verbatim (renamed CTEs) —
    // the recall number itself is the graded output
    "v19_ivf_recall" -> QueryDef(ivfRecall _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS ccos,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= 2),
        |p AS (SELECT pr.q_id, b.vec_id AS hit_id,
        |    round(list_dot_product(q.v, b.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM probes pr
        |  JOIN e q ON q.vec_id = pr.q_id
        |  JOIN cells cl ON cl.cell = pr.pcell
        |  JOIN e b ON b.vec_id = cl.vec_id AND b.vec_id != pr.q_id),
        |r AS (SELECT q_id, hit_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk FROM p),
        |p2 AS (SELECT q.vec_id AS q_id, b.vec_id AS hit_id,
        |    round(list_dot_product(q.v, b.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM e q JOIN e b ON q.vec_id < 10 AND b.vec_id != q.vec_id),
        |r2 AS (SELECT q_id, hit_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk FROM p2),
        |ex AS (SELECT q_id, hit_id FROM r2 WHERE rk <= 5),
        |ap AS (SELECT q_id, hit_id FROM r WHERE rk <= 5)
        |SELECT ex.q_id, CAST(COUNT(ap.hit_id) AS BIGINT) AS n_found,
        |  round(CAST(COUNT(ap.hit_id) AS DOUBLE) / 5.0, 6) AS recall
        |FROM ex LEFT JOIN ap ON ap.q_id = ex.q_id AND ap.hit_id = ex.hit_id
        |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin),

    // same encode chain as v12; the update is exact integer sums over
    // the already-integral quantized grid, one final division
    "v18_pq_train_round" -> QueryDef(pqTrainRound _,
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 200.0)) AS qv
        |  FROM embeddings),
        |sub AS (SELECT vec_id, CAST(ms.m AS INT) AS m,
        |    (qv[ms.m * 8 + 1 : ms.m * 8 + 8])::DOUBLE[] AS sv
        |  FROM v, (SELECT unnest(generate_series(0, 7)) AS m) ms),
        |cb AS (SELECT m, vec_id AS j, sv AS cv FROM sub WHERE vec_id < 16),
        |cand AS (SELECT s.vec_id, s.m, c.j,
        |    CAST(list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
        |       - 2 * list_dot_product(s.sv, c.cv) AS BIGINT) AS d2
        |  FROM sub s JOIN cb c ON c.m = s.m),
        |enc AS (SELECT vec_id, m, j AS code FROM (
        |    SELECT vec_id, m, j,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, j ASC) AS rn
        |    FROM cand) t WHERE rn = 1),
        |mem AS (SELECT e.m, e.code, s.sv FROM enc e
        |        JOIN sub s ON s.vec_id = e.vec_id AND s.m = e.m),
        |x AS (SELECT m, code,
        |    CAST(unnest(generate_series(1, len(sv))) AS INT) - 1 AS pos, sv FROM mem),
        |g AS (SELECT m, code, pos,
        |    CAST(SUM(CAST(sv[pos + 1] AS BIGINT)) AS BIGINT) AS sq,
        |    CAST(COUNT(*) AS BIGINT) AS n_members
        |  FROM x GROUP BY m, code, pos)
        |SELECT m, code, pos, CAST(sq AS DOUBLE) / n_members AS centroid, n_members
        |FROM g ORDER BY m, code, pos""".stripMargin),

    // quantized values are small integers (|q| ≤ 127, d = 64), so the
    // double dot product is exact — CAST to BIGINT is lossless and both
    // engines agree bit-for-bit with zero float discipline
    "v09_sq8_topk" -> QueryDef(sq8TopK _,
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 200.0) AS DOUBLE)) AS qv
        |  FROM embeddings),
        |p AS (SELECT q.vec_id AS q_id, b.vec_id AS hit_id,
        |    CAST(list_dot_product(q.qv, b.qv) AS BIGINT) AS score
        |  FROM e q JOIN e b ON q.vec_id < 10 AND b.vec_id != q.vec_id),
        |r AS (SELECT q_id, hit_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, hit_id ASC) AS rk
        |  FROM p)
        |SELECT q_id, rk, hit_id, score FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    "v10_rerank_topk" -> QueryDef(rerankTopK _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 200.0) AS DOUBLE)) AS qv
        |  FROM embeddings),
        |p AS (SELECT q.vec_id AS q_id, b.vec_id AS hit_id,
        |    CAST(list_dot_product(q.qv, b.qv) AS BIGINT) AS score,
        |    round(list_dot_product(q.v, b.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |  FROM e q JOIN e b ON q.vec_id < 10 AND b.vec_id != q.vec_id),
        |c AS (SELECT q_id, hit_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, hit_id ASC) AS crk
        |  FROM p),
        |r AS (SELECT q_id, hit_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk
        |  FROM c WHERE crk <= 50)
        |SELECT q_id, rk, hit_id, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    "v06_ann_lsh_topk" -> QueryDef(annLshTopK _,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |             ${bucketSqlDuck()} AS bucket FROM embeddings),
         |probes AS (SELECT vec_id AS q_id, xor(bucket, f.f) AS pbucket
         |           FROM e, (VALUES (0), (1), (2), (4), (8)) f(f)
         |           WHERE vec_id < 10),
         |p AS (SELECT pr.q_id, b.vec_id AS hit_id,
         |        round(list_dot_product(q.v, b.v) /
         |              (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
         |      FROM probes pr
         |      JOIN e q ON q.vec_id = pr.q_id
         |      JOIN e b ON b.bucket = pr.pbucket AND b.vec_id != pr.q_id),
         |r AS (SELECT q_id, hit_id, cos,
         |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk
         |      FROM p)
         |SELECT q_id, rk, hit_id, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),

    // the oracle restates the salted two-level tournament as ONE naive
    // per-cell window — the equivalence the Spark plan must uphold
    "v17_cell_balanced_sample" -> QueryDef(cellBalancedSample _,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |aff AS (SELECT e.vec_id, c.cid,
        |    round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS ccos,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_dot_product(e.v, c.cv) /
        |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
        |        c.cid ASC) AS crn
        |  FROM e, c),
        |cells AS (SELECT vec_id, cid AS cell, ccos FROM aff WHERE crn = 1),
        |sz AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_sz FROM cells GROUP BY cell),
        |r AS (SELECT cell, vec_id, ccos,
        |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY ccos DESC, vec_id ASC) AS rk
        |  FROM cells)
        |SELECT r.cell, r.rk, r.vec_id, r.ccos, sz.cell_sz
        |FROM r JOIN sz ON sz.cell = r.cell
        |WHERE r.rk <= 8 ORDER BY r.cell, r.rk""".stripMargin),

    // one candidate/rank/top-5/count chain per probe depth over the
    // shared affinity CTE; the exact baseline is v19's all-pairs chain
    "v21_ivf_probe_curve" -> QueryDef(ivfProbeCurve _, {
      val cosQB = """round(list_dot_product(q.v, b.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6)""".stripMargin
      def point(np: Int) =
        s""",
           |pr$np AS (SELECT vec_id AS q_id, cid AS pcell FROM aff WHERE vec_id < 10 AND crn <= $np),
           |p$np AS (SELECT pr.q_id, b.vec_id AS hit_id, $cosQB AS cos
           |  FROM pr$np pr
           |  JOIN e q ON q.vec_id = pr.q_id
           |  JOIN cells cl ON cl.cell = pr.pcell
           |  JOIN e b ON b.vec_id = cl.vec_id AND b.vec_id != pr.q_id),
           |r$np AS (SELECT q_id, hit_id,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk FROM p$np),
           |ap$np AS (SELECT q_id, hit_id FROM r$np WHERE rk <= 5),
           |f$np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found
           |         FROM ex JOIN ap$np USING (q_id, hit_id))"""
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         |aff AS (SELECT e.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(list_dot_product(e.v, c.cv) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
         |        c.cid ASC) AS crn
         |  FROM e, c),
         |cells AS (SELECT vec_id, cid AS cell FROM aff WHERE crn = 1),
         |p2x AS (SELECT q.vec_id AS q_id, b.vec_id AS hit_id, $cosQB AS cos
         |  FROM e q JOIN e b ON q.vec_id < 10 AND b.vec_id != q.vec_id),
         |r2x AS (SELECT q_id, hit_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk FROM p2x),
         |ex AS (SELECT q_id, hit_id FROM r2x WHERE rk <= 5),
         |exn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex)${Seq(1, 2, 4).map(point).mkString}
         |SELECT nprobe, n_found, round(CAST(n_found AS DOUBLE) / n_exact, 6) AS recall FROM (
         |  SELECT 1 AS nprobe, n_found FROM f1
         |  UNION ALL SELECT 2, n_found FROM f2
         |  UNION ALL SELECT 4, n_found FROM f4
         |), exn ORDER BY nprobe""".stripMargin
    }),

    // the greedy rounds unroll to one CTE pair per selection; cosines
    // floor-quantize at 1e-6 before any comparison and the MMR score is
    // integer arithmetic, so argmax + tie-break agree across engines
    "v22_mmr_topk" -> QueryDef(mmrTopk _, {
      def cosQ(a: String, b: String) =
        s"CAST(FLOOR(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) * 1e6) AS BIGINT)"
      val steps = (1 to 5).map { i =>
        val upd =
          if (i == 5) ""
          else s""",
             |m${i + 1} AS (SELECT m.vec_id, m.v, m.relq,
             |    GREATEST(m.mcq, ${cosQ("m.v", "s.sv")}) AS mcq
             |  FROM m$i m
             |  CROSS JOIN (SELECT c.v AS sv FROM cand c JOIN w$i ON w$i.vec_id = c.vec_id) s
             |  WHERE m.vec_id <> (SELECT vec_id FROM w$i))"""
        s""",
           |w$i AS (SELECT vec_id, relq, 7 * relq - 3 * mcq AS scoreq FROM m$i
           |        ORDER BY scoreq DESC, vec_id ASC LIMIT 1)$upd"""
      }.mkString
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |cand AS (SELECT e.vec_id, e.v, ${cosQ("e.v", "q.qv")} AS relq
         |  FROM e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY relq DESC, vec_id ASC LIMIT 20),
         |m1 AS (SELECT vec_id, v, relq, CAST(-1000000 AS BIGINT) AS mcq FROM cand)$steps
         |SELECT sel_rank, vec_id,
         |  round(CAST(relq AS DOUBLE) / 1e6, 6) AS relevance,
         |  round(CAST(scoreq AS DOUBLE) / 1e7, 7) AS mmr_score
         |FROM (
         |  SELECT 1 AS sel_rank, vec_id, relq, scoreq FROM w1
         |  UNION ALL SELECT 2, vec_id, relq, scoreq FROM w2
         |  UNION ALL SELECT 3, vec_id, relq, scoreq FROM w3
         |  UNION ALL SELECT 4, vec_id, relq, scoreq FROM w4
         |  UNION ALL SELECT 5, vec_id, relq, scoreq FROM w5
         |) ORDER BY sel_rank""".stripMargin
    }),

    // the greedy steps unroll to one CTE pair per seed; every cosine is
    // rounded at 1e-6 BEFORE the GREATEST/argmin, so the winner (and
    // the tie-break) is decided on identical numbers in both engines
    "v20_kcenter_seeds" -> QueryDef(kcenterSeeds _, {
      def cosD(a: String, b: String) =
        s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
      val steps = (2 to 5).map { i =>
        val upd =
          if (i == 5) "" // m5 is never read
          else s""",
             |m$i AS (SELECT m.vec_id, GREATEST(m.c, ${cosD("ev.v", "s.sv")}) AS c
             |  FROM m${i - 1} m JOIN e ev ON ev.vec_id = m.vec_id
             |  CROSS JOIN s$i s WHERE m.vec_id <> s.sid)"""
        s""",
           |w$i AS (SELECT vec_id, c FROM m${i - 1} ORDER BY c ASC, vec_id ASC LIMIT 1),
           |s$i AS (SELECT e.vec_id AS sid, e.v AS sv FROM e JOIN w$i ON w$i.vec_id = e.vec_id)$upd"""
      }.mkString
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |s1 AS (SELECT vec_id AS sid, v AS sv FROM e WHERE vec_id = 0),
         |m1 AS (SELECT e.vec_id, ${cosD("e.v", "s.sv")} AS c
         |  FROM e CROSS JOIN s1 s WHERE e.vec_id <> 0)$steps
         |SELECT seed_rank, vec_id, farthest_cos FROM (
         |  SELECT 1 AS seed_rank, CAST(0 AS BIGINT) AS vec_id, -1.0 AS farthest_cos
         |  UNION ALL SELECT 2, vec_id, c FROM w2
         |  UNION ALL SELECT 3, vec_id, c FROM w3
         |  UNION ALL SELECT 4, vec_id, c FROM w4
         |  UNION ALL SELECT 5, vec_id, c FROM w5
         |) ORDER BY seed_rank""".stripMargin
    }),

    // one probe/candidate/rank/count chain per curve point over the
    // shared margin-ranked probe CTE; margins quantize to the 1e-6
    // BIGINT grid BEFORE ranking so the probe order is identical in
    // both engines; the denominator derives from the exact baseline
    "v23_lsh_probe_curve" -> QueryDef(lshProbeCurve _, {
      val cosQB = """round(list_dot_product(q.v, b.v) /
        |          (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))), 6)""".stripMargin
      val msum = (0 until NumPlanes).map(j =>
        s"(CASE WHEN (mask >> $j) & 1 = 1 THEN m$j ELSE 0 END)").mkString(" + ")
      val margins = (0 until NumPlanes).map(j =>
        s"CAST(FLOOR(ABS(list_dot_product(v, ${planeSqlList(j)}::DOUBLE[])) * 1e6) AS BIGINT) AS m$j")
        .mkString(",\n         |       ")
      def point(t: Int) =
        s""",
           |pr$t AS (SELECT q_id, pb FROM ranked WHERE prn <= $t),
           |p$t AS (SELECT pr.q_id, b.vec_id AS hit_id, $cosQB AS cos
           |  FROM pr$t pr
           |  JOIN e q ON q.vec_id = pr.q_id
           |  JOIN e b ON b.bucket = pr.pb AND b.vec_id != pr.q_id),
           |r$t AS (SELECT q_id, hit_id,
           |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk FROM p$t),
           |ap$t AS (SELECT q_id, hit_id FROM r$t WHERE rk <= 5),
           |f$t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found
           |        FROM ex JOIN ap$t USING (q_id, hit_id))"""
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |             ${bucketSqlDuck()} AS bucket FROM embeddings),
         |qm AS (SELECT vec_id AS q_id, bucket AS qb0,
         |       $margins
         |       FROM e WHERE vec_id < 10),
         |mk AS (SELECT q_id, qb0, CAST(m.mask AS INT) AS mask, $msum AS msum
         |       FROM qm, (SELECT unnest(generate_series(0, ${(1 << NumPlanes) - 1})) AS mask) m),
         |ranked AS (SELECT q_id, xor(qb0, mask) AS pb,
         |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY msum ASC, mask ASC) AS prn
         |           FROM mk),
         |px AS (SELECT q.vec_id AS q_id, b.vec_id AS hit_id, $cosQB AS cos
         |  FROM e q JOIN e b ON q.vec_id < 10 AND b.vec_id != q.vec_id),
         |rx AS (SELECT q_id, hit_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, hit_id ASC) AS rk FROM px),
         |ex AS (SELECT q_id, hit_id FROM rx WHERE rk <= 5),
         |exn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex)${Seq(1, 3, 5, 8).map(point).mkString}
         |SELECT n_probes, n_found, round(CAST(n_found AS DOUBLE) / n_exact, 6) AS recall FROM (
         |  SELECT 1 AS n_probes, n_found FROM f1
         |  UNION ALL SELECT 3, n_found FROM f3
         |  UNION ALL SELECT 5, n_found FROM f5
         |  UNION ALL SELECT 8, n_found FROM f8
         |), exn ORDER BY n_probes""".stripMargin
    })
  )
}
