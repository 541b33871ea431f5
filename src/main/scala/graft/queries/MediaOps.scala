package graft.queries

import graft.multimodal.Multimodal

/** Multimodal operators on the graded surface (see graft.multimodal).
  * m01 is fully oracle-checked (metadata path is pure built-ins over the
  * deterministic synthetic media); m02 exercises the stub-decoder
  * mapPartitions pipeline (rows-only; histogram math is property-tested
  * in MultimodalSpec). */
object MediaOps {

  /** Payload near-dup CLUSTERS — connected components over m09's
    * hamming-≤2 pair graph, the m-series twin of t16: pairs say "these
    * two payloads match", clusters answer the storage question "how
    * many distinct assets do we actually hold, and who is the
    * canonical copy" (cluster_id = min member = the keeper under the
    * t11 keep-first rule). Runs the SAME production CC body
    * (ccPointerJumping: min-label propagation + pointer jumping,
    * O(log diameter) rounds, localCheckpoint lineage truncation) over
    * the media pair graph; the oracle re-derives the labeling with a
    * recursive-CTE transitive closure over the same chunk-SimHash
    * chain — both engines walk the graph independently end to end. */
  def mediaDupClusters(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    // cross-RUN artifact (round-17 verdict #4): the cluster labeling
    // is a pure function of documents.parquet (pairs + CC walk, 8.9 s
    // at sf0.1) — a deployment keeps the asset
    // catalog's cluster table, it doesn't re-walk the graph per JVM.
    // The tag covers the CROSS-FILE derivation (chunk pairs in
    // Multimodal + ccPointerJumping in TextOps + this composition) —
    // MediaArtifactSpec's multi-file tag-lock recomputes it.
    graft.sources.ArtifactStore.loadOrBuild(s, "media_clusters",
      graft.sources.ArtifactStore.key(d, "documents.parquet") +
        "-" + MediaClustersFoldTag) {
      mediaDupClustersUncached(s, d)
    }.orderBy("media_id")

  /** The pair-graph CC build behind the media_clusters artifact (timed
    * as m10's cold; reads m09's pair artifact for candidates). */
  private[graft] def mediaDupClustersUncached(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val pairs = Multimodal.chunkSimhashPairs(s, d).select(col("a_id"), col("b_id"))
    val (labels, _) = TextOps.ccPointerJumping(s, pairs)
    labels
      .join(labels.groupBy("lbl").agg(count(lit(1)).as("cluster_sz")), "lbl")
      .select(col("id").as("media_id"), col("lbl").as("cluster_id"), col("cluster_sz"))
  }

  /** media_clusters artifact fold-shape tag — sha256 (first 8 hex)
    * over the cross-file derivation (see mediaDupClusters). */
  private[graft] val MediaClustersFoldTag = "mdc-8acd34e8"

  /** The CDC chunk restatement (boundaries + per-chunk md5 of the
    * uppercase-hex bytes) shared by the m06 census and m07 near-dup
    * oracles: ends in `ch(doc_id, kind, chunk_no, chunk_len, chunk_md5)`. */
  private[queries] val CdcChunksCtesDuck: String =
    """WITH m AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |    to_hex(encode(text)) AS hx, octet_length(encode(text)) AS n
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |b AS (SELECT doc_id, kind, n,
      |    CAST(unnest(generate_series(1, n)) AS BIGINT) AS pos FROM m),
      |v AS (SELECT b.doc_id, b.kind, b.pos,
      |    substr(m.hx, CAST(2 * b.pos - 1 AS INT), 2) AS hp,
      |    ('0x' || substr(m.hx, CAST(2 * b.pos - 1 AS INT), 2))::BIGINT AS bv
      |  FROM b JOIN m ON m.doc_id = b.doc_id),
      |c AS (SELECT doc_id, kind, pos, hp,
      |    COALESCE(CAST(SUM(CASE WHEN bv % 16 = 0 THEN 1 ELSE 0 END) OVER
      |      (PARTITION BY doc_id ORDER BY pos
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS chunk_no
      |  FROM v),
      |ch AS (SELECT doc_id, kind, chunk_no,
      |    CAST(COUNT(*) AS BIGINT) AS chunk_len,
      |    md5(string_agg(hp, '' ORDER BY pos)) AS chunk_md5
      |  FROM c GROUP BY doc_id, kind, chunk_no)""".stripMargin

  /** m11 — cross-modality TRAINING MANIFEST: the readiness join that
    * gates a multimodal training job. Every sample is graded across its
    * three modalities — text (documents), vector (embeddings), payload
    * (the m01 synthetic media) — with per-(source, kind) counts of
    * ready samples and of each failure mode (missing embedding,
    * zero-norm embedding, text below the 8-token floor). Missing
    * modalities are COUNTED, never silently inner-joined away — the
    * manifest bug that silently shrinks a training set.
    *
    * Scale: modality frames join KEYED on the sample id (each grows
    * with the corpus — never broadcast); flags are map-side
    * expressions; the census is one partial agg over |sources × kinds|
    * groups. Payload bytes contribute only their LENGTH — the binary
    * column itself never shuffles (the m-series rule). */
  def trainingManifest(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.tables.Tables
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      size(split(trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")), " "))
        .cast("long").as("n_tokens"))
    val emb = Tables.embeddings(s, d).select(col("vec_id"),
      expr("aggregate(embedding, cast(0 as double), (a, x) -> a + cast(x as double) * cast(x as double))")
        .as("sq_norm"))
    val media = Multimodal.syntheticMedia(s, d)
      .select(col("media_id"), col("kind"), length(col("content")).cast("long").as("n_bytes"))
    docs
      .join(emb, col("doc_id") === col("vec_id"), "left")
      .join(media, col("doc_id") === col("media_id"), "left")
      .withColumn("has_emb", col("vec_id").isNotNull && col("sq_norm") > 0.0)
      .withColumn("text_ok", col("n_tokens") >= 8)
      .withColumn("ready", col("has_emb") && col("text_ok") && col("n_bytes") > 0)
      .groupBy("source", "kind")
      .agg(count(lit(1)).as("n_samples"),
        sum(when(col("ready"), 1L).otherwise(0L)).as("n_ready"),
        sum(when(!col("has_emb"), 1L).otherwise(0L)).as("n_bad_embedding"),
        sum(when(!col("text_ok"), 1L).otherwise(0L)).as("n_short_text"),
        sum(when(col("ready"), col("n_tokens")).otherwise(0L)).as("ready_tokens"),
        sum(when(col("ready"), col("n_bytes")).otherwise(0L)).as("ready_bytes"))
      .orderBy("source", "kind")
  }

  val defs: Map[String, QueryDef] = Map(
    // the oracle restates readiness over the raw fixtures; LEFT joins —
    // a missing modality is a counted failure mode, not a dropped row
    "m11_training_manifest" -> QueryDef(trainingManifest _,
      """WITH docs AS (SELECT doc_id, source,
        |    CAST(LEN(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |emb AS (SELECT vec_id,
        |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS sq_norm
        |  FROM embeddings),
        |media AS (SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |j AS (SELECT d.source, m.kind, d.n_tokens, m.n_bytes,
        |    (e.vec_id IS NOT NULL AND e.sq_norm > 0.0) AS has_emb,
        |    (d.n_tokens >= 8) AS text_ok,
        |    (e.vec_id IS NOT NULL AND e.sq_norm > 0.0
        |     AND d.n_tokens >= 8 AND COALESCE(m.n_bytes, 0) > 0) AS ready
        |  FROM docs d
        |  LEFT JOIN emb e ON e.vec_id = d.doc_id
        |  LEFT JOIN media m ON m.media_id = d.doc_id)
        |SELECT source, kind, COUNT(*) AS n_samples,
        |  CAST(SUM(CASE WHEN ready THEN 1 ELSE 0 END) AS BIGINT) AS n_ready,
        |  CAST(SUM(CASE WHEN NOT has_emb THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_embedding,
        |  CAST(SUM(CASE WHEN NOT text_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_short_text,
        |  CAST(SUM(CASE WHEN ready THEN n_tokens ELSE 0 END) AS BIGINT) AS ready_tokens,
        |  CAST(SUM(CASE WHEN ready THEN n_bytes ELSE 0 END) AS BIGINT) AS ready_bytes
        |FROM j GROUP BY source, kind ORDER BY source, kind""".stripMargin),

    "m01_media_stats" -> QueryDef(Multimodal.mediaStats _,
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  substr(to_base64(encode(text)), 1, 8) AS prefix_b64
        |FROM documents ORDER BY media_id""".stripMargin),

    // per-nibble counts via the same length-replace identity on both
    // sides; ln floor-quantized at 1e-6 before the BIGINT sum (t37)
    "m08_payload_entropy" -> QueryDef(Multimodal.payloadEntropy _,
      s"""WITH m AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN 'image'
         |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         |    upper(to_hex(encode(text))) AS hx,
         |    octet_length(encode(text)) AS n
         |  FROM documents WHERE octet_length(encode(text)) > 0),
         |t AS (SELECT doc_id, kind, n, length(hx) AS len,
         |    ${"0123456789ABCDEF".map(ch =>
               s"length(hx) - length(replace(hx, '$ch', '')) AS c_$ch").mkString(",\n    ")}
         |  FROM m)
         |SELECT doc_id AS media_id, kind, CAST(n AS BIGINT) AS n_bytes,
         |  (${"0123456789ABCDEF".map(ch =>
               s"CASE WHEN c_$ch > 0 THEN 1 ELSE 0 END").mkString(" + ")}) AS n_nibbles,
         |  round(-CAST((${"0123456789ABCDEF".map(ch =>
               s"CASE WHEN c_$ch > 0 THEN c_$ch * CAST(FLOOR(ln(CAST(c_$ch AS DOUBLE) / len) * 1e6) AS BIGINT) ELSE 0 END").mkString("\n   + ")}) AS DOUBLE) / len / 1e6, 6) AS entropy
         |FROM t ORDER BY media_id""".stripMargin),

    // the stub decoder is a byte-histogram — which SQL can also state
    // (hex-nibble counting over the payload), so even the mapPartitions
    // path is hash-verified, not just rows-only
    "m02_feature_summary" -> QueryDef(Multimodal.featureSummary _,
      """WITH m AS (SELECT doc_id, to_hex(encode(text)) AS hx,
        |             octet_length(encode(text)) AS n FROM documents),
        |b AS (SELECT doc_id, n,
        |        substr(hx, 2 * CAST(unnest(generate_series(1, n)) AS INT) - 1, 1) AS hi
        |      FROM m)
        |SELECT doc_id AS media_id, CAST(MAX(n) AS BIGINT) AS n_bytes,
        |  round(CAST(COUNT(CASE WHEN hi = '0' THEN 1 END) AS DOUBLE) / MAX(n), 6) AS f_low,
        |  round(CAST(COUNT(CASE WHEN hi = '7' THEN 1 END) AS DOUBLE) / MAX(n), 6) AS f_mid
        |FROM b GROUP BY doc_id ORDER BY media_id""".stripMargin),

    // the resize stub is quarter-block byte means — integer floor
    // arithmetic the oracle restates byte-by-byte via the hex dump
    // (1-based pos p is in quarter q iff q·n//4 < p ≤ (q+1)·n//4, the
    // exact complement of the engine's 0-based half-open blocks)
    "m04_resize_thumbs" -> QueryDef(Multimodal.resizeThumbs _,
      """WITH m AS (SELECT doc_id, to_hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |b AS (SELECT doc_id, n,
        |    CAST(unnest(generate_series(1, n)) AS BIGINT) AS pos FROM m),
        |v AS (SELECT b.doc_id, b.n, b.pos,
        |    ('0x' || substr(m.hx, CAST(2 * b.pos - 1 AS INT), 2))::BIGINT AS bv
        |  FROM b JOIN m ON m.doc_id = b.doc_id),
        |q AS (SELECT doc_id, bv,
        |    CASE WHEN pos <= n // 4 THEN 0
        |         WHEN pos <= (2 * n) // 4 THEN 1
        |         WHEN pos <= (3 * n) // 4 THEN 2 ELSE 3 END AS qt
        |  FROM v)
        |SELECT doc_id AS media_id,
        |  CAST(COALESCE(SUM(CASE WHEN qt = 0 THEN bv END)
        |    // NULLIF(COUNT(CASE WHEN qt = 0 THEN 1 END), 0), 0) AS BIGINT) AS t0,
        |  CAST(COALESCE(SUM(CASE WHEN qt = 1 THEN bv END)
        |    // NULLIF(COUNT(CASE WHEN qt = 1 THEN 1 END), 0), 0) AS BIGINT) AS t1,
        |  CAST(COALESCE(SUM(CASE WHEN qt = 2 THEN bv END)
        |    // NULLIF(COUNT(CASE WHEN qt = 2 THEN 1 END), 0), 0) AS BIGINT) AS t2,
        |  CAST(COALESCE(SUM(CASE WHEN qt = 3 THEN bv END)
        |    // NULLIF(COUNT(CASE WHEN qt = 3 THEN 1 END), 0), 0) AS BIGINT) AS t3
        |FROM q GROUP BY doc_id ORDER BY media_id""".stripMargin),

    // frame sampling (every 4th 64-byte block) is pure arithmetic over
    // the payload length, so the oracle states the same census in closed
    // form: nblocks = ceil(n/64); sampled indices 0,4,8,… < nblocks; the
    // last block is short iff sampled (index nblocks-1, n−64·(nblocks−1)
    // bytes). DuckDB's // is integer division.
    "m03_frame_sample" -> QueryDef(Multimodal.frameSampleSummary _,
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |c AS (SELECT doc_id, n, CAST(CEIL(n / 64.0) AS BIGINT) AS nblocks FROM m),
        |f AS (SELECT doc_id, n, nblocks,
        |        (nblocks - 1) // 4 + 1 AS n_frames,
        |        CASE WHEN (nblocks - 1) % 4 = 0 THEN 1 ELSE 0 END AS last_sampled
        |      FROM c)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(64 * (n_frames - last_sampled)
        |    + last_sampled * (n - 64 * (nblocks - 1)) AS BIGINT) AS frame_bytes,
        |  CAST((n_frames - 1) * 4 AS INT) AS max_idx
        |FROM f ORDER BY media_id""".stripMargin),

    // the oracle rebuilds the identical chunking declaratively: per-byte
    // hex explode (m04's bv idiom), boundary = byte ≡ 0 mod 16, chunk_no
    // = prefix count of boundaries BEFORE the byte (so a boundary byte
    // stays in the chunk it terminates), chunk key = md5 of the ordered
    // uppercase-hex concatenation — byte-for-byte the engine's key
    // the chunk CTE chain instantiated once per mask (suffix-named CTEs,
    // mod constant substituted) — the curve's mask-16 point restates m06
    "m12_cdc_mask_curve" -> QueryDef(Multimodal.cdcMaskCurve _, {
      def chain(k: Int): String =
        s"""mm$k AS (SELECT doc_id, to_hex(encode(text)) AS hx,
           |    octet_length(encode(text)) AS n
           |  FROM documents WHERE octet_length(encode(text)) > 0),
           |bb$k AS (SELECT doc_id, n,
           |    CAST(unnest(generate_series(1, n)) AS BIGINT) AS pos FROM mm$k),
           |vv$k AS (SELECT b.doc_id, b.pos,
           |    substr(m.hx, CAST(2 * b.pos - 1 AS INT), 2) AS hp,
           |    ('0x' || substr(m.hx, CAST(2 * b.pos - 1 AS INT), 2))::BIGINT AS bv
           |  FROM bb$k b JOIN mm$k m ON m.doc_id = b.doc_id),
           |cc$k AS (SELECT doc_id, pos, hp,
           |    COALESCE(CAST(SUM(CASE WHEN bv % $k = 0 THEN 1 ELSE 0 END) OVER
           |      (PARTITION BY doc_id ORDER BY pos
           |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS chunk_no
           |  FROM vv$k),
           |hh$k AS (SELECT doc_id, chunk_no, CAST(COUNT(*) AS BIGINT) AS chunk_len,
           |    md5(string_agg(hp, '' ORDER BY pos)) AS chunk_md5
           |  FROM cc$k GROUP BY 1, 2),
           |rr$k AS (SELECT $k AS mask, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           |    CAST(SUM(chunk_len) AS BIGINT) AS sum_bytes FROM hh$k),
           |uu$k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_unique,
           |    CAST(SUM(chunk_len) AS BIGINT) AS unique_bytes
           |  FROM (SELECT DISTINCT chunk_md5, chunk_len FROM hh$k) d)""".stripMargin
      def row(k: Int): String =
        s"""SELECT rr$k.mask, rr$k.n_chunks, uu$k.n_unique, rr$k.sum_bytes,
           |  uu$k.unique_bytes,
           |  round(CAST(uu$k.unique_bytes AS DOUBLE) / CAST(rr$k.sum_bytes AS DOUBLE), 6) AS dedup_ratio
           |FROM rr$k, uu$k""".stripMargin
      s"""WITH ${chain(8)},
         |${chain(16)},
         |${chain(32)}
         |${row(8)}
         |UNION ALL ${row(16)}
         |UNION ALL ${row(32)}
         |ORDER BY mask""".stripMargin
    }),

    // same chunk CTE chain; the eval side (docs 0-49, t19's benchmark
    // convention) contributes a distinct digest set, evidence is
    // length-gated at 8 bytes on BOTH sides, and the per-media census
    // joins hits to totals keyed on the id — the oracle restates the
    // whole cross-modal scrub list in closed form
    "m13_cross_modal_decontam" -> QueryDef(Multimodal.crossModalDecontaminate _,
      s"""$CdcChunksCtesDuck,
         |bench AS (SELECT DISTINCT chunk_md5 FROM ch
         |          WHERE doc_id < 50 AND chunk_len >= ${Multimodal.MinEvidenceLen}),
         |corp AS (SELECT * FROM ch WHERE doc_id >= 50),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |        CAST(SUM(chunk_len) AS BIGINT) AS total_bytes
         |        FROM corp GROUP BY doc_id),
         |hit AS (SELECT c.doc_id, c.kind, CAST(COUNT(*) AS BIGINT) AS n_hit,
         |        CAST(SUM(c.chunk_len) AS BIGINT) AS hit_bytes
         |        FROM corp c JOIN bench b ON b.chunk_md5 = c.chunk_md5
         |        WHERE c.chunk_len >= ${Multimodal.MinEvidenceLen}
         |        GROUP BY c.doc_id, c.kind)
         |SELECT h.doc_id AS media_id, h.kind, t.n_chunks, h.n_hit,
         |  t.total_bytes, h.hit_bytes,
         |  round(CAST(h.hit_bytes AS DOUBLE) / CAST(t.total_bytes AS DOUBLE), 6) AS hit_share
         |FROM hit h JOIN tot t ON t.doc_id = h.doc_id ORDER BY media_id""".stripMargin),

    "m06_cdc_dedup" -> QueryDef(Multimodal.cdcDedup _,
      s"""$CdcChunksCtesDuck,
         |tot AS (SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |    CAST(SUM(chunk_len) AS BIGINT) AS sum_bytes FROM ch GROUP BY kind),
         |uq AS (SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_unique,
         |    CAST(SUM(chunk_len) AS BIGINT) AS unique_bytes
         |  FROM (SELECT DISTINCT kind, chunk_md5, chunk_len FROM ch) d GROUP BY kind)
         |SELECT t.kind, t.n_chunks, u.n_unique, t.sum_bytes, u.unique_bytes,
         |  round(CAST(u.unique_bytes AS DOUBLE) / CAST(t.sum_bytes AS DOUBLE), 6) AS dedup_ratio
         |FROM tot t JOIN uq u ON u.kind = t.kind ORDER BY t.kind""".stripMargin),

    // same chunk CTE chain; candidates from rare shared chunks, exact
    // chunk-set Jaccard ≥ 0.5 via integer cross-multiplication
    // frame digests via the m06 hex-md5 convention; sharing = one keyed
    // agg + one semi-join over (media, digest) — no pair join
    "m14_frame_reuse" -> QueryDef(Multimodal.frameReuse _,
      """WITH m AS (SELECT doc_id AS media_id, to_hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n FROM documents
        |  WHERE octet_length(encode(text)) > 0),
        |f AS (SELECT media_id, CAST(i AS BIGINT) AS frame_idx,
        |    md5(substr(hx, CAST(128 * i + 1 AS INT), 128)) AS fd
        |  FROM m, unnest(generate_series(0, CAST(ceil(n / 64.0) AS BIGINT) - 1)) AS t(i)
        |  WHERE i % 4 = 0),
        |sets AS (SELECT DISTINCT media_id, fd FROM f),
        |sh AS (SELECT fd FROM sets GROUP BY fd HAVING COUNT(*) >= 2),
        |pm AS (SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |    CAST(COUNT(DISTINCT fd) AS BIGINT) AS n_distinct_frames
        |  FROM f GROUP BY media_id),
        |sc AS (SELECT s.media_id, CAST(COUNT(*) AS BIGINT) AS n_shared_frames
        |  FROM sets s JOIN sh ON sh.fd = s.fd GROUP BY s.media_id)
        |SELECT p.media_id,
        |  CASE WHEN p.media_id % 3 = 0 THEN 'image'
        |       WHEN p.media_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  p.n_frames, p.n_distinct_frames, c.n_shared_frames,
        |  CAST(c.n_shared_frames * 1000 // p.n_distinct_frames AS BIGINT) AS reuse_permille
        |FROM pm p JOIN sc c ON c.media_id = p.media_id
        |ORDER BY p.media_id""".stripMargin),
    "m07_chunk_near_dup" -> QueryDef(Multimodal.chunkNearDup _,
      s"""$CdcChunksCtesDuck,
         |sets AS (SELECT DISTINCT doc_id AS media_id, chunk_md5 FROM ch),
         |rare AS (SELECT chunk_md5 FROM sets GROUP BY chunk_md5
         |         HAVING COUNT(*) BETWEEN 2 AND 10),
         |cand AS (SELECT DISTINCT x.media_id AS a_id, y.media_id AS b_id
         |         FROM sets x
         |         JOIN rare r ON r.chunk_md5 = x.chunk_md5
         |         JOIN sets y ON y.chunk_md5 = x.chunk_md5
         |                    AND x.media_id < y.media_id),
         |sz AS (SELECT media_id, CAST(COUNT(*) AS BIGINT) AS sz
         |       FROM sets GROUP BY media_id),
         |it AS (SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS n_inter
         |       FROM cand c
         |       JOIN sets sa ON sa.media_id = c.a_id
         |       JOIN sets sb ON sb.media_id = c.b_id
         |                   AND sb.chunk_md5 = sa.chunk_md5
         |       GROUP BY c.a_id, c.b_id)
         |SELECT it.a_id, it.b_id, it.n_inter,
         |  CAST(za.sz + zb.sz - it.n_inter AS BIGINT) AS n_union,
         |  round(CAST(it.n_inter AS DOUBLE)
         |    / CAST(za.sz + zb.sz - it.n_inter AS DOUBLE), 6) AS jaccard
         |FROM it
         |JOIN sz za ON za.media_id = it.a_id
         |JOIN sz zb ON zb.media_id = it.b_id
         |WHERE it.n_inter * 2 >= za.sz + zb.sz - it.n_inter
         |ORDER BY 1, 2""".stripMargin),

    // the 31-bit dHash is integer math over a byte histogram the oracle
    // restates per-byte via the hex dump (m04's bv idiom), so even the
    // typed-Dataset hashing path is hash-verified in closed form
    "m05_phash_dup_groups" -> QueryDef(Multimodal.phashDupGroups _,
      s"""$PhashCtesDuck
         |SELECT phash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         |FROM p GROUP BY phash HAVING COUNT(*) > 1
         |ORDER BY keep_id""".stripMargin),

    // the engine runs 4×15-bit pigeonhole buckets + exact verify over
    // the 60-bit chunk-feature SimHash; the oracle restates ALL-PAIRS
    // hamming over the same CDC chunk chain — the fixture-affordable
    // truth that the banding loses nothing at the ≤2 radius
    "m09_chunk_simhash_pairs" -> QueryDef(Multimodal.chunkSimhashPairs _,
      s"""$ChunkPhashCtesDuck
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
         |FROM p a JOIN p b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.ph, b.ph)) <= 2
         |ORDER BY 1, 2""".stripMargin),

    // the oracle walks the same pair graph with a recursive-CTE
    // transitive closure (t16's shape) — both engines derive the
    // labeling independently, end to end
    "m10_media_dup_clusters" -> QueryDef(mediaDupClusters _,
      s"""${ChunkPhashCtesDuck.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |mpr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM p a JOIN p b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ph, b.ph)) <= 2),
         |ed AS (SELECT a_id AS src, b_id AS dst FROM mpr
         |       UNION SELECT b_id, a_id FROM mpr),
         |cc AS (SELECT DISTINCT src AS id, src AS lbl FROM ed
         |       UNION
         |       SELECT ed.dst AS id, cc.lbl FROM cc JOIN ed ON ed.src = cc.id),
         |lab AS (SELECT id, MIN(lbl) AS cluster_id FROM cc GROUP BY id),
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_sz FROM lab GROUP BY cluster_id)
         |SELECT lab.id AS media_id, lab.cluster_id, sz.cluster_sz
         |FROM lab JOIN sz ON sz.cluster_id = lab.cluster_id
         |ORDER BY media_id""".stripMargin)
  )

  /** The m09/m10-shared phash oracle chain, ending in `p(doc_id, ph)`:
    * CDC chunks → distinct 60-bit digest features → per-bit majority
    * SimHash. */
  private lazy val ChunkPhashCtesDuck: String =
    s"""$CdcChunksCtesDuck,
       |f AS (SELECT DISTINCT doc_id,
       |        ('0x' || substr(chunk_md5, 1, 15))::BIGINT AS fid FROM ch),
       |bits AS (SELECT doc_id, CAST(unnest(generate_series(0, 59)) AS INT) AS bb,
       |        fid FROM f),
       |sg AS (SELECT doc_id, bb,
       |    CASE WHEN SUM(CASE WHEN ((fid >> bb) & 1) = 1 THEN 1 ELSE -1 END) > 0
       |         THEN 1 ELSE 0 END AS bit
       |  FROM bits GROUP BY doc_id, bb),
       |p AS (SELECT doc_id, CAST(SUM(CAST(bit AS BIGINT) << bb) AS BIGINT) AS ph
       |  FROM sg GROUP BY doc_id)""".stripMargin

  /** The m05/m09-shared phash oracle chain, ending in `p(doc_id, phash)`
    * (per-byte hex-dump histogram → 31-bit adjacent-bin dHash). */
  private lazy val PhashCtesDuck: String = {
    val counts = (0 until 32)
      .map(j => s"CAST(COUNT(CASE WHEN bv % 32 = $j THEN 1 END) AS BIGINT) AS c$j")
      .mkString(",\n        ")
    val bitSum = (0 until 31)
      .map(j => s"CASE WHEN c$j > c${j + 1} THEN ${1 << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH m AS (SELECT doc_id, to_hex(encode(text)) AS hx,
       |             octet_length(encode(text)) AS n FROM documents
       |           WHERE octet_length(encode(text)) > 0),
       |v AS (SELECT doc_id,
       |        ('0x' || substr(hx, CAST(2 * unnest(generate_series(1, n)) - 1 AS INT), 2))::BIGINT AS bv
       |      FROM m),
       |h AS (SELECT doc_id,
       |        $counts
       |      FROM v GROUP BY doc_id),
       |p AS (SELECT doc_id, CAST($bitSum AS BIGINT) AS phash FROM h)""".stripMargin
  }
}
