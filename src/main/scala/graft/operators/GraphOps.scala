package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Iterative graph analytics over graphs DERIVED from the fact tables —
  * the rank/influence layer on top of [[Components]]' connectivity layer.
  *
  * The scale split is deliberate and is the whole design: deriving the
  * edge list (weighted joins over the 100 TB fact side) is the distributed
  * work and runs as ordinary declarative plans Catalyst optimizes; the
  * iteration then runs over the AGGREGATED graph, whose size is bounded by
  * the entity domain (here nation×nation ≤ 625 edges), not the corpus. A
  * formulation that iterated over the fact-sized edge expansion would pay
  * the fact shuffle once per round — this one pays it once, total.
  *
  * Reference semantics: the reference keeps per-entity statistics and
  * serving tables, never graph ranks (feast-java-old
  * core/src/main/java/feast/core/model is registry + stores only) —
  * this module is part of the training-data-pipeline surface the build
  * adds beyond the reference.
  */
object GraphOps {

  /** Exact integral revenue in 1e-4 dollar units — same contract as
    * [[AnalyticsJoins]]: cents × (100 − discount hundredths), both exact
    * 2-dp by data contract, so edge weights are plain BIGINT. */
  private def revE4: org.apache.spark.sql.Column =
    (round(col("l_extendedprice") * 100).cast("long") *
      (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4")

  val PageRankIters = 6

  /** The nation→nation revenue-weighted edge list (cust_nation → supp_nation,
    * w = Σ rev_e4) — the [[AnalyticsJoins.qNationVolume]] join tree collapsed
    * to entity-domain grain; shared by every graph operator here, THROUGH
    * the persisted artifact: five analytics over one graph must not run
    * the 100 TB fact collapse five times. [[tradeGraph]] loads the edge
    * parquet when a fingerprint-matched artifact exists and derives+
    * persists it otherwise (the IVF-centroid artifact discipline:
    * fingerprint = fact-file names/sizes/mtimes, same-corpus orphan GC,
    * Hadoop-FS path probes). */
  /** Spec access to the persisted nation graph (GraphDenseSpec proves the
    * dense engine equals the DataFrame forms on exactly this artifact). */
  private[graft] def tradeGraphForSpec(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    tradeGraph(spark, dir)

  /** The collected nation graph for the dense driver-side engine (r14
    * optimization): names + ≤625-row edge matrix off the persisted
    * artifact — one tiny collect per query, bounded by the fixed entity
    * domain (docs/driver_action_audit.md). */
  private def denseTradeGraph(spark: SparkSession, dir: String): (Array[String], Array[GraphDense.Edge]) = {
    val (nodes, edges) = tradeGraph(spark, dir)
    GraphDense.collect(nodes, edges)
  }

  private def tradeGraph(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val nodes = Tables.nation(spark, dir).select(col("n_name").as("node"))
    // fingerprint covers ALL FIVE fact/dim inputs of the collapse — any
    // refreshed file (name/size/mtime) forces a re-derivation
    val edges = graft.serving.StorePaths.cachedArtifact(spark,
      "graft.graph.dir", "graft_graph",
      graft.serving.StorePaths.corpusKey(dir) + "-",
      graft.serving.StorePaths.tableFingerprint(spark,
        Seq("lineitem", "orders", "customer", "nation", "supplier").map(t => s"$dir/$t.parquet")))(
      tradeGraphDerive(spark, dir)._2)
    (nodes, edges)
  }

  /** Warm the persisted edge artifact (bench/offline hook — the first
    * graph query in a fresh environment otherwise pays the derivation). */
  def warmTradeGraph(spark: SparkSession, dir: String): Unit =
    tradeGraph(spark, dir)._2.count(): Unit

  private def tradeGraphDerive(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val nations = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    // supplier/customer are SF-LINEAR: the fact joins their KEY
    // projections un-hinted (Catalyst broadcasts from file stats at gate
    // SFs, shuffles at scale); only the 25-row nation renames carry hints
    val supKeys = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val custN = Tables.customer(spark, dir)
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"), revE4)
    val edges = li
      .join(supKeys, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nations.select(col("n_nationkey"),
          col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .groupBy(col("cust_nation").as("src"), col("supp_nation").as("dst"))
      .agg(sum(col("rev_e4")).as("w"))
    (nations.select(col("n_name").as("node")), edges)
  }

  /** Weighted PageRank over the nation→nation trade graph: nodes are
    * nations, a directed edge cust_nation → supp_nation carries the total
    * lineitem revenue that flowed that way, and rank answers "which
    * nations does trade volume concentrate toward" — the
    * influence/centrality headline of any entity-relationship warehouse
    * (works identically for supplier→customer, page→page, repo→dependency).
    *
    * Everything is exact BIGINT so both engines replay bit-for-bit:
    * out-going edge shares are e9-scaled truncating divisions of the
    * node's total out-weight; ranks are e6-scaled starting at 1e6 per
    * node; one step is r'(v) = 150000 + 85% of Σ_u r(u)·share_e9(u,v)/1e9
    * with every division the cross-engine truncating DIV. A nation with
    * no out-edges is a dangling node: its rank leaks (contributes
    * nothing), identically in both engines. [[PageRankIters]] fixed
    * iterations, unrolled in the oracle as CTE chain.
    *
    * Plan: the edge derivation is [[AnalyticsJoins.qNationVolume]]'s join
    * tree (broadcast dims, one fact-fact orderkey exchange) collapsed to
    * the 625-row edge table and PINNED (localCheckpoint) — iterating on
    * lineage would re-run the fact join once per round. Each round is a
    * broadcast of the ≤25-row rank vector onto the edges and a dst-keyed
    * partial aggregate; at a million-node entity domain the same loop
    * holds with `broadcastRanks = false` (the rank join un-hinted, so
    * Catalyst/AQE picks shuffle once the vector outgrows the broadcast
    * threshold), which is the standard Spark PageRank shape. */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    // r14 optimization (guide §1.2): the iteration runs on the dense
    // driver-side engine — the distributed form paid PageRankIters
    // shuffle rounds to move a ≤25-row rank vector; the fact-side
    // collapse stays in the persisted artifact. Bit-identical arithmetic
    // (GraphDenseSpec), hash-gated by the same oracle.
    val (names, es) = denseTradeGraph(spark, dir)
    GraphDense.pagerank(spark, names, es)
      .orderBy(col("rank_e6").desc, col("nation"))
  }

  /** The iteration core over an explicit (node) / (src, dst, w) graph —
    * [[graphPagerank]] with the edge derivation factored out so specs can
    * drive hand-built graphs through the exact production arithmetic.
    * `broadcastRanks` forces the per-round rank-vector broadcast — right
    * for FIXED small domains (the 25-nation graph), wrong for a
    * corpus-scaling vertex set where a forced broadcast of |V| ranks
    * per round exceeds driver/broadcast limits: growing-domain callers
    * ([[graphPagerankUsers]]) pass false and let Catalyst/AQE pick
    * broadcast vs shuffle from the measured rank-vector size. */
  def graphPagerankOf(nodes0: DataFrame, edges0: DataFrame,
      broadcastRanks: Boolean = true): DataFrame = {
    val edges = edges0
      .localCheckpoint() // the graph artifact; iterations must not re-run the fact join
    val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("w_out"))
    // share_e9 = w·1e9 / w_out with BOTH operands pre-divided by a common
    // scale s = max(1, w_out div 1e8), so the ×1e9 multiplicand stays
    // ≤ ~2e8 and the product ≤ ~2e17 — raw w·1e9 ANSI-overflows the
    // moment an edge carries ≥ ~9.2e9 revenue units (sf0.01 already
    // does). The scaled form is part of the DEFINITION, replayed
    // identically by the oracle: all values positive, every division the
    // common truncating DIV, so this is exact cross-engine arithmetic,
    // not an approximation that could drift.
    val shares = edges.join(outW, "src")
      .withColumn("s", expr("greatest(1, w_out DIV 100000000)"))
      .select(col("src"), col("dst"),
        expr("(w DIV s) * 1000000000 DIV (w_out DIV s)").as("share_e9"))
      .localCheckpoint()
    val nodes = nodes0.select(col("node"))
    var ranks = nodes.select(col("node"), lit(1000000L).as("rank_e6"))
    for (_ <- 1 to PageRankIters) {
      val rankSide = if (broadcastRanks) broadcast(ranks) else ranks
      val contribs = shares
        .join(rankSide, col("src") === col("node"))
        .select(col("dst"), expr("rank_e6 * share_e9 DIV 1000000000").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      ranks = nodes
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(150000L) + expr("85 * coalesce(in_mass, 0) DIV 100")).as("rank_e6"))
    }
    ranks.select(col("node").as("nation"), col("rank_e6"))
  }

  val graphPagerankSql: String = {
    val iters = (1 to PageRankIters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    150000 + 85 * coalesce(m.in_mass, 0) // 100 AS rank_e6
         |  FROM nodes n LEFT JOIN (
         |    SELECT s.dst, CAST(sum(r.rank_e6 * s.share_e9 // 1000000000) AS BIGINT)
         |      AS in_mass
         |    FROM shares s JOIN r${i - 1} r ON s.src = r.node GROUP BY 1
         |  ) m ON n.node = m.dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_suppkey,
       |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
       |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_e4
       |  FROM lineitem
       |), edges AS MATERIALIZED (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, CAST(sum(rev_e4) AS BIGINT) AS w
       |  FROM li
       |  JOIN supplier s ON li.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  JOIN orders o ON li.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  GROUP BY 1, 2
       |), ow AS (
       |  SELECT src, CAST(sum(w) AS BIGINT) AS w_out,
       |    greatest(1, CAST(sum(w) AS BIGINT) // 100000000) AS s
       |  FROM edges GROUP BY 1
       |), shares AS MATERIALIZED (
       |  SELECT e.src, e.dst,
       |    CAST((e.w // o.s) * 1000000000 // (o.w_out // o.s) AS BIGINT) AS share_e9
       |  FROM edges e JOIN ow o USING (src)
       |), nodes AS MATERIALIZED (
       |  SELECT n_name AS node FROM nation
       |), r0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS rank_e6 FROM nodes
       |),
       |$iters
       |SELECT node AS nation, CAST(rank_e6 AS BIGINT) AS rank_e6
       |FROM r$PageRankIters
       |ORDER BY rank_e6 DESC, nation""".stripMargin
  }

  val HitsIters = 6

  /** HITS hubs & authorities (Kleinberg, JACM'99) over the same trade
    * graph: a nation is a strong HUB when its purchases flow to strong
    * authorities, a strong AUTHORITY when strong hubs buy from it — the
    * directional complement of [[graphPagerank]]'s single score (a pure
    * importer can be a top hub yet rank low as an authority; PageRank
    * conflates the two roles).
    *
    * All BIGINT, both engines bit-equal: edge weights normalize ONCE by
    * the global max (common-scale-reduced truncating division, the
    * pagerank overflow discipline — wn_e6 ≤ 1e6), and each half-step
    * max-normalizes its score vector back to ≤ 1e6 (the classic HITS
    * normalization, in integers), so every product in the iteration is
    * ≤ 1e12 and every sum ≤ degree·1e6·1e6. Nodes without edges in a
    * direction score 0 there. [[HitsIters]] fixed iterations; the oracle
    * unrolls hub/auth half-steps as a CTE chain. */
  def graphHits(spark: SparkSession, dir: String): DataFrame = {
    // dense driver-side iteration (r14): the DataFrame form paid 12
    // normalize materializations of ≤25-row score vectors per run
    val (names, es) = denseTradeGraph(spark, dir)
    GraphDense.hits(spark, names, es)
      .orderBy(col("auth_e6").desc, col("hub_e6").desc, col("nation"))
  }

  def graphHitsOf(nodes0: DataFrame, edges0: DataFrame): DataFrame = {
    val edges = edges0.localCheckpoint() // iterations must not re-run the fact join
    val wmax = edges.agg(max(col("w")).as("wmax"))
    val wn = edges.crossJoin(broadcast(wmax))
      .withColumn("s", expr("greatest(1, wmax DIV 1000000000)"))
      .select(col("src"), col("dst"),
        expr("(w DIV s) * 1000000 DIV (wmax DIV s)").as("wn_e6"))
      .localCheckpoint()
    val nodes = nodes0.select(col("node"))
    def normalize(raw0: DataFrame, cName: String): DataFrame = {
      // raw feeds BOTH the max and the join — pinned (25-row artifact), or
      // each of the 12 half-steps would double its subtree and the final
      // plan would carry 2^12 copies of the fact lineage
      val raw = raw0.localCheckpoint()
      val m = raw.agg(max(col("raw")).as("m"))
      nodes.join(raw, nodes("node") === raw("rnode"), "left")
        .crossJoin(broadcast(m))
        .select(col("node"),
          expr(s"CASE WHEN m > 0 THEN coalesce(raw, 0) * 1000000 DIV m " +
            s"ELSE 0 END").as(cName))
    }
    var auth = nodes.select(col("node"), lit(1000000L).as("auth_e6"))
    var hub  = nodes.select(col("node"), lit(1000000L).as("hub_e6"))
    for (_ <- 1 to HitsIters) {
      val hubRaw = wn.join(broadcast(auth), col("dst") === col("node"))
        .select(col("src"), expr("auth_e6 * wn_e6 DIV 1000000").as("c"))
        .groupBy(col("src")).agg(sum(col("c")).as("raw"))
        .select(col("src").as("rnode"), col("raw"))
      hub = normalize(hubRaw, "hub_e6")
      val authRaw = wn.join(broadcast(hub), col("src") === col("node"))
        .select(col("dst"), expr("hub_e6 * wn_e6 DIV 1000000").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("raw"))
        .select(col("dst").as("rnode"), col("raw"))
      auth = normalize(authRaw, "auth_e6")
    }
    hub.join(auth, "node")
      .select(col("node").as("nation"), col("hub_e6"), col("auth_e6"))
  }

  val graphHitsSql: String = {
    val steps = (1 to HitsIters).map { i =>
      s"""hr$i AS MATERIALIZED (
         |  SELECT w.src AS node,
         |    CAST(sum(a.auth_e6 * w.wn_e6 // 1000000) AS BIGINT) AS raw
         |  FROM wn w JOIN a${i - 1} a ON w.dst = a.node GROUP BY 1
         |),
         |h$i AS MATERIALIZED (
         |  SELECT n.node, CASE WHEN m.m > 0
         |    THEN coalesce(r.raw, 0) * 1000000 // m.m ELSE 0 END AS hub_e6
         |  FROM nodes n
         |  LEFT JOIN hr$i r ON n.node = r.node
         |  CROSS JOIN (SELECT max(raw) AS m FROM hr$i) m
         |),
         |ar$i AS MATERIALIZED (
         |  SELECT w.dst AS node,
         |    CAST(sum(h.hub_e6 * w.wn_e6 // 1000000) AS BIGINT) AS raw
         |  FROM wn w JOIN h$i h ON w.src = h.node GROUP BY 1
         |),
         |a$i AS MATERIALIZED (
         |  SELECT n.node, CASE WHEN m.m > 0
         |    THEN coalesce(r.raw, 0) * 1000000 // m.m ELSE 0 END AS auth_e6
         |  FROM nodes n
         |  LEFT JOIN ar$i r ON n.node = r.node
         |  CROSS JOIN (SELECT max(raw) AS m FROM ar$i) m
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_suppkey,
       |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
       |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_e4
       |  FROM lineitem
       |), edges AS MATERIALIZED (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, CAST(sum(rev_e4) AS BIGINT) AS w
       |  FROM li
       |  JOIN supplier s ON li.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  JOIN orders o ON li.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  GROUP BY 1, 2
       |), wm AS (
       |  SELECT max(w) AS wmax, greatest(1, max(w) // 1000000000) AS s FROM edges
       |), wn AS MATERIALIZED (
       |  SELECT e.src, e.dst,
       |    CAST((e.w // m.s) * 1000000 // (m.wmax // m.s) AS BIGINT) AS wn_e6
       |  FROM edges e CROSS JOIN wm m
       |), nodes AS MATERIALIZED (
       |  SELECT n_name AS node FROM nation
       |), a0 AS MATERIALIZED (
       |  SELECT node, CAST(1000000 AS BIGINT) AS auth_e6 FROM nodes
       |),
       |$steps
       |SELECT h.node AS nation, CAST(h.hub_e6 AS BIGINT) AS hub_e6,
       |  CAST(a.auth_e6 AS BIGINT) AS auth_e6
       |FROM h$HitsIters h JOIN a$HitsIters a USING (node)
       |ORDER BY auth_e6 DESC, hub_e6 DESC, nation""".stripMargin
  }

  /** Triangle census + local clustering coefficient over the significant
    * trade graph — the cohesion layer next to [[Components]]' connectivity
    * and [[graphPagerank]]'s centrality (a high-rank nation whose partners
    * also trade with EACH OTHER sits in a clique, not a star — the
    * ecosystem-vs-hub distinction ranks can't see). Edges are the
    * undirected collapse of the trade graph (w summed over both
    * directions, self-loops dropped) THRESHOLDED at the mean pair weight
    * (uw ≥ tot DIV n_pairs — division form, overflow-free at any scale,
    * where the cross-multiplied form would ANSI-overflow once Σuw·n_pairs
    * passes 2⁶³): an unthresholded revenue graph is near-complete and
    * every census is trivially C(n,3).
    *
    * Enumeration is DEGREE-ORIENTED (compact-forward, Latapy TCS'08):
    * each kept edge orients from lower (deg, name) rank to higher, wedges
    * fan out around the LOW-rank center only, and the closing edge is a
    * single equi-join — per-node wedge work is bounded by the graph's
    * arboricity instead of the max degree, which is what survives a
    * power-law degree distribution at corpus scale (the name-ordered
    * enumeration the oracle uses is set-identical but fans out around
    * hubs). The kept edge list is pinned (localCheckpoint) — degree,
    * wedge and closing joins must not re-run the fact collapse. All
    * counts exact BIGINTs; clust_bp = n_tri·10⁴ DIV C(deg, 2). */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    // dense driver-side census (r14): wedge join over ≤625 kept pairs
    val (names, es) = denseTradeGraph(spark, dir)
    GraphDense.triangles(spark, names, GraphDense.keptPairs(es))
      .orderBy(col("nation"))
  }

  def graphTrianglesOf(nodes0: DataFrame, edges0: DataFrame): DataFrame = {
    val und = edges0.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("uw"))
    val stats = und.agg(count(lit(1)).as("n_pairs"), sum(col("uw")).as("tot"))
    val kept = und.crossJoin(broadcast(stats))
      .filter(col("uw") >= expr("tot DIV n_pairs"))
      .select(col("a"), col("b"))
      .localCheckpoint() // graph artifact: degree + 3 census joins reuse it
    triangleCensusOf(kept, nodes0.select(col("node")), "nation")
  }

  /** Rank-oriented triangle census over a UNIQUE a<b undirected pair list
    * — the skew-proof form: each edge is oriented from its lower-(degree,
    * name) endpoint, so wedge fan-out is bounded by each node's
    * lower-ranked degree (O(E^1.5) total regardless of hubs), never the
    * raw degree a hub would explode. Shared by the nation gate and the
    * growing user-domain gate. Emits one row per `nodes` row, zero-filled:
    * (outCol, degree, n_tri, tri_possible, clust_bp). */
  private[graft] def triangleCensusOf(kept: DataFrame, nodes: DataFrame,
      outCol: String, broadcastDeg: Boolean = true): DataFrame = {
    val deg = kept.select(col("a").as("v"))
      .unionAll(kept.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // the degree table is VERTEX-sized: broadcast only when the caller
    // knows the domain is entity-bounded (the 25-node nation graph); on
    // the growing user domain a forced broadcast would exceed driver/
    // broadcast limits at scale — same conditional as graphPagerankOf's
    // rank vector (the r11 ADVICE fix), Spark still auto-broadcasts
    // below threshold
    def maybeB(df: DataFrame): DataFrame = if (broadcastDeg) broadcast(df) else df
    // Rank-orient: lo = the endpoint with the smaller (deg, name); a < b
    // always, so the tie falls to a.
    val o = kept
      .join(maybeB(deg.select(col("v").as("a"), col("deg").as("dega"))), "a")
      .join(maybeB(deg.select(col("v").as("b"), col("deg").as("degb"))), "b")
      .select(
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb")), col("a")).otherwise(col("b")).as("lo"),
        when(col("dega") < col("degb") ||
          (col("dega") === col("degb")), col("b")).otherwise(col("a")).as("hi"),
        greatest(col("dega"), col("degb")).as("hideg"))
    val e1 = o.select(col("lo"), col("hi").as("y"), col("hideg").as("ydeg"))
    val e2 = o.select(col("lo"), col("hi").as("z"), col("hideg").as("zdeg"))
    val wedges = e1.join(e2, Seq("lo"))
      .filter(col("ydeg") < col("zdeg") ||
        (col("ydeg") === col("zdeg") && col("y") < col("z")))
    val tris = wedges.join(o.select(col("lo").as("y"), col("hi").as("z")),
        Seq("y", "z"))
      .select(col("lo").as("x"), col("y"), col("z"))
    val triCnt = tris.select(col("x").as("v"))
      .unionAll(tris.select(col("y").as("v")))
      .unionAll(tris.select(col("z").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    nodes
      .join(deg, col("node") === col("v"), "left").drop("v")
      .withColumn("degree", coalesce(col("deg"), lit(0L))).drop("deg")
      .join(triCnt, col("node") === col("v"), "left").drop("v")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .select(col("node").as(outCol), col("degree"), col("n_tri"),
        expr("degree * (degree - 1) DIV 2").as("tri_possible"),
        expr("n_tri * 10000 DIV greatest(degree * (degree - 1) DIV 2, 1)")
          .as("clust_bp"))
  }

  val graphTrianglesSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_e4
      |  FROM lineitem
      |), edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, CAST(sum(rev_e4) AS BIGINT) AS w
      |  FROM li
      |  JOIN supplier s ON li.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  JOIN orders o ON li.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  GROUP BY 1, 2
      |), und AS (
      |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
      |    CAST(sum(w) AS BIGINT) AS uw
      |  FROM edges WHERE src <> dst GROUP BY 1, 2
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(uw) AS BIGINT) AS tot
      |  FROM und
      |), kept AS MATERIALIZED (
      |  SELECT a, b FROM und CROSS JOIN stats WHERE uw >= tot // n_pairs
      |), deg AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
      |    SELECT a AS v FROM kept UNION ALL SELECT b AS v FROM kept
      |  ) GROUP BY 1
      |), tris AS (
      |  SELECT k1.a AS x, k1.b AS y, k2.b AS z
      |  FROM kept k1
      |  JOIN kept k2 ON k2.a = k1.a AND k2.b > k1.b
      |  JOIN kept k3 ON k3.a = k1.b AND k3.b = k2.b
      |), tc AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
      |    SELECT x AS v FROM tris UNION ALL SELECT y AS v FROM tris
      |    UNION ALL SELECT z AS v FROM tris
      |  ) GROUP BY 1
      |)
      |SELECT n.n_name AS nation, coalesce(d.degree, 0) AS degree,
      |  coalesce(t.n_tri, 0) AS n_tri,
      |  CAST(coalesce(d.degree, 0) * (coalesce(d.degree, 0) - 1) // 2
      |    AS BIGINT) AS tri_possible,
      |  CAST(coalesce(t.n_tri, 0) * 10000 // greatest(
      |    coalesce(d.degree, 0) * (coalesce(d.degree, 0) - 1) // 2, 1)
      |    AS BIGINT) AS clust_bp
      |FROM nation n
      |LEFT JOIN deg d ON n.n_name = d.v
      |LEFT JOIN tc t ON n.n_name = t.v
      |ORDER BY nation""".stripMargin

  /** Directed-edge reciprocity per nation — the flow-balance audit next
    * to [[graphHits]]' role split (HITS says who imports and who exports;
    * reciprocity says whether a nation's trade relationships flow BOTH
    * ways or are one-sided): out/in degree over the distinct directed
    * edge set (self-loops dropped), n_recip = out-edges whose reverse
    * edge also exists, recip_bp = n_recip·10⁴ DIV out_deg. The mutual
    * test is ONE self-semi-join of the entity-domain-sized edge list on
    * the swapped key — never a fact-side operation; all nations emit
    * (zero-filled isolates). */
  def graphReciprocity(spark: SparkSession, dir: String): DataFrame = {
    // dense driver-side degree/mutual counts (r14)
    val (names, es) = denseTradeGraph(spark, dir)
    GraphDense.reciprocity(spark, names, es).orderBy(col("nation"))
  }

  def graphReciprocityOf(nodes0: DataFrame, edges0: DataFrame): DataFrame = {
    val e = edges0.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
      .localCheckpoint() // one collapse; degree + mutual joins reuse it
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    val inDeg = e.groupBy(col("dst")).agg(count(lit(1)).as("in_deg"))
    val recip = e.join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .groupBy(col("src")).agg(count(lit(1)).as("n_recip"))
    nodes0.select(col("node"))
      .join(outDeg, col("node") === outDeg("src"), "left").drop("src")
      .join(inDeg, col("node") === inDeg("dst"), "left").drop("dst")
      .join(recip, col("node") === recip("src"), "left").drop("src")
      .select(col("node").as("nation"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"))
      .withColumn("recip_bp",
        expr("n_recip * 10000 DIV greatest(out_deg, 1)"))
  }

  val graphReciprocitySql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_suppkey FROM lineitem
      |), e AS MATERIALIZED (
      |  SELECT DISTINCT cn.n_name AS src, sn.n_name AS dst
      |  FROM li
      |  JOIN supplier s ON li.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  JOIN orders o ON li.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  WHERE cn.n_name <> sn.n_name
      |), od AS (
      |  SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM e GROUP BY 1
      |), id AS (
      |  SELECT dst, CAST(count(*) AS BIGINT) AS in_deg FROM e GROUP BY 1
      |), rc AS (
      |  SELECT e1.src, CAST(count(*) AS BIGINT) AS n_recip
      |  FROM e e1 WHERE EXISTS (
      |    SELECT 1 FROM e e2 WHERE e2.src = e1.dst AND e2.dst = e1.src)
      |  GROUP BY 1
      |)
      |SELECT n.n_name AS nation, coalesce(od.out_deg, 0) AS out_deg,
      |  coalesce(id.in_deg, 0) AS in_deg, coalesce(rc.n_recip, 0) AS n_recip,
      |  CAST(coalesce(rc.n_recip, 0) * 10000
      |    // greatest(coalesce(od.out_deg, 0), 1) AS BIGINT) AS recip_bp
      |FROM nation n
      |LEFT JOIN od ON n.n_name = od.src
      |LEFT JOIN id ON n.n_name = id.dst
      |LEFT JOIN rc ON n.n_name = rc.src
      |ORDER BY nation""".stripMargin

  /** Hop-distance BFS over the significant trade graph — the reachability
    * layer completing the graph story (Components: are they connected;
    * PageRank/HITS: who matters; triangles: how cohesive; THIS: how far):
    * shortest hop count from the alphabetically-first connected nation
    * (a deterministic source both engines derive identically) over the
    * mean-thresholded undirected edges [[graphTriangles]] uses;
    * unreachable or isolated nations read −1.
    *
    * Plan: frontier expansion over the checkpoint-pinned bidirectional
    * edge list — one entity-domain join per round, rounds = graph
    * diameter (the [[Components]] propagation regime; on an entity
    * DOMAIN this is the right loop — the log-round star trick matters
    * for corpus-sized vertex sets, not ≤10³-node dimension graphs). The
    * oracle walks the same edges with a recursive CTE dedup'd on
    * (node, dist) so cycles can't blow up the recursion. */
  def graphBfs(spark: SparkSession, dir: String): DataFrame = {
    // dense driver-side BFS (r14): the frontier loop paid one Spark round
    // per hop on a ≤25-node graph
    val (names, es) = denseTradeGraph(spark, dir)
    GraphDense.bfs(spark, names, GraphDense.keptPairs(es)).orderBy(col("nation"))
  }

  def graphBfsOf(nodes0: DataFrame, edges0: DataFrame): DataFrame = {
    val spark = nodes0.sparkSession
    import spark.implicits._
    val und = edges0.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("uw"))
    val stats = und.agg(count(lit(1)).as("n_pairs"), sum(col("uw")).as("tot"))
    val kept = und.crossJoin(broadcast(stats))
      .filter(col("uw") >= expr("tot DIV n_pairs"))
      .select(col("a"), col("b"))
    val bi = kept.select(col("a").as("n1"), col("b").as("n2"))
      .unionAll(kept.select(col("b").as("n1"), col("a").as("n2")))
      .localCheckpoint() // graph artifact: every round joins it
    val srcRow = kept.agg(min(col("a"))).collect().head
    if (srcRow.isNullAt(0)) {
      nodes0.select(col("node").as("nation"), lit(-1L).as("dist"))
    } else {
      val src = srcRow.getString(0)
      var dist = Seq((src, 0L)).toDF("node", "dist").localCheckpoint()
      var frontier = dist
      var d = 0L
      val cap = nodes0.count() // hop distance < |V| always
      while (d < cap && !frontier.isEmpty) {
        val next = bi.join(frontier, col("n1") === col("node"))
          .select(col("n2").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("dist", lit(d + 1L))
          .localCheckpoint()
        dist = dist.unionAll(next).localCheckpoint()
        frontier = next
        d += 1
      }
      nodes0.join(dist, nodes0("node") === dist("node"), "left")
        .select(nodes0("node").as("nation"),
          coalesce(col("dist"), lit(-1L)).as("dist"))
    }
  }

  val graphBfsSql: String =
    """WITH RECURSIVE li AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_e4
      |  FROM lineitem
      |), edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, CAST(sum(rev_e4) AS BIGINT) AS w
      |  FROM li
      |  JOIN supplier s ON li.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  JOIN orders o ON li.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  GROUP BY 1, 2
      |), und AS (
      |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
      |    CAST(sum(w) AS BIGINT) AS uw
      |  FROM edges WHERE src <> dst GROUP BY 1, 2
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(uw) AS BIGINT) AS tot
      |  FROM und
      |), kept AS MATERIALIZED (
      |  SELECT a, b FROM und CROSS JOIN stats WHERE uw >= tot // n_pairs
      |), bi AS MATERIALIZED (
      |  SELECT a AS n1, b AS n2 FROM kept
      |  UNION ALL SELECT b AS n1, a AS n2 FROM kept
      |), walk(node, dist) AS (
      |  SELECT min(a), CAST(0 AS BIGINT) FROM kept
      |  UNION
      |  SELECT e.n2, w.dist + 1
      |  FROM walk w JOIN bi e ON e.n1 = w.node
      |  WHERE w.dist < (SELECT count(*) FROM nation)
      |)
      |SELECT n.n_name AS nation,
      |  coalesce((SELECT min(dist) FROM walk w WHERE w.node = n.n_name),
      |    CAST(-1 AS BIGINT)) AS dist
      |FROM nation n ORDER BY nation""".stripMargin

  /** Harmonic centrality over the thresholded trade graph — the
    * distance-based centrality beside the flow-based ranks (pagerank
    * weighs WHO points at you, harmonic weighs how CLOSE everyone is:
    * a well-connected periphery node ranks here, never there), in the
    * disconnection-safe harmonic form (Boldi & Vigna, "Axioms for
    * Centrality": H(v) = Σ_{u≠v} 1/d(v,u), unreachable terms contribute
    * 0 — classic closeness is undefined on disconnected graphs, which
    * thresholded real graphs usually are). Exact integers: each term is
    * 1e6 DIV d, so both engines replay bit-for-bit; n_reach ships beside
    * it (the harmonic score of a tiny tight clique and a broad hub can
    * tie — the reach count disambiguates).
    *
    * Plan: same [[graphBfsOf]] frontier loop seeded with EVERY node as
    * its own source ((src, node, 0) — multi-source BFS is one loop, not
    * |V| loops); all state is entity-domain-sized ((≤|V|², here ≤625
    * rows), each round one join + anti-join on checkpoint-pinned
    * frontiers, rounds = graph diameter. The fact side is touched once,
    * through the shared persisted edge artifact. */
  def graphHarmonic(spark: SparkSession, dir: String): DataFrame = {
    // dense driver-side multi-source BFS (r14)
    val (names, es) = denseTradeGraph(spark, dir)
    GraphDense.harmonic(spark, names, GraphDense.keptPairs(es))
      .orderBy(col("nation"))
  }

  def graphHarmonicOf(nodes0: DataFrame, edges0: DataFrame): DataFrame = {
    val und = edges0.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("uw"))
    val stats = und.agg(count(lit(1)).as("n_pairs"), sum(col("uw")).as("tot"))
    val kept = und.crossJoin(broadcast(stats))
      .filter(col("uw") >= expr("tot DIV n_pairs"))
      .select(col("a"), col("b"))
    val bi = kept.select(col("a").as("n1"), col("b").as("n2"))
      .unionAll(kept.select(col("b").as("n1"), col("a").as("n2")))
      .localCheckpoint() // every BFS round joins it
    var dist = nodes0.select(col("node").as("src"), col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    var frontier = dist
    var d = 0L
    val cap = nodes0.count() // hop distance < |V| always
    while (d < cap && !frontier.isEmpty) {
      val next = bi.join(frontier, col("n1") === col("node"))
        .select(col("src"), col("n2").as("node")).distinct()
        .join(dist, Seq("src", "node"), "left_anti")
        .withColumn("dist", lit(d + 1L))
        .localCheckpoint()
      dist = dist.unionAll(next).localCheckpoint()
      frontier = next
      d += 1
    }
    val scores = dist.filter(col("dist") > 0)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_reach"),
        sum(expr("1000000 DIV dist")).as("harmonic_e6"))
    nodes0.join(scores, nodes0("node") === scores("src"), "left")
      .select(nodes0("node").as("nation"),
        coalesce(col("n_reach"), lit(0L)).as("n_reach"),
        coalesce(col("harmonic_e6"), lit(0L)).as("harmonic_e6"))
  }

  val graphHarmonicSql: String =
    """WITH RECURSIVE li AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
      |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_e4
      |  FROM lineitem
      |), edges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst, CAST(sum(rev_e4) AS BIGINT) AS w
      |  FROM li
      |  JOIN supplier s ON li.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      |  JOIN orders o ON li.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  GROUP BY 1, 2
      |), und AS (
      |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
      |    CAST(sum(w) AS BIGINT) AS uw
      |  FROM edges WHERE src <> dst GROUP BY 1, 2
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(uw) AS BIGINT) AS tot
      |  FROM und
      |), kept AS MATERIALIZED (
      |  SELECT a, b FROM und CROSS JOIN stats WHERE uw >= tot // n_pairs
      |), bi AS MATERIALIZED (
      |  SELECT a AS n1, b AS n2 FROM kept
      |  UNION ALL SELECT b AS n1, a AS n2 FROM kept
      |), walk(src, node, dist) AS (
      |  SELECT n_name, n_name, CAST(0 AS BIGINT) FROM nation
      |  UNION
      |  SELECT w.src, e.n2, w.dist + 1
      |  FROM walk w JOIN bi e ON e.n1 = w.node
      |  WHERE w.dist < (SELECT count(*) FROM nation)
      |), sp AS (
      |  SELECT src, node, min(dist) AS d FROM walk GROUP BY 1, 2
      |), sc AS (
      |  SELECT src, CAST(count(*) AS BIGINT) AS n_reach,
      |    CAST(sum(1000000 // d) AS BIGINT) AS harmonic_e6
      |  FROM sp WHERE d > 0 GROUP BY 1
      |)
      |SELECT n.n_name AS nation, coalesce(sc.n_reach, 0) AS n_reach,
      |  coalesce(sc.harmonic_e6, 0) AS harmonic_e6
      |FROM nation n LEFT JOIN sc ON sc.src = n.n_name
      |ORDER BY nation""".stripMargin

  val KCoreK = 3

  /** k-core membership (Seidman, Social Networks'83) over the thresholded
    * trade graph — the cohesion SUBGRAPH beside [[graphTriangles]]' per-
    * node coefficient: the k-core is the maximal subgraph where every
    * member keeps ≥ k significant partners, the standard "dense nucleus"
    * extraction (spam/fraud rings, ecosystem cores, community seeds).
    * Computed by iterative peeling: drop nodes with in-subgraph degree
    * < k until stable — each peel round is one degree aggregate + one
    * semi-join over the ENTITY-DOMAIN edge list (never fact-sized), and
    * the loop runs ≤ |V| rounds by construction (every non-final round
    * removes a node). Emits (nation, in_kcore, core_deg) — core_deg the
    * degree WITHIN the final core, 0 outside.
    *
    * Oracle: the peel unrolled as |V|−1 chained MATERIALIZED CTEs (the
    * graph_hits discipline) — guaranteed past the fixpoint, so equality
    * cross-proves the driver loop's convergence test. */
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    // dense driver-side peel (r14): each distributed peel round was one
    // materialized Spark job on a ≤25-node survivor set
    val (names, es) = denseTradeGraph(spark, dir)
    GraphDense.kcore(spark, names, GraphDense.keptPairs(es), KCoreK)
      .orderBy(col("nation"))
  }

  def graphKcoreOf(nodes0: DataFrame, edges0: DataFrame, k: Int): DataFrame = {
    val und = edges0.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("uw"))
    val stats = und.agg(count(lit(1)).as("n_pairs"), sum(col("uw")).as("tot"))
    val kept = und.crossJoin(broadcast(stats))
      .filter(col("uw") >= expr("tot DIV n_pairs"))
      .select(col("a"), col("b"))
    val bi = kept.select(col("a").as("n1"), col("b").as("n2"))
      .unionAll(kept.select(col("b").as("n1"), col("a").as("n2")))
      .localCheckpoint() // every peel round joins it
    var surv = bi.select(col("n1").as("node")).distinct().localCheckpoint()
    var n = surv.count()
    var stable = n == 0L
    while (!stable) {
      val deg = bi
        .join(surv, col("n1") === col("node")).drop("node")
        .join(surv.select(col("node").as("n2k")), col("n2") === col("n2k"))
        .groupBy(col("n1")).agg(count(lit(1)).as("deg"))
      val next = deg.filter(col("deg") >= k)
        .select(col("n1").as("node")).localCheckpoint()
      val m = next.count()
      stable = m == n || m == 0L
      n = m
      surv = next
    }
    val coreDeg = bi
      .join(surv, col("n1") === col("node")).drop("node")
      .join(surv.select(col("node").as("n2k")), col("n2") === col("n2k"))
      .groupBy(col("n1")).agg(count(lit(1)).as("core_deg"))
    nodes0.join(coreDeg, nodes0("node") === coreDeg("n1"), "left")
      .select(nodes0("node").as("nation"),
        when(col("core_deg").isNotNull, 1L).otherwise(0L).as("in_kcore"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
  }

  val graphKcoreSql: String = {
    val rounds = 24 // |V|−1: each non-final peel round removes ≥1 of ≤25
    val steps = (1 to rounds).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT b.n1 AS node, count(*) AS deg
         |    FROM bi b
         |    JOIN s${i - 1} x ON b.n1 = x.node
         |    JOIN s${i - 1} y ON b.n2 = y.node
         |    GROUP BY 1)
         |  WHERE deg >= $KCoreK
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_suppkey,
       |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
       |      (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS rev_e4
       |  FROM lineitem
       |), edges AS (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, CAST(sum(rev_e4) AS BIGINT) AS w
       |  FROM li
       |  JOIN supplier s ON li.l_suppkey = s.s_suppkey
       |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
       |  JOIN orders o ON li.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  GROUP BY 1, 2
       |), und AS (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |    CAST(sum(w) AS BIGINT) AS uw
       |  FROM edges WHERE src <> dst GROUP BY 1, 2
       |), stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(uw) AS BIGINT) AS tot
       |  FROM und
       |), kept AS MATERIALIZED (
       |  SELECT a, b FROM und CROSS JOIN stats WHERE uw >= tot // n_pairs
       |), bi AS MATERIALIZED (
       |  SELECT a AS n1, b AS n2 FROM kept
       |  UNION ALL SELECT b AS n1, a AS n2 FROM kept
       |), s0 AS MATERIALIZED (
       |  SELECT DISTINCT n1 AS node FROM bi
       |),
       |$steps,
       |cd AS (
       |  SELECT b.n1 AS node, CAST(count(*) AS BIGINT) AS core_deg
       |  FROM bi b
       |  JOIN s$rounds x ON b.n1 = x.node
       |  JOIN s$rounds y ON b.n2 = y.node
       |  GROUP BY 1
       |)
       |SELECT n.n_name AS nation,
       |  CAST(CASE WHEN cd.node IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_kcore,
       |  coalesce(cd.core_deg, 0) AS core_deg
       |FROM nation n LEFT JOIN cd ON cd.node = n.n_name
       |ORDER BY nation""".stripMargin
  }

  /** User×user co-activity graph — the CORPUS-scale graph domain (the five
    * gate analytics run over the ≤625-edge nation graph, an entity-domain
    * table; this derives a graph whose vertex set grows with the data).
    * Two users share an edge when both were active in the same hour
    * bucket, weighted by the number of co-active hours.
    *
    * Bounded BY CONSTRUCTION at every step — the q_basket_pairs capped-
    * pair discipline:
    *  1. (hour, user) activity collapses on the hour exchange (one
    *     corpus-sized shuffle, partial-aggregated);
    *  2. each hour keeps only its top-`topPerHour` users by activity
    *     (deterministic tie-break), so the within-hour pair join emits
    *     ≤ C²/2 rows per hour and RIDES the same hour-keyed shuffle —
    *     never a user×user cross product;
    *  3. each user keeps only its top-`topNeighbors` co-occurrers, so
    *     downstream iteration (pagerank/components) sees bounded degree.
    * Hours are calendar-bounded and users entity-bounded, so every
    * intermediate is min(calendar×C², users×topNeighbors) rows. Probed
    * at ×1/×10/×30 in ScaleProbe r9 (SURVEY §5). */
  def userCoSessionGraphOf(ev: DataFrame, topPerHour: Int = 20,
                           topNeighbors: Int = 8): DataFrame = {
    val hours = ev
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(3600L * 1000000L)).cast("long").as("hr"))
      .groupBy(col("hr"), col("user_id")).agg(count(lit(1)).as("n"))
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hr")).orderBy(col("n").desc, col("user_id"))
    val capped = hours
      .withColumn("rn", row_number().over(wH)).filter(col("rn") <= topPerHour)
      .select(col("hr"), col("user_id"))
    val pairs = capped.as("x")
      .join(capped.as("y"), Seq("hr"))
      .filter(col("x.user_id") < col("y.user_id"))
      .select(col("x.user_id").as("a"), col("y.user_id").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
    val wN = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("w").desc, col("b"))
    pairs
      .withColumn("rn", row_number().over(wN)).filter(col("rn") <= topNeighbors)
      .select(col("a"), col("b"), col("w"))
  }

  /** Connected components over the user×user co-activity graph — the
    * second-domain gate for [[Components]] (dedup_clusters/embed_clusters
    * consume it over doc/embedding dup graphs; this drives the SAME
    * hybrid propagation→large/small-star fixpoint over a graph whose
    * vertex set grows with the data, previously only probe-covered).
    * Per user: (user_id, component, comp_size) with component = min
    * user_id reachable — the community-island report behind cohorting,
    * fraud-ring review, and social-feature backfills.
    *
    * Plan shape: the graph derivation is [[userCoSessionGraphOf]]'s
    * capped pipeline (every intermediate bounded by construction); the
    * CC fixpoint is O(log n) rounds regardless of component diameter
    * (Kiveris SoCC'14 star phase); component sizes are a component-grain
    * aggregate broadcast back onto the user-grain labels. Users with no
    * edges label themselves via the left join — the singleton majority
    * never enters the fixpoint loop (each round is O(|edge subgraph|),
    * not O(users)).
    *
    * Oracle: DuckDB re-derives the capped graph and resolves components
    * as recursive-CTE reachability closure + min label — an
    * independent algorithm (transitive closure vs star contraction), so
    * the hash gate cross-proves the fixpoint, not just the derivation. */
  def graphComponents(spark: SparkSession, dir: String): DataFrame =
    coActivityLabels(spark, dir).orderBy(col("user_id"))

  /** Persisted co-activity component labels per events fingerprint — the
    * clusterLabels/trade-graph artifact discipline: the capped graph
    * derivation + CC fixpoint run ONCE per corpus (16.8 s live at sf0.1,
    * a graph build no consumer should re-pay per query); reads are
    * fingerprint-keyed, writes atomic + _SUCCESS-gated, same-corpus
    * orphans GC'd. The "cc-" name prefix keeps these artifacts disjoint
    * from the trade-edge artifacts sharing the parent dir. */
  def coActivityLabels(spark: SparkSession, dir: String): DataFrame =
    graft.serving.StorePaths.cachedArtifact(spark,
      "graft.graph.dir", "graft_graph",
      "cc-" + graft.serving.StorePaths.corpusKey(dir) + "-",
      graft.serving.StorePaths.tableFingerprint(spark, Seq(s"$dir/events.parquet")))(
      graphComponentsOf(Tables.events(spark, dir)))

  /** Warm the persisted co-activity label artifact (bench/offline hook). */
  def warmCoActivityLabels(spark: SparkSession, dir: String): Unit = {
    coActivityLabels(spark, dir).count(): Unit
    coActivityEdges(spark, dir).count(): Unit
  }

  /** Persisted co-activity EDGE artifact per events fingerprint — the
    * capped (a, b, w) co-session graph itself, sibling of the label
    * artifact ("ccedges-" prefix keeps the GC families disjoint). The
    * graph derivation is the expensive half of every co-activity
    * consumer; pagerank-over-users reads this instead of re-deriving. */
  def coActivityEdges(spark: SparkSession, dir: String): DataFrame =
    graft.serving.StorePaths.cachedArtifact(spark,
      "graft.graph.dir", "graft_graph",
      "ccedges-" + graft.serving.StorePaths.corpusKey(dir) + "-",
      graft.serving.StorePaths.tableFingerprint(spark, Seq(s"$dir/events.parquet")))(
      userCoSessionGraphOf(Tables.events(spark, dir)))

  def graphComponentsOf(ev: DataFrame): DataFrame = {
    val edges = userCoSessionGraphOf(ev)
    val labels = Components.minLabel(edges.select(col("a"), col("b")))
      .select(col("doc_id").as("user_id"), col("lbl").as("component"))
    val users = ev.select(col("user_id")).distinct()
    val lab = users.join(labels, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("component"), col("user_id")).as("component"))
    // component-domain table: worst case |users| rows (every edge-less
    // user is its own singleton component), so this is a GROWING domain
    // and the join is deliberately un-hinted — AQE broadcasts it at gate
    // SFs (plan-pinned in PlanShapeSpec) and shuffles on `component`
    // once the singleton majority outgrows the broadcast limit; same
    // conditional-broadcast discipline as graphPagerankOf's rank vector
    // and triangleCensusOf's degree table.
    val sizes = lab.groupBy(col("component")).agg(count(lit(1)).as("comp_size"))
    lab.join(sizes, Seq("component"))
      .select(col("user_id"), col("component"), col("comp_size"))
      .orderBy(col("user_id"))
  }

  val graphComponentsSql: String =
    """WITH RECURSIVE hrs AS (
      |  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr, user_id,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), capped AS MATERIALIZED (
      |  SELECT hr, user_id FROM (
      |    SELECT hr, user_id,
      |      row_number() OVER (PARTITION BY hr ORDER BY n DESC, user_id) AS rn
      |    FROM hrs) WHERE rn <= 20
      |), pairs AS (
      |  SELECT x.user_id AS a, y.user_id AS b, count(*) AS w
      |  FROM capped x JOIN capped y ON x.hr = y.hr AND x.user_id < y.user_id
      |  GROUP BY 1, 2
      |), kept AS MATERIALIZED (
      |  SELECT a, b FROM (
      |    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY w DESC, b) AS rn
      |    FROM pairs) WHERE rn <= 8
      |), bi AS MATERIALIZED (
      |  SELECT a AS n1, b AS n2 FROM kept
      |  UNION ALL SELECT b AS n1, a AS n2 FROM kept
      |), reach(src, node) AS (
      |  SELECT n1, n1 FROM bi
      |  UNION
      |  SELECT r.src, e.n2 FROM reach r JOIN bi e ON e.n1 = r.node
      |), lbl AS (
      |  SELECT src AS user_id, min(node) AS component FROM reach GROUP BY 1
      |), lab AS (
      |  SELECT u.user_id, coalesce(l.component, u.user_id) AS component
      |  FROM (SELECT DISTINCT user_id FROM events) u
      |  LEFT JOIN lbl l USING (user_id)
      |), sz AS (SELECT component, count(*) AS comp_size FROM lab GROUP BY 1)
      |SELECT lab.user_id, CAST(lab.component AS BIGINT) AS component,
      |  CAST(sz.comp_size AS BIGINT) AS comp_size
      |FROM lab JOIN sz USING (component) ORDER BY lab.user_id""".stripMargin

  /** Weighted PageRank over the GROWING user×user co-activity graph —
    * the same exact-integer iteration core as [[graphPagerank]], promoted
    * from the 25-node nation domain to a vertex set that scales with the
    * data (the r10 verdict's ask: every other flow op gates on the fixed
    * nation graph; graph_components proved this domain works as a gate).
    * Edges are the PERSISTED capped co-session graph
    * ([[coActivityEdges]]: ≤ topNeighbors per user by construction),
    * symmetrized src↔dst because co-activity is undirected — influence
    * here reads "which users sit at the center of co-active clusters".
    *
    * Scale shape: the derivation cost lives in the fingerprinted
    * artifact (one build per corpus); each of the [[PageRankIters]]
    * rounds joins the rank vector onto the capped edge table and
    * partial-aggregates by dst — O(|users|·topNeighbors) per round, no
    * corpus rescans (the artifact read is the only source). Singleton
    * users never enter the loop's edge join and surface at the dangling
    * rank, identically in both engines. Oracle: the co-session graph
    * re-derived in SQL + the pagerank recurrence unrolled as a CTE
    * chain — exact BIGINT arithmetic throughout, hash-gated. */
  def graphPagerankUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = coActivityEdges(spark, dir)
    val edges = e.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(e.select(col("b").as("src"), col("a").as("dst"), col("w")))
    val nodes = Tables.events(spark, dir)
      .select(col("user_id").as("node")).distinct()
    graphPagerankOf(nodes, edges, broadcastRanks = false)
      .select(col("nation").as("user_id"), col("rank_e6"))
      .orderBy(col("rank_e6").desc, col("user_id"))
  }

  val graphPagerankUsersSql: String = {
    val iters = (1 to PageRankIters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    150000 + 85 * coalesce(m.in_mass, 0) // 100 AS rank_e6
         |  FROM nodes n LEFT JOIN (
         |    SELECT s.dst, CAST(sum(r.rank_e6 * s.share_e9 // 1000000000) AS BIGINT)
         |      AS in_mass
         |    FROM shares s JOIN r${i - 1} r ON s.src = r.node GROUP BY 1
         |  ) m ON n.node = m.dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH hrs AS (
       |  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr, user_id,
       |    count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), capped AS MATERIALIZED (
       |  SELECT hr, user_id FROM (
       |    SELECT hr, user_id,
       |      row_number() OVER (PARTITION BY hr ORDER BY n DESC, user_id) AS rn
       |    FROM hrs) WHERE rn <= 20
       |), pairs AS (
       |  SELECT x.user_id AS a, y.user_id AS b, count(*) AS w
       |  FROM capped x JOIN capped y ON x.hr = y.hr AND x.user_id < y.user_id
       |  GROUP BY 1, 2
       |), kept AS MATERIALIZED (
       |  SELECT a, b, w FROM (
       |    SELECT a, b, w, row_number() OVER (PARTITION BY a ORDER BY w DESC, b) AS rn
       |    FROM pairs) WHERE rn <= 8
       |), edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst, CAST(w AS BIGINT) AS w FROM kept
       |  UNION ALL SELECT b AS src, a AS dst, CAST(w AS BIGINT) AS w FROM kept
       |), ow AS (
       |  SELECT src, CAST(sum(w) AS BIGINT) AS w_out,
       |    greatest(1, CAST(sum(w) AS BIGINT) // 100000000) AS s
       |  FROM edges GROUP BY 1
       |), shares AS MATERIALIZED (
       |  SELECT e.src, e.dst,
       |    CAST((e.w // o.s) * 1000000000 // (o.w_out // o.s) AS BIGINT) AS share_e9
       |  FROM edges e JOIN ow o USING (src)
       |), nodes AS MATERIALIZED (
       |  SELECT DISTINCT user_id AS node FROM events
       |), r0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS rank_e6 FROM nodes
       |),
       |$iters
       |SELECT node AS user_id, CAST(rank_e6 AS BIGINT) AS rank_e6
       |FROM r$PageRankIters
       |ORDER BY rank_e6 DESC, user_id""".stripMargin
  }

  /** K-core decomposition over the GROWING user×user co-activity graph —
    * the second flow op promoted off the 25-node nation domain (the r11
    * verdict's ask; [[graphPagerankUsers]] proved the domain): which users
    * sit inside a mutually-dense co-activity core vs the periphery — the
    * cohort a growth team actually targets, and the standard engagement
    * robustness cut (a user in the k-core stays engaged even if k−1
    * co-active peers churn).
    *
    * CONTRACT: a [[KCoreUsersRounds]]-round TRUNCATED simultaneous peel
    * (drop every node with < [[KCoreUsersK]] surviving neighbors, all at
    * once, per round). Truncation makes Spark and the unrolled-CTE oracle
    * equal BY CONSTRUCTION at any convergence behavior: the Spark loop
    * early-exits when a round removes nothing (every later round is then
    * the identity, so running fewer is indistinguishable), and the oracle
    * runs all rounds unconditionally. Measured convergence: 1 round at
    * sf0.01 (150 users, min co-activity degree 8 ≥ k — all in-core,
    * core_deg still per-node), 5 rounds at sf0.1 (1124 of 1426 in-core);
    * 16 rounds is 3× the observed worst case.
    *
    * Scale shape: edges come from the PERSISTED capped co-session
    * artifact ([[coActivityEdges]] — ≤ topNeighbors out-edges per user by
    * construction, so |E| ≤ 8·|users| and every peel round is one degree
    * aggregate + two semi-joins over that bounded edge table: O(rounds·|E|)
    * total, zero corpus rescans. Oracle: the capped graph re-derived in
    * SQL + the peel unrolled as [[KCoreUsersRounds]] materialized CTEs
    * (the graph_kcore discipline), exact integers throughout. */
  val KCoreUsersK = 6
  val KCoreUsersRounds = 16

  def graphKcoreUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = coActivityEdges(spark, dir)
    val coreDeg = kcoreTruncatedPeel(
      e.select(col("a"), col("b")), KCoreUsersK, KCoreUsersRounds)
    Tables.events(spark, dir).select(col("user_id")).distinct()
      .join(coreDeg, col("user_id") === col("node"), "left")
      .select(col("user_id"),
        when(col("core_deg").isNotNull, 1L).otherwise(0L).as("in_kcore"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
      .orderBy(col("user_id"))
  }

  /** The truncated simultaneous peel over an (a, b) unique-undirected-pair
    * edge list: up to `maxRounds` rounds, early exit when a round removes
    * nothing (the identity from then on, so early exit is unobservable).
    * Returns survivors as (node, core_deg) with core_deg the degree
    * WITHIN the surviving subgraph. */
  private[graft] def kcoreTruncatedPeel(pairs: DataFrame, k: Int,
                                        maxRounds: Int): DataFrame = {
    // pairs always have a < b (an a<b pair join derives them), so the
    // symmetrized list has no duplicate directed edges and a count(*) per
    // n1 IS the distinct-neighbor degree
    val bi = pairs.select(col("a").as("n1"), col("b").as("n2"))
      .unionAll(pairs.select(col("b").as("n1"), col("a").as("n2")))
      .localCheckpoint() // every peel round joins it twice
    var surv = bi.select(col("n1").as("node")).distinct().localCheckpoint()
    var n = surv.count()
    var round = 0
    var stable = n == 0L
    // r14: the PINNED frame per round is the degree table, not the
    // survivor projection — survivors are a cheap filter of it, and on a
    // STABLE exit (next == surv: the peel is monotone, next ⊆ surv, so
    // equal counts ARE set equality) the final core degrees equal the
    // last round's degrees verbatim, saving the closing two-join
    // aggregate pass over the edge list (guide §1.2 — don't recompute
    // what the loop already produced).
    var lastDeg: DataFrame = null
    while (!stable && round < maxRounds) {
      val deg = bi
        .join(surv, col("n1") === col("node")).drop("node")
        .join(surv.select(col("node").as("n2k")), col("n2") === col("n2k"))
        .groupBy(col("n1")).agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      val next = deg.filter(col("deg") >= k).select(col("n1").as("node"))
      val m = next.count()
      stable = m == n || m == 0L
      n = m
      surv = next
      lastDeg = deg
      round += 1
    }
    if (stable && n > 0L && lastDeg != null)
      lastDeg.filter(col("deg") >= k)
        .select(col("n1").as("node"), col("deg").as("core_deg"))
    else // truncated or emptied: degrees w.r.t. the FINAL survivor set
      bi
        .join(surv, col("n1") === col("node")).drop("node")
        .join(surv.select(col("node").as("n2k")), col("n2") === col("n2k"))
        .groupBy(col("n1").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  val graphKcoreUsersSql: String = {
    val steps = (1 to KCoreUsersRounds).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT b.n1 AS node, count(*) AS deg
         |    FROM bi b
         |    JOIN s${i - 1} x ON b.n1 = x.node
         |    JOIN s${i - 1} y ON b.n2 = y.node
         |    GROUP BY 1)
         |  WHERE deg >= $KCoreUsersK
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH hrs AS (
       |  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr, user_id,
       |    count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), capped AS MATERIALIZED (
       |  SELECT hr, user_id FROM (
       |    SELECT hr, user_id,
       |      row_number() OVER (PARTITION BY hr ORDER BY n DESC, user_id) AS rn
       |    FROM hrs) WHERE rn <= 20
       |), pairs AS (
       |  SELECT x.user_id AS a, y.user_id AS b, count(*) AS w
       |  FROM capped x JOIN capped y ON x.hr = y.hr AND x.user_id < y.user_id
       |  GROUP BY 1, 2
       |), kept AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY w DESC, b) AS rn
       |    FROM pairs) WHERE rn <= 8
       |), bi AS MATERIALIZED (
       |  SELECT a AS n1, b AS n2 FROM kept
       |  UNION ALL SELECT b AS n1, a AS n2 FROM kept
       |), s0 AS MATERIALIZED (
       |  SELECT DISTINCT n1 AS node FROM bi
       |),
       |$steps,
       |cd AS (
       |  SELECT b.n1 AS node, CAST(count(*) AS BIGINT) AS core_deg
       |  FROM bi b
       |  JOIN s$KCoreUsersRounds x ON b.n1 = x.node
       |  JOIN s$KCoreUsersRounds y ON b.n2 = y.node
       |  GROUP BY 1
       |)
       |SELECT u.user_id,
       |  CAST(CASE WHEN cd.node IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_kcore,
       |  coalesce(cd.core_deg, 0) AS core_deg
       |FROM (SELECT DISTINCT user_id FROM events) u
       |LEFT JOIN cd ON cd.node = u.user_id
       |ORDER BY u.user_id""".stripMargin
  }

  /** Radius of the truncated harmonic — part of the op's CONTRACT, not a
    * convergence knob: harmonic_e6 is the exact harmonic centrality of
    * the radius-[[HarmonicUsersRadius]] ball, H_R(v) = Σ_{0<d(v,u)≤R}
    * 1e6 DIV d. Measured at the gate corpora the capped graph's giant
    * component has diameter ≤ R (the BFS frontier empties before the
    * cap), so the truncated and full scores coincide there — but the
    * TRUNCATION is what survives 100 TB, see below. */
  val HarmonicUsersRadius = 4

  /** Harmonic centrality over the GROWING user×user co-activity graph —
    * the DISTANCE op promoted off the 25-node nation domain (the r12
    * verdict's ask; pagerank/k-core/triangles proved the domain): how
    * close a user sits to everyone else in the co-activity fabric, in
    * the disconnection-safe harmonic form ([[graphHarmonic]]'s Boldi &
    * Vigna semantics) — the reach/centrality cut beside the flow ranks.
    *
    * Scale shape: FULL all-pairs harmonic is inherently O(|V|²) state on
    * a connected graph — the formulation that dies at a 10⁸-user domain
    * no matter how it is scheduled. The shipped op is therefore
    * RADIUS-TRUNCATED by contract: a multi-source BFS over the PERSISTED
    * capped co-session artifact ([[coActivityEdges]], ≤ 8 out-edges per
    * user so |E| ≤ 8·|users|), run exactly [[HarmonicUsersRadius]]
    * frontier rounds — state is the (src, node) pairs within the R-ball,
    * ≤ |V|·(2·8)^R rows with a CONSTANT cap factor (degree bound times
    * radius, independent of |V|), each round one edge join + one
    * anti-join on checkpoint-pinned frontiers. Early exit when a
    * frontier empties is unobservable (later rounds are the identity),
    * exactly the [[graphKcoreUsers]] truncation discipline.
    *
    * Oracle: capped graph re-derived in SQL + the ball unrolled as R
    * chained DISTINCT hop levels; min(level) per (src, node) is the true
    * BFS distance (a shortest path is itself a walk, so a node's first
    * level IS d), cross-proving the Spark frontier loop's anti-join
    * bookkeeping. Exact integers (1e6 DIV d) throughout. */
  def graphHarmonicUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = coActivityEdges(spark, dir)
    val scores = harmonicTruncated(
      e.select(col("a"), col("b")), HarmonicUsersRadius)
    Tables.events(spark, dir).select(col("user_id")).distinct()
      .join(scores, col("user_id") === col("node"), "left")
      .select(col("user_id"),
        coalesce(col("n_reach"), lit(0L)).as("n_reach"),
        coalesce(col("harmonic_e6"), lit(0L)).as("harmonic_e6"))
      .orderBy(col("user_id"))
  }

  /** Multi-source BFS to `radius` hops over an (a, b) unique-undirected-
    * pair list; returns (node, n_reach, harmonic_e6) for every node with
    * at least one edge (edge-less nodes join back as 0/0 at the caller). */
  private[graft] def harmonicTruncated(pairs: DataFrame,
                                       radius: Int): DataFrame = {
    val bi = pairs.select(col("a").as("n1"), col("b").as("n2"))
      .unionAll(pairs.select(col("b").as("n1"), col("a").as("n2")))
      .localCheckpoint() // every BFS round joins it
    val seed = bi.select(col("n1").as("src")).distinct()
      .select(col("src"), col("src").as("node"), lit(0L).as("dist"))
      .localCheckpoint()
    // r14: the BFS guard is the union of the LAST TWO pinned frontiers,
    // not the full cumulative visited set — on an undirected graph a
    // neighbor of a distance-d node has distance d−1, d or d+1, so
    // N(F_d) ∩ visited = N(F_d) ∩ (F_d ∪ F_{d−1}) exactly (per source;
    // the classic BFS frontier identity). Early frontiers are read only
    // once more, by the final aggregate.
    //
    // r15 (guide §2.4 — remove shuffles outright): the old round was
    // distinct()-then-anti-join — an exchange for the candidate dedup,
    // then a second exchange (+ two sorts) to anti-join the guard, every
    // pinned frame re-entering with UnknownPartitioning so nothing is
    // reused. Both steps are ONE aggregate: union the expanded
    // candidates (vis=0) with the guard rows (vis=1), group by
    // (src, node), keep groups with max(vis)=0 — a group survives iff it
    // contains a candidate row and no guard row, which is exactly
    // "distinct candidates minus visited". Guard-only groups carry
    // vis=1 and drop; map-side partial max dedupes candidates before
    // the shuffle just as distinct() did. One exchange per round, no
    // sorts, same row set (Round13OpsSpec pins the ball arithmetic).
    val fronts = scala.collection.mutable.ArrayBuffer(seed)
    var frontier = seed
    var prev: DataFrame = null
    var d = 0L
    while (d < radius && !frontier.isEmpty) {
      val guard =
        if (prev == null) frontier
        else frontier.select(col("src"), col("node"))
          .unionAll(prev.select(col("src"), col("node")))
      val next = bi.join(frontier, col("n1") === col("node"))
        .select(col("src"), col("n2").as("node"), lit(0).as("vis"))
        .unionAll(guard.select(col("src"), col("node"), lit(1).as("vis")))
        .groupBy(col("src"), col("node"))
        .agg(max(col("vis")).as("vis"))
        .filter(col("vis") === 0)
        .select(col("src"), col("node"), lit(d + 1L).as("dist"))
        .localCheckpoint()
      fronts += next
      prev = frontier
      frontier = next
      d += 1
    }
    fronts.reduce(_ unionAll _).filter(col("dist") > 0)
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("n_reach"),
        sum(expr("1000000 DIV dist")).as("harmonic_e6"))
  }

  val graphHarmonicUsersSql: String = {
    val hops = (2 to HarmonicUsersRadius).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT DISTINCT p.src, b.n2 AS node
         |  FROM p${i - 1} p JOIN bi b ON b.n1 = p.node
         |)""".stripMargin
    }.mkString(",\n")
    val levels = (1 to HarmonicUsersRadius)
      .map(i => s"SELECT src, node, $i AS lvl FROM p$i")
      .mkString("\n    UNION ALL ")
    s"""WITH hrs AS (
       |  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr, user_id,
       |    count(*) AS n
       |  FROM events GROUP BY 1, 2
       |), capped AS MATERIALIZED (
       |  SELECT hr, user_id FROM (
       |    SELECT hr, user_id,
       |      row_number() OVER (PARTITION BY hr ORDER BY n DESC, user_id) AS rn
       |    FROM hrs) WHERE rn <= 20
       |), pairs AS (
       |  SELECT x.user_id AS a, y.user_id AS b, count(*) AS w
       |  FROM capped x JOIN capped y ON x.hr = y.hr AND x.user_id < y.user_id
       |  GROUP BY 1, 2
       |), kept AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY w DESC, b) AS rn
       |    FROM pairs) WHERE rn <= 8
       |), bi AS MATERIALIZED (
       |  SELECT a AS n1, b AS n2 FROM kept
       |  UNION ALL SELECT b AS n1, a AS n2 FROM kept
       |), p1 AS MATERIALIZED (
       |  SELECT DISTINCT n1 AS src, n2 AS node FROM bi
       |),
       |$hops,
       |sp AS (
       |  SELECT src, node, min(lvl) AS d FROM (
       |    $levels)
       |  WHERE src <> node GROUP BY 1, 2
       |), sc AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS n_reach,
       |    CAST(sum(1000000 // d) AS BIGINT) AS harmonic_e6
       |  FROM sp GROUP BY 1
       |)
       |SELECT u.user_id, coalesce(sc.n_reach, 0) AS n_reach,
       |  coalesce(sc.harmonic_e6, 0) AS harmonic_e6
       |FROM (SELECT DISTINCT user_id FROM events) u
       |LEFT JOIN sc ON sc.src = u.user_id
       |ORDER BY u.user_id""".stripMargin
  }

  /** Triangle census over the GROWING user×user co-activity graph — the
    * third flow op on the corpus-scaling domain (pagerank = influence,
    * k-core = engagement robustness, triangles = local cohesion: a user
    * whose co-active pairs are THEMSELVES co-active sits in a genuine
    * group, not a hub-and-spoke artifact — the classic social-capital /
    * community-quality signal, and the clustering-coefficient input).
    *
    * Scale shape: edges are the PERSISTED capped co-session artifact
    * (≤8 out-edges/user, |E| ≤ 8·|users|); the census is the shared
    * rank-oriented form ([[triangleCensusOf]]) — each edge oriented from
    * its lower-(degree, id) endpoint, so wedge fan-out is bounded by the
    * LOWER-ranked degree and a hub user (one who appears in thousands of
    * top-8 lists) cannot explode the wedge join: O(E^1.5) total. Oracle:
    * the capped graph re-derived in SQL + the naive a<b triangle join
    * (exact at oracle scale) — cross-proving the rank-oriented census
    * against an independent enumeration, the graph_triangles discipline
    * on the growing domain. */
  def graphTrianglesUsers(spark: SparkSession, dir: String): DataFrame = {
    val kept = coActivityEdges(spark, dir).select(col("a"), col("b"))
      .localCheckpoint() // degree + 3 census joins reuse it
    triangleCensusOf(kept,
      Tables.events(spark, dir).select(col("user_id").as("node")).distinct(),
      "user_id", broadcastDeg = false)
      .orderBy(col("user_id"))
  }

  val graphTrianglesUsersSql: String =
    """WITH hrs AS (
      |  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr, user_id,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), capped AS MATERIALIZED (
      |  SELECT hr, user_id FROM (
      |    SELECT hr, user_id,
      |      row_number() OVER (PARTITION BY hr ORDER BY n DESC, user_id) AS rn
      |    FROM hrs) WHERE rn <= 20
      |), pairs AS (
      |  SELECT x.user_id AS a, y.user_id AS b, count(*) AS w
      |  FROM capped x JOIN capped y ON x.hr = y.hr AND x.user_id < y.user_id
      |  GROUP BY 1, 2
      |), kept AS MATERIALIZED (
      |  SELECT a, b FROM (
      |    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY w DESC, b) AS rn
      |    FROM pairs) WHERE rn <= 8
      |), deg AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
      |    SELECT a AS v FROM kept UNION ALL SELECT b AS v FROM kept
      |  ) GROUP BY 1
      |), tris AS (
      |  SELECT k1.a AS x, k1.b AS y, k2.b AS z
      |  FROM kept k1
      |  JOIN kept k2 ON k2.a = k1.a AND k2.b > k1.b
      |  JOIN kept k3 ON k3.a = k1.b AND k3.b = k2.b
      |), tc AS (
      |  SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
      |    SELECT x AS v FROM tris UNION ALL SELECT y AS v FROM tris
      |    UNION ALL SELECT z AS v FROM tris
      |  ) GROUP BY 1
      |)
      |SELECT u.user_id, coalesce(d.degree, 0) AS degree,
      |  coalesce(t.n_tri, 0) AS n_tri,
      |  CAST(coalesce(d.degree, 0) * (coalesce(d.degree, 0) - 1) // 2
      |    AS BIGINT) AS tri_possible,
      |  CAST(coalesce(t.n_tri, 0) * 10000 // greatest(
      |    coalesce(d.degree, 0) * (coalesce(d.degree, 0) - 1) // 2, 1)
      |    AS BIGINT) AS clust_bp
      |FROM (SELECT DISTINCT user_id FROM events) u
      |LEFT JOIN deg d ON u.user_id = d.v
      |LEFT JOIN tc t ON u.user_id = t.v
      |ORDER BY u.user_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank_users" -> (graphPagerankUsers _),
    "graph_kcore_users" -> (graphKcoreUsers _),
    "graph_harmonic_users" -> (graphHarmonicUsers _),
    "graph_triangles_users" -> (graphTrianglesUsers _),
    "graph_bfs"         -> (graphBfs _),
    "graph_pagerank"    -> (graphPagerank _),
    "graph_hits"        -> (graphHits _),
    "graph_triangles"   -> (graphTriangles _),
    "graph_components"  -> (graphComponents _),
    "graph_harmonic"    -> (graphHarmonic _),
    "graph_kcore"       -> (graphKcore _),
    "graph_reciprocity" -> (graphReciprocity _))

  val oracle: Map[String, String] = Map(
    "graph_pagerank_users" -> graphPagerankUsersSql,
    "graph_kcore_users" -> graphKcoreUsersSql,
    "graph_harmonic_users" -> graphHarmonicUsersSql,
    "graph_triangles_users" -> graphTrianglesUsersSql,
    "graph_bfs"         -> graphBfsSql,
    "graph_pagerank"    -> graphPagerankSql,
    "graph_hits"        -> graphHitsSql,
    "graph_triangles"   -> graphTrianglesSql,
    "graph_components"  -> graphComponentsSql,
    "graph_harmonic"    -> graphHarmonicSql,
    "graph_kcore"       -> graphKcoreSql,
    "graph_reciprocity" -> graphReciprocitySql)
}
