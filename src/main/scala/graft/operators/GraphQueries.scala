package graft.operators

import graft.GQuery
import graft.Tables.t
import graft.graph.Dijkstra
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph operator pack — the reference's graph analytics surface (SURVEY.md
  * §2.7: weighted-Dijkstra SSSP G8/G9, projections G1/G2, degrees, components)
  * expressed over graphs derived from the driver's tables so every operator
  * has a DuckDB oracle (recursive-CTE shortest path / closed forms).
  *
  * The nation graph is a deterministic ring+chord topology over the 25
  * `nation` rows (edges i→i±1, i→i±7 mod 25); edge weights are either unit
  * (G8 "shortest", reference cost=1 at `database.rs:375`), arithmetic-derived,
  * or the reference's risk formula computed from customer data (G9 "safest",
  * `database.rs:311-332`). All weights are small integers so path costs are
  * exact in both engines.
  *
  * Scale: GraphX partitions edges (EdgePartition2D at build time); Pregel
  * supersteps are Spark jobs over edge partitions, so the same program runs
  * unchanged on a 1000-executor cluster. The 25-node instance is a
  * correctness fixture; the part⟷supplier bipartite graph (q20) grows with
  * the data.
  */
object GraphQueries {

  private val N = 25 // |nation| is fixed at every TPC-H scale factor

  /** Directed ring+chord edge list (src, dst) over nation keys. */
  private def ringChordEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = t(s, dir, "nation").select($"n_nationkey".cast("long").as("id"))
    Seq(1, N - 1, 7, N - 7)
      .map(d => n.select($"id".as("src"), (($"id" + d) % N).as("dst")))
      .reduce(_ union _)
  }

  private def graphOf(edges: DataFrame): Graph[Long, Double] = {
    val edgeRdd = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("double"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    Graph.fromEdges(edgeRdd, defaultValue = 0L)
  }

  private def ssspFrame(s: SparkSession, edges: DataFrame, source: VertexId): DataFrame = {
    import s.implicits._
    // DataFrame-returning SSSP: the distance table stays distributed on
    // the large-graph branch (dist values are exact integers here, so the
    // long cast is lossless and matches the BIGINT oracle)
    Dijkstra.ssspFrameFromEdges(edges, source)
      .select($"id".cast("int").as("n_nationkey"), $"dist".cast("long").as("dist"))
      .orderBy($"n_nationkey")
  }

  /** Oracle scaffold: bounded-depth recursive CTE SSSP — enumerates (node,
    * dist) states with UNION dedup; `maxDist` bounds recursion. */
  private def ssspOracle(edgesSql: String, maxDist: Int): String =
    s"""WITH RECURSIVE edges AS ($edgesSql),
       |r(node, dist) AS (
       |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  UNION
       |  SELECT e.dst, r.dist + e.w FROM r JOIN edges e ON e.src = r.node
       |  WHERE r.dist + e.w <= $maxDist)
       |SELECT CAST(node AS INTEGER) AS n_nationkey, CAST(MIN(dist) AS BIGINT) AS dist
       |FROM r GROUP BY node ORDER BY n_nationkey""".stripMargin

  private val ringChordSql =
    s"""SELECT CAST(n_nationkey AS BIGINT) AS src, CAST((n_nationkey + 1) % $N AS BIGINT) AS dst FROM nation
       |  UNION ALL SELECT n_nationkey, (n_nationkey + ${N - 1}) % $N FROM nation
       |  UNION ALL SELECT n_nationkey, (n_nationkey + 7) % $N FROM nation
       |  UNION ALL SELECT n_nationkey, (n_nationkey + ${N - 7}) % $N FROM nation""".stripMargin

  /** q17 — G8 "shortest": unit-cost Dijkstra from node 0 (cost=1 per the
    * reference, `database.rs:375` — shortest = fewest jumps). */
  private def q17(s: SparkSession, dir: String): DataFrame =
    ssspFrame(s, ringChordEdges(s, dir).withColumn("w", lit(1L)), 0L)

  private val q17Sql = ssspOracle(
    s"SELECT src, dst, CAST(1 AS BIGINT) AS w FROM (${ringChordSql.replace("\n", " ")})", N)

  /** q18 — weighted Dijkstra, data-independent integer weights. */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = ringChordEdges(s, dir)
      .withColumn("w", lit(1L) + ($"src" * 7L + $"dst" * 13L) % 5L)
    ssspFrame(s, e, 0L)
  }

  private val q18Sql = ssspOracle(
    s"SELECT src, dst, CAST(1 + (src*7 + dst*13) % 5 AS BIGINT) AS w FROM (${ringChordSql.replace("\n", " ")})",
    N * 5)

  /** q19 — G9 "safest": Dijkstra over risk-weighted edges where risk is the
    * reference formula (E1, `database.rs:324-332`: kills²/jumps + baseline;
    * E2 baseline = Σkills/Σjumps else 0.01, `sync.rs:303-307`) computed from
    * customer data per destination nation, bucketed to an integer weight. */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 25-row aggregate pinned eagerly (localCheckpoint): `totals` derives
    // from it and the SSSP dispatch below runs TWO actions over the edge
    // plan (size probe + collect) — uncut, each action re-ran the whole
    // customer scan + aggregate chain, so one warm run paid the corpus
    // scan ~4×; now it pays it once (guide §2.4: remove repeated work
    // feeding the same exchange-free consumers)
    val perNation = t(s, dir, "customer")
      .groupBy($"c_nationkey")
      .agg(
        sum(when($"c_acctbal" < 0.0, 1L).otherwise(0L)).as("kills"),
        count(lit(1)).as("jumps"))
      .localCheckpoint()
    val totals = perNation.agg(sum($"kills").as("tk"), sum($"jumps").as("tj"))
    val baseline = when(col("tj") > 0L, col("tk").cast("double") / col("tj").cast("double"))
      .otherwise(lit(0.01))
    val risk = t(s, dir, "nation")
      .join(perNation, $"n_nationkey" === $"c_nationkey", "left")
      .crossJoin(broadcast(totals))
      .select($"n_nationkey".cast("long").as("rid"),
        (when(coalesce($"jumps", lit(0L)) > 0L,
          (coalesce($"kills", lit(0L)).cast("double") * coalesce($"kills", lit(0L)).cast("double"))
            / coalesce($"jumps", lit(0L)).cast("double"))
          .otherwise(coalesce($"kills", lit(0L)).cast("double") * coalesce($"kills", lit(0L)).cast("double"))
          + baseline).as("risk"))
      .select($"rid", (lit(1L) + floor($"risk" * 1000.0).cast("long") % 7L).as("w"))
    val e = ringChordEdges(s, dir)
      .join(broadcast(risk), $"dst" === $"rid")
      .select($"src", $"dst", $"w")
    ssspFrame(s, e, 0L)
  }

  private val q19Sql = {
    val riskSql =
      """SELECT CAST(n_nationkey AS BIGINT) AS rid,
        |  CAST(1 + CAST(FLOOR(1000.0 * (
        |    CASE WHEN COALESCE(jumps, 0) > 0
        |      THEN CAST(COALESCE(kills,0) AS DOUBLE) * CAST(COALESCE(kills,0) AS DOUBLE) / CAST(COALESCE(jumps,0) AS DOUBLE)
        |      ELSE CAST(COALESCE(kills,0) AS DOUBLE) * CAST(COALESCE(kills,0) AS DOUBLE) END
        |    + (SELECT CASE WHEN SUM(CASE WHEN c_acctbal < 0.0 THEN 1 ELSE 0 END) IS NULL THEN 0.01
        |         WHEN COUNT(*) > 0 THEN CAST(SUM(CASE WHEN c_acctbal < 0.0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |         ELSE 0.01 END FROM customer)
        |  )) AS BIGINT) % 7 AS BIGINT) AS w
        |FROM nation LEFT JOIN (
        |  SELECT c_nationkey,
        |    CAST(SUM(CASE WHEN c_acctbal < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS kills,
        |    CAST(COUNT(*) AS BIGINT) AS jumps
        |  FROM customer GROUP BY c_nationkey) pn ON n_nationkey = c_nationkey""".stripMargin
    ssspOracle(
      s"""SELECT e.src, e.dst, r.w FROM (${ringChordSql.replace("\n", " ")}) e
         | JOIN (${riskSql.replace("\n", " ")}) r ON e.dst = r.rid""".stripMargin.replace("\n", " "),
      N * 7)
  }

  /** q20 — degrees on the data-scale part⟷supplier bipartite graph (GraphX
    * `degrees`); oracle = distinct-part count per supplier. Suppliers get a
    * disjoint vertex-id range. */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // suppliers live in the negative id range: disjoint from part keys at
    // any scale factor (keys are non-negative), no offset collisions
    val pairs = t(s, dir, "lineitem")
      .select($"l_partkey".cast("long").as("p"), $"l_suppkey".cast("long").as("su"))
      .distinct()
    val edges = pairs.rdd.map(r => Edge(r.getLong(0), -r.getLong(1) - 1L, 1.0))
    val g = Graph.fromEdges(edges, 0L)
    val deg = g.degrees
      .filter(_._1 < 0L)
      .map { case (id, d) => (-id - 1L, d.toLong) }
    // stays distributed: no driver collect of the degree table
    s.createDataFrame(deg).toDF("s_suppkey", "degree").orderBy($"s_suppkey")
  }

  private val q20Sql =
    """SELECT l_suppkey AS s_suppkey, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS degree
      |FROM lineitem GROUP BY l_suppkey ORDER BY s_suppkey""".stripMargin

  /** q21 — connected components (GraphX `connectedComponents`) on a chain
    * forest over nations (links within groups of 5); label = min member id. */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = t(s, dir, "nation").select($"n_nationkey".cast("long").as("id"))
    val fwd = n.filter($"id" % 5 =!= 4).select($"id".as("src"), ($"id" + 1).as("dst"))
    val e = fwd.union(fwd.select($"dst".as("src"), $"src".as("dst")))
    val g = Graph.fromEdges(
      e.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1.0)), 0L)
    val cc = g.connectedComponents().vertices
      .map { case (id, comp) => (id.toInt, comp) }
    // stays distributed (q43 idiom): no driver collect of the label table
    s.createDataFrame(cc).toDF("n_nationkey", "component").orderBy($"n_nationkey")
  }

  private val q21Sql =
    """SELECT n_nationkey, CAST((n_nationkey // 5) * 5 AS BIGINT) AS component
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** q22 — PageRank (10 static iterations, damping 0.85) on an ASYMMETRIC
    * directed graph: the full cycle i→(i+1) mod 25 (every vertex keeps an
    * out-edge — no dangling mass) plus chords i→(2i+3) mod 25 for
    * multiples of 5 (uneven in-degrees, no self-loops), plus a single
    * chord 7→0 that kills the remaining rotation-by-5 automorphism so all
    * 25 ranks are distinct orbit values, not 5. The oracle runs
    * the same 10 power iterations (r' = 0.15 + 0.85·Σ r/outdeg, GraphX
    * `staticPageRank` semantics: init 1.0, no final normalization)
    * unrolled as chained CTEs, so a wrong damping factor, iteration
    * count, or edge wiring all produce different ranks — unlike the
    * previous vertex-transitive circulant whose uniform rank vector
    * could not see symmetric bugs. Bit-exactness is by construction:
    * out-degrees are 1 or 2 (1/d exactly representable) and in-degrees
    * ≤ 2 (a two-term double sum is order-independent), so both engines
    * compute identical doubles; 6-dp rounding stays as rendering margin. */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = t(s, dir, "nation").select($"n_nationkey".cast("long").as("id"))
    val cyc = n.select($"id".as("src"), (($"id" + 1) % N).as("dst"))
    val chords = n.filter($"id" % 5 === 0)
      .select($"id".as("src"), (($"id" * 2 + 3) % N).as("dst"))
    val breaker = n.filter($"id" === 7).select($"id".as("src"), lit(0L).as("dst"))
    val g = graphOf(cyc.union(chords).union(breaker).withColumn("w", lit(1L)))
    val pr = g.staticPageRank(10).vertices
      .map { case (id, r) => (id.toInt, BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    // stays distributed: no driver collect of the rank table
    s.createDataFrame(pr).toDF("n_nationkey", "rank").orderBy($"n_nationkey")
  }

  private val q22Sql = {
    val edgesSql =
      s"""SELECT CAST(n_nationkey AS BIGINT) AS src, CAST((n_nationkey + 1) % $N AS BIGINT) AS dst FROM nation
         | UNION ALL SELECT n_nationkey, (n_nationkey * 2 + 3) % $N FROM nation WHERE n_nationkey % 5 = 0
         | UNION ALL SELECT n_nationkey, 0 FROM nation WHERE n_nationkey = 7"""
        .stripMargin.replace("\n", " ")
    val steps = (1 to 10).map { i =>
      s"""it$i AS (
         |  SELECT n.node, 0.15 + 0.85 * COALESCE(SUM(p.rank / o.d), 0.0) AS rank
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN it${i - 1} p ON p.node = e.src
         |  LEFT JOIN outd o ON o.src = e.src
         |  GROUP BY n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
       |outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
       |it0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
       |$steps
       |SELECT CAST(node AS INTEGER) AS n_nationkey, ROUND(rank, 6) AS rank
       |FROM it10 ORDER BY n_nationkey""".stripMargin
  }

  /** q43 — strongly connected components (GraphX `stronglyConnected
    * Components`) on directed 5-cycles over nations; label = min member. */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = t(s, dir, "nation").select($"n_nationkey".cast("long").as("id"))
    // directed cycle within each group of 5: i→i+1, last→first
    val e = n.select($"id".as("src"),
      when($"id" % 5 === 4, $"id" - 4).otherwise($"id" + 1).as("dst"))
    val g = Graph.fromEdges(e.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1.0)), 0L)
    val scc = g.stronglyConnectedComponents(numIter = 10).vertices
      .map { case (id, comp) => (id.toInt, comp) }
    s.createDataFrame(scc).toDF("n_nationkey", "component").orderBy($"n_nationkey")
  }

  private val q43Sql =
    """SELECT n_nationkey, CAST((n_nationkey // 5) * 5 AS BIGINT) AS component
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** q44 — triangle counting (GraphX `triangleCount`) on the undirected
    * {±1,±2,±3}-chord circulant graph over nations; oracle enumerates
    * triangles relationally via a canonical a<b<c triple join. */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = t(s, dir, "nation").select($"n_nationkey".cast("long").as("id"))
    val dirs = Seq(1, 2, 3)
    val fwd = dirs.map(d => n.select($"id".as("src"), (($"id" + d) % N).as("dst")))
      .reduce(_ union _)
    val e = fwd.union(fwd.select($"dst".as("src"), $"src".as("dst")))
    val g = Graph.fromEdges(e.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1.0)), 0L)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.RandomVertexCut)
    val tc = g.triangleCount().vertices.map { case (id, c) => (id.toInt, c.toLong) }
    s.createDataFrame(tc).toDF("n_nationkey", "n_triangles").orderBy($"n_nationkey")
  }

  private val q44Sql =
    s"""WITH d AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS src, CAST((n_nationkey + 1) % $N AS BIGINT) AS dst FROM nation
       |  UNION ALL SELECT n_nationkey, (n_nationkey + 2) % $N FROM nation
       |  UNION ALL SELECT n_nationkey, (n_nationkey + 3) % $N FROM nation),
       |e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM d),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pv AS (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
       |SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey,
       |  CAST(COALESCE(cnt, 0) AS BIGINT) AS n_triangles
       |FROM nation LEFT JOIN (
       |  SELECT v, COUNT(*) AS cnt FROM pv GROUP BY v) t ON n_nationkey = v
       |ORDER BY n_nationkey""".stripMargin

  /** Cost budget for q79 — part of the operator's semantics ("every vertex
    * reachable within cost ≤ B, with its exact distance"), and what makes
    * the recursive-CTE oracle's path enumeration finite. Generous: the
    * part⟷supplier graph is a dense bipartite expander whose true
    * eccentricities are single digits at every shipped scale factor (max
    * observed dist 6 at sf0.01), so the budget excludes nothing in
    * practice while keeping the bound explicit. */
  val ScaleSsspBudget = 64L

  /** Directed edge list (src, dst, w) of the DATA-SCALE part⟷supplier
    * bipartite graph: one edge pair per distinct (l_partkey, l_suppkey)
    * in lineitem (~52k pairs at sf0.01, ~591k at sf0.1 — grows with the
    * data, unlike the 25-node nation fixtures). Parts live on even vertex
    * ids (2p), suppliers on odd (2s+1) — disjoint at any scale factor;
    * weights are exact small-integer arithmetic so distances are exact in
    * double and BIGINT alike. */
  /** DISTINCT (p, su) pairs of lineitem — the base relation every
    * data-scale graph operator derives its edges from (q79 SSSP warm,
    * q85/q90 store builds), served from the per-session
    * [[graft.store.Materialized]] store: the lineitem scan + distinct
    * exchange is a pure function of the corpus snapshot that each warm
    * q79 run was re-paying (~0.75 s of its ~1.6 s at sf0.1,
    * OPTIMIZATION_r17.md); the bench's cold lane pays the build
    * visibly, the same contract as the tri-projection/token/shingle
    * stores. */
  def partSupplierPairs(s: SparkSession, dir: String): DataFrame =
    graft.store.Materialized.relation(s, s"pspairs:$dir") {
      import s.implicits._
      t(s, dir, "lineitem")
        .select($"l_partkey".cast("long").as("p"), $"l_suppkey".cast("long").as("su"))
        .distinct()
    }

  def partSupplierEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = partSupplierPairs(s, dir)
    val fwd = pairs.select(($"p" * 2).as("src"), ($"su" * 2 + 1).as("dst"),
      (lit(1L) + ($"p" * 3 + $"su" * 5) % 7).as("w"))
    fwd.union(fwd.select($"dst".as("src"), $"src".as("dst"), $"w"))
  }

  /** q79 — bounded-cost SSSP over the data-scale part⟷supplier graph,
    * computed by the DISTRIBUTED delta-stepping engine explicitly (no
    * local-dispatch shortcut): this is the round-6 answer to "every
    * oracled graph row runs on 25 nodes" — the same engine the 100 TB
    * path takes, oracle-checked on a graph that grows with the data
    * (the reference's universe-scale route queries,
    * `/root/reference/src/database.rs:484-544`, re-expressed over the
    * driver's tables so DuckDB can replay it). Source = the minimum
    * supplier vertex; output = every vertex within cost
    * [[ScaleSsspBudget]] with its exact distance. The distance table
    * stays distributed until the final ordered dump. */
  private def q79(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the distinct pairs come from the [[partSupplierPairs]] store (one
    // columnar relation), consumed three ways: the pair count (sizes the
    // edge partitioning), the source vertex (min supplier — the same
    // value the old separate lineitem scan computed, since every supplier
    // appears in some pair), and the edge RDD itself. The pre-store shape
    // paid the lineitem scan + distinct exchange per run and built the
    // graph TWICE — Graph.fromEdges at the session default 32 partitions,
    // then adaptParts' coalesce REBUILT it at ~|E|/131072 partitions;
    // emitting both edge directions via one flatMap, pre-coalesced to the
    // same target adaptParts would pick, makes the rebuild a no-op (guide
    // §1.2: fix the algorithm's passes before per-task work).
    val pairs = partSupplierPairs(s, dir)
    val agg = pairs.agg(count(lit(1)), min($"su")).head()
    val (nPairs, minSu) = (agg.getLong(0), agg.getLong(1))
    val source = 2L * minSu + 1L
    val parts = math.max(1L,
      (2L * nPairs + Dijkstra.EdgesPerPartition - 1L) / Dijkstra.EdgesPerPartition)
      .min(pairs.rdd.getNumPartitions.toLong).toInt
    val edgeRdd = pairs.rdd.coalesce(parts).flatMap { r =>
      val p = r.getLong(0); val su = r.getLong(1)
      val w = (1L + (p * 3 + su * 5) % 7).toDouble
      Iterator(Edge(p * 2, su * 2 + 1, w), Edge(su * 2 + 1, p * 2, w))
    }
    val g = Graph.fromEdges(edgeRdd, 0L)
    val verts = Dijkstra.deltaSssp(g, source).vertices
      .filter { case (_, (d, _)) => !d.isInfinite && d <= ScaleSsspBudget.toDouble }
      .map { case (id, (d, _)) => (id, d.toLong) }
    s.createDataFrame(verts).toDF("node", "dist").orderBy($"node")
  }

  /** Oracle: bounded path-cost enumeration (UNION-dedup'd (node, dist)
    * states, extended only while dist ≤ budget) + MIN per node — every
    * path of cost ≤ B has all prefixes ≤ B, so the enumeration finds the
    * true distance of every vertex inside the budget, and both engines
    * exclude vertices beyond it. Validated at sf0.01 in 0.6 s. */
  private[graft] val q79Sql =
    s"""WITH RECURSIVE pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS su FROM lineitem),
       |e0 AS (SELECT CAST(p*2 AS BIGINT) AS src, CAST(su*2+1 AS BIGINT) AS dst,
       |              CAST(1 + (p*3 + su*5) % 7 AS BIGINT) AS w FROM pairs),
       |edges AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
       |s AS (SELECT CAST(MIN(l_suppkey)*2+1 AS BIGINT) AS v FROM lineitem),
       |r(node, dist) AS (
       |  SELECT v, CAST(0 AS BIGINT) FROM s
       |  UNION
       |  SELECT e.dst, r.dist + e.w FROM r JOIN edges e ON e.src = r.node
       |  WHERE r.dist + e.w <= $ScaleSsspBudget)
       |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM r GROUP BY node ORDER BY node""".stripMargin

  /** Iteration budget for q80 — part of the operator's semantics (exactly-
    * bounded min-label propagation, the q22 fixed-iteration idiom), and
    * what makes the chained-CTE oracle finite. Both engines compute the
    * SAME function at any scale — "min vertex id within ≤ 20 hops" — so
    * parity holds by construction even where the bound binds; at every
    * shipped scale factor the propagation reaches its fixpoint well inside
    * it (measured: 7 rounds at sf0.001, 10 at sf0.01, 14 at sf0.1), so the
    * bounded result IS the true connected-components labeling
    * (DijkstraSpec pins q80 ≡ GraphX `connectedComponents`). */
  val ScaleCcRounds = 20

  /** Undirected edge list of the SPARSE data-scale part⟷supplier graph:
    * one edge pair per distinct (l_partkey, l_suppkey) among max-quantity
    * lineitems (l_quantity = 50, ~2% of distinct pairs). Unlike the full
    * bipartite expander (one giant component, diameter ~6) this subgraph
    * has real component structure — 8 components at sf0.1 (a giant plus
    * size-≤11 fringe) with a 14-round min-label fixpoint — so connected
    * components over it is a non-vacuous data-scale computation. Vertex
    * ids as in [[partSupplierEdges]]: parts even (2p), suppliers odd
    * (2s+1), disjoint at any scale factor. */
  /** DISTINCT max-quantity (p, su) pairs — the sparse graph's base
    * relation, materialized once per corpus snapshot (the
    * [[partSupplierPairs]] contract): q80's and q84's warm runs each
    * re-paid the lineitem scan + filter + distinct (~0.5 s of their
    * ~1.1–1.3 s at sf0.1, OPTIMIZATION_r17.md), and the
    * q83/q105 projection build starts from the identical pair set. */
  def sparsePartSupplierPairs(s: SparkSession, dir: String): DataFrame =
    graft.store.Materialized.relation(s, s"pspairs-sparse:$dir") {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_quantity" === 50)
        .select($"l_partkey".cast("long").as("p"), $"l_suppkey".cast("long").as("su"))
        .distinct()
    }

  def sparsePartSupplierEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = sparsePartSupplierPairs(s, dir)
    val fwd = pairs.select(($"p" * 2).as("src"), ($"su" * 2 + 1).as("dst"))
    fwd.union(fwd.select($"dst".as("src"), $"src".as("dst")))
  }

  /** Bounded min-label propagation: l₀(v) = v; lᵢ(v) = min(lᵢ₋₁(v),
    * min over edges (u,v) of lᵢ₋₁(u)); at most `rounds` Pregel
    * supersteps. One superstep propagates exactly one hop, so after k
    * supersteps the label is the min vertex id within the k-hop
    * neighborhood — identical, round for round, to the oracle's unrolled
    * CTE chain. The Pregel active set makes the bound a budget, not a
    * cost: converged regions send no messages (`srcAttr < dstAttr`
    * guard), so the loop exits at the fixpoint and supersteps past it are
    * never run — the scale path is the same message-pruned iteration
    * GraphX's own connectedComponents uses. */
  def minLabelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val s = edges.sparkSession
    val g = Graph.fromEdges(
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1.0)), 0L)
      .mapVertices((id, _) => id)
    val labels = org.apache.spark.graphx.Pregel(g, Long.MaxValue, maxIterations = rounds)(
      (_, attr, msg) => math.min(attr, msg),
      t => if (t.srcAttr < t.dstAttr) Iterator((t.dstId, t.srcAttr)) else Iterator.empty,
      math.min)
    // stays distributed: no driver collect of the label table
    s.createDataFrame(labels.vertices.map { case (id, l) => (id, l) })
      .toDF("node", "component")
  }

  /** q80 — connected components at data scale: the companion to q79's
    * SSSP (the round-6 directive named either), closing "every oracled CC
    * row runs on 25 nodes" (q21). Runs the distributed Pregel
    * propagation on a graph that grows with the data; the label table
    * stays distributed until the final ordered dump. (Round 18 tried
    * chained-batch DataFrame rounds here — an A/B loss, recorded in
    * OPTIMIZATION_r18.md.) */
  private def q80(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minLabelPropagation(sparsePartSupplierEdges(s, dir), ScaleCcRounds)
      .orderBy($"node")
  }

  /** Oracle: the same [[ScaleCcRounds]] propagation rounds unrolled as
    * chained aggregating CTEs (the q22 technique — recursive CTEs cannot
    * aggregate in the recursive term, and full transitive closure is
    * Σ|component|² states, quadratic on the giant component; K bounded
    * min-joins are linear in K·|E|). The self-loop trick makes each
    * iteration reference its predecessor exactly ONCE — lᵢ(v) =
    * min over (edges ∪ self-loops) into v of lᵢ₋₁(src), the same function
    * as min(own, neighbors) — because a `LEAST(v.label, MIN(p.label))`
    * formulation reads lᵢ₋₁ twice and DuckDB's CTE inlining then blows
    * the plan up exponentially (2²⁰ scans: observed as an fd-exhaustion
    * IO error). `AS MATERIALIZED` on the chain additionally collapses the
    * 20-deep inlined plan to one pipeline per round (13.7 s → 0.15 s at
    * sf0.1, DuckDB 1.0.0); the single-reference shape still guarantees
    * linear inlining on engines that ignore the hint. Validated against
    * an independent driver-side simulation at all three shipped SFs. */
  /** [[q80Sql]] parameterized over an extra predicate on the sparse pair
    * set — `""` is q80 itself; q102's oracle restricts to the pairs
    * SURVIVING its delete/re-insert schedule. */
  private[graft] def q80SqlOn(extraPairPred: String): String = {
    val steps = (1 to ScaleCcRounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT e.dst AS node, MIN(p.label) AS label
         |  FROM edges e JOIN l${i - 1} p ON p.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS su
       |  FROM lineitem WHERE l_quantity = 50$extraPairPred),
       |e0 AS (SELECT CAST(p*2 AS BIGINT) AS src, CAST(su*2+1 AS BIGINT) AS dst FROM pairs),
       |verts AS (SELECT DISTINCT src AS v FROM (SELECT src FROM e0 UNION ALL SELECT dst FROM e0)),
       |edges AS MATERIALIZED (SELECT src, dst FROM e0
       |          UNION ALL SELECT dst, src FROM e0
       |          UNION ALL SELECT v, v FROM verts),
       |l0 AS (SELECT v AS node, v AS label FROM verts),
       |$steps
       |SELECT node, CAST(label AS BIGINT) AS component FROM l$ScaleCcRounds ORDER BY node""".stripMargin
  }

  private[graft] val q80Sql = q80SqlOn("")

  /** Degree cap for q83's supplier→part-clique projection — part of the
    * operator's semantics AND the scale guard: a supplier of degree d
    * projects d·(d−1)/2 part–part edges, so one hub supplier explodes the
    * projection quadratically; excluding suppliers above the cap bounds
    * the projected edge count by |S|·cap² regardless of skew (the same
    * hub-pruning idea as q24's document-frequency prefix filter — a
    * near-complete clique from a hub carries no co-occurrence signal
    * anyway). Both engines apply the identical cap, so parity holds
    * whether or not it binds at a given scale factor. */
  val TriDegreeCap = 64L

  /** q83 — triangle counting at data scale, via graph PROJECTION: the
    * sparse part⟷supplier bipartite graph (bipartite = trivially
    * triangle-free) is projected onto parts — an edge joins two parts
    * sharing a supplier — and triangles are counted per part on the
    * projection. This is the third member of the data-scale trio
    * (q79 SSSP, q80 CC): q44's triangle oracle runs on the 25-node
    * nation fixture, while this graph grows with the data.
    *
    * Pure DataFrame formulation (no GraphX): ordered distinct projected
    * edges (a < b), wedge join e1(a,b)⋈e2(b,c), closed by a left-semi
    * probe into e3(a,c) — each triangle a<b<c enumerated exactly once,
    * then exploded to its three corners for per-part counts. Exact
    * integers end to end. Catalyst plans the wedge join and the closing
    * semi-join as plain shuffle joins on the edge relation — the
    * standard distributed triangle-enumeration layout whose cost is
    * O(Σ wedges), bounded here by the degree cap. */
  /** The capped part–part projection, materialized once per (session, SF)
    * — the triangle join references it THREE times (e1, e2, e3), and a
    * lazy plan would re-run the lineitem scan + distinct shuffle for each
    * reference; served from the prepare-stage store, all three are
    * columnar scans of one small relation (the [[graft.store.Materialized]]
    * contract — the bench's cold lane pays the build visibly). */
  private[graft] def projectedPartEdges(s: SparkSession, dir: String): DataFrame =
    graft.store.Materialized.relation(s, s"tri-projection:$dir") {
      import s.implicits._
      // the identical pair set q80/q84 consume — build from their store
      val pairs = sparsePartSupplierPairs(s, dir)
      val smallSu = pairs.groupBy($"su").agg(count(lit(1)).as("d"))
        .filter($"d" <= TriDegreeCap).select($"su")
      val kept = pairs.join(smallSu, Seq("su"), "left_semi")
      kept.as("x").join(kept.as("y"), $"x.su" === $"y.su" && $"x.p" < $"y.p")
        .select($"x.p".as("a"), $"y.p".as("b")).distinct()
    }

  /** The ORDERED TRIANGLE SET (x < y < z, each triangle exactly once) of
    * the capped part–part projection, materialized once per (session,
    * SF) — round 18: q83's corner counts and q105's first-round edge
    * supports are both one explode + one aggregate over this relation,
    * and each previously re-ran the identical wedge join + closing
    * semi-join over [[projectedPartEdges]] (the single most expensive
    * stage of either query — the whole O(Σ wedges) enumeration). Same
    * multi-consumer pure-corpus-function contract as the projection
    * store it derives from; 284,650 rows at sf0.1, so the one-time
    * write is trivial and the bench's cold lane pays the build
    * visibly. */
  private[graft] def projectedTriangles(s: SparkSession, dir: String): DataFrame =
    graft.store.Materialized.relation(s, s"tri-triangles:$dir") {
      import s.implicits._
      val e = projectedPartEdges(s, dir)
      e.as("e1").join(e.as("e2"), $"e1.b" === $"e2.a")
        .select($"e1.a".as("x"), $"e1.b".as("y"), $"e2.b".as("z"))
        .join(e.as("e3"), $"x" === $"e3.a" && $"z" === $"e3.b", "left_semi")
    }

  private def q83(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one Generate per triangle row — the edgeSupport lesson applied to
    // the corner count (same corner multiset, one enumeration), with the
    // enumeration itself served from the shared triangle store
    projectedTriangles(s, dir)
      .select(explode(array($"x", $"y", $"z")).as("part"))
      .groupBy($"part").agg(count(lit(1)).as("n_triangles"))
      .orderBy($"part")
  }

  /** Oracle: the same capped projection + wedge-close enumeration. The
    * inner e3 join is equivalent to the Spark side's left-semi probe
    * because (ta, tc) matches at most one row of the distinct ordered
    * edge relation. */
  /** [[q83Sql]] parameterized over an extra predicate on the witness
    * pair set (the [[q80SqlOn]] idiom) — `""` is q83 itself; q103's
    * oracle restricts to the pairs SURVIVING its delete/re-insert
    * schedule. */
  private[graft] def q83SqlOn(extraPairPred: String): String =
    s"""WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS su
       |  FROM lineitem WHERE l_quantity = 50$extraPairPred),
       |ok AS (SELECT su FROM pairs GROUP BY su HAVING COUNT(*) <= $TriDegreeCap),
       |kept AS (SELECT p, su FROM pairs WHERE su IN (SELECT su FROM ok)),
       |e AS (SELECT DISTINCT x.p AS a, y.p AS b
       |      FROM kept x JOIN kept y ON x.su = y.su AND x.p < y.p),
       |tri AS (SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
       |        FROM e e1 JOIN e e2 ON e1.b = e2.a
       |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pv AS (SELECT ta AS v FROM tri UNION ALL SELECT tb FROM tri
       |       UNION ALL SELECT tc FROM tri)
       |SELECT CAST(v AS BIGINT) AS part, CAST(COUNT(*) AS BIGINT) AS n_triangles
       |FROM pv GROUP BY v ORDER BY part""".stripMargin

  private[graft] val q83Sql = q83SqlOn("")

  /** q84's core order and round budget — both part of the operator's
    * semantics (exactly-bounded synchronous peeling, the q80 idiom) and
    * what keeps the unrolled-CTE oracle finite. k = 2 is the smallest
    * order at which the sparse graph peels non-trivially: measured
    * cascades of 5 / 3 / 3 rounds at sf0.001 / 0.01 / 0.1 with a
    * non-empty core (23 / 335 / 3390 survivors) — k ≥ 3 dissolves the
    * whole graph, and the full bipartite graph is already its own 4-core.
    * 12 rounds ≥ 2× the deepest observed cascade; both engines compute
    * the same function ("survivors of 12 synchronous peels, with their
    * induced degrees") at any scale, so parity holds by construction even
    * where the budget binds, and at every shipped SF the bounded result
    * IS the true k-core (DijkstraSpec pins q84 ≡ an independent
    * run-to-convergence peel with 2× round margin). */
  val KCoreK = 2
  val KCoreRounds = 12

  /** Synchronous k-core peeling on a BIDIRECTED edge list (src, dst):
    * each round computes every surviving vertex's degree in the surviving
    * induced subgraph (= out-degree, since edges appear in both
    * directions) and drops all vertices of degree < k at once; vertices
    * isolated by a drop leave the edge list and fall in the next round
    * (degree 0 < k). Early exit when a round removes nothing — the round
    * budget is a bound, not a cost, exactly like q80's propagation.
    *
    * Returns (node, deg): the induced degree of every vertex still in the
    * peeled subgraph — at a reached fixpoint all deg ≥ k, i.e. the k-core
    * with its core degrees. Exact integers end to end.
    *
    * Scale shape: each round is one hash aggregate on src plus two
    * left-semi joins of the edge list against the (much smaller) survivor
    * set — the textbook distributed peel, all hash exchanges on the
    * vertex key, nothing driver-side but the per-round survivor count
    * that drives early exit.
    *
    * Each round's surviving edge list is `localCheckpoint`ed (eager):
    * that both materializes it AND resets its LOGICAL PLAN to a
    * constant-size `LogicalRDD` root. The plan cut is load-bearing, not
    * hygiene — the Dijkstra lineage-truncation lesson one level up:
    * every round references the previous round's frame three times
    * (degree aggregate + two semi-joins), so under plain `cache()` the
    * logical/physical plan TREE grows ~3^rounds even though the DAG is
    * linear, and any plan stringification (AQE's per-stage
    * `simpleString`, the SQL UI, `explain`) goes exponential — measured:
    * a 6-round peel at sf0.001 pinned `Bench`'s driver for 20+ CPU-min
    * inside `generateTreeString` while the jobs themselves took
    * milliseconds. Superseded rounds are dropped by reference and their
    * cached blocks reclaimed by the `ContextCleaner`; rounds are bounded
    * by the budget, so at most a handful of shrinking edge lists are
    * ever live. */
  /** `inputStable = true` skips the INITIAL checkpoint only: round 1
    * then re-executes the caller's input plan once per reference (the
    * degree aggregate + join source), which is a WIN exactly when that
    * plan is a flat store scan (q84's materialized sparse pairs) and a
    * loss when it is an expensive derivation (the streaming maintainers'
    * induced subgraphs keep the default). Per-ROUND checkpoints are
    * untouched — they are the 3^rounds plan-growth guard. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
      inputStable: Boolean = false): DataFrame = {
    val deg = (e: DataFrame) => e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var cur = if (inputStable) edges else edges.localCheckpoint()
    // ONE driver action per round: the survivor count. Peeling is
    // monotone (the survivor set only shrinks), so two consecutive equal
    // keep-counts force keep_i = keep_{i-1} = nodes(cur_i) — i.e. the
    // fixpoint — and a vertex isolated by an induce drops out of the
    // NEXT count (it left the edge list), so convergence is never
    // declared early.
    var prevKeep = -1L
    var i = 0
    var converged = false
    // the round's degree aggregate is checkpointed ONCE and shared by the
    // count action, both semi-join build sides and — on convergence — the
    // result itself: at the fixpoint nothing dropped, so every vertex of
    // cur has deg ≥ k and this frame IS deg(cur), making the final
    // re-aggregate over the surviving edge list redundant
    var lastDegs: DataFrame = null
    while (i < rounds && !converged) {
      i += 1
      val degs = deg(cur).localCheckpoint()
      val keep = degs.filter(col("deg") >= k).select(col("src").as("node"))
      val nKeep = keep.count()
      if (nKeep == prevKeep) {
        converged = true // nothing dropped: fixpoint, skip the re-induce
        lastDegs = degs
      } else {
        cur = cur
          .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")).localCheckpoint()
        prevKeep = nKeep
      }
    }
    (if (converged) lastDegs else deg(cur))
      .select(col("src").as("node"), col("deg"))
  }

  /** q84 — k-core decomposition at data scale: fourth member of the
    * data-scale graph family (q79 SSSP, q80 CC, q83 triangles), and the
    * DataFrame-iterative member — the peel is groupBy + semi-joins per
    * round, no GraphX. Runs on the same sparse part⟷supplier graph as
    * q80 (the full bipartite graph is already its own 4-core — vacuous). */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kCorePeel(sparsePartSupplierEdges(s, dir), KCoreK, KCoreRounds)
      .orderBy($"node")
  }

  /** Oracle: the same [[KCoreRounds]] synchronous peels unrolled as
    * chained CTEs (q80's technique). Each round's edge relation is
    * referenced twice (degree + re-induce), so every per-round CTE is
    * `AS MATERIALIZED` to stop DuckDB's inliner from exponentiating the
    * 12-deep chain (the q80 lesson); rounds past the fixpoint re-induce
    * an unchanged relation, matching the Spark side's early exit. */
  /** [[q84Sql]] parameterized over an extra predicate on the sparse pair
    * set (the [[q80SqlOn]] idiom) — `""` is q84 itself; q104's oracle
    * restricts to the pairs SURVIVING its delete/re-insert schedule. */
  private[graft] def q84SqlOn(extraPairPred: String): String = {
    val steps = (1 to KCoreRounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src FROM c${i - 1} GROUP BY src HAVING COUNT(*) >= $KCoreK),
         |c$i AS MATERIALIZED (SELECT c.src, c.dst FROM c${i - 1} c
         |  JOIN k$i a ON a.src = c.src JOIN k$i b ON b.src = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS su
       |  FROM lineitem WHERE l_quantity = 50$extraPairPred),
       |e0 AS (SELECT CAST(p*2 AS BIGINT) AS src, CAST(su*2+1 AS BIGINT) AS dst FROM pairs),
       |c0 AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |$steps
       |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
       |FROM c$KCoreRounds GROUP BY src ORDER BY node""".stripMargin
  }

  private[graft] val q84Sql = q84SqlOn("")

  /** q105's truss order and round budget — both part of the operator's
    * semantics (exactly-bounded synchronous peeling, the q84 idiom) and
    * what keeps the unrolled-CTE oracle finite. The truss runs on q83's
    * part–part PROJECTION (the bipartite graph itself is triangle-free,
    * so any truss on it is vacuous), where each supplier under the
    * degree cap contributes a part-clique: measured per-edge supports
    * span 6–27 / 3–24 / 2–34 at sf0.001 / 0.01 / 0.1, so k must sit
    * INSIDE that range to peel non-trivially — k = 10 (support ≥ 8)
    * drops 28 / 540 / 5,983 edges with a genuine cascade (edges at
    * support 8 only because of neighbors that round 1 removes) and
    * reaches fixpoint in 3 rounds at every shipped SF; 8 rounds ≥ 2×
    * the deepest observed cascade. Both engines compute the same
    * bounded function ("survivors of 8 synchronous support-peels, with
    * their supports in the surviving graph"), so parity holds by
    * construction even where the budget binds. */
  val TrussK = 10
  val TrussRounds = 8

  /** Per-edge triangle support over an ordered distinct edge list
    * (a < b): for edge (a, b), the count of common neighbors w — each
    * triangle through the edge contributes exactly one w. One wedge
    * equi-join (symmetrized adjacency probed from both endpoints,
    * closed on the shared witness) + one hash aggregate on the edge
    * key: the q83 enumeration layout, keyed by edge instead of corner,
    * cost O(Σ wedges). Simple-graph input means w ≠ a, b automatically
    * (no self-loops in the symmetrized relation). */
  private def edgeSupport(e: DataFrame): DataFrame = {
    // ordered-triangle enumeration (the q83 layout): find each triangle
    // x < y < z exactly once via two joins on the ORDERED edge list, then
    // credit one support to each of its three edges. The first join's
    // intermediate is the ordered wedge set Σ_y deg_<(y)·deg_>(y) — about
    // 4× smaller than the symmetrized-adjacency probe (Σ_v deg(v)² both
    // sides) the previous formulation paid, and the whole pipeline stays
    // equi-joins + one hash aggregate on the edge key. Counts are exact
    // integers either way: each common neighbor w of (a, b) closes exactly
    // one ordered triangle containing the edge.
    val tri = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), Seq("y"))
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"), "left_semi")
    // one generate per triangle row (a union of three projections would
    // re-run the joins three times), then the per-edge aggregate
    tri.select(explode(array(
        struct(col("x").as("a"), col("y").as("b")),
        struct(col("y").as("a"), col("z").as("b")),
        struct(col("x").as("a"), col("z").as("b")))).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b")).agg(count(lit(1)).as("sup"))
  }

  /** Synchronous k-truss peeling on an ordered distinct edge list
    * (a < b): each round computes every surviving edge's triangle
    * support in the surviving subgraph and drops all edges of support
    * < k−2 at once; dropping an edge destroys the triangles through it,
    * so neighbors' supports fall and cascades peel in later rounds.
    * Early exit when a round removes nothing (kept ⊆ cur, so equal
    * counts force set equality — one driver action per round, the
    * kCorePeel discipline). Returns (a, b, sup): the surviving edges
    * with their supports in the peeled subgraph — at a reached fixpoint
    * all sup ≥ k−2, i.e. the k-truss with its edge supports. Exact
    * integers end to end. The output IS the support aggregate on the
    * final edge set, so a survivor whose support a BOUND budget left at
    * 0 mid-cascade is absent — on BOTH engines (the oracle's final
    * SELECT is the same inner wedge aggregate), and impossible at a
    * reached fixpoint with k ≥ 3; `rounds = 0` therefore returns the
    * input's raw per-edge supports (TrussSpec uses this to pin that a
    * cascade kills edges whose own support cleared the threshold).
    *
    * Scale shape: each round is one wedge join + one hash aggregate on
    * the (shrinking) edge list — all hash exchanges on the edge
    * endpoints, nothing driver-side but the per-round survivor count.
    * Each round's edge list is `localCheckpoint`ed (eager): the round
    * references its predecessor five times (edge list + two symmetrized
    * adjacency sides, twice), so the plan cut is load-bearing exactly
    * as in [[kCorePeel]] — without it the logical plan tree grows
    * ~5^rounds. */
  /** `inputStable` as in [[kCorePeel]]: skip only the INITIAL checkpoint
    * when the input is already a flat materialized scan (q105's
    * projection store); round 1 then reads the store once per reference
    * (the wedge join's three sides) instead of paying a copy job. */
  def kTrussPeel(edges: DataFrame, k: Int, rounds: Int,
      inputStable: Boolean = false): DataFrame = {
    var cur = {
      val e = edges.select(col("a"), col("b"))
      if (inputStable) e else e.localCheckpoint()
    }
    var curN = cur.count()
    var i = 0
    var converged = false
    // survivors of the LAST support pass, with their supports: when a
    // round removes nothing (kept == cur as sets), the supports it
    // computed were taken in exactly the surviving subgraph, so they ARE
    // the final answer — re-running edgeSupport over the same edge set
    // would repeat the whole wedge join + aggregate (the single most
    // expensive stage of the peel) to rebuild a frame we already hold.
    var lastKept: DataFrame = null
    while (i < rounds && !converged) {
      i += 1
      val kept = edgeSupport(cur).filter(col("sup") >= k - 2).localCheckpoint()
      val n = kept.count()
      if (n == curN) { converged = true; lastKept = kept }
      else { cur = kept.select(col("a"), col("b")); curN = n }
    }
    // converged: the cached support frame (identical to edgeSupport(cur));
    // budget exhausted mid-cascade: supports must be re-taken in the
    // final surviving subgraph (kept's sups were measured pre-drop)
    if (converged) lastKept else edgeSupport(cur)
  }

  /** q105 — k-truss decomposition at data scale: sixth member of the
    * data-scale graph family (q79 SSSP, q80 CC, q83 triangles, q84
    * k-core, q85 walk centrality) and the EDGE-grained cohesion member:
    * where q84's k-core keeps vertices by degree, the truss keeps an
    * edge only while enough TRIANGLES survive through it — the standard
    * stronger community filter, and the natural next step above q83's
    * triangle counts (whose projection and enumeration layout it
    * reuses, including the [[projectedPartEdges]] materialized
    * relation). */
  /** [[kTrussPeel]] driven off a PRE-ENUMERATED ordered triangle set
    * (round 18): identical function, different engine. Because every
    * round's surviving edge set is a subset of the input's, the
    * triangles of each round's induced subgraph are EXACTLY the input
    * triangles whose three edges all survive — so per-round supports are
    * one explode + hash aggregate over the (shrinking) triangle set, and
    * the re-induce is three semi-joins of the triangles against the kept
    * edges (survivor-sized build sides, broadcast in practice), instead
    * of re-running the full wedge join + closing semi-join every round.
    * Per-round volume drops from Σ wedges to the live triangle count.
    * `tris` MUST be the ordered triangle set (x < y < z, each exactly
    * once) of the `edges` relation — q105 passes the shared
    * [[projectedTriangles]] store; TrussPeelEquivSpec pins this peel ≡
    * [[kTrussPeel]] on randomized graphs, round budget and all.
    *
    * Same output contract as [[kTrussPeel]]: survivors with supports in
    * the peeled subgraph; edges the budget left mid-cascade re-measure
    * their supports in the final surviving subgraph. Early exit when a
    * round removes nothing (kept ⊆ cur ⇒ equal counts force equality —
    * one driver action per round). */
  def kTrussPeelFromTriangles(edges: DataFrame, tris: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    val supOf = (t: DataFrame) => t.select(explode(array(
        struct(col("x").as("a"), col("y").as("b")),
        struct(col("y").as("a"), col("z").as("b")),
        struct(col("x").as("a"), col("z").as("b")))).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b")).agg(count(lit(1)).as("sup"))
    val induce = (t: DataFrame, kept: DataFrame) => t
      .join(kept.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"), "left_semi")
      .join(kept.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"), "left_semi")
      .join(kept.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"), "left_semi")
    var curTris = tris.select(col("x"), col("y"), col("z"))
    var curN = edges.select(col("a"), col("b")).count()
    var i = 0
    var converged = false
    var lastKept: DataFrame = null
    while (i < rounds && !converged) {
      i += 1
      // per-round plan cut: kept is re-referenced by the count action,
      // the three semi-join build sides and (on convergence) the result
      val kept = supOf(curTris).filter(col("sup") >= k - 2).localCheckpoint()
      val n = kept.count()
      if (n == curN) { converged = true; lastKept = kept }
      else {
        curTris = induce(curTris, kept).localCheckpoint()
        curN = n
      }
    }
    if (converged) lastKept
    else supOf(curTris) // budget exhausted mid-cascade: tris already induced
  }

  private def q105(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the peel runs off the shared triangle store: supports and
    // re-induces are triangle-volume, never wedge-volume (see
    // kTrussPeelFromTriangles; the general kTrussPeel stays for the
    // streaming maintainer's induced subgraphs, which hold no store)
    kTrussPeelFromTriangles(projectedPartEdges(s, dir),
      projectedTriangles(s, dir), TrussK, TrussRounds)
      .orderBy($"a", $"b")
  }

  /** Oracle: the same capped projection + [[TrussRounds]] synchronous
    * support-peels unrolled as chained CTEs (q84's technique — every
    * per-round CTE `AS MATERIALIZED` to stop DuckDB's inliner from
    * exponentiating the chain; rounds past the fixpoint re-induce an
    * unchanged relation, matching the Spark side's early exit). The
    * support filter folds into each round's re-induce (GROUP BY the
    * edge, HAVING COUNT ≥ k−2): support-0 edges are absent from the
    * aggregate — dropped exactly as the Spark side's inner support
    * aggregate drops them. */
  /** [[q105Sql]] parameterized over an extra predicate on the PROJECTED
    * edge pair (x.p, y.p) — `""` is q105 itself; q106's oracle
    * restricts to the projected edges SURVIVING its delete/re-insert
    * schedule (the truss maintainer ingests projected edges directly,
    * so its deletion class is edge-granular, not witness-granular). */
  private[graft] def q105SqlOn(extraEdgePred: String): String = {
    val steps = (1 to TrussRounds).map { i =>
      s"""m${i - 1} AS MATERIALIZED (SELECT a AS u, b AS v FROM c${i - 1}
         |  UNION ALL SELECT b, a FROM c${i - 1}),
         |c$i AS MATERIALIZED (SELECT e.a, e.b FROM c${i - 1} e
         |  JOIN m${i - 1} x ON x.u = e.a JOIN m${i - 1} y ON y.u = e.b AND y.v = x.v
         |  GROUP BY e.a, e.b HAVING COUNT(*) >= ${TrussK - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS su
       |  FROM lineitem WHERE l_quantity = 50),
       |ok AS (SELECT su FROM pairs GROUP BY su HAVING COUNT(*) <= $TriDegreeCap),
       |kept AS (SELECT p, su FROM pairs WHERE su IN (SELECT su FROM ok)),
       |c0 AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
       |  FROM kept x JOIN kept y ON x.su = y.su AND x.p < y.p$extraEdgePred),
       |$steps,
       |m$TrussRounds AS MATERIALIZED (SELECT a AS u, b AS v FROM c$TrussRounds
       |  UNION ALL SELECT b, a FROM c$TrussRounds)
       |SELECT CAST(e.a AS BIGINT) AS a, CAST(e.b AS BIGINT) AS b,
       |  CAST(COUNT(*) AS BIGINT) AS sup
       |FROM c$TrussRounds e
       |JOIN m$TrussRounds x ON x.u = e.a JOIN m$TrussRounds y ON y.u = e.b AND y.v = x.v
       |GROUP BY e.a, e.b ORDER BY a, b""".stripMargin
  }

  private[graft] val q105Sql = q105SqlOn("")

  /** q85's walk-length budget. Part of the operator's semantics (Katz
    * centrality with attenuation β = 1 truncated at L — i.e. each vertex
    * scored by its total count of inbound walks of length ≤ L), chosen so
    * the counts stay EXACT in 64-bit integers: the per-hop growth factor
    * is bounded by the maximum degree, so counts are ≤ deg_max^L —
    * measured ceilings 2^22 / 2^28 / 2^29 at sf0.001/0.01/0.1, and safe
    * until deg_max ≈ 55k at L = 4. Exactness is what makes a DATA-SCALE
    * centrality hash-oracle-able at all: PageRank's damped float ranks
    * accumulate in shuffle-completion order, so two runs (let alone two
    * engines) need not agree bitwise, which is why q22's PageRank oracle
    * lives on the 25-node fixture — integer walk counts are
    * order-independent. Past the long range, Spark's ANSI mode (default
    * on) fails loudly on sum overflow rather than wrapping. */
  val WalkLen = 4

  /** q85 — walk-count (Katz β=1) centrality at data scale: fifth member
    * of the data-scale graph family (q79 SSSP, q80 CC, q83 triangles,
    * q84 k-core) and the centrality member — closing "every oracled
    * centrality row runs on 25 nodes" (q22) with the exact-integer
    * centrality that CAN be hash-oracled at data scale. Runs on the full
    * part⟷supplier bipartite graph (the one that grows with the data;
    * walks may backtrack, the standard walk-count convention).
    *
    * Pure DataFrame SpMV: w₀ ≡ 1; wₗ(v) = Σ over edges (u,v) of wₗ₋₁(u)
    * — one equi-join + one hash aggregate per hop, L hops, then one
    * union-aggregate for the ≤-L total. Each hop references its
    * predecessor ONCE, so the plan grows linearly in L and needs no
    * plan-cut (contrast q84's triple-reference peel). At scale each hop
    * is one shuffle on the vertex key — the same exchange the aggregate
    * reuses — and the frontier is always the full vertex set, so there
    * is no skew pivot beyond what AQE already handles. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // totals PERSISTED through the [[graft.store.Materialized]] store
    // (round 9, the q90 pattern): the first consumer pays the L-hop SpMV
    // chain visibly, every later serve — including a staged FRESH
    // session — is a columnar scan. This replaces the round-6
    // CacheManager-canonicalization warm-reuse of the hop frames:
    // parquet-backed reuse survives session boundaries and frees the
    // L+1 vertex-sized cached frames the old scheme pinned per corpus.
    graft.store.Materialized.relation(s, s"q85-walks:$dir") {
      val e = partSupplierEdges(s, dir).select($"src", $"dst")
      val w0 = e.select($"src".as("node")).union(e.select($"dst")).distinct()
        .withColumn("w", lit(1L))
      // each hop is cached DURING THE BUILD: the ≤-L total UNIONs all
      // hops, and hop l is also the prefix of every later hop —
      // uncached, the union would re-execute Σl = L(L+1)/2 hop-joins
      // instead of L (measured 2.5× on the sf0.1 bench)
      val hops = Iterator.iterate(w0.cache()) { w =>
        e.join(w.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy($"dst".as("node")).agg(sum($"w").as("w"))
          .select($"node", $"w").cache()
      }.take(WalkLen + 1).toSeq
      // eager localCheckpoint materializes the totals NOW so the hop
      // caches can be released before the store write scans the result
      val out = hops.reduce(_ union _)
        .groupBy($"node").agg(sum($"w").as("walks"))
        .localCheckpoint()
      hops.foreach(_.unpersist(false))
      out
    }.orderBy($"node")
  }

  /** Oracle: the same L SpMV hops as chained single-reference CTEs
    * (linear inlining even without the MATERIALIZED hint, kept anyway),
    * exact BIGINT arithmetic end to end. */
  private val q85Sql = {
    val steps = (1 to WalkLen).map { i =>
      s"""w$i AS MATERIALIZED (SELECT e.dst AS node, SUM(p.w) AS w
         |  FROM edges e JOIN w${i - 1} p ON p.node = e.src GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to WalkLen).map(i => s"SELECT node, w FROM w$i").mkString(" UNION ALL ")
    s"""WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS su FROM lineitem),
       |e0 AS (SELECT CAST(p*2 AS BIGINT) AS src, CAST(su*2+1 AS BIGINT) AS dst FROM pairs),
       |edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |w0 AS (SELECT DISTINCT src AS node, CAST(1 AS BIGINT) AS w
       |       FROM (SELECT src FROM edges)),
       |$steps
       |SELECT node, CAST(SUM(w) AS BIGINT) AS walks FROM ($unions)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** q90's fixed-point scale (ranks carried as BIGINT multiples of 1e-15)
    * and iteration count — both part of the operator's semantics, shared
    * verbatim with the oracle SQL. */
  val PrScale = 1000000000000000L
  val PrIters = 10

  /** q90 — PageRank at data scale, in EXACT FIXED-POINT integer
    * arithmetic: the answer to "no centrality-with-damping at data scale"
    * (round-6 verdict #3). Float PageRank cannot be hash-oracled off the
    * 25-node fixture (q22): damped float sums accumulate in
    * shuffle-completion order, so two runs — let alone two engines — need
    * not agree bitwise. Carrying ranks as BIGINT multiples of 1e-15 with
    * floored division makes every step integer arithmetic — sums are
    * order-independent, truncation is deterministic and identical in
    * Spark (`div`) and DuckDB (`//`, both floor for the non-negative
    * values here) — so the full damped iteration IS hash-oracle-able on
    * the part⟷supplier graph that grows with the data. Quantization
    * error vs true double PageRank is ≤ in-degree·1e-15 per step,
    * geometrically damped by 0.85 — PageRankFpSpec pins |Δ| ≤ 1e-9
    * against an independent driver-local double reference (the round-6
    * tolerance-gate ask, made strictly stronger by the bit-exact oracle).
    *
    * Update rule (d = 0.85 = 17/20, S = [[PrScale]], N = vertex count):
    *   r₀(v) = S div N
    *   mv(u) = (r(u)·17) div (20·deg(u))       — damped per-edge message
    *   r'(v) = (3·S) div (20·N) + Σ_{(u,v)∈E} mv(u)
    * No dangling mass: the symmetrized bipartite graph gives every vertex
    * out-edges. Long-overflow-safe by construction: Σr ≈ S = 1e15, so
    * r·17 < 1.7e16 and every in-sum ≤ 0.85·S.
    *
    * Scale shape (round 18, VERDICT r17 item 2 — iteration-fused
    * exchanges): deg is attached to the cached edge list ONCE
    * (e2 = edges ⋈ deg, hashed on src at cache time), so each iteration
    * is ONE equi-join that reuses the cached partitioning plus ONE hash
    * aggregate — two exchanges per iteration, both rank-volume, where
    * the previous shape also paid a per-iteration r⋈deg message join
    * and a vertex-restoring left join (the symmetrized graph gives
    * every vertex an in-edge, so the aggregate's key set is already the
    * full vertex set and the restore was a no-op by construction —
    * messages are identical long arithmetic either way, (r·17) div
    * (20·deg) per edge source, summed exactly, teleport folded into the
    * aggregate). Interleaved same-JVM A/B on the full cold build
    * (OPTIMIZATION_r18.md, arms O,N,N,O ×2, full-collect equality
    * asserted every run): old min 12.28 s → new min 7.47 s at sf0.1.
    * Ranks never collected; the one driver action is the N count.
    * Linear plan growth (each iteration references its predecessor
    * once), and the final ranks are parquet-persisted through
    * [[graft.store.Materialized]] — warm serves scan the store, and with
    * a staging root a fresh session RE-ATTACHES instead of rebuilding
    * (MaterializedSpec pins the attach). */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the final ranks are PERSISTED through the [[graft.store.Materialized]]
    // store (the q86/tri-projection pattern, VERDICT r8 directive 4): the
    // first consumer pays the ten-iteration build visibly; every later
    // consumer — including a FRESH SESSION over a staging root — runs a
    // columnar scan of the store instead of re-paying the build chain
    val ranks = graft.store.Materialized.relation(s, s"q90-pagerank:$dir") {
      val e = partSupplierEdges(s, dir).select($"src", $"dst")
      val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
      // deg folded into the cached edge relation: all ten joins reuse
      // this one hash(src) partitioning
      val e2 = e.join(deg, "src").repartition($"src").cache()
      // ONE distinct exchange over the cached edges serves both the N
      // count and the r0 seed (review catch: the first cut ran it twice)
      val nodes = e2.select($"src".as("node")).distinct().localCheckpoint()
      val n = nodes.count()
      val teleport = (3L * PrScale) / (20L * n)
      var r = nodes.select($"node", lit(PrScale / n).as("r"))
      for (_ <- 1 to PrIters) {
        r = e2.join(r.withColumnRenamed("node", "src"), "src")
          .select($"dst", expr("(r * 17) div (20 * deg)").as("mv"))
          .groupBy($"dst".as("node"))
          .agg((sum($"mv") + teleport).as("r"))
      }
      // eager localCheckpoint materializes the chain NOW, so the build
      // cache can be released before the store write scans the result
      val out = r.select($"node", $"r".as("rank_s15")).localCheckpoint()
      e2.unpersist(blocking = false)
      out
    }
    ranks.orderBy($"node")
  }

  /** Oracle: the identical fixed-point iteration unrolled as MATERIALIZED
    * CTEs (q85's technique); `//` on non-negative BIGINTs floors exactly
    * like Spark's `div`. */
  private val q90Sql = {
    val steps = (1 to PrIters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT d.src AS node,
         |    CAST((3 * $PrScale) // (20 * nn.n) + COALESCE(s.m, 0) AS BIGINT) AS r
         |  FROM deg d CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS dnode, CAST(SUM((p.r * 17) // (20 * g.deg)) AS BIGINT) AS m
         |    FROM edges e JOIN r${i - 1} p ON p.node = e.src JOIN deg g ON g.src = e.src
         |    GROUP BY e.dst) s ON s.dnode = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS su FROM lineitem),
       |e0 AS (SELECT CAST(p*2 AS BIGINT) AS src, CAST(su*2+1 AS BIGINT) AS dst FROM pairs),
       |edges AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
       |r0 AS MATERIALIZED (SELECT src AS node, CAST($PrScale // nn.n AS BIGINT) AS r
       |  FROM deg CROSS JOIN nn),
       |$steps
       |SELECT node, r AS rank_s15 FROM r$PrIters ORDER BY node""".stripMargin
  }

  val all: Seq[GQuery] = Seq(
    GQuery("q17_graph_sssp_hops", q17, Some(q17Sql), bench = true),
    GQuery("q18_graph_sssp_weighted", q18, Some(q18Sql)),
    GQuery("q19_graph_sssp_risk", q19, Some(q19Sql), bench = true),
    GQuery("q20_graph_degrees", q20, Some(q20Sql)),
    GQuery("q21_graph_components", q21, Some(q21Sql)),
    GQuery("q22_graph_pagerank", q22, Some(q22Sql)),
    GQuery("q43_graph_scc", q43, Some(q43Sql)),
    GQuery("q44_graph_triangles", q44, Some(q44Sql)),
    GQuery("q79_graph_scale_sssp", q79, Some(q79Sql), bench = true),
    GQuery("q80_graph_scale_cc", q80, Some(q80Sql), bench = true),
    GQuery("q83_scale_triangles", q83, Some(q83Sql), bench = true),
    GQuery("q84_scale_kcore", q84, Some(q84Sql), bench = true),
    GQuery("q105_scale_ktruss", q105, Some(q105Sql), bench = true),
    GQuery("q85_scale_walk_centrality", q85, Some(q85Sql), bench = true),
    GQuery("q90_scale_pagerank_fp", q90, Some(q90Sql), bench = true),
  )
}
