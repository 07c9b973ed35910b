package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph queries over graphs derived from the star schema (part →
  * supplier links, order co-occurrence): PageRank, triangle counting
  * and BFS shortest paths. Each iteration
  * is a join+agg both engines replay identically (PageRank snapped to
  * 8 dp, BFS distances exact integers).
  */
object GraphQueries {

  /** Link-graph centrality (simplified PageRank, 10 fixed iterations)
    * over a deterministic part→supplier projection graph — the
    * corpus-quality propagation op of web-scale curation. The oracle
    * UNROLLS the iterations into chained SQL CTEs (generated), with
    * damping literals interpolated from the exact Scala doubles so
    * both engines iterate identical IEEE arithmetic.
    */
  // Shared by the Spark query and the generated oracle — the unrolled
  // SQL must replay EXACTLY this many rounds.
  private val PageRankIters = 10
  private val PageRankDamping = 0.85

  private def q74PageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(s, dir)
      .select((col("l_partkey") % 100).as("src"), (col("l_suppkey") % 100).as("dst"))
    graft.ops.Graph.pageRank(edges, "src", "dst",
        iters = PageRankIters, damping = PageRankDamping)
      .select(col("node"), round(col("rank"), 4).as("rank"))
      .orderBy(col("node"))
  }

  private val q74Sql: String = {
    val damping = PageRankDamping
    val base = (1.0 - damping).toString // exact double repr, not "0.15"
    val d = damping.toString
    val iterCtes = (1 to PageRankIters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    round(CAST($base AS DOUBLE) + CAST($d AS DOUBLE) * coalesce(c.incoming, 0.0), 8)
         |      AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / od.outdeg) AS incoming
         |    FROM e JOIN od USING (src) JOIN r${i - 1} r ON r.node = e.src
         |    GROUP BY e.dst) c USING (node))""".stripMargin
    }.mkString(",\n")
    // e, nodes and od are read by every iteration: MATERIALIZED, or
    // DuckDB 1.0 re-derives them from lineitem at each read
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey % 100 AS src, l_suppkey % 100 AS dst FROM lineitem),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
       |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
       |$iterCtes
       |SELECT node, round(rank, 4) AS rank FROM r$PageRankIters
       |ORDER BY node""".stripMargin
  }

  // ---------------------------------------------------------------- q90

  /** Graph triangle count + global clustering coefficient over the
    * supplier co-occurrence graph (suppliers sharing an order, subgraph
    * suppkey < 100 so the demo graph is constant-size across SFs while
    * the scan stays full-table). Edges are canonicalized u < v once, so
    * the triangle join enumerates each triangle exactly once
    * (u < v < w — the "compact-forward" algorithm; at 100 TB you'd
    * additionally orient edges by degree to bound the wedge fan-out,
    * which this ordering approximates on near-uniform degrees).
    */
  private def q90Triangles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_suppkey") < 100)
      .select(col("l_orderkey"), col("l_suppkey"))
    val e = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .distinct().localCheckpoint()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e2.u") === col("e1.v"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("u").as("node")).union(e.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val wedges = deg.agg(sum(col("deg") * (col("deg") - 1) / 2).as("n_wedges"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    edges.crossJoin(tri).crossJoin(wedges)
      .select(col("n_edges"), col("n_triangles"),
        col("n_wedges").cast("long").as("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("transitivity"))
  }

  private val q90Sql =
    """WITH e AS (
      |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  WHERE a.l_suppkey < 100 AND b.l_suppkey < 100),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e2.u = e1.v
      |       JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY 1),
      |wedges AS (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
      |edges AS (SELECT count(*) AS n_edges FROM e)
      |SELECT edges.n_edges, tri.n_triangles, wedges.n_wedges,
      |  round(3.0 * tri.n_triangles / wedges.n_wedges, 6) AS transitivity
      |FROM edges CROSS JOIN tri CROSS JOIN wedges""".stripMargin

  /** Single-source shortest path by unrolled BFS —
    * the path-query member of the graph family (PageRank, connected
    * components, triangles, and the transition matrix are already
    * gated). Distances are exact integers, so the iteration needs no
    * float snapping at all: every round is a join+agg both engines
    * replay identically.
    *
    * 4 BFS rounds from supplier 1 over the order-co-occurrence graph
    * (q90's subgraph): dist_{k+1}(x) = min(dist_k(x),
    * min_{(y,x)∈E} dist_k(y) + 1). Four rounds bound the frontier at
    * diameter 4 — on this dense co-occurrence graph that covers every
    * reachable node (the spec asserts the fixed point). Scale shape:
    * each round is one join edges⋈frontier + one min-agg — the
    * standard distributed BFS (Pregel's shape) with bounded rounds;
    * nothing driver-side, nothing global.
    */
  private def q98BfsSssp(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_suppkey") < 100)
      .select(col("l_orderkey"), col("l_suppkey"))
    // undirected: keep both orientations so one equi-join per round
    // sees every neighbor
    val half = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .distinct()
    val edges = half.union(half.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    var dist = edges.select(col("u").as("node")).distinct()
      .select(col("node"), when(col("node") === 1, 0).otherwise(lit(null))
        .cast("int").as("dist"))
    for (_ <- 1 to 4) {
      val viaNeighbor = edges
        .join(dist.withColumnRenamed("node", "u").withColumnRenamed("dist", "du"),
          Seq("u"))
        .filter(col("du").isNotNull)
        .groupBy(col("v").as("node")).agg(min(col("du") + 1).as("dn"))
      dist = dist.join(viaNeighbor, Seq("node"), "left")
        .select(col("node"),
          least(coalesce(col("dist"), col("dn")),
            coalesce(col("dn"), col("dist"))).as("dist"))
        .localCheckpoint() // truncate the 4-round lineage
    }
    dist.filter(col("dist").isNotNull)
      .select(col("node").cast("long").as("node"), col("dist"))
      .orderBy(col("node"))
  }

  private val q98Sql = {
    def round(k: Int) =
      s"""d$k AS MATERIALIZED (
         |  SELECT d.node,
         |    least(coalesce(d.dist, n.dn), coalesce(n.dn, d.dist)) AS dist
         |  FROM d${k - 1} d
         |  LEFT JOIN (
         |    SELECT e.v AS node, min(p.dist + 1) AS dn
         |    FROM edges e JOIN d${k - 1} p ON p.node = e.u
         |    WHERE p.dist IS NOT NULL
         |    GROUP BY 1) n USING (node))""".stripMargin
    // edges is read by every round: MATERIALIZED, or DuckDB 1.0
    // re-derives it from lineitem at each read
    """WITH half AS (
      |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  WHERE a.l_suppkey < 100 AND b.l_suppkey < 100),
      |edges AS MATERIALIZED (
      |  SELECT u, v FROM half UNION ALL SELECT v AS u, u AS v FROM half),
      |d0 AS (
      |  SELECT node, CASE WHEN node = 1 THEN 0 END AS dist
      |  FROM (SELECT DISTINCT u AS node FROM edges)),
      |""".stripMargin +
      (1 to 4).map(round).mkString(",\n") + """
      |SELECT CAST(node AS BIGINT) AS node, CAST(dist AS INTEGER) AS dist
      |FROM d4 WHERE dist IS NOT NULL
      |ORDER BY node""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q74_pagerank", q74PageRank, Some(q74Sql)),
    Q("q90_triangles", q90Triangles, Some(q90Sql)),
    Q("q98_bfs_sssp", q98BfsSssp, Some(q98Sql)),
  )
}
