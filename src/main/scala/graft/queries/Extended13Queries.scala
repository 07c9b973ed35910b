package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 ninth wave: single-source shortest path by unrolled BFS —
  * the path-query member of the graph family (PageRank, connected
  * components, triangles, and the transition matrix are already
  * gated). Distances are exact integers, so the iteration needs no
  * float snapping at all: every round is a join+agg both engines
  * replay identically.
  */
object Extended13Queries {

  /** 4 BFS rounds from supplier 1 over the order-co-occurrence graph
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
    Q("q98_bfs_sssp", q98BfsSssp, Some(q98Sql)),
  )
}
