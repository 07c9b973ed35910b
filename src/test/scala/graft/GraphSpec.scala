package graft

import graft.ops.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Pure-Scala replay of the same simplified-PageRank recurrence, for
    * checking the distributed implementation against. None is a NULL id,
    * with the operator's join-equality rules: a NULL src contributes
    * nothing, a NULL dst counts in its source's out-degree but reaches
    * no node, and a NULL node only ever gets the base rank.
    */
  private def rankRef[K](edges: Seq[(Option[K], Option[K])], iters: Int,
      d: Double): Map[Option[K], Double] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct
    val live = e.filter(_._1.isDefined)
    val outDeg = live.groupBy(_._1).view.mapValues(_.size).toMap
    var r = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val incoming = live.filter(_._2.isDefined).groupBy(_._2).view.mapValues(in =>
        in.map { case (u, _) => r(u) / outDeg(u) }.sum).toMap
      // mirror the operator's per-iteration 8-decimal snap (see
      // Graph.pageRank — it pins cross-engine state reproducibility)
      r = nodes.map(n => n -> BigDecimal((1.0 - d) + d * incoming.getOrElse(n, 0.0))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    }
    r
  }

  private def some[K](edges: Seq[(K, K)]) = edges.map { case (s, t) => (Option(s), Option(t)) }

  private def ranks(df: DataFrame): Map[Option[Any], Double] =
    df.collect().map(r => Option(r.get(0)) -> r.getDouble(1)).toMap

  private def assertMatches[K](got: Map[Option[Any], Double], want: Map[Option[K], Double]): Unit = {
    assert(got.keySet === want.keySet.map(_.map(k => k: Any)))
    want.foreach { case (n, r) =>
      assert(math.abs(got(n) - r) < 1e-9, s"node $n: ${got(n)} vs $r")
    }
  }

  test("pageRank matches the scalar recurrence on a known graph") {
    // a→b, b→a, a→c, c dangling: c receives but never emits
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"))
    val got = ranks(Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iters = 10, damping = 0.85))
    assertMatches(got, rankRef(some(edges), 10, 0.85))
    // sanity: the mutually-linked hub outranks the dangling sink
    assert(got(Some("a")) > got(Some("c")))
  }

  test("pageRank: duplicate edges collapse, ranks stay positive and bounded") {
    val edges = Seq(("x", "y"), ("x", "y"), ("y", "x"))
    val got = ranks(Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iters = 5, damping = 0.85))
    assertMatches(got, rankRef(some(Seq(("x", "y"), ("y", "x"))), 5, 0.85))
    assert(got.values.forall(r => r > 0.0 && r < 10.0))
  }

  test("pageRank: NULL ids, self-loops and duplicates match the reference, String and Long ids") {
    // NULL src → no contribution; (d, NULL) → counts in d's out-degree;
    // (NULL, NULL) → only adds the NULL node, which ranks round(1 − d, 8)
    val edges: Seq[(Option[Long], Option[Long])] = Seq(
      (Some(1L), Some(2L)), (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), Some(3L)),
      (Some(3L), Some(3L)), (None, Some(2L)), (Some(4L), None), (Some(4L), Some(1L)),
      (None, None), (Some(2L), Some(4L)), (Some(5L), Some(5L)), (Some(5L), Some(5L)))
    val want = rankRef(edges, 7, 0.85)
    assert(want(None) == 0.15 && want(Some(4L)) != want(Some(5L)))

    val asLong = Graph.pageRank(edges.toDF("s", "t"), "s", "t", iters = 7, damping = 0.85)
    assert(asLong.schema === StructType(Seq(StructField("node", LongType, nullable = true),
      StructField("rank", DoubleType))))
    assertMatches(ranks(asLong), want)

    val strEdges = edges.map { case (s, t) => (s.map(_.toString), t.map(_.toString)) }
    val asString = Graph.pageRank(strEdges.toDF("s", "t"), "s", "t", iters = 7, damping = 0.85)
    assert(asString.schema.head.dataType === StringType)
    assertMatches(ranks(asString), rankRef(strEdges, 7, 0.85))
  }

  test("pageRank widens mixed id types like the SQL union does") {
    val df = Seq((1, 2L), (2, 1L), (2, 3L)).toDF("s", "t")
    val got = Graph.pageRank(df, "s", "t", iters = 4)
    assert(got.schema.head.dataType === LongType)
    assertMatches(ranks(got), rankRef(some(Seq((1L, 2L), (2L, 1L), (2L, 3L))), 4, 0.85))
  }

  test("pageRank accepts date and timestamp ids") {
    val days = Seq(("2024-01-01", "2024-01-02"), ("2024-01-02", "2024-01-01"),
      ("2024-01-02", "2024-01-03"))
    val want = rankRef(some(days), 4, 0.85)
    for (t <- Seq("date", "timestamp")) {
      val df = days.toDF("s", "t").selectExpr(s"cast(s as $t) s", s"cast(t as $t) t")
      val got = Graph.pageRank(df, "s", "t", iters = 4)
        .selectExpr("cast(cast(node as date) as string)", "rank")
      assertMatches(ranks(got), want)
    }
  }

  test("pageRank runs the same number of Spark jobs for any round count") {
    // the rounds are one lazy lineage inside the action's jobs: no
    // per-round checkpoint, plan or job
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val counts = Seq(3, 10, 30).map(iters =>
      jobsDuring(Graph.pageRank(edges, "src", "dst", iters = iters).collect()))
    assert(counts === Seq(2, 2, 2), s"jobs for iters 3/10/30: $counts")
  }

  test("pageRank rejects id types whose JVM equality differs from SQL equality") {
    for ((df, name) <- Seq(
        (Seq((1.0, 2.0)).toDF("s", "t"), "DOUBLE"),
        (Seq((Array[Byte](1), Array[Byte](2))).toDF("s", "t"), "BINARY"))) {
      val err = intercept[IllegalArgumentException](Graph.pageRank(df, "s", "t"))
      assert(err.getMessage.contains(s"got $name"), err.getMessage)
    }
  }
}
