package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.aggregate.HashAggregateExec

/** Accuracy bounds for the sketch aggregates (q38): HLL++ distinct
  * within its published error envelope, approximate percentiles within
  * the accuracy parameter's rank tolerance.
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("approx_count_distinct within 5% of exact on lineitem keys") {
    val li = Tables.lineitem(spark, Sf0001)
    val r = li.agg(
      countDistinct($"l_partkey").as("exact"),
      approx_count_distinct($"l_partkey").as("approx")).first()
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("daily HLL sketches merged via hll_union_agg estimate within 5% of exact") {
    val ev = Tables.events(spark, Sf0001)
    val daily = ev.groupBy(to_date($"ts").as("day"))
      .agg(hll_sketch_agg($"user_id").as("sk"))
    val merged = daily.agg(hll_sketch_estimate(hll_union_agg($"sk")).as("approx")).first().getLong(0)
    val exact = ev.agg(countDistinct($"user_id")).first().getLong(0)
    // merging daily partial sketches must estimate the all-time distinct
    // count as well as a single global sketch would
    assert(math.abs(merged - exact).toDouble / exact < 0.05, s"exact=$exact merged=$merged")
  }

  test("percentile_approx within 2% of exact interpolated percentile") {
    val li = Tables.lineitem(spark, Sf0001)
    val r = li.agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact"),
      percentile_approx($"l_extendedprice", lit(0.5), lit(1000)).as("approx")).first()
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.02, s"exact=$exact approx=$approx")
  }

  // --- q38b: the deterministic (oracle-checkable) sketch twin ---------------

  test("q38b KMV estimate within the k=32 error envelope of exact distinct") {
    // stderr of the k-independent-minima estimator is ~1/sqrt(k) ≈ 18%;
    // 2.5 sigma keeps the assertion meaningful without flaking on the
    // fixed md5 draw
    val rows = queries.Catalog.queries("q38b_kmv_sketch")(spark, Sf0001).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_parts").toDouble
      val est = r.getAs[Double]("kmv_parts")
      assert(math.abs(est - exact) / exact < 0.45, s"flag=${r.getString(0)} exact=$exact kmv=$est")
    }
  }

  test("KMV minima are mergeable: min of shard minima equals the global sketch") {
    // the property that makes the q38b estimator distributable — any
    // partitioning of the data yields the same sketch after a min-merge
    val li = Tables.lineitem(spark, Sf0001)
      .select($"l_partkey", ($"l_orderkey" % 2 === 0).as("shard"))
    def h(seed: Int) = graft.dedup.Dedup.md5Hash48(
      concat_ws(":", lit(seed), $"l_partkey".cast("string")))
    val mins = (0 until 8).map(s => min(h(s)).as(s"m$s"))
    val global = li.agg(mins.head, mins.tail: _*).first()
    val shards = li.groupBy($"shard").agg(mins.head, mins.tail: _*).collect()
    for (s <- 0 until 8) {
      val merged = shards.map(_.getLong(s + 1)).min
      assert(merged == global.getLong(s), s"seed $s")
    }
  }

  test("q38b histogram-CDF bucket equals the exact rank-based percentile's bucket") {
    // first bucket with cum ≥ q·n IS the bucket holding the ⌈q·n⌉-th
    // smallest value — verify against a brute-force sorted lookup
    val li = Tables.lineitem(spark, Sf0001)
    val byFlag = li.select($"l_returnflag", $"l_extendedprice")
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(r => math.floor(r.getDouble(1)).toLong).sorted)
    queries.Catalog.queries("q38b_kmv_sketch")(spark, Sf0001).collect().foreach { r =>
      val vs = byFlag(r.getString(0))
      def rankBucket(q: Double) = vs(math.ceil(vs.length * q).toInt - 1)
      assert(r.getAs[Long]("p50_bucket") == rankBucket(0.5), s"flag=${r.getString(0)}")
      assert(r.getAs[Long]("p90_bucket") == rankBucket(0.9), s"flag=${r.getString(0)}")
    }
  }

  test("q61b bitmap distinct is EXACT per type and the '_all' merge matches the global distinct") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.Catalog.queries("q61b_bitmap_distinct")(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val e = Tables.events(spark, Sf0001)
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      assert(rows(t) == n, s"$t: bitmap ${rows(t)} != exact $n — bitmaps must be exact")
    }
    val global = e.select(col("user_id")).distinct().count()
    assert(rows("_all") == global,
      s"merged sketch ${rows("_all")} != global distinct $global — " +
        "the union-without-rescan must lose nothing")
  }

  test("CMS counters: the d-fold seed explosion partial-aggregates before its one shuffle") {
    import org.apache.spark.sql.functions._
    val items = Tables.documents(spark, Sf0001)
      .select(explode(graft.text.TextStats.tokens(col("text"))).as("item"))
    val df = graft.ops.CountMin.counters(items, d = 4, w = 64)
    val exchanges = PlanTree.exchanges(df)
    assert(exchanges.size == 1, s"counter build should shuffle exactly once, found $exchanges")
    assert(PlanTree.nodes(df).count(_.isInstanceOf[HashAggregateExec]) >= 2,
      "partial aggregation must collapse the seed blowup map-side")
  }
}
