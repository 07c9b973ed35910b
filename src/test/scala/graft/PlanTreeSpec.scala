package graft

import org.apache.spark.sql.catalyst.expressions.{GreaterThan, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Negative controls for [[PlanTree]]: a "no X" gate passes silently
  * if the walk finds nothing, so each reader must be shown to find the
  * node kind it looks for on a plan built to contain it.
  */
class PlanTreeSpec extends SparkSpec {

  /** Runs `body` with broadcast joins off (planner and AQE alike). */
  private def noBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("a cross join of two scans is a nested loop; a broadcast join reports its build side") {
    val region = Tables.region(spark, Sf0001)
    val nation = Tables.nation(spark, Sf0001)
    val bnlj = nation.crossJoin(region)
    assert(PlanTree.nestedLoops(bnlj).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    assert(PlanTree.cartesians(bnlj).isEmpty)
    noBroadcast {
      val cross = nation.crossJoin(region)
      assert(PlanTree.cartesians(cross).size == 1)
      assert(PlanTree.nestedLoops(cross).exists(_.isInstanceOf[CartesianProductExec]))
      val smj = nation.join(region, col("n_regionkey") === col("r_regionkey"))
      assert(PlanTree.joins(smj).map(_.getClass) == Seq(classOf[SortMergeJoinExec]))
      assert(PlanTree.nestedLoops(smj).isEmpty)
    }
    val bhj = PlanTree.joins(nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey")))
      .collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.map(_.buildSide) == Seq(BuildRight))
  }

  test("repartition(col(x)) shows one exchange on x") {
    val df = spark.range(100).withColumn("x", col("id") % 7).repartition(col("x"))
    assert(PlanTree.exchangesOn(df, "x").size == 1)
    assert(PlanTree.exchangesOn(df, "id").isEmpty)
    assert(PlanTree.exchanges(df).size == 1)
    assert(PlanTree.exchanges(spark.range(100).toDF().coalesce(1)).isEmpty)
  }

  test("a global Window.orderBy is one unpartitioned WindowExec; frames are read") {
    val base = spark.range(100).withColumn("k", col("id") % 3)
    val cumulative = base.withColumn("c",
      sum(col("id")).over(Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = PlanTree.windows(cumulative)
    assert(ws.size == 1 && ws.head.partitionSpec.isEmpty)
    val frames = ws.flatMap(PlanTree.frames)
    assert(frames.exists {
      case f: SpecifiedWindowFrame => f.lower == UnboundedPreceding
      case _ => false
    }, frames)
    val trailing = base.withColumn("t",
      sum(col("id")).over(Window.partitionBy(col("k")).orderBy(col("id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    val tw = PlanTree.windows(trailing)
    assert(tw.size == 1 && tw.head.partitionSpec.nonEmpty)
    assert(tw.flatMap(PlanTree.frames).exists {
      case f: SpecifiedWindowFrame => f.upper == UnboundedFollowing
      case _ => false
    })
  }

  test("a pushed filter and a pruned read schema are seen on the scan, also inside a subquery") {
    val df = Tables.orders(spark, Sf0001)
      .filter(col("o_totalprice") > 1000.0).select(col("o_orderkey"))
    val scans = PlanTree.scans(df)
    assert(scans.size == 1)
    assert(scans.head.requiredSchema.fieldNames.toSet == Set("o_orderkey", "o_totalprice"))
    assert(scans.head.dataFilters.exists {
      case g: GreaterThan => g.references.exists(_.name == "o_totalprice")
      case _ => false
    }, scans.head.dataFilters)
    Tables.region(spark, Sf0001).createOrReplaceTempView("plan_tree_region")
    Tables.nation(spark, Sf0001).createOrReplaceTempView("plan_tree_nation")
    val sub = spark.sql("SELECT r_name FROM plan_tree_region WHERE r_regionkey = " +
      "(SELECT max(n_regionkey) FROM plan_tree_nation)")
    assert(PlanTree.scans(sub).map(_.requiredSchema.fieldNames.toSet).toSet ==
      Set(Set("r_regionkey", "r_name"), Set("n_regionkey")))
  }

  test("the same node kinds are found before and after collect() on an AQE plan") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    noBroadcast {
      val df = Tables.orders(spark, Sf0001)
        .join(Tables.customer(spark, Sf0001), col("o_custkey") === col("c_custkey"))
        .withColumn("rk", rank().over(Window.partitionBy(col("c_nationkey"))
          .orderBy(col("o_totalprice"))))
      def kinds() = (PlanTree.scans(df).size, PlanTree.exchangesOn(df, "c_custkey").size,
        PlanTree.exchangesOn(df, "c_nationkey").size, PlanTree.windows(df).size,
        PlanTree.joins(df).map(_.getClass))
      val root = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
      val before = kinds()
      assert(!root.isFinalPlan && !PlanTree.nodes(df).exists(_.isInstanceOf[QueryStageExec]))
      assert(before == ((2, 1, 1, 1, Seq(classOf[SortMergeJoinExec]))), before)
      df.collect()
      assert(root.isFinalPlan && PlanTree.nodes(df).exists(_.isInstanceOf[QueryStageExec]))
      assert(kinds() == before)
    }
  }
}
