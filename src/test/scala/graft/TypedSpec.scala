package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, GreaterThan}

/** Typed Dataset surface: case-class Encoders, typed filter/map,
  * groupByKey with typed aggregators — the API tier the brief calls
  * for "where type safety helps". The plans still go through Catalyst
  * (typed filter/map are lambda-opaque, so they sit AFTER the scan's
  * codegen'd part — keep them off pushdown-critical predicates, which
  * is also asserted here).
  */
case class TypedOrder(o_orderkey: Long, o_custkey: Long, o_totalprice: Double)

class TypedSpec extends SparkSpec {
  import spark.implicits._

  private def orders = Tables.orders(spark, Sf0001)
    .select($"o_orderkey", $"o_custkey", $"o_totalprice").as[TypedOrder]

  test("typed groupByKey + mapGroups equals the untyped aggregate") {
    val typed = orders.groupByKey(_.o_custkey)
      .mapGroups((k, os) => (k, os.map(_.o_totalprice).sum))
      .toDF("o_custkey", "total")
      .select($"o_custkey", round($"total", 2).as("total"))
    val untyped = orders.toDF().groupBy("o_custkey")
      .agg(round(sum($"o_totalprice"), 2).as("total"))
    assert(typed.join(untyped, Seq("o_custkey", "total")).count() === untyped.count())
  }

  test("typed filter computes the same rows as the Column predicate") {
    val a = orders.filter(_.o_totalprice > 200000.0).count()
    val b = orders.toDF().filter($"o_totalprice" > 200000.0).count()
    assert(a === b && a > 0)
  }

  test("Column predicates push to the scan; typed lambdas (opaquely) do not") {
    def pushed(df: org.apache.spark.sql.DataFrame) =
      PlanTree.scans(df).flatMap(_.dataFilters)
    def onPrice(f: Expression) = f.references.exists(_.name == "o_totalprice")
    val columnPushed = pushed(Tables.orders(spark, Sf0001).filter($"o_totalprice" > 200000.0))
    assert(columnPushed.exists(f => f.isInstanceOf[GreaterThan] && onPrice(f)),
      s"Column predicate must reach the parquet scan: $columnPushed")
    val typedPushed = pushed(orders.filter(_.o_totalprice > 200000.0).toDF())
    assert(!typedPushed.exists(onPrice),
      s"lambda predicates are opaque to pushdown — documented trade-off: $typedPushed")
  }
}
