package graft

import org.apache.spark.sql.functions._

/** Round-7 twelfth wave: the grid spatial join stays an equi-join and
  * emits each qualifying pair exactly once. (Completeness vs the
  * brute-force definition is the driver gate itself — the oracle IS
  * all-pairs.)
  */
class Extended16Spec extends SparkSpec {

  test("q100 grid join: equi-join plan, unique pairs, distances within radius") {
    val out = queries.Catalog.queries("q100_spatial_join")(spark, Sf0001)
      .localCheckpoint()
    val n = out.count()
    assert(n > 0)
    // the 3x3 neighborhood explode must not duplicate any pair (a pair
    // matches only in the build point's own cell)
    assert(out.select(col("id_a"), col("id_b")).distinct().count() == n)
    assert(out.filter(col("dist") > 0.02).count() == 0)
    assert(out.filter(col("id_a") >= col("id_b")).count() == 0)
    val plan = PlanTree.nestedLoops(queries.Catalog.queries("q100_spatial_join")(spark, Sf0001))
    assert(plan.isEmpty, s"the cell join must be an equi-join on (cx, cy): $plan")
  }
}
