package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 fourth wave: EWMA/interpolation envelope invariants, the
  * constraint audit on known-clean data, and gains-table identities.
  */
class Extended8Spec extends SparkSpec {

  /** The property fixed-width spans do NOT have and CDC exists for: an
    * insertion near the front of a document leaves every chunk after
    * the next boundary untouched.
    */
  test("q92 EWMA stays inside the trailing-window envelope and starts at n") {
    val out = queries.Catalog.queries("q92_ewma")(spark, Sf0001)
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
    val first = out.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    // EWMA of a single observation is that observation
    assert(first.filter(abs(col("ewma") - col("n")) > 1e-6).count() == 0)
    val env = out.withColumn("lo", min(col("n")).over(w.rowsBetween(-19, 0)))
      .withColumn("hi", max(col("n")).over(w.rowsBetween(-19, 0)))
    assert(env.filter(col("ewma") < col("lo") - 1e-6 ||
      col("ewma") > col("hi") + 1e-6).count() == 0)
  }

  test("q93 keeps observed values and bounds filled ones by their neighbors") {
    val out = queries.Catalog.queries("q93_interp")(spark, Sf0001)
    assert(out.filter(col("v_filled").isNull).count() == 0)
    val wAll = Window.partitionBy(col("user_id")).orderBy(col("hour"))
    val obsVals = out.filter(col("observed"))
    assert(obsVals.count() > 0)
    // every filled value lies within [min, max] of the user's observed values
    val bounds = obsVals.groupBy(col("user_id"))
      .agg(min(col("v_filled")).as("lo"), max(col("v_filled")).as("hi"))
    val breaches = out.join(bounds, "user_id")
      .filter(col("v_filled") < col("lo") - 1e-9 ||
        col("v_filled") > col("hi") + 1e-9).count()
    assert(breaches == 0)
    // the dense grid has no hour gaps
    val gaps = out
      .withColumn("prev", lag(unix_timestamp(col("hour"), "yyyy-MM-dd HH:mm:ss"), 1)
        .over(wAll))
      .filter(col("prev").isNotNull &&
        unix_timestamp(col("hour"), "yyyy-MM-dd HH:mm:ss") - col("prev") =!= 3600)
      .count()
    assert(gaps == 0)
  }

  test("dq01 passes every constraint on the clean synthetic drop") {
    val out = queries.Catalog.queries("dq01_constraints")(spark, Sf0001).collect()
    assert(out.length == 6)
    out.foreach { r =>
      assert(r.getBoolean(2), s"${r.getString(0)} has ${r.getLong(1)} violations")
      assert(r.getLong(1) == 0)
    }
  }

  test("q94 gains table: totals reconcile and capture is monotone to 1.0") {
    val out = queries.Catalog.queries("q94_decile_lift")(spark, Sf0001)
      .orderBy(col("decile")).collect()
    assert(out.length == 10)
    val totalOrders = out.map(_.getLong(1)).sum
    assert(totalOrders == Tables.orders(spark, Sf0001).count())
    val captures = out.map(_.getDouble(5))
    assert(captures.zip(captures.tail).forall { case (a, b) => b >= a - 1e-9 })
    assert(math.abs(captures.last - 1.0) < 1e-9)
    // deciles are value-histogram based: each holds roughly a tenth
    out.foreach(r => assert(r.getLong(1) > 0))
  }
}
