package graft

import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._

/** Round-7 scale-safe twins: q45b's histogram-CDF distribution stats
  * agree with q45's positional window semantics wherever the two are
  * defined to coincide, and its plan never windows over the raw data.
  */
class Extended6Spec extends SparkSpec {

  test("q45b cume_dist equals q45's positional cume_dist on tie-free balances") {
    // on a balance value held by exactly one customer, P(bal ≤ mine)
    // (q45b, value-based) and position/n (q45, tie-broken by custkey)
    // are the same number
    val cust = Tables.customer(spark, Sf0001)
    val uniqueBals = cust.groupBy(col("c_acctbal")).count()
      .filter(col("count") === 1).select(col("c_acctbal"))
    val q45 = queries.Catalog.queries("q45_dist_windows")(spark, Sf0001)
      .select(col("c_custkey"), col("cd").as("cd_pos"))
    val q45b = queries.Catalog.queries("q45b_dist_cdf")(spark, Sf0001)
      .select(col("c_custkey"), col("cd").as("cd_val"))
    val joined = cust.join(uniqueBals, "c_acctbal")
      .select(col("c_custkey"))
      .join(q45, "c_custkey").join(q45b, "c_custkey")
    assert(joined.count() > 0)
    val mismatches = joined.filter(abs(col("cd_pos") - col("cd_val")) > 1e-9).count()
    assert(mismatches == 0)
  }

  test("q44b histogram range-mean equals q44's RANGE-frame window exactly") {
    // the ±5-size mean is a pure function of p_size, so the bounded-
    // histogram formulation must reproduce the global-window numbers
    val q44 = queries.Catalog.queries("q44_range_frame")(spark, Sf0001)
      .select(col("p_partkey"), col("nearby_avg").as("win"))
    val q44b = queries.Catalog.queries("q44b_range_hist")(spark, Sf0001)
      .select(col("p_partkey"), col("nearby_avg").as("hist"))
    val mismatches = q44.join(q44b, "p_partkey")
      .filter(abs(col("win") - col("hist")) > 1e-9).count()
    assert(mismatches == 0)
    assert(q44.count() == q44b.count())
  }

  test("q89 gap-fill conserves event counts and fills gaps with zeros") {
    val dense = queries.Catalog.queries("q89_gap_fill")(spark, Sf0001)
    val perUser = dense.groupBy(col("user_id"))
      .agg(sum(col("n")).as("dense_total"), count(lit(1)).as("n_hours"))
    val raw = Tables.events(spark, Sf0001).filter(col("user_id") < 50)
      .groupBy(col("user_id")).agg(count(lit(1)).as("raw_total"))
    val bad = perUser.join(raw, "user_id")
      .filter(col("dense_total") =!= col("raw_total")).count()
    assert(bad == 0, "densification must conserve per-user event counts")
    // gaps exist in real data and are zero-filled (otherwise the query
    // tests nothing)
    assert(dense.filter(col("n") === 0).count() > 0)
  }

  test("ml09 bins partition each group exactly and cover the full count") {
    val bins = queries.Catalog.queries("ml09_quantile_bins")(spark, Sf0001).collect()
    val total = Tables.lineitem(spark, Sf0001).count()
    assert(bins.map(_.getLong(2)).sum == total)
    bins.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3, 4))
      // bin bucket ranges are disjoint and ordered
      val sorted = rows.sortBy(_.getInt(1))
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a.getLong(4) < b.getLong(3),
          s"bins overlap: ${a.getLong(4)} >= ${b.getLong(3)}")
      }
    }
  }

  test("q45b plan windows over the histogram, not the customer table") {
    val windows = PlanTree.windows(queries.Catalog.queries("q45b_dist_cdf")(spark, Sf0001))
    // the only Window node's input must be the aggregated histogram
    // (count per balance), never a full-table scan ordered globally
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.find(_.isInstanceOf[HashAggregateExec]).isDefined,
        s"Window must sit above the value histogram aggregate:\n$w")
    }
  }

  test("q38c sketch estimates land inside their oracle-pinned error bounds") {
    // the driver gate runs at sf0.01; pin the same TRUE booleans at
    // sf0.001 so a sketch-accuracy drift fails locally before it
    // hash-mismatches in the round report
    import spark.implicits._
    val out = queries.Catalog.queries("q38c_hll_error_gate")(spark, Sf0001)
    val rows = out.select($"hll_parts_ok", $"hll_orders_ok",
      $"kll_p50_ok", $"kll_p90_ok").as[(Boolean, Boolean, Boolean, Boolean)]
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, c, d) =>
      assert(a && b && c && d, s"an estimator left its error bound: $rows")
    }
  }
}
