package graft

import org.apache.spark.sql.functions._
import graft.queries.{Catalog, QualityQueries}

/** Round-8 second wave: event-analytics staples + FK audit. */
class Extended21Spec extends SparkSpec {

  test("q105: week-0 retention is 1.0 and no week exceeds its cohort") {
    val rows = Catalog.queries("q105_retention_cohorts")(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (off, active, size, ret) =
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(off >= 0)
      assert(active <= size, s"active $active > cohort $size")
      if (off == 0) assert(ret == 1.0,
        "every cohort member is by definition active in their first week")
    }
    // cohort sizes sum to the purchasing-user population
    val sizes = rows.filter(_.getInt(1) == 0).map(_.getLong(3)).sum
    val buyers = Tables.events(spark, Sf0001)
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().count()
    assert(sizes == buyers)
  }

  test("q106: funnel counts are non-increasing and anchored at 100%") {
    val rows = Catalog.queries("q106_event_funnel")(spark, Sf0001).collect()
    assert(rows.length == 4)
    val counts = rows.sortBy(_.getInt(0)).map(_.getLong(2))
    counts.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a, "a later funnel stage cannot gain users")
    }
    assert(rows.head.getDouble(3) == 1.0, "stage 1 is 100% of start")
  }

  test("q107: WAU bounds DAU; windows only cover observed days") {
    val rows = Catalog.queries("q107_rolling_wau")(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, wau, st) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(dau <= wau, "the day's actives are a subset of the trailing week's")
      assert(st > 0.0 && st <= 1.0)
    }
    val days = Tables.events(spark, Sf0001)
      .select(date_format(col("ts"), "yyyy-MM-dd")).distinct().count()
    assert(rows.length == days, "one report row per observed day, no padding")
  }

  test("q108: arms partition the users and the z-score is finite") {
    val rows = Catalog.queries("q108_ab_test")(spark, Sf0001).collect()
    assert(rows.length == 2)
    val users = Tables.events(spark, Sf0001).select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(1)).sum == users)
    rows.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) < r.getLong(1),
        "the ≥600 revenue split must be non-degenerate in each arm")
      assert(!r.getDouble(5).isNaN && !r.getDouble(5).isInfinite)
    }
    assert(rows.map(_.getDouble(5)).distinct.length == 1,
      "both rows carry the same pooled z")
  }

  test("dq05: quartiles ordered, totals reconcile, planted outlier detected") {
    val rows = Catalog.queries("dq05_iqr_outliers")(spark, Sf0001).collect()
    assert(rows.length == 5)
    val total = Tables.events(spark, Sf0001).count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      val (q1, q3, lo, hi) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(q1 <= q3 && lo <= q1 && q3 <= hi)
      assert(r.getLong(6) >= 0)
    }
    // planted: 1..100 plus one far point — exactly one outlier
    import spark.implicits._
    val planted = ((1 to 100).map(i => ("a", i.toDouble)) :+ ("a", 10000.0))
      .toDF("grp", "v")
    val out = QualityQueries.iqrOutliers(planted, "grp", "v").collect()(0)
    assert(out.getLong(6) == 1, s"planted outlier count ${out.getLong(6)}")
    assert(out.getDouble(2) == 26.0 && out.getDouble(3) == 76.0,
      s"rank-based quartiles (${out.getDouble(2)}, ${out.getDouble(3)})")
  }

  test("dq04: the star schema audits clean, and planted orphans are detected") {
    val rows = Catalog.queries("dq04_fk_integrity")(spark, Sf0001).collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getLong(3) == 0, s"${r.getString(0)}: synthetic star must be clean")
      assert(r.getDouble(4) == 0.0)
    }
    // planted violations: 2 orphans and 1 NULL among 5 children
    import spark.implicits._
    val child = Seq(Some(1L), Some(2L), Some(99L), Some(98L), None)
      .toDF("fk_key")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val audit = QualityQueries
      .fkEdge("planted", child, "fk_key", parent, "pk").collect()(0)
    assert(audit.getLong(1) == 5 && audit.getLong(2) == 1 && audit.getLong(3) == 2,
      s"planted audit got (${audit.getLong(1)}, ${audit.getLong(2)}, ${audit.getLong(3)})")
  }
}
