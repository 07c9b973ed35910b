package graft

import org.apache.spark.sql.functions._
import graft.queries.{Catalog, QualityQueries}

/** Round-8 third wave: cohort LTV and value reconciliation. */
class Extended22Spec extends SparkSpec {

  test("q109: cumulative revenue is monotone and LTV is the per-member share") {
    val rows = Catalog.queries("q109_cohort_ltv")(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (wk, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      sorted.foreach { r =>
        assert(r.getDouble(2) > 0.0, s"$wk: weekly revenue must be positive")
        assert(math.abs(r.getDouble(5) -
          math.round(r.getDouble(3) / r.getLong(4) * 100) / 100.0) < 0.011,
          s"$wk: ltv_per_user inconsistent with cum_rev / cohort_size")
      }
      sorted.map(_.getDouble(3)).sliding(2).foreach { case Array(a, b) =>
        assert(b >= a, s"$wk: cum_rev decreased")
      }
      // the running total reconciles with its own weekly terms to
      // rounding (each side rounded independently to cents)
      val lastCum = sorted.last.getDouble(3)
      val sumWk = sorted.map(_.getDouble(2)).sum
      assert(math.abs(lastCum - sumWk) < 0.01 * sorted.length,
        s"$wk: cum $lastCum vs Σ weekly $sumWk")
    }
  }

  test("dq06: synthetic books don't reconcile (documented); constructed books do") {
    val rows = Catalog.queries("dq06_price_reconciliation")(spark, Sf0001).collect()
    assert(rows.map(_.getString(0)).toSet == Set("O", "F", "P"))
    val orders = Tables.orders(spark, Sf0001).count()
    assert(rows.map(_.getLong(1)).sum == orders)
    rows.foreach { r =>
      // every order with lineitems mismatches — the generator draws
      // o_totalprice independently
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
      assert(r.getDouble(5) >= r.getDouble(4), "max >= mean")
    }
    // constructed books that DO reconcile: delta exactly 0, no mismatch
    import spark.implicits._
    val li = Seq(
      (1L, 100.0, 0.1, 0.2), (1L, 50.0, 0.0, 0.0),
      (2L, 10.0, 0.5, 0.0),
    ).toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val o = Seq(
      (1L, "O", 100.0 * 0.9 * 1.2 + 50.0), (2L, "O", 5.0), (3L, "F", 77.0),
    ).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val audit = QualityQueries.priceReconciliation(o, li).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(audit("O").getLong(3) == 0, "reconciling books must report no mismatch")
    assert(audit("O").getDouble(4) == 0.0 && audit("O").getDouble(5) == 0.0)
    assert(audit("F").getLong(2) == 1, "order 3 has no lineitems")
  }
}
