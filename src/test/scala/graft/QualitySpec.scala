package graft

import graft.queries.Catalog
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** The data-quality family (`QualityQueries` and the `ops.Stats`
  * profiles behind q80/q83): plan shape of the skew profile and the FK
  * audit. The audits' result checks are still in the round-numbered
  * specs, which keep their suite ids.
  */
class QualitySpec extends SparkSpec {
  test("keySkewProfile: the fact table is scanned and shuffled once for all metrics") {
    val events = Tables.events(spark, Sf0001)
    val df = graft.ops.Stats.keySkewProfile(events, "user_id")
    // base/top10/hist all derive from the same per-key count, which
    // is localCheckpoint'd — the raw fact must not appear in the
    // profile plan at all (it was scanned exactly once, eagerly, to
    // build the checkpointed count table)
    val scans = PlanTree.scans(df)
    assert(scans.isEmpty,
      s"fact must be read only into the checkpointed counts, found ${scans.size} scans: $scans")
    assert(PlanTree.cartesians(df).isEmpty,
      "metric assembly must be single-row broadcast crosses, not a data cartesian")
  }

  test("dq04 FK audit: the dimension edges broadcast") {
    val df = Catalog.queries("dq04_fk_integrity")(spark, Sf0001)
    assert(PlanTree.joins(df).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "nation/region/part/supplier/customer parent sets must broadcast")
    assert(PlanTree.cartesians(df).isEmpty)
  }
}
