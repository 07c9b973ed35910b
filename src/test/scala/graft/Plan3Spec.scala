package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import graft.queries.Catalog

/** Plan-shape gates for the round-8 wave — the SCALE.md claims made
  * executable, Plan2Spec-style.
  */
class Plan3Spec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("mx09 mega-pipeline: no cartesian anywhere in the composed DAG") {
    val plan = formatted(Catalog.queries("mx09_megapipeline")(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"),
      "the composed dedup→mix→pack plan must stay equi-join/broadcast only")
    // the contamination probe and the mixing-rate table ride as
    // broadcasts, not shuffles
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("mx10 sharding: every data window is partitioned; only the 1024-bucket histogram is global") {
    val df = Catalog.queries("mx10_shard_manifest")(spark, Sf0001)
    val plan = formatted(df)
    // formatted mode prints one "Window" node per window operator;
    // exactly one of them (the bucket-histogram CDF) has an empty
    // partition spec
    val windowSpecs = plan.linesIterator
      .filter(_.trim.startsWith("Arguments: [sum("))
      .toSeq
    val global = windowSpecs.count(!_.contains("windowspecdefinition(b#"))
    assert(windowSpecs.nonEmpty, "expected window operators in the plan")
    assert(global <= 1,
      s"only the bounded histogram window may be global, found $global of ${windowSpecs.size}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q93 interp: every fill window is a cumulative frame, never UnboundedFollowing") {
    // Spark computes (UNBOUNDED PRECEDING, CURRENT ROW) frames
    // incrementally (O(n) per partition) but re-scans to the partition
    // end per row for (CURRENT ROW, UNBOUNDED FOLLOWING) — O(n²), and
    // over a spilled buffer that re-reads spill files per row. The r11
    // chaos shard proved the difference is not academic: one corrupted
    // timestamp pair burned 20+ CPU-minutes on a single task before
    // the next-value windows were reformulated as reversed cumulative
    // frames (identical semantics). This pins the linear formulation.
    val plan = formatted(Catalog.queries("q93_interp")(spark, Sf0001))
    assert(!plan.toLowerCase.contains("unboundedfollowing"),
      "q93's next-value lookups must use reversed cumulative frames, " +
        "not an O(n²) UnboundedFollowing frame")
    assert(plan.toLowerCase.contains("unboundedpreceding"),
      "expected cumulative window frames in the q93 plan")
  }

  test("q107 rolling WAU: the day fan-out joins by equi-join, never nested-loop") {
    val plan = formatted(Catalog.queries("q107_rolling_wau")(spark, Sf0001))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "the 7-day containment must be an explode + equi-join, not a range join")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q106 funnel: four chained equi-joins on user_id, no cartesian") {
    val plan = formatted(Catalog.queries("q106_event_funnel")(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
  }

  test("dq04 FK audit: the dimension edges broadcast") {
    val plan = formatted(Catalog.queries("dq04_fk_integrity")(spark, Sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      "nation/region/part/supplier/customer parent sets must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q38c exact+sketch gate: the Expand collapses map-side before its shuffle") {
    // Spark's canonical multi-distinct plan: Expand over the scan, then
    // a PARTIAL aggregate on the same side of the exchange — the 3× row
    // expansion must never travel the network un-combined
    val plan = formatted(Catalog.queries("q38c_hll_error_gate")(spark, Sf0001))
    // locate nodes by NAME in the numbered detail list, never by
    // literal node numbers — a planner change that renumbers nodes
    // must not fail this test spuriously (ADVICE r9). The detail
    // sections print in node-number order, which is bottom-up from the
    // scan, so document order here IS execution order.
    val titles = plan.linesIterator.collect {
      case l if l.matches("""\(\d+\) \S.*""") =>
        l.replaceFirst("""\(\d+\) """, "").trim
    }.toSeq
    val ei = titles.indexWhere(_.startsWith("Expand"))
    assert(ei >= 0, s"two exact countDistincts imply an Expand; nodes: $titles")
    val above = titles.drop(ei + 1)
    val aggIdx = above.indexWhere(_.contains("Aggregate"))
    val exIdx = above.indexWhere(_.startsWith("Exchange"))
    assert(aggIdx >= 0 && exIdx >= 0 && aggIdx < exIdx,
      s"a partial aggregate must sit between Expand and the first Exchange; nodes above Expand: $above")
  }

  test("dd01 exact dedup: one fingerprint shuffle feeds one window") {
    // the canonical plan (Dedup.exactGroups): fingerprint projection,
    // one exchange on fp, one window computing the group's min id and
    // size per row — no join-back, no cartesian, no nested-loop
    val plan = formatted(Catalog.queries("dd01_exact_dedup")(spark, Sf0001))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert("""hashpartitioning\(fp#""".r.findAllIn(plan).size == 1,
      s"expected exactly one fingerprint exchange:\n$plan")
    assert("""(?m)^\(\d+\) Window$""".r.findAllIn(plan).size == 1,
      s"expected exactly one Window node:\n$plan")
  }
}
