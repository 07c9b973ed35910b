package graft

import graft.queries.Catalog
import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding}

/** The window family (`WindowQueries`): the plans window only over
  * per-key or domain-bounded inputs with cumulative frames. The
  * family's result checks are still in the round-numbered specs, which
  * keep their suite ids.
  */
class WindowSpec extends SparkSpec {
  test("q92 EWMA band join is an equi-join on user with a range residual") {
    assert(PlanTree.cartesians(Catalog.queries("q92_ewma")(spark, Sf0001)).isEmpty,
      "the 20-row band must ride the user_id equi-join")
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
    val frames = PlanTree.windows(Catalog.queries("q93_interp")(spark, Sf0001))
      .flatMap(PlanTree.frames)
    assert(!frames.exists {
        case f: SpecifiedWindowFrame => f.upper == UnboundedFollowing
        case _ => false
      },
      "q93's next-value lookups must use reversed cumulative frames, " +
        s"not an O(n²) UnboundedFollowing frame: $frames")
    assert(frames.exists {
        case f: SpecifiedWindowFrame => f.lower == UnboundedPreceding
        case _ => false
      }, s"expected cumulative window frames in the q93 plan: $frames")
  }
}
