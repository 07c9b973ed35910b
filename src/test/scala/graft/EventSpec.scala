package graft

import graft.queries.Catalog

/** The event family (`EventQueries`): equi-join plans for the day
  * fan-out and the funnel chain. The family's result checks are still
  * in the round-numbered specs, which keep their suite ids.
  */
class EventSpec extends SparkSpec {
  test("q107 rolling WAU: the day fan-out joins by equi-join, never nested-loop") {
    val loops = PlanTree.nestedLoops(Catalog.queries("q107_rolling_wau")(spark, Sf0001))
    assert(loops.isEmpty,
      s"the 7-day containment must be an explode + equi-join, not a range join: $loops")
  }

  test("q106 funnel: four chained equi-joins on user_id, no cartesian") {
    assert(PlanTree.cartesians(Catalog.queries("q106_event_funnel")(spark, Sf0001)).isEmpty)
  }
}
