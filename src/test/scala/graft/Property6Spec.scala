package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Randomized `session_window` ≡ lag-based sessionization, plus an
  * explicit pin of the exact-gap boundary where the two formulations
  * could plausibly diverge (they don't — see below).
  *
  * Equivalence: on any event set, Spark's `session_window` grouping and
  * the lag-based `EventQueries.sessionize` must produce the same
  * per-user session multiset.
  *
  * Boundary agreement (empirically pinned): both formulations keep an
  * event at EXACTLY +30 min in the same session — the lag form
  * because gap > 30 min is strict, session_window because its merge is
  * end-inclusive (an event at the previous window's end extends it).
  * The second test pins that agreement so a Spark-side change to the
  * merge rule surfaces as a failure here, not as a silent drift
  * between the two formulations.
  */
class Property6Spec extends SparkSpec {
  import spark.implicits._

  private val GapUs = 1800000000L // 30 minutes

  test("session_window ≡ batch sessionize on random clustered events") {
    // clustered timestamps: a session anchor slot plus a sub-slot
    // offset, so multi-event sessions, singletons, duplicate
    // timestamps, and cross-slot merges all occur
    val base = 1700000000000000L
    val gen = Gen.zip(Gen.chooseNum(0L, 10L),
      Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 2 * GapUs))
    val rows = samples(gen, 400, 31L).zipWithIndex.map { case ((u, anchor, off), i) =>
      (i.toLong, u, base + anchor * 2 * GapUs + off)
    }
    val events = rows.toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros($"us"))

    val viaWindow = events
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"n_events").as[(Long, Long)].collect().sorted.toSeq
    val batch = graft.queries.EventQueries.sessionize(
        events.select($"user_id", $"event_id", $"us"), GapUs)
      .select($"user_id", $"n_events").as[(Long, Long)].collect().sorted.toSeq
    assert(viaWindow.nonEmpty)
    assert(viaWindow === batch,
      s"session_window ${viaWindow.take(5)}… diverged from batch ${batch.take(5)}…")
  }

  test("exact-gap boundary: batch and session_window agree the event stays in-session") {
    val t0 = 1700000000000000L
    val two = Seq((1L, 5L, t0), (2L, 5L, t0 + GapUs))
      .toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros($"us"))
    val batch = graft.queries.EventQueries.sessionize(
      two.select($"user_id", $"event_id", $"us"), GapUs)
    assert(batch.count() === 1, "batch: gap == 30 min is NOT > 30 min → one session")
    val viaWindow = two
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n")).count()
    assert(viaWindow === 1,
      "session_window's merge is end-inclusive: the +30:00.000000 event extends the window")
    // one microsecond past the boundary must split in BOTH formulations
    val split = Seq((1L, 5L, t0), (2L, 5L, t0 + GapUs + 1))
      .toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros($"us"))
    assert(graft.queries.EventQueries.sessionize(
      split.select($"user_id", $"event_id", $"us"), GapUs).count() === 2)
    assert(split.groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n")).count() === 2)
  }
}
