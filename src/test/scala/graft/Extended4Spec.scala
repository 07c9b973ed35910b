package graft

import org.apache.spark.sql.functions._
import graft.queries.{Catalog, EventQueries}

/** Edge semantics for the round-4 operators: sessionization gap
  * boundaries, funnel ordering, histogram buckets and islands.
  */
class Extended4Spec extends SparkSpec {
  import spark.implicits._

  test("sessionize: gap exactly at the threshold stays in-session; one past splits") {
    // user 1: events at 0, 1800s (== gap), 3600s+1us (gap 1800s+1us → split)
    val e = Seq(
      (1L, 1L, 0L),
      (1L, 2L, 1800000000L),
      (1L, 3L, 3600000001L)).toDF("user_id", "event_id", "us")
    val out = EventQueries.sessionize(e, gapUs = 1800000000L)
      .select($"session_seq", $"n_events").as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L), (2L, 1L)))
  }

  test("sessionize: simultaneous events tie-break on event_id and never split") {
    val e = Seq((7L, 10L, 500L), (7L, 11L, 500L), (7L, 12L, 500L))
      .toDF("user_id", "event_id", "us")
    val out = EventQueries.sessionize(e, gapUs = 1L)
      .select($"session_seq", $"n_events", $"span_sec").as[(Long, Long, Double)]
      .collect().toSeq
    assert(out === Seq((1L, 3L, 0.0)))
  }

  test("funnel: stages only count events strictly after the previous stage") {
    // q63 semantics distilled: a click BEFORE the first view must not convert.
    val e = Seq(
      (1L, "click", 10L), (1L, "view", 20L),                     // click too early
      (2L, "view", 10L), (2L, "click", 30L), (2L, "purchase", 40L),
      (3L, "view", 10L), (3L, "click", 10L)                      // same instant: not strictly after
    ).toDF("user_id", "event_type", "us")
    val v = e.filter($"event_type" === "view").groupBy("user_id").agg(min("us").as("v_us"))
    val c = e.filter($"event_type" === "click").join(v, "user_id")
      .filter($"us" > $"v_us").groupBy("user_id").agg(min("us").as("c_us"))
    val p = e.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"us" > $"c_us").groupBy("user_id").agg(min("us").as("p_us"))
    assert(v.count() === 3 && c.count() === 1 && p.count() === 1)
    assert(c.select("user_id").as[Long].head() === 2L)
  }

  test("histogram: buckets cover 0..9, counts conserve, max value clamps into bucket 9") {
    val out = Catalog.queries("q66_histogram")(spark, Sf0001)
      .select($"bucket", $"n").as[(Int, Long)].collect()
    assert(out.map(_._1).forall(b => b >= 0 && b <= 9))
    val total = graft.Tables.lineitem(spark, Sf0001).count()
    assert(out.map(_._2).sum === total) // every row lands in exactly one bucket
  }

  test("islands: consecutive same-status runs collapse with the row_number difference") {
    import org.apache.spark.sql.expressions.Window
    // statuses A A B A → runs (A,2), (B,1), (A,1)
    val rows = Seq((1L, 1L, "A", 1), (1L, 2L, "A", 2), (1L, 3L, "B", 3), (1L, 4L, "A", 4))
      .toDF("cust", "key", "status", "d")
    val byC = Window.partitionBy("cust").orderBy($"d", $"key")
    val byCS = Window.partitionBy("cust", "status").orderBy($"d", $"key")
    val runs = rows.withColumn("grp", row_number().over(byC) - row_number().over(byCS))
      .groupBy($"cust", $"status", $"grp")
      .agg(min($"d").as("s"), count(lit(1)).as("n"))
      .select($"status", $"s", $"n").as[(String, Int, Long)].collect().sortBy(_._2)
    assert(runs.toSeq === Seq(("A", 1, 2L), ("B", 3, 1L), ("A", 4, 1L)))
  }
}
