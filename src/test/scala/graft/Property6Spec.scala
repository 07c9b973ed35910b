package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.streaming.EventStream

/** Randomized streaming ≡ batch sessionization, plus an explicit pin of
  * the exact-gap boundary where the two formulations could plausibly
  * diverge (they don't — see below).
  *
  * Equivalence: on any event set, `session_window` (streaming,
  * incremental state) and the lag-based batch sessionization must
  * produce the same per-user session multiset — delivered here across
  * two time-ordered drops so sessions span the micro-batch cut.
  *
  * Boundary agreement (empirically pinned): both formulations keep an
  * event at EXACTLY +30 min in the same session — the batch form
  * because gap > 30 min is strict, session_window because its merge is
  * end-inclusive (an event at the previous window's end extends it).
  * The second test pins that agreement so a Spark-side change to the
  * merge rule surfaces as a failure here, not as a silent streaming ≡
  * batch drift in production.
  */
class Property6Spec extends SparkSpec {
  import spark.implicits._

  private val GapUs = 1800000000L // 30 minutes

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  test("streaming session_window ≡ batch sessionize on random clustered events") {
    // clustered timestamps: a session anchor slot plus a sub-slot
    // offset, so multi-event sessions, singletons, duplicate
    // timestamps, and cross-slot merges all occur
    val base = 1700000000000000L
    val gen = Gen.zip(Gen.chooseNum(0L, 10L),
      Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 2 * GapUs))
    val rows = samples(gen, 400, 31L).zipWithIndex.map { case ((u, anchor, off), i) =>
      (i.toLong, u, base + anchor * 2 * GapUs + off)
    }
    val exact = rows.toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
      .select($"event_id", $"ts", $"user_id",
        lit("view").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))

    val maxTs = exact.agg(max($"ts")).first().getTimestamp(0)
    val mid = new Timestamp((exact.agg(min($"ts")).first().getTimestamp(0).getTime
      + maxTs.getTime) / 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_prop_").toString
    val q = EventStream.sessionized(EventStream.readEvents(spark, dir),
        gap = "30 minutes", watermarkDelay = "10 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_prop").start()
    exact.filter($"ts" <= lit(mid)).coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    exact.filter($"ts" > lit(mid)).coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    Seq((-1L, new Timestamp(maxTs.getTime + 7200000L), -1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sess_prop").filter($"user_id" >= 0)
      .select($"user_id", $"n_events").as[(Long, Long)].collect().sorted.toSeq
    val batch = graft.queries.EventQueries.sessionize(
        exact.select($"user_id", $"event_id", unix_micros($"ts").as("us")), GapUs)
      .select($"user_id", $"n_events").as[(Long, Long)].collect().sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      s"streaming ${streamed.take(5)}… diverged from batch ${batch.take(5)}…")
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
