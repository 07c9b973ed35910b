package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.AsOf
import graft.plans.AsofMergeJoinExec
import org.scalacheck.Gen

class AsOfSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")

  test("asofJoinLatest picks the latest right row at or before each left ts") {
    val left = Seq(
      (1L, ts(5), "p1"),
      (1L, ts(10), "p2"),
      (1L, ts(2), "p0"),  // before any right row
      (2L, ts(7), "p3"),
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts(3), 30.0),
      (1L, ts(5), 50.0),  // exactly at p1's ts → inclusive match
      (1L, ts(8), 80.0),
      (2L, ts(1), 10.0),
    ).toDF("user_id", "ts", "v")
    val out = AsOf.asofJoinLatest(left, right, "user_id", "ts", "v")
      .select($"tag", $"v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out === Map(
      "p0" -> None,        // nothing at or before 10:02
      "p1" -> Some(50.0),  // ts-equal right row wins (inclusive)
      "p2" -> Some(80.0),  // latest ≤ 10:10
      "p3" -> Some(10.0)))
  }

  test("asofJoinLatestWithin nulls matches staler than the tolerance") {
    val left = Seq(
      (1L, ts(5), "p1"),   // match at 10:05 (0 min stale) → kept
      (1L, ts(10), "p2"),  // latest match 10:08 (2 min) → kept
      (1L, ts(2), "p0"),   // no match at all → NULL
      (2L, ts(7), "p3"),   // latest match 10:01 (6 min) → too stale
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts(3), 30.0),
      (1L, ts(5), 50.0),
      (1L, ts(8), 80.0),
      (2L, ts(1), 10.0),
    ).toDF("user_id", "ts", "v")
    val out = AsOf.asofJoinLatestWithin(left, right, "user_id", "ts", "v",
        toleranceMicros = 5L * 60 * 1000000)
      .select($"tag", $"v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out === Map(
      "p0" -> None,
      "p1" -> Some(50.0),
      "p2" -> Some(80.0),
      "p3" -> None))       // 6 min > 5 min tolerance
    // left row count preserved even when everything is stale
    assert(AsOf.asofJoinLatestWithin(left, right, "user_id", "ts", "v", 0L)
      .count() === 4)
  }

  test("asofJoinNext picks the earliest right row at or after each left ts") {
    val left = Seq(
      (1L, ts(5), "p1"),   // right row exactly at 10:05 → inclusive
      (1L, ts(9), "p2"),   // latest right is 10:08 < 10:09 → no forward match
      (1L, ts(2), "p0"),   // next is 10:03
      (2L, ts(7), "p3"),   // nothing at or after 10:07 for user 2
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts(3), 30.0),
      (1L, ts(5), 50.0),
      (1L, ts(8), 80.0),
      (2L, ts(1), 10.0),
    ).toDF("user_id", "ts", "v")
    val out = AsOf.asofJoinNext(left, right, "user_id", "ts", "v")
      .select($"tag", $"v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out === Map(
      "p0" -> Some(30.0),  // earliest ≥ 10:02
      "p1" -> Some(50.0),  // ts-equal right row wins (inclusive)
      "p2" -> None,        // no right row at or after 10:09
      "p3" -> None))
  }

  test("asofJoinLatest preserves all left rows and columns") {
    val left = Seq((1L, ts(1), "only")).toDF("user_id", "ts", "tag")
    val right = Seq((9L, ts(0), 1.0)).toDF("user_id", "ts", "v")
    val out = AsOf.asofJoinLatest(left, right, "user_id", "ts", "v")
    assert(out.columns.toSet === Set("user_id", "ts", "tag", "v"))
    assert(out.count() === 1)
    assert(out.filter($"v".isNull).count() === 1) // no key match → NULL carry
  }

  test("custom AsofMergeJoinExec matches the edge-case semantics of the composition") {
    val left = Seq(
      (1L, ts(5), "p1"), (1L, ts(10), "p2"), (1L, ts(2), "p0"), (2L, ts(7), "p3"),
      (3L, ts(4), "p4"), // key with no right rows at all
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, ts(3), 30.0), (1L, ts(5), 50.0), (1L, ts(8), 80.0), (2L, ts(1), 10.0),
      (4L, ts(0), 99.0), // right-only key, must not leak into key 3
    ).toDF("user_id", "ts", "v")
    val out = AsOf.asofJoinLatestExec(left, right, "user_id", "ts", "v")
      .select($"tag", $"v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out === Map(
      "p0" -> None, "p1" -> Some(50.0), "p2" -> Some(80.0), "p3" -> Some(10.0),
      "p4" -> None))
  }

  test("custom exec equals the composition on real data and plans a merge join") {
    val ev = Tables.events(spark, Sf0001)
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts").agg(round(max($"value"), 2).as("click_value"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val composed = AsOf.asofJoinLatest(purchases, clicks, "user_id", "ts", "click_value")
    val custom = AsOf.asofJoinLatestExec(purchases, clicks, "user_id", "ts", "click_value")
    assert(custom.schema.fieldNames.toSeq === composed.schema.fieldNames.toSeq)
    assert(custom.exceptAll(composed).isEmpty && composed.exceptAll(custom).isEmpty)
    assert(PlanTree.nodes(custom).exists(_.isInstanceOf[AsofMergeJoinExec]),
      "expected the custom physical operator in the plan")
  }

  test("asofJoinLatest rejects a left frame that already has the value column") {
    val left = Seq((1L, ts(1), 0.0)).toDF("user_id", "ts", "v")
    val right = Seq((1L, ts(0), 1.0)).toDF("user_id", "ts", "v")
    val e = intercept[IllegalArgumentException] {
      AsOf.asofJoinLatest(left, right, "user_id", "ts", "v")
    }
    assert(e.getMessage.contains("already has a column named 'v'"))
  }

  test("typed SimHash aggregator equals the per-bit vote definition") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta gamma alpha"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val fast = graft.dedup.Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast(1L) === fast(2L))
    assert(fast(1L) !== fast(3L))
    // independent recomputation via the explicit explode formulation
    val slow = docs
      .select($"doc_id", explode(graft.text.TextStats.tokens($"text")).as("t"))
      .select($"doc_id", graft.dedup.Dedup.md5Hash48($"t").as("h"))
      .select($"doc_id", $"h", explode(sequence(lit(0), lit(47))).as("bit"))
      .groupBy($"doc_id", $"bit")
      .agg(sum(when(expr("(h >> bit) & 1") === 1, 1).otherwise(-1)).as("vote"))
      .groupBy($"doc_id")
      .agg(sum(when($"vote" > 0, expr("shiftleft(1L, CAST(bit AS INT))"))
        .otherwise(0L)).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === slow)
  }

  // The custom exec is the one hand-written physical operator in the
  // engine: three independent implementations (the exec, the
  // union+window composition, a driver-side Scala reference) must
  // agree on arbitrary multi-partition data.
  test("as-of exec ≡ composition ≡ driver-side reference on random multi-partition data") {
    for (round <- 0 until 3) {
      val keyGen = Gen.chooseNum(0L, 15L) // small domain → heavy key collisions
      val tsGen = Gen.chooseNum(0L, 500L) // small range → ties and equal-ts matches
      val n = 400 + round * 57
      val leftRows = samples(Gen.zip(keyGen, tsGen), n, 1000L * round)
        .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      // unique (key, ts) on the right per the operator contract
      val rightRows = samples(Gen.zip(keyGen, tsGen), n / 2, 9000L + round)
        .distinct.map { case (k, t) => (k, t, k * 10000.0 + t) }

      val left = leftRows.toDF("event_id", "user_id", "us")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
        .repartition(7)
      val right = rightRows.toDF("user_id", "us", "v")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
        .select(col("user_id"), col("ts"), col("v"))
        .repartition(5)

      def collect(df: org.apache.spark.sql.DataFrame): Seq[(Long, Option[Double])] =
        df.select(col("event_id"), col("v"))
          .as[(Long, Option[Double])].collect().toSeq.sortBy(_._1)

      val viaExec = collect(AsOf.asofJoinLatestExec(left, right, "user_id", "ts", "v"))
      val viaComposition = collect(AsOf.asofJoinLatest(left, right, "user_id", "ts", "v"))

      // driver-side reference: latest right row with rts <= lts per key
      val byKey = rightRows.groupBy(_._1)
      val reference = leftRows.map { case (id, k, t) =>
        val m = byKey.getOrElse(k, Seq.empty).filter(_._2 <= t)
        id -> (if (m.isEmpty) None else Some(m.maxBy(_._2)._3))
      }.sortBy(_._1)

      assert(viaExec.size === leftRows.size, s"round $round: exec dropped left rows")
      assert(viaExec === reference, s"round $round: exec diverges from reference")
      assert(viaComposition === reference, s"round $round: composition diverges from reference")
    }
  }

  test("as-of exec: keys present on only one side and empty right partitions") {
    // left keys 0..9, right keys only 0..4 → half the left rows NULL-pad;
    // right has fewer distinct keys than partitions → some merge
    // partitions see an empty right iterator
    val left = (0 until 100).map(i => (i.toLong, (i % 10).toLong, i.toLong * 10))
      .toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .repartition(8)
    val right = (0 until 25).map(i => ((i % 5).toLong, i.toLong * 37, i * 1.5))
      .toDF("user_id", "us", "v")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .select(col("user_id"), col("ts"), col("v"))
      .repartition(8)
    val out = AsOf.asofJoinLatestExec(left, right, "user_id", "ts", "v")
    assert(out.count() === 100, "every left row must survive")
    val unmatched = out.filter(col("user_id") >= 5)
    assert(unmatched.count() === 50)
    assert(unmatched.filter(col("v").isNotNull).count() === 0,
      "keys absent from the right must NULL-pad, never match")
  }

  test("bucketed+sorted inputs run the custom as-of join with ZERO exchanges") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, Sf0001)
    // the metastore is fresh per JVM but the warehouse dir persists —
    // clear both so overwrite can't trip LOCATION_ALREADY_EXISTS
    Seq("b_purchases", "b_clicks").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      SparkSpec.deleteRecursively(s"/tmp/graft_warehouse/$t")
    }
    // one write task → one file per bucket, so the scan reports both
    // bucket partitioning AND in-bucket sort order
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .repartition(1)
      .write.mode("overwrite").bucketBy(4, "user_id").sortBy("user_id", "ts")
      .saveAsTable("b_purchases")
    ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(round(max(col("value")), 2).as("click_value"))
      .repartition(1)
      .write.mode("overwrite").bucketBy(4, "user_id").sortBy("user_id", "ts")
      .saveAsTable("b_clicks")
    val out = graft.ops.AsOf.asofJoinLatestExec(
      spark.table("b_purchases"), spark.table("b_clicks"),
      "user_id", "ts", "click_value")
    assert(PlanTree.nodes(out).exists(_.isInstanceOf[AsofMergeJoinExec]))
    val exchanges = PlanTree.exchanges(out)
    assert(exchanges.isEmpty, s"bucketed as-of join should be shuffle-free: $exchanges")
    assert(out.count() === spark.table("b_purchases").count(),
      "as-of join must preserve every left row")
  }

  test("AsofLimitPushDown pushes LIMIT into the as-of join's probe side") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, Sf0001)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(round(max(col("value")), 2).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val limited = graft.ops.AsOf.asofJoinLatestExec(
      purchases, clicks, "user_id", "ts", "click_value").limit(7)
    val optimized = limited.queryExecution.optimizedPlan
    val pushed = optimized.collect {
      case j: graft.plans.AsofJoin
          if j.left.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalLimit] => j
    }
    assert(pushed.nonEmpty,
      s"expected LocalLimit pushed into AsofJoin's left child:\n$optimized")
    assert(limited.count() === 7)
  }
}
