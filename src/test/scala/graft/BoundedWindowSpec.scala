package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Extended18Queries

/** Pins the cardinality bound behind every unpartitioned
  * `Window.orderBy` the library still runs (r20, VERDICT r19 #5: the
  * bounds were comment folklore — one genuinely unbounded site at
  * 100 TB is a single-task straggler or a driver OOM, and nothing
  * failed loudly if a bound rotted). Each global cum-window in the
  * catalog runs over a HISTOGRAM whose row count is bounded by a
  * value DOMAIN, not by the data volume; the one metric where that
  * was false (q103's monetary — a per-customer 2-dp sum has
  * customer-cardinality distinct values) now takes a two-level
  * bucket-offset path whose equivalence and ordering this spec pins.
  */
class BoundedWindowSpec extends SparkSpec {
  import spark.implicits._

  test("count-histogram theorem: k distinct count-values ≤ √(2N) (ops.Stats, q103 freq)") {
    // Σ of k distinct positive counts is ≥ k(k+1)/2 and ≤ N, so
    // k ≤ √(2N): the count-histogram window input is mathematically
    // sublinear in the data no matter how the keys are distributed.
    val o = Tables.orders(spark, Sf0001)
    val n = o.count()
    val counts = o.groupBy($"o_custkey").agg(count(lit(1)).as("c"))
    val k = counts.select($"c").distinct().count()
    assert(k <= math.ceil(math.sqrt(2.0 * n)).toLong,
      s"distinct count-values $k exceed √(2·$n) — the theorem, not the data, is wrong")
  }

  test("domain-bounded histogram windows: each site's frame ≤ its documented bound") {
    val docs = Tables.documents(spark, Sf0001)
    val cust = Tables.customer(spark, Sf0001)
    val orders = Tables.orders(spark, Sf0001)
    val part = Tables.part(spark, Sf0001)

    // Extended5:399 / Extended6:299 — quality is round(…, 4) in [0, 1]
    val qualityCells = docs
      .withColumn("__tk", graft.text.TextStats.tokens($"text"))
      .select(round(graft.text.TextStats.qualityScoreFromTokens($"__tk"), 4).as("q"))
      .filter($"q".isNotNull).distinct().count()
    assert(qualityCells <= 10001L)

    // Extended6:37 (q45b) — acctbal is cents in [-999.99, 9999.99]
    val acctCells = cust.select($"c_acctbal").distinct().count()
    assert(acctCells <= 1100000L)
    val acctRange = cust
      .agg(min($"c_acctbal").cast("double"), max($"c_acctbal").cast("double")).first()
    assert(acctRange.getDouble(0) >= -1000.0 && acctRange.getDouble(1) <= 10000.0)

    // Extended8:328 (q94) — floor(o_totalprice/1000): TPC-H totalprice
    // tops out under 600k, so ≤ ~600 buckets at any SF
    val priceBuckets = orders.select(floor($"o_totalprice" / 1000)).distinct().count()
    assert(priceBuckets <= 700L)

    // Extended8:338 (q94 stage 2) — deciles: ≤ 10 rows by construction
    // (least(ceil(·*10/n), 10) has image {1..10})

    // Extended10:251 (q96) — floor(p_retailprice): TPC-H retail price
    // lives in ~[900, 2100], so ≤ ~1300 whole-dollar buckets
    val retailBuckets = part.select(floor($"p_retailprice")).distinct().count()
    assert(retailBuckets <= 1300L)

    // Extended20:312 — b = pmod(h, 1024) ≤ 1024 by construction

    // q103 recency — calendar-bounded: distinct day-diffs ≤ date span
    val span = orders.agg(datediff(max($"o_orderdate"), min($"o_orderdate"))).first().getInt(0)
    val recencyCells = orders.groupBy($"o_custkey").agg(max($"o_orderdate").as("d"))
      .select($"d").distinct().count()
    assert(recencyCells <= span + 1L)
  }

  test("q103 two-level monetary cum equals the single global window, adversarial values") {
    // the exact shape score() runs for the unbounded metric, replayed
    // against the single-window formulation over values that cross
    // every bucket branch: NULL, NaN, ±Infinity, negatives, zero,
    // subnormal-ish, ties, and wide magnitude spread
    val vals: Seq[Option[Double]] = Seq(
      None, None, Some(Double.NaN), Some(-12345.67), Some(-12345.67),
      Some(-0.01), Some(0.0), Some(0.0), Some(1e-9), Some(0.01),
      Some(1.0), Some(1.0), Some(2.5), Some(999.99), Some(1000.0),
      Some(123456789.12), Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), Some(Double.NegativeInfinity))
    val df = vals.toDF("v")
    val hist = df.groupBy($"v").agg(count(lit(1)).as("nv"))

    val wc = Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, 0)
    val single = hist.withColumn("cum", sum($"nv").over(wc))
      .select($"v", $"cum")

    val bucketed = hist.withColumn("hb", Extended18Queries.logBucket($"v"))
    val offs = bucketed.groupBy($"hb").agg(sum($"nv").as("bt"))
      .withColumn("off", coalesce(sum($"bt").over(
        Window.orderBy($"hb").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"hb", $"off")
    val wcb = Window.partitionBy($"hb").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val twoLevel = bucketed.withColumn("cumb", sum($"nv").over(wcb))
      .join(broadcast(offs), Seq("hb"))
      .select($"v", ($"off" + $"cumb").as("cum"))

    def key(r: org.apache.spark.sql.Row): (String, Long) =
      (if (r.isNullAt(0)) "null" else r.getDouble(0).toString, r.getLong(1))
    val a = single.collect().map(key).toSet
    val b = twoLevel.collect().map(key).toSet
    assert(a == b, s"two-level cum diverged:\nsingle=$a\ntwo-level=$b")
  }

  test("q103 log-bucket is monotone in v and keeps NULL first / NaN last") {
    // bucket order must agree with Spark's ascending value order so
    // (hb, v) is a valid refinement of orderBy(v); ±Infinity and the
    // extreme finite magnitudes get bounded buckets of their own
    val vals = Seq(Double.NegativeInfinity, -Double.MaxValue, -1e12, -5.0, -1e-6,
      -Double.MinPositiveValue, 0.0, Double.MinPositiveValue, 1e-6, 0.5, 1.0, 3.14,
      1e4, 1e12, Double.MaxValue, Double.PositiveInfinity)
    // one local frame keeps the input order: NULL, the values, NaN
    val all = (None +: vals.map(Some(_)) :+ Some(Double.NaN)).toDF("v")
      .select(Extended18Queries.logBucket($"v")).as[Long].collect().toSeq
    val buckets = all.slice(1, all.size - 1)
    assert(buckets == buckets.sorted && buckets.distinct.size == buckets.size,
      s"bucket order broke: $vals → $buckets")
    assert(all.head < buckets.head) // NULL bucket strictly first
    assert(all.last > buckets.last) // NaN bucket strictly last
    assert(buckets.forall(b => b > -1100000L && b < 1100000L)) // hard bound
  }
}
