package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 fourteenth wave: association-rule mining (market-basket
  * support/confidence/lift over order co-occurrence) and RFM customer
  * segmentation (recency/frequency/monetary quintiles by the
  * histogram-CDF technique — no global sorts).
  */
object Extended18Queries {

  // ---------------------------------------------------------------- q103

  /** q103's signed log-scale bucket of v, ordered exactly as Spark
    * sorts v ascending, with a hard bound for any double:
    * NULL → Long.MinValue, −∞ → −1 010 000,
    * negatives → −1 000 000 − ⌊8·ln(−v)⌋ ∈ [−1 005 678, −994 044],
    * ±0 → −500 000, positives → ⌊8·ln v⌋ ∈ [−5 956, 5 678],
    * +∞ → 10 000, NaN → Long.MaxValue. The infinities take their own
    * buckets: ⌊8·ln ∞⌋ saturates to Long.MaxValue, which would merge +∞
    * into the NaN bucket and overflow the negative branch (an ANSI
    * error) for −∞. Pinned by BoundedWindowSpec.
    */
  private[graft] def logBucket(v: Column): Column = {
    val vd = v.cast("double")
    when(v.isNull, lit(Long.MinValue))
      .when(isnan(vd), lit(Long.MaxValue))
      .when(vd === Double.PositiveInfinity, lit(10000L))
      .when(vd === Double.NegativeInfinity, lit(-1010000L))
      .when(vd > 0, floor(log(vd) * 8.0).cast("long"))
      .when(vd < 0, lit(-1000000L) - floor(log(-vd) * 8.0).cast("long"))
      .otherwise(lit(-500000L))
  }

  /** RFM segmentation: per customer, recency = days since last order
    * (against the corpus max date — deterministic, no wall clock),
    * frequency = order count, monetary = total spend; each scored
    * 1–5 by the value-histogram CDF (value ties share a bin — the
    * q45b semantics), and the segment is the concatenated R/F/M code.
    * Output: per-segment customer counts and averages.
    */
  private def q103Rfm(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val maxD = o.agg(max(col("o_orderdate")).as("maxd"))
    val rfm = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("lastd"),
        count(lit(1)).as("freq"),
        round(sum(col("o_totalprice")), 2).as("monetary"))
      .crossJoin(broadcast(maxD))
      .select(col("o_custkey"),
        datediff(col("maxd"), col("lastd")).cast("long").as("recency"),
        col("freq"), col("monetary"))
    // quintile via the bounded value histogram (q45b shape), one per
    // metric; recency scores INVERTED (smaller = better = 5). Each
    // stage materializes (localCheckpoint): the chained score frames
    // otherwise recompute their whole upstream lineage once for the
    // histogram, once for the total, and once for the probe side —
    // profiled 4.5 s → the checkpointed chain is scan-bound
    // `boundedHist` declares WHY the single global cum-window is safe
    // for this metric (r20, VERDICT r19 #5 — the bound was folklore):
    //   recency  — calendar-bounded: distinct day-diffs ≤ the corpus
    //              date span (TPC-H orders span ~2,406 days at every
    //              SF; a century of data is ≤ 37k histogram rows);
    //   freq     — count-histogram theorem: k distinct counts need
    //              Σcᵢ ≥ k(k+1)/2 ≤ N rows, so k ≤ √(2N) — 100 TB of
    //              orders (~10¹² rows) gives k ≤ ~1.4M rows, each 16
    //              bytes — a single window task holds it;
    //   monetary — NOT bounded (a per-customer 2-dp SUM has customer-
    //              cardinality distinct values), so it takes the
    //              two-level path below. Both bounds are pinned by
    //              BoundedWindowSpec.
    def score(df0: DataFrame, metric: String, invert: Boolean,
        boundedHist: Boolean): DataFrame = {
      val df = df0.localCheckpoint()
      val hist = df.groupBy(col(metric).as("v")).agg(count(lit(1)).as("nv"))
      val tot = df.agg(count(lit(1)).as("n"))
      val cum = if (boundedHist) {
        val wc = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
        hist.withColumn("cum", sum(col("nv")).over(wc))
          .crossJoin(broadcast(tot))
          .select(col("v"),
            least(ceil(col("cum") * 5 / col("n")), lit(5L)).cast("int").as("q5"))
      } else {
        // TWO-LEVEL cumulative histogram for the unbounded metric: the
        // old single global window put the whole customer-cardinality
        // histogram in one partition (the one genuinely unbounded
        // Window.orderBy the r19 verdict flagged). A signed log-scale
        // bucket of v is monotone in v and needs NO data statistics
        // (a first cut derived buckets from a broadcast (min, max) —
        // measured ~2× the whole query at sf0.1), with a HARD bucket
        // bound (≈8·ln over the full double range ≈ 11k buckets for
        // any data whatsoever). cum(v) = bucket-offset + within-bucket
        // cum: the within-bucket window partitions by hb, and the only
        // global window left runs over the bucket-TOTALS frame. All
        // sums are longs — exact — so every cum and every q5 is
        // unchanged (bucket layout: logBucket).
        // materialized: feeds the offsets agg AND the within-bucket
        // window — unstaged, each re-runs the histogram shuffle
        val bucketed = hist.crossJoin(broadcast(tot))
          .withColumn("hb", logBucket(col("v")))
          .localCheckpoint()
        val offs = bucketed.groupBy(col("hb")).agg(sum(col("nv")).as("bt"))
          .withColumn("off", coalesce(sum(col("bt")).over(
            Window.orderBy(col("hb")).rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select(col("hb"), col("off"))
        val wcb = Window.partitionBy(col("hb")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)
        bucketed
          .withColumn("cumb", sum(col("nv")).over(wcb))
          .join(broadcast(offs), Seq("hb"))
          .withColumn("cum", col("off") + col("cumb"))
          .select(col("v"),
            least(ceil(col("cum") * 5 / col("n")), lit(5L)).cast("int").as("q5"))
      }
      // cum derives FROM df — join through explicit aliases so the
      // equality can't resolve both sides to the same lineage (the
      // derived-self-join trap: at sf0.001 the unqualified condition
      // degenerated and crossed every customer with every value row)
      val sc = if (invert) (lit(6) - col("c.q5")) else col("c.q5")
      df.as("i").join(broadcast(cum.as("c")), col(s"i.$metric") === col("c.v"))
        .select(col("i.*"), sc.as(s"${metric}_s"))
    }
    val scoredAll = score(score(score(rfm, "recency", invert = true, boundedHist = true),
      "freq", invert = false, boundedHist = true),
      "monetary", invert = false, boundedHist = false)
    scoredAll
      .withColumn("segment", concat_ws("", col("recency_s"), col("freq_s"),
        col("monetary_s")))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        // averages of 2-dp money and of small-integer counts land on
        // exact decimal ties (.xx5) where the engines' round()s split —
        // floor(x*k + 0.5) rounds the shared double identically (q93)
        (floor(avg(col("monetary")) * 100 + 0.5) / 100.0).as("avg_monetary"),
        (floor(avg(col("freq")) * 10000 + 0.5) / 10000.0).as("avg_freq"))
      .orderBy(col("segment"))
  }

  private val q103Sql = {
    // each score step reads its input three times (histogram, count,
    // join), so rfm and every step are MATERIALIZED: DuckDB 1.0 inlines
    // a plain CTE at every read, compounding the chain 3^3
    def score(in: String, metric: String, out: String, invert: Boolean) = {
      val sc = if (invert) "6 - q5" else "q5"
      s"""h_$metric AS (
         |  SELECT $metric AS v, count(*) AS nv FROM $in GROUP BY 1),
         |c_$metric AS (
         |  SELECT v, CAST(least(ceil(
         |      sum(nv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
         |        AND CURRENT ROW) * 5
         |      / CAST((SELECT count(*) FROM $in) AS DOUBLE)), 5) AS INTEGER)
         |    AS q5
         |  FROM h_$metric),
         |$out AS MATERIALIZED (
         |  SELECT i.*, $sc AS ${metric}_s
         |  FROM $in i JOIN c_$metric c ON i.$metric = c.v)""".stripMargin
    }
    """WITH maxd AS (SELECT max(o_orderdate) AS maxd FROM orders),
      |rfm AS MATERIALIZED (
      |  SELECT o_custkey,
      |    CAST(date_diff('day', max(o_orderdate), (SELECT maxd FROM maxd))
      |      AS BIGINT) AS recency,
      |    count(*) AS freq,
      |    round(sum(o_totalprice), 2) AS monetary
      |  FROM orders GROUP BY 1),
      |""".stripMargin +
      Seq(score("rfm", "recency", "s1", invert = true),
        score("s1", "freq", "s2", invert = false),
        score("s2", "monetary", "s3", invert = false)).mkString(",\n") + """
      |SELECT recency_s || '' || freq_s || '' || monetary_s AS segment,
      |  count(*) AS n_customers,
      |  floor(avg(monetary) * 100 + 0.5) / 100.0 AS avg_monetary,
      |  floor(avg(freq) * 10000 + 0.5) / 10000.0 AS avg_freq
      |FROM s3
      |GROUP BY 1
      |ORDER BY segment""".stripMargin
  }

  // ---------------------------------------------------------------- q104

  /** Market-basket association rules at the CATEGORY level (item =
    * l_partkey mod 50 — individual parts get rarer as the catalog
    * scales, so raw-part pairs have support ≈ 1 at sf0.1; categories
    * keep support growing with the data like a real product taxonomy
    * does): pair support from the same canonicalized co-occurrence
    * join as q90 (bounded by basket width, never all-pairs), then
    * confidence (both directions) and lift from exact counts. Rules
    * need support ≥ 10 baskets.
    */
  private def q104MarketBasket(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), (col("l_partkey") % 50).as("l_partkey"))
      .distinct()
      .localCheckpoint()
    // basket count enters the plan as a broadcast scalar — no driver
    // round-trip (the Ann.quantizedTopK lesson from r6's verdict)
    val nOrders = Tables.lineitem(s, dir)
      .select(col("l_orderkey")).distinct().agg(count(lit(1)).as("n_orders"))
    val itemN = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("item_a"), col("b.l_partkey").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 10)
    pairs
      .crossJoin(broadcast(nOrders))
      .join(itemN.withColumnRenamed("l_partkey", "item_a")
        .withColumnRenamed("cnt", "cnt_a"), "item_a")
      .join(itemN.withColumnRenamed("l_partkey", "item_b")
        .withColumnRenamed("cnt", "cnt_b"), "item_b")
      .select(col("item_a"), col("item_b"), col("n_both"),
        round(col("n_both") / col("cnt_a").cast("double"), 4).as("conf_a_to_b"),
        round(col("n_both") / col("cnt_b").cast("double"), 4).as("conf_b_to_a"),
        round(col("n_both") * col("n_orders") /
          (col("cnt_a") * col("cnt_b")).cast("double"), 4).as("lift"))
      .orderBy(col("item_a"), col("item_b"))
  }

  private val q104Sql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey % 50 AS l_partkey FROM lineitem),
      |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
      |itemn AS (SELECT l_partkey, count(*) AS cnt FROM li GROUP BY 1),
      |pairs AS (
      |  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, count(*) AS n_both
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  HAVING count(*) >= 10)
      |SELECT p.item_a, p.item_b, CAST(p.n_both AS BIGINT) AS n_both,
      |  round(p.n_both / CAST(ia.cnt AS DOUBLE), 4) AS conf_a_to_b,
      |  round(p.n_both / CAST(ib.cnt AS DOUBLE), 4) AS conf_b_to_a,
      |  round(p.n_both * n.n_orders / CAST(ia.cnt * ib.cnt AS DOUBLE), 4) AS lift
      |FROM pairs p
      |  JOIN itemn ia ON ia.l_partkey = p.item_a
      |  JOIN itemn ib ON ib.l_partkey = p.item_b
      |  CROSS JOIN n
      |ORDER BY p.item_a, p.item_b""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q103_rfm", q103Rfm, Some(q103Sql)),
    Q("q104_market_basket", q104MarketBasket, Some(q104Sql)),
  )
}
