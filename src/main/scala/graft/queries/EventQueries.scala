package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event and product analytics over the events log: sessionization
  * (gap-based and the built-in session_window), conversion funnels,
  * retention and LTV cohorts, rolling active users, attribution,
  * transition matrices, an A/B readout, RFM segmentation (quintiles by
  * the histogram-CDF technique, no global sort) and market-basket
  * association rules.
  *
  * Scale posture: shuffles only on user_id or join keys, every small
  * side broadcast, no global windows; window functions partition on
  * high-cardinality keys so state per partition stays small at 100 TB.
  */
object EventQueries {

  /** Gap-based sessionization (30-min inactivity boundary): the
    * standard event-log → session rollup. One shuffle on user_id for
    * the window, then the session aggregate reuses the same
    * partitioning (no second exchange). Timestamps compared in exact
    * integer microseconds (unix_micros / epoch_us) so engine float
    * handling can never move a boundary.
    */
  /** Core sessionization: input must carry (user_id, event_id, us);
    * a gap strictly greater than `gapUs` starts a new session. Public
    * for spec-level edge testing (exact-boundary and tie semantics).
    */
  def sessionize(e: DataFrame, gapUs: Long): DataFrame = {
    val ord = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    e.withColumn("gap", col("us") - lag(col("us"), 1).over(ord))
      .withColumn("is_new",
        when(col("gap").isNull || col("gap") > lit(gapUs), 1).otherwise(0))
      .withColumn("session_seq", sum(col("is_new"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        round((max(col("us")) - min(col("us"))) / lit(1000000.0), 3).as("span_sec"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  private def q62Sessionize(s: SparkSession, dir: String): DataFrame =
    sessionize(Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us")),
      gapUs = 1800000000L)

  // NULLS FIRST, explicitly (r12 chaos-parity drive): Spark's ASC
  // default is nulls-first, DuckDB's is nulls-last — invisible on
  // clean data, but one NULL-ts event moved the session boundaries of
  // its whole user between engines. Window ORDER BYs over nullable
  // keys pin the null end explicitly in every oracle here.
  private val q62Sql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |f AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us NULLS FIRST, event_id) IS NULL
      |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us NULLS FIRST, event_id) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |sess AS (
      |  SELECT user_id, us,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us NULLS FIRST, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM f)
      |SELECT user_id, session_seq, count(*) AS n_events,
      |  round((max(us) - min(us)) / 1000000.0, 3) AS span_sec
      |FROM sess GROUP BY 1, 2
      |ORDER BY user_id, session_seq""".stripMargin

  /** Ordered conversion funnel view → click → purchase: each stage's
    * event must come strictly after the user's previous-stage entry
    * time. Three narrow aggregates chained by broadcast-able
    * per-user joins (the per-stage user sets only shrink); counts
    * come out as one 3-row summary.
    */
  private def q63Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("v_us"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("us") > col("v_us"))
      .groupBy("user_id").agg(min("us").as("c_us"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("us") > col("c_us"))
      .groupBy("user_id").agg(min("us").as("p_us"))
    v.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_view"))
      .unionByName(c.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("2_click")))
      .unionByName(p.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("3_purchase")))
      .select(col("stage"), col("n_users"))
      .orderBy(col("stage"))
  }

  private val q63Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS v_us FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND us > v_us GROUP BY 1),
      |p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND us > c_us GROUP BY 1)
      |SELECT stage, n_users FROM (
      |  SELECT '1_view' AS stage, count(*) AS n_users FROM v
      |  UNION ALL SELECT '2_click', count(*) FROM c
      |  UNION ALL SELECT '3_purchase', count(*) FROM p)
      |ORDER BY stage""".stripMargin

  /** Weekly cohort retention: users grouped by the week of their first
    * event; n_users counts who was still active k weeks later. Two
    * shuffles (per-user first-week, then cohort×offset count-distinct)
    * — both on keys that scale with users, not events.
    */
  private def q64Cohort(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val first = e.groupBy("user_id").agg(min("wk").as("cohort"))
    e.join(first, "user_id")
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("wk"), col("cohort")) / 7).cast("int").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val q64Sql =
    """WITH e AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
      |  CAST(datediff('day', cohort, wk) / 7 AS INTEGER) AS week_offset,
      |  count(DISTINCT user_id) AS n_users
      |FROM e JOIN f USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Batch shape of the streaming attribution join (EventStream.
    * attributed): every purchase attributed to each view by the same
    * user within the preceding hour — the event-time-bounded interval
    * join whose streaming twin bounds state by watermarks. Exact
    * integer-microsecond bounds, so the oracle is trivial.
    */
  private def q75Attribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("us").as("v_us"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("us").as("p_us"))
    v.join(p, Seq("user_id"))
      .filter(col("p_us") >= col("v_us") && col("p_us") <= col("v_us") + lit(3600000000L))
      .select(col("user_id"), col("view_id"), col("purchase_id"))
      .orderBy(col("user_id"), col("view_id"), col("purchase_id"))
  }

  private val q75Sql =
    """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, event_id AS view_id, us AS v_us FROM e WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS purchase_id, us AS p_us FROM e WHERE event_type = 'purchase')
      |SELECT user_id, view_id, purchase_id
      |FROM v JOIN p USING (user_id)
      |WHERE p_us >= v_us AND p_us <= v_us + 3600000000
      |ORDER BY user_id, view_id, purchase_id""".stripMargin

  /** The BUILT-IN session_window aggregation (batch mode), verified
    * against an independent SQL derivation of the same gap semantics —
    * pinning Spark's merge rule exactly: a session spans [first,
    * last + gap), and an event arriving at EXACTLY last + gap starts a
    * new session (win_end is exclusive), hence the >= in the oracle.
    */
  private def q76SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        // ltrim('+'): a year-9999 event's EXCLUSIVE window end lands in
        // year 10000, which Spark's date_format prints '+10000-…' while
        // DuckDB's strftime prints '10000-…' (r12 chaos parity) — the
        // sign is a formatter artifact, not information; no-op for any
        // 4-digit year
        ltrim(date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss"), "+").as("win_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("win_start"))

  // us IS NOT NULL (r12 chaos-parity drive): Spark's session_window
  // DROPS a NULL-timestamp row (a time window over no time is
  // undefined), while this manual gap derivation would give it a
  // session of its own — the one-row divergence the degenerate shard
  // exposed. No-op on clean data.
  private val q76Sql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      |           WHERE ts IS NOT NULL),
      |f AS (
      |  SELECT user_id, us,
      |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
      |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) >= 1800000000
      |         THEN 1 ELSE 0 END AS is_new,
      |    event_id
      |  FROM e),
      |s AS (
      |  SELECT user_id, us,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
      |  FROM f)
      |SELECT user_id,
      |  strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S') AS win_start,
      |  strftime(make_timestamp(max(us) + 1800000000), '%Y-%m-%d %H:%M:%S') AS win_end,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id, sess
      |ORDER BY user_id, win_start""".stripMargin

  /** Per-user event-type transition matrix (first-order Markov
    * estimate) — the sequence statistic behavioral-dataset pipelines
    * compute before sessionizing or sampling. Successors come from a
    * lag window per user ordered by (epoch-micros, event_id) — the
    * deterministic tie order both engines share; probabilities are
    * per-source-state row counts over the tiny transition table.
    */
  private def q86TransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val trans = e.withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
    val margins = trans.groupBy(col("prev")).agg(sum(col("n")).as("n_from"))
    trans.join(margins, "prev")
      .select(col("prev"), col("next"), col("n"),
        round(col("n") / col("n_from"), 4).as("p"))
      .orderBy(col("prev"), col("next"))
  }

  private val q86Sql =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
      |seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY us NULLS FIRST, event_id) AS prev
      |  FROM e),
      |trans AS (
      |  SELECT prev, event_type AS next, count(*) AS n
      |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
      |margins AS (SELECT prev, sum(n) AS n_from FROM trans GROUP BY 1)
      |SELECT t.prev, t.next, CAST(t.n AS BIGINT) AS n,
      |  round(t.n / CAST(m.n_from AS DOUBLE), 4) AS p
      |FROM trans t JOIN margins m USING (prev)
      |ORDER BY t.prev, t.next""".stripMargin

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

  /** Weekly retention cohorts on purchase activity: cohort = the week
    * (Monday-truncated) of a user's FIRST purchase; a cohort member is
    * retained in week k if they purchased in cohort_week + k. Two
    * aggregations over user_id plus a broadcast join of the per-cohort
    * sizes (bounded by the number of calendar weeks, not users).
    */
  private def q105RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    val first = p.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val act = p.join(first, "user_id")
      .select(col("user_id"), col("cohort_week"),
        expr("CAST(datediff(date_trunc('week', ts), cohort_week) DIV 7 AS INT)")
          .as("week_offset"))
      .distinct()
    val sizes = first.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_size"))
    act.groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      // string-format the week: Spark's parquet timestamps round-trip
      // as ns where the DuckDB oracle yields µs (q60's convention)
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_active"), col("cohort_size"),
        round(col("n_active") / col("cohort_size"), 4).as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val q105Sql =
    """WITH p AS (
      |  SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      |first AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week FROM p GROUP BY 1),
      |act AS (
      |  SELECT DISTINCT p.user_id, f.cohort_week,
      |    CAST(date_diff('day', f.cohort_week, date_trunc('week', p.ts)) // 7 AS INTEGER) AS week_offset
      |  FROM p JOIN first f USING (user_id)),
      |sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM first GROUP BY 1)
      |SELECT strftime(a.cohort_week, '%Y-%m-%d') AS cohort_week, a.week_offset,
      |  CAST(count(*) AS BIGINT) AS n_active,
      |  CAST(s.cohort_size AS BIGINT) AS cohort_size,
      |  round(count(*) / CAST(s.cohort_size AS DOUBLE), 4) AS retention
      |FROM act a JOIN sizes s USING (cohort_week)
      |GROUP BY a.cohort_week, a.week_offset, s.cohort_size
      |ORDER BY cohort_week, a.week_offset""".stripMargin

  /** Strictly-ordered conversion funnel with a 24 h step deadline:
    * signup → first view within 24 h → first click within 24 h of that
    * view → first purchase within 24 h of that click. Each stage is
    * one shrinking groupBy(user) aggregate chained by an equi-join on
    * user_id — the min-chaining formulation that needs no per-user
    * event sort and no window. Timestamps compared as exact integer
    * microseconds (q75's convention).
    */
  private def q106EventFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val day = 86400000000L
    def stage(prev: DataFrame, prevT: String, typ: String, out: String) =
      e.filter(col("event_type") === typ).join(prev, "user_id")
        .filter(col("us") > col(prevT) && col("us") <= col(prevT) + lit(day))
        .groupBy(col("user_id")).agg(min(col("us")).as(out))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val s2 = stage(s1, "t1", "view", "t2")
    val s3 = stage(s2, "t2", "click", "t3")
    val s4 = stage(s3, "t3", "purchase", "t4")
    val start = s1.agg(count(lit(1)).as("n_start"))
    def cnt(df: DataFrame, idx: Int, name: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"), col("n_users"))
    cnt(s1, 1, "signup").union(cnt(s2, 2, "view"))
      .union(cnt(s3, 3, "click")).union(cnt(s4, 4, "purchase"))
      .crossJoin(broadcast(start))
      .select(col("stage_idx"), col("stage"), col("n_users"),
        round(col("n_users") / col("n_start"), 4).as("pct_of_start"))
      .orderBy(col("stage_idx"))
  }

  private val q106Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.us) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'view' AND e.us > s1.t1 AND e.us <= s1.t1 + 86400000000 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.us) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.us > s2.t2 AND e.us <= s2.t2 + 86400000000 GROUP BY 1),
      |s4 AS (SELECT e.user_id, min(e.us) AS t4 FROM e JOIN s3 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.us > s3.t3 AND e.us <= s3.t3 + 86400000000 GROUP BY 1),
      |f AS (
      |  SELECT 1 AS stage_idx, 'signup' AS stage, count(*) AS n_users FROM s1
      |  UNION ALL SELECT 2, 'view', count(*) FROM s2
      |  UNION ALL SELECT 3, 'click', count(*) FROM s3
      |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4)
      |SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage,
      |  CAST(n_users AS BIGINT) AS n_users,
      |  round(n_users / CAST((SELECT n_users FROM f WHERE stage_idx = 1) AS DOUBLE), 4) AS pct_of_start
      |FROM f ORDER BY stage_idx""".stripMargin

  /** Rolling 7-day active users per day (DAU/WAU/stickiness). The
    * scale-safe formulation of distinct-over-sliding-window: dedup to
    * (day, user) once, then each active day contributes to exactly 7
    * report days via a BOUNDED explode — an equi-join groupBy, never a
    * sliding window with a distinct aggregate (which Spark cannot do
    * incrementally) and never a range join. Report days are clamped to
    * days that exist in the data.
    */
  private def q107RollingWau(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id")).distinct()
    val days = du.select(col("day")).distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val fan = du.select(col("user_id"), explode(expr(
        "sequence(day, day + INTERVAL 6 DAYS, INTERVAL 1 DAY)")).as("rday"))
      .distinct()
      .join(days.withColumnRenamed("day", "rday"), "rday")
    fan.groupBy(col("rday")).agg(count(lit(1)).as("wau"))
      .withColumnRenamed("rday", "day")
      .join(dau, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        round(col("dau") / col("wau"), 4).as("stickiness"))
      .orderBy(col("day"))
  }

  private val q107Sql =
    """WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT day FROM du),
      |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
      |fan AS (
      |  SELECT DISTINCT d2.day AS day, du.user_id
      |  FROM du JOIN days d2 ON d2.day BETWEEN du.day AND du.day + INTERVAL 6 DAY),
      |wau AS (SELECT day, count(*) AS wau FROM fan GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day, CAST(dau AS BIGINT) AS dau,
      |  CAST(wau AS BIGINT) AS wau,
      |  round(dau / CAST(wau AS DOUBLE), 4) AS stickiness
      |FROM dau JOIN wau USING (day)
      |ORDER BY day""".stripMargin

  /** Deterministic A/B experiment readout: users assigned to two arms
    * by md5-bucket parity (stable across runs/engines — the ml02
    * split rule), conversion = lifetime purchase revenue ≥ 600 (every
    * synthetic user purchases at least once, so any-purchase is
    * saturated — p=1 makes the z denominator exactly 0). Per-arm
    * stats plus the pooled two-proportion z-score, all from two
    * aggregates and a broadcast scalar — the closed-form significance
    * readout, no sampling.
    */
  private def q108AbTest(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val e = Tables.events(s, dir)
    val users = e.select(col("user_id")).distinct()
      .withColumn("arm", pmod(Dedup.md5Hash48(col("user_id").cast("string")), lit(2)).cast("int"))
    val conv = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(sum(col("value")).as("revenue"))
    val perArm = users.join(conv, Seq("user_id"), "left")
      .groupBy(col("arm")).agg(
        count(lit(1)).as("n_users"),
        sum(when(coalesce(col("revenue"), lit(0.0)) >= 600, 1L).otherwise(0L)).as("n_converted"),
        sum(coalesce(col("revenue"), lit(0.0))).as("total_revenue"))
    val z = perArm.agg(
        sum(when(col("arm") === 0, col("n_converted"))).as("c0"),
        sum(when(col("arm") === 0, col("n_users"))).as("n0"),
        sum(when(col("arm") === 1, col("n_converted"))).as("c1"),
        sum(when(col("arm") === 1, col("n_users"))).as("n1"))
      .select((((col("c0") / col("n0")) - (col("c1") / col("n1"))) /
        sqrt((col("c0") + col("c1")) / (col("n0") + col("n1"))
          * (lit(1) - (col("c0") + col("c1")) / (col("n0") + col("n1")))
          * (lit(1.0) / col("n0") + lit(1.0) / col("n1")))).as("z"))
    perArm.crossJoin(broadcast(z))
      .select(col("arm"), col("n_users"), col("n_converted"),
        round(col("n_converted") / col("n_users"), 4).as("conv_rate"),
        round(col("total_revenue") / col("n_users"), 4).as("rev_per_user"),
        round(col("z"), 4).as("z_score"))
      .orderBy(col("arm"))
  }

  private val q108Sql =
    """WITH users AS (
      |  SELECT DISTINCT user_id,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2 AS INTEGER) AS arm
      |  FROM events),
      |conv AS (
      |  SELECT user_id, sum(value) AS revenue FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |per_arm AS (
      |  SELECT arm, count(*) AS n_users,
      |    sum(CASE WHEN coalesce(c.revenue, 0.0) >= 600 THEN 1 ELSE 0 END) AS n_converted,
      |    sum(coalesce(c.revenue, 0.0)) AS total_revenue
      |  FROM users u LEFT JOIN conv c USING (user_id)
      |  GROUP BY arm),
      |zz AS (
      |  -- pooled terms sum arms 0 and 1 ONLY, like the engine's
      |  -- (c0+c1)/(n0+n1): a NULL user_id hashes to a NULL arm whose
      |  -- per_arm row must not enter the pooled proportion (r12
      |  -- chaos-parity drive; no-op when every user_id is non-NULL)
      |  SELECT (
      |    (sum(CASE WHEN arm = 0 THEN n_converted END) / CAST(sum(CASE WHEN arm = 0 THEN n_users END) AS DOUBLE)
      |     - sum(CASE WHEN arm = 1 THEN n_converted END) / CAST(sum(CASE WHEN arm = 1 THEN n_users END) AS DOUBLE))
      |    / sqrt(sum(CASE WHEN arm IN (0, 1) THEN n_converted END) / CAST(sum(CASE WHEN arm IN (0, 1) THEN n_users END) AS DOUBLE)
      |        * (1 - sum(CASE WHEN arm IN (0, 1) THEN n_converted END) / CAST(sum(CASE WHEN arm IN (0, 1) THEN n_users END) AS DOUBLE))
      |        * (1.0 / sum(CASE WHEN arm = 0 THEN n_users END)
      |           + 1.0 / sum(CASE WHEN arm = 1 THEN n_users END)))) AS z
      |  FROM per_arm)
      |SELECT arm, CAST(n_users AS BIGINT) AS n_users,
      |  CAST(n_converted AS BIGINT) AS n_converted,
      |  round(n_converted / CAST(n_users AS DOUBLE), 4) AS conv_rate,
      |  round(total_revenue / n_users, 4) AS rev_per_user,
      |  round(z, 4) AS z_score
      |FROM per_arm CROSS JOIN zz
      |ORDER BY arm""".stripMargin

  /** Cohort LTV curve: cumulative purchase revenue per cohort member
    * by week offset — q105's cohorts with money attached. The
    * cumulative window runs over the (cohort × offset) aggregate,
    * whose row count is bounded by calendar-weeks², never by users or
    * events; cohort sizes broadcast.
    */
  private def q109CohortLtv(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val first = p.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val sizes = first.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_size"))
    val wkRev = p.join(first, "user_id")
      .select(col("cohort_week"),
        expr("CAST(datediff(date_trunc('week', ts), cohort_week) DIV 7 AS INT)")
          .as("week_offset"),
        col("value"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(sum(col("value")).as("wk_rev"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wkRev.withColumn("cum_rev", sum(col("wk_rev")).over(w))
      .join(broadcast(sizes), "cohort_week")
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), round(col("wk_rev"), 2).as("wk_rev"),
        round(col("cum_rev"), 2).as("cum_rev"), col("cohort_size"),
        round(col("cum_rev") / col("cohort_size"), 2).as("ltv_per_user"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val q109Sql =
    """WITH p AS (
      |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |first AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week FROM p GROUP BY 1),
      |sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM first GROUP BY 1),
      |wk AS (
      |  SELECT f.cohort_week,
      |    CAST(date_diff('day', f.cohort_week, date_trunc('week', p.ts)) // 7 AS INTEGER) AS week_offset,
      |    sum(p.value) AS wk_rev
      |  FROM p JOIN first f USING (user_id)
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort_week, week_offset, wk_rev,
      |    sum(wk_rev) OVER (PARTITION BY cohort_week ORDER BY week_offset
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
      |  FROM wk)
      |SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week, c.week_offset,
      |  round(c.wk_rev, 2) AS wk_rev, round(c.cum_rev, 2) AS cum_rev,
      |  CAST(s.cohort_size AS BIGINT) AS cohort_size,
      |  round(c.cum_rev / s.cohort_size, 2) AS ltv_per_user
      |FROM cum c JOIN sizes s USING (cohort_week)
      |ORDER BY cohort_week, c.week_offset""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q62_sessionize", q62Sessionize, Some(q62Sql)),
    Q("q63_funnel", q63Funnel, Some(q63Sql)),
    Q("q64_cohort_retention", q64Cohort, Some(q64Sql)),
    Q("q75_attribution", q75Attribution, Some(q75Sql)),
    Q("q76_session_window", q76SessionWindow, Some(q76Sql)),
    Q("q86_transition_matrix", q86TransitionMatrix, Some(q86Sql)),
    Q("q103_rfm", q103Rfm, Some(q103Sql)),
    Q("q104_market_basket", q104MarketBasket, Some(q104Sql)),
    Q("q105_retention_cohorts", q105RetentionCohorts, Some(q105Sql)),
    Q("q106_event_funnel", q106EventFunnel, Some(q106Sql)),
    Q("q107_rolling_wau", q107RollingWau, Some(q107Sql)),
    Q("q108_ab_test", q108AbTest, Some(q108Sql)),
    Q("q109_cohort_ltv", q109CohortLtv, Some(q109Sql)),
  )
}
