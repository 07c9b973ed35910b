package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.AsOf

/** Windows and time series: ranking, running, lag/lead, range and
  * distribution frames (with their global-window-free twins), as-of
  * joins, gaps-and-islands, and the hourly gap-fill, smoothing and
  * interpolation family built on one clamped spine.
  */
object WindowQueries {

  /** Max hours a generated time spine may span, applied as
    * `h1 := least(h1, h0 + CAP)` on BOTH engines. A dense spine is
    * generated between each group's min and max timestamp — so ONE
    * corrupted timestamp (the r11 chaos shard carries year-0001 and
    * year-9999 rows) stretches the spine to ~87 MILLION hours per
    * group and, in q93's case, feeds a window frame that then burned
    * 20+ CPU-minutes on a single task without finishing. Clean data
    * spans 720 hours at every SF, so a 20 000-hour (~2.3 year) cap is
    * ~28× headroom for legitimate spans while bounding a poisoned
    * group to 20 001 rows. The cap is mirrored verbatim in each
    * query's oracle SQL, so results agree on any input.
    */
  val SpineCapHours = 20000

  /** Dense hourly spine (key, h) over each key's own [min h, max h]
    * span of `hourly`'s `h` column, the end clamped to SpineCapHours
    * past the start. Shared by q60, q89 and q93. Before the clamp, one
    * corrupted timestamp pair (year 0001 + 9999, the chaos shard)
    * generated an ~87M-row hourly spine for a single user. The clamp is
    * mirrored in each oracle by [[spineBoundsSql]].
    */
  private def hourlySpine(hourly: DataFrame, key: String): DataFrame =
    hourly.groupBy(col(key))
      .agg(min(col("h")).as("h0"),
        least(max(col("h")),
          min(col("h")) + expr(s"INTERVAL ${SpineCapHours} HOURS")).as("h1"))
      .select(col(key), explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))

  /** Oracle mirror of [[hourlySpine]]'s clamped bounds: one row
    * (key, h0, h1) per key of relation `rel`. */
  private def spineBoundsSql(key: String, rel: String): String =
    s"SELECT $key, min(h) AS h0, " +
      s"least(max(h), min(h) + INTERVAL ${SpineCapHours} HOURS) AS h1 FROM $rel GROUP BY 1"

  /** Ranking windows: top-3 customers by balance per market segment. */
  private def q22WindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("c_mktsegment"), col("rnk"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_mktsegment"), col("rnk"))
  }

  private val q22Sql =
    """SELECT c_mktsegment, CAST(rnk AS INTEGER) AS rnk, c_custkey, c_acctbal
      |FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY c_acctbal DESC, c_custkey) AS rnk
      |  FROM customer
      |)
      |WHERE rnk <= 3
      |ORDER BY c_mktsegment, rnk""".stripMargin

  /** Running aggregation window: cumulative spend per customer over
    * order time (explicit ROWS frame so tie semantics match exactly).
    */
  private def q23WindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q23Sql =
    """SELECT o_custkey, o_orderkey,
      |  round(sum(o_totalprice) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
      |FROM orders
      |WHERE o_custkey < 100
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** lag/lead: gap in days between consecutive orders per customer. */
  private def q24WindowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .as("days_since_prev"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q24Sql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(date_diff('day',
      |    lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
      |                              ORDER BY o_orderdate, o_orderkey),
      |    o_orderdate) AS INTEGER) AS days_since_prev
      |FROM orders
      |WHERE o_custkey < 100
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** For each purchase event, the value of the user's latest click at
    * or before the purchase time. Right side pre-aggregated to unique
    * (user, ts) so tie-breaking is engine-independent.
    */
  private def q36Asof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(round(max(col("value")), 2).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    AsOf.asofJoinLatest(purchases, clicks, "user_id", "ts", "click_value")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
        col("click_value"))
      .orderBy(col("event_id"))
  }

  private val q36Sql =
    """WITH clicks AS (
      |  SELECT user_id, ts, round(max(value), 2) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
      |), purchases AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.event_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
      |  c.click_value
      |FROM purchases p
      |ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  /** Identical as-of semantics through the custom whole-operator path
    * (graft.plans.AsofJoin → AsofMergeJoinExec, preference tier (c)) —
    * gated against the SAME DuckDB ASOF JOIN oracle as q36, proving
    * the custom physical operator end-to-end.
    */
  private def q36bAsofExec(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(round(max(col("value")), 2).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    AsOf.asofJoinLatestExec(purchases, clicks, "user_id", "ts", "click_value")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
        col("click_value"))
      .orderBy(col("event_id"))
  }

  /** Tolerance-bounded as-of: same probe, but clicks more than 30
    * minutes stale are not carried (pandas merge_asof tolerance
    * shape). DuckDB's native ASOF can't add the staleness bound, so
    * the oracle derives it from a windowed latest-match.
    */
  private def q36cAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(round(max(col("value")), 2).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    AsOf.asofJoinLatestWithin(purchases, clicks, "user_id", "ts", "click_value",
        toleranceMicros = 30L * 60 * 1000000)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
        col("click_value"))
      .orderBy(col("event_id"))
  }

  private val q36cSql =
    """WITH clicks AS (
      |  SELECT user_id, ts, round(max(value), 2) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
      |), purchases AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |), latest AS (
      |  SELECT event_id, click_value, cts FROM (
      |    SELECT p.event_id, c.click_value, c.ts AS cts,
      |      row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC) AS rn
      |    FROM purchases p JOIN clicks c
      |      ON p.user_id = c.user_id AND c.ts <= p.ts)
      |  WHERE rn = 1
      |)
      |SELECT p.event_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
      |  CASE WHEN epoch_us(p.ts) - epoch_us(l.cts) <= 1800000000
      |       THEN l.click_value END AS click_value
      |FROM purchases p LEFT JOIN latest l USING (event_id)
      |ORDER BY p.event_id""".stripMargin

  /** Forward as-of: each purchase joined to the user's NEXT click at
    * or after the purchase — checked against DuckDB's native ASOF with
    * the inequality flipped.
    */
  private def q36dAsofNext(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(round(max(col("value")), 2).as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    AsOf.asofJoinNext(purchases, clicks, "user_id", "ts", "click_value")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
        col("click_value"))
      .orderBy(col("event_id"))
  }

  private val q36dSql =
    """WITH clicks AS (
      |  SELECT user_id, ts, round(max(value), 2) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
      |), purchases AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.event_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
      |  c.click_value
      |FROM purchases p
      |ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts
      |ORDER BY p.event_id""".stripMargin

  /** RANGE window frame (value-based, not row-based): average retail
    * price of parts within ±5 size units of each part.
    */
  private def q44RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("p_size")).rangeBetween(-5, 5)
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_size"),
        round(avg(col("p_retailprice")).over(w), 2).as("nearby_avg"))
      .orderBy(col("p_partkey"))
  }

  private val q44Sql =
    """SELECT p_partkey, p_size,
      |  round(avg(p_retailprice) OVER (
      |    ORDER BY p_size RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING), 2) AS nearby_avg
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** Distribution windows: quartile (ntile), percent_rank, cume_dist
    * over customer balances — unique total order so ntile is
    * deterministic.
    */
  private def q45DistWindows(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy(col("c_custkey"))
  }

  private val q45Sql =
    """SELECT c_custkey, CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |  round(percent_rank() OVER w, 6) AS pr,
      |  round(cume_dist() OVER w, 6) AS cd
      |FROM customer
      |WINDOW w AS (ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Navigation functions across frames: first/last/nth order per
    * customer (explicit full frame for last/nth) and lead with a
    * default for the final row.
    */
  private def q46FirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_k"),
        last(col("o_orderkey")).over(full).as("last_k"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_k"),
        lead(col("o_orderkey"), 1, -1).over(w).as("next_k"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q46Sql =
    """SELECT o_custkey, o_orderkey,
      |  first_value(o_orderkey) OVER w AS first_k,
      |  last_value(o_orderkey) OVER wf AS last_k,
      |  nth_value(o_orderkey, 2) OVER wf AS second_k,
      |  lead(o_orderkey, 1, -1) OVER w AS next_k
      |FROM orders
      |WHERE o_custkey < 200
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Time-grid gap-fill: regularize an event series onto a dense
    * hourly grid per event type (missing hours become explicit
    * zero rows) — the resampling step every time-series feature
    * pipeline needs before windowed models. The grid is generated
    * distributed (sequence + explode per group, one row per group
    * before the explode), never on the driver.
    */
  private def q60GapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"), col("value"))
    val counts = ev.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    hourlySpine(ev, "event_type").join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("total_value"), lit(0.0)).as("total_value"))
      .orderBy(col("event_type"), col("hour"))
  }

  private val q60Sql =
    s"""WITH ev AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, value FROM events
      |), counts AS (
      |  SELECT event_type, h, count(*) AS n, round(sum(value), 2) AS total_value
      |  FROM ev GROUP BY 1, 2
      |), grid AS (
      |  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM (${spineBoundsSql("event_type", "ev")})
      |)
      |SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
      |  CAST(coalesce(n, 0) AS BIGINT) AS n,
      |  coalesce(total_value, 0.0) AS total_value
      |FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.h = c.h
      |ORDER BY g.event_type, hour""".stripMargin

  /** 7-day rolling revenue per customer: a RANGE frame over integer
    * epoch-days (value-based, so gaps in order dates are handled
    * correctly — ROWS frames would not be). One shuffle on o_custkey;
    * ties on the same day share the frame by RANGE-peer semantics.
    */
  private def q68RollingWindow(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"),
      datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")).as("d"))
    val w = Window.partitionBy("o_custkey").orderBy("d").rangeBetween(-6, 0)
    o.withColumn("rolling_7d", round(sum("o_totalprice").over(w), 2))
      .select(col("o_orderkey"), col("o_custkey"), col("d"), col("rolling_7d"))
      .orderBy(col("o_custkey"), col("d"), col("o_orderkey"))
  }

  private val q68Sql =
    """WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS d
      |  FROM orders)
      |SELECT o_orderkey, o_custkey, d,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY d
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rolling_7d
      |FROM o
      |ORDER BY o_custkey, d, o_orderkey""".stripMargin

  /** Gaps-and-islands: collapse each customer's consecutive same-status
    * order runs into [start, end] ranges — the SCD2 / run-length
    * compaction pattern. The island id is the classic difference of
    * two row_numbers; both windows share one (custkey-ordered) shuffle.
    */
  private def q72Islands(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
      col("o_orderstatus"), col("o_orderdate").cast("date").as("d"))
    val byCust = Window.partitionBy("o_custkey")
      .orderBy(col("d"), col("o_orderkey"))
    val byCustStatus = Window.partitionBy("o_custkey", "o_orderstatus")
      .orderBy(col("d"), col("o_orderkey"))
    o.withColumn("grp",
        row_number().over(byCust) - row_number().over(byCustStatus))
      .groupBy(col("o_custkey"), col("o_orderstatus"), col("grp"))
      .agg(date_format(min(col("d")), "yyyy-MM-dd").as("run_start"),
        date_format(max(col("d")), "yyyy-MM-dd").as("run_end"),
        count(lit(1)).as("n_orders"))
      .filter(col("o_custkey") < 100)
      .drop("grp")
      .orderBy(col("o_custkey"), col("run_start"), col("o_orderstatus"))
  }

  private val q72Sql =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS d
      |  FROM orders),
      |g AS (
      |  SELECT o_custkey, o_orderstatus, d,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
      |      - row_number() OVER (PARTITION BY o_custkey, o_orderstatus ORDER BY d, o_orderkey) AS grp
      |  FROM o)
      |SELECT o_custkey, o_orderstatus,
      |  strftime(min(d), '%Y-%m-%d') AS run_start,
      |  strftime(max(d), '%Y-%m-%d') AS run_end,
      |  count(*) AS n_orders
      |FROM g WHERE o_custkey < 100
      |GROUP BY o_custkey, o_orderstatus, grp
      |ORDER BY o_custkey, run_start, o_orderstatus""".stripMargin

  /** Distribution statistics WITHOUT a global window — the 100 TB
    * alternative to q45's `Window.orderBy(...)` (which Spark executes
    * on a single partition). Value-based semantics: per customer,
    * cume_dist = P(bal ≤ mine), percent_rank = (#rows below)/(n−1),
    * quartile = ⌈4·cume_dist⌉ — ties share a value's statistics
    * (q45's positional ntile splits ties by the c_custkey tie-break;
    * this is the CDF definition a distribution profile wants).
    *
    * Scale shape (the tx17 histogram-CDF pattern): one groupBy on the
    * balance value (domain-bounded: acctbal is cents in [-999.99,
    * 9999.99] — ≤ 1.1M distinct cells no matter how many rows), one
    * running sum over that tiny histogram, and a broadcast join back.
    * No total-order sort of the data ever happens.
    */
  private def q45bDistCdf(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal"))
    val hist = cust.groupBy(col("c_acctbal")).agg(count(lit(1)).as("nv"))
    // window over the HISTOGRAM (≤ value-domain cells), not the data
    val wc = Window.orderBy(col("c_acctbal"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum", sum(col("nv")).over(wc))
      .withColumn("cum_lt", col("cum") - col("nv"))
      .select(col("c_acctbal"), col("cum"), col("cum_lt"))
    val total = cust.agg(count(lit(1)).as("total"))
    cust.join(broadcast(cum), "c_acctbal")
      .crossJoin(broadcast(total))
      .select(col("c_custkey"),
        ceil(col("cum") * 4 / col("total")).cast("int").as("quartile"),
        round(col("cum_lt") / (col("total") - 1), 6).as("pr"),
        round(col("cum") / col("total"), 6).as("cd"))
      .orderBy(col("c_custkey"))
  }

  private val q45bSql =
    """WITH hist AS (SELECT c_acctbal, count(*) AS nv FROM customer GROUP BY 1),
      |cum AS (
      |  SELECT c_acctbal,
      |    sum(nv) OVER (ORDER BY c_acctbal
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(nv) OVER (ORDER BY c_acctbal
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nv AS cum_lt
      |  FROM hist),
      |total AS (SELECT count(*) AS total FROM customer)
      |SELECT c.c_custkey,
      |  CAST(ceil(m.cum * 4 / CAST(t.total AS DOUBLE)) AS INTEGER) AS quartile,
      |  round(m.cum_lt / CAST(t.total - 1 AS DOUBLE), 6) AS pr,
      |  round(m.cum / CAST(t.total AS DOUBLE), 6) AS cd
      |FROM customer c JOIN cum m USING (c_acctbal) CROSS JOIN total t
      |ORDER BY c.c_custkey""".stripMargin

  /** q44's value-range mean without the global window: p_size has a
    * bounded domain (~50 values), so aggregate per size once, join the
    * tiny histogram to itself on |Δsize| ≤ 5, and broadcast the
    * per-size result back. Same numbers as q44 (the RANGE frame is a
    * pure function of the value), Exchange-free aggregation instead of
    * a single-partition sort — Extended6Spec pins the equality.
    */
  private def q44bRangeHist(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
    val hist = part.groupBy(col("p_size"))
      .agg(sum(col("p_retailprice")).as("sp"), count(lit(1)).as("np"))
    val nearby = hist.as("a").join(hist.as("b"),
        col("b.p_size").between(col("a.p_size") - 5, col("a.p_size") + 5))
      .groupBy(col("a.p_size").as("p_size"))
      .agg((sum(col("b.sp")) / sum(col("b.np"))).as("avg_raw"))
    part.join(broadcast(nearby), "p_size")
      .select(col("p_partkey"), col("p_size"),
        round(col("avg_raw"), 2).as("nearby_avg"))
      .orderBy(col("p_partkey"))
  }

  private val q44bSql =
    """WITH hist AS (
      |  SELECT p_size, sum(p_retailprice) AS sp, count(*) AS np
      |  FROM part GROUP BY 1),
      |nearby AS (
      |  SELECT a.p_size, sum(b.sp) / sum(b.np) AS avg_raw
      |  FROM hist a JOIN hist b ON b.p_size BETWEEN a.p_size - 5 AND a.p_size + 5
      |  GROUP BY 1)
      |SELECT p.p_partkey, p.p_size, round(n.avg_raw, 2) AS nearby_avg
      |FROM part p JOIN nearby n USING (p_size)
      |ORDER BY p.p_partkey""".stripMargin

  /** Time-series densification (gap-fill): hourly event counts per
    * user with ZERO-filled gaps across each user's own active span —
    * the sparse→dense resampling step before any temporal feature
    * window or regular-interval model input. Per-key sequence explode
    * (output linear in keys × span length), one hash join back; no
    * global time axis is ever materialized.
    */
  private def q89GapFill(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id") < 50)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
    val counts = e.groupBy(col("user_id"), col("h")).agg(count(lit(1)).as("n"))
    hourlySpine(e, "user_id")
      .join(counts, Seq("user_id", "h"), "left")
      .select(col("user_id"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("user_id"), col("hour"))
  }

  private val q89Sql =
    s"""WITH e AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h FROM events WHERE user_id < 50),
      |counts AS (SELECT user_id, h, count(*) AS n FROM e GROUP BY 1, 2),
      |spans AS (${spineBoundsSql("user_id", "e")}),
      |dense AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM spans)
      |SELECT d.user_id, strftime(d.h, '%Y-%m-%d %H:%M:%S') AS hour,
      |  CAST(coalesce(c.n, 0) AS BIGINT) AS n
      |FROM dense d LEFT JOIN counts c USING (user_id, h)
      |ORDER BY d.user_id, hour""".stripMargin

  // ---------------------------------------------------------------- q92

  /** EWMA smoothing of each user's hourly event counts (α=0.3), the
    * standard anomaly-baseline / trend feature. Formulated WITHOUT
    * recursion: a 20-row band self-join on the per-user row number
    * (weights α(1−α)^Δ truncated at Δ=20, where (0.7)^20 < 8e-4 of the
    * mass) — both engines sum the identical 20 products, so no
    * iterated float state exists at all.
    *
    * Scale shape: the band join fans each row out ≤ 20× on the
    * (user, rn) equi-key — linear in the data, partitioned by user; no
    * global window, no recursion, no driver state.
    */
  private def q92Ewma(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir).filter(col("user_id") < 30)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val wr = Window.partitionBy(col("user_id")).orderBy(col("h"))
    val rn = counts.withColumn("rn", row_number().over(wr)).localCheckpoint()
    val pairs = rn.as("a").join(rn.as("b"),
      col("a.user_id") === col("b.user_id") &&
        col("b.rn").between(col("a.rn") - 19, col("a.rn")))
    pairs
      .groupBy(col("a.user_id").as("user_id"), col("a.h").as("h"),
        col("a.n").as("n"))
      .agg((sum(pow(lit(0.7), col("a.rn") - col("b.rn")) * col("b.n")) /
        sum(pow(lit(0.7), col("a.rn") - col("b.rn")))).as("ewma_raw"))
      .select(col("user_id"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"), col("n"),
        round(col("ewma_raw"), 6).as("ewma"))
      .orderBy(col("user_id"), col("hour"))
  }

  private val q92Sql =
    """WITH counts AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n
      |  FROM events WHERE user_id < 30 GROUP BY 1, 2),
      |rn AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY h) AS rn
      |  FROM counts)
      |SELECT a.user_id, strftime(a.h, '%Y-%m-%d %H:%M:%S') AS hour, a.n,
      |  round(sum(pow(0.7, a.rn - b.rn) * b.n) / sum(pow(0.7, a.rn - b.rn)), 6)
      |    AS ewma
      |FROM rn a JOIN rn b
      |  ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
      |GROUP BY 1, a.h, a.n
      |ORDER BY a.user_id, hour""".stripMargin

  // ---------------------------------------------------------------- q93

  /** Linear-interpolation imputation over each user's dense hourly
    * grid: gaps between observations take the time-weighted blend of
    * the neighboring observed values; edges clamp to the nearest
    * observation. The last(ignoreNulls)/first(ignoreNulls) window pair
    * is the standard distributed formulation — state is one value per
    * row, partitioned per user, never global.
    */
  private def q93Interp(s: SparkSession, dir: String): DataFrame = {
    // Non-finite readings fold to inert NULL BEFORE the hourly avg
    // (r12 chaos-parity drive): one NaN sensor value otherwise makes
    // the hour's avg NaN, the cumulative fills smear it across the
    // user's whole spine, and Spark's floor(NaN).toLong lands the
    // entire series on 0.0 while DuckDB keeps NaN — silent corruption
    // on one engine, poison on the other. NULL keeps the HOUR on the
    // spine (interpolated like any unobserved hour), losing only the
    // poisoned reading. x * 0 is NaN exactly for NaN/±Inf.
    val obs = Tables.events(s, dir).filter(col("user_id") < 20)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(round(avg(when(isnan(col("value") * lit(0.0)),
        lit(null).cast("double")).otherwise(col("value"))), 4).as("v"))
    val dense = hourlySpine(obs, "user_id")
      .join(obs, Seq("user_id", "h"), "left")
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // next-value via a REVERSED cumulative frame, not (0, unboundedFollowing):
    // Spark's UnboundedPreceding frame is computed incrementally (O(n)
    // per partition) while UnboundedFollowing re-scans to the partition
    // end per row — O(n²), and over a spilled buffer that re-read
    // spill files per row (the r11 chaos hang: 20+ CPU-minutes on one
    // task). first_non_null at-or-after h on ascending order IS
    // last_non_null at-or-before h on descending order — identical
    // semantics, linear cost at any partition size.
    val wNextRev = Window.partitionBy(col("user_id")).orderBy(col("h").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = dense
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("ph", last(when(col("v").isNotNull, col("h")), ignoreNulls = true)
        .over(wPrev))
      .withColumn("nv", last(col("v"), ignoreNulls = true).over(wNextRev))
      .withColumn("nh", last(when(col("v").isNotNull, col("h")), ignoreNulls = true)
        .over(wNextRev))
    // interpolation between 4-dp neighbors systematically lands on
    // exact .xxxx5 decimals (ratio 1/2 of a 4-dp delta), where Spark's
    // BigDecimal round (via Double.toString's shortest repr) and
    // DuckDB's numeric round pick DIFFERENT sides. floor(x*1e4 + 0.5)
    // rounds the identical binary double identically in both engines —
    // no decimal re-interpretation anywhere.
    val interp = when(col("v").isNotNull, col("v"))
      .when(col("pv").isNull, col("nv"))
      .when(col("nv").isNull, col("pv"))
      .otherwise(col("pv") + (col("nv") - col("pv")) *
        (unix_timestamp(col("h")) - unix_timestamp(col("ph"))) /
        (unix_timestamp(col("nh")) - unix_timestamp(col("ph"))))
    filled.select(col("user_id"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        (floor(interp * 10000 + 0.5) / 10000.0).as("v_filled"),
        col("v").isNotNull.as("observed"))
      .orderBy(col("user_id"), col("hour"))
  }

  private val q93Sql =
    s"""WITH obs AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h,
      |    round(avg(CASE WHEN isnan(value * 0) THEN NULL ELSE value END), 4) AS v
      |  FROM events WHERE user_id < 20 GROUP BY 1, 2),
      |spans AS (${spineBoundsSql("user_id", "obs")}),
      |dense AS (
      |  SELECT s.user_id, unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS h
      |  FROM spans s),
      |joined AS (
      |  SELECT d.user_id, d.h, o.v FROM dense d
      |  LEFT JOIN obs o ON o.user_id = d.user_id AND o.h = d.h),
      |filled AS (
      |  SELECT user_id, h, v,
      |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
      |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY h
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      |  FROM joined)
      |SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
      |  floor((CASE
      |    WHEN v IS NOT NULL THEN v
      |    WHEN pv IS NULL THEN nv
      |    WHEN nv IS NULL THEN pv
      |    ELSE pv + (nv - pv) * (epoch(h) - epoch(ph)) / (epoch(nh) - epoch(ph))
      |  END) * 10000 + 0.5) / 10000.0 AS v_filled,
      |  v IS NOT NULL AS observed
      |FROM filled
      |ORDER BY user_id, hour""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q22_window_rank", q22WindowRank, Some(q22Sql)),
    Q("q23_window_running", q23WindowRunning, Some(q23Sql)),
    Q("q24_window_lag", q24WindowLag, Some(q24Sql)),
    Q("q36_asof_join", q36Asof, Some(q36Sql)),
    Q("q36b_asof_exec", q36bAsofExec, Some(q36Sql)),
    Q("q36c_asof_tolerance", q36cAsofTolerance, Some(q36cSql)),
    Q("q36d_asof_next", q36dAsofNext, Some(q36dSql)),
    Q("q44_range_frame", q44RangeFrame, Some(q44Sql)),
    Q("q45_dist_windows", q45DistWindows, Some(q45Sql)),
    Q("q46_first_last", q46FirstLast, Some(q46Sql)),
    Q("q60_gapfill", q60GapFill, Some(q60Sql)),
    Q("q68_rolling_window", q68RollingWindow, Some(q68Sql)),
    Q("q72_islands", q72Islands, Some(q72Sql)),
    Q("q45b_dist_cdf", q45bDistCdf, Some(q45bSql)),
    Q("q44b_range_hist", q44bRangeHist, Some(q44bSql)),
    Q("q89_gap_fill", q89GapFill, Some(q89Sql)),
    Q("q92_ewma", q92Ewma, Some(q92Sql)),
    Q("q93_interp", q93Interp, Some(q93Sql)),
  )
}
