package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data quality: a single-pass constraint audit (the Deequ shape),
  * drift (PSI — the check a training-data pipeline runs on every new
  * drop before trusting it), a Benford first-digit audit,
  * referential integrity across the star schema (dq04 checks keys),
  * cross-table value reconciliation (dq06 checks values), IQR and
  * z-score outliers, key skew, and a candidate-key profile.
  */
object QualityQueries {

  /** Group-wise z-score outliers on customer balances: |z| ≥ 1.6 sample
    * standard deviations from the nation mean. The z is rounded on
    * BOTH sides before the compare (ops.Stats contract) so float
    * aggregation order can't flip boundary rows.
    */
  private def q80GroupOutliers(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.zscoreOutliers(
        Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")),
        groupCol = "c_nationkey", valueCol = "c_acctbal", zMin = 1.6)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"), col("z"))
      .orderBy(col("c_custkey"))

  private val q80Sql =
    """WITH s AS (
      |  SELECT c_nationkey, avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sd
      |  FROM customer GROUP BY c_nationkey)
      |SELECT c_custkey, c_nationkey, c_acctbal, round((c_acctbal - mu) / sd, 4) AS z
      |FROM customer JOIN s USING (c_nationkey)
      |WHERE abs(round((c_acctbal - mu) / sd, 4)) >= 1.6
      |ORDER BY c_custkey""".stripMargin

  /** Key-skew profile of events.user_id — the pre-join diagnostic for
    * salting/broadcast/AQE decisions, emitted as (metric, value) rows.
    */
  private def q83KeySkew(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stats.keySkewProfile(Tables.events(s, dir), "user_id")
      .orderBy(col("metric"))

  private val q83Sql =
    """WITH counts AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
      |base AS (
      |  SELECT count(*) AS n_keys, sum(c) AS total_rows, max(c) AS max_cnt,
      |    avg(c) AS avg_cnt
      |  FROM counts),
      |top10 AS (
      |  SELECT sum(c) AS top10
      |  FROM (SELECT c FROM counts ORDER BY c DESC, user_id LIMIT 10)),
      |hist AS (SELECT c, count(*) AS nk FROM counts GROUP BY 1),
      |cum AS (
      |  SELECT c, sum(nk) OVER (ORDER BY c
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |p99 AS (
      |  SELECT min(c) AS p99_cnt FROM cum CROSS JOIN base
      |  WHERE cum >= ceil(n_keys * 0.99))
      |SELECT metric, value FROM (
      |  SELECT 'n_keys' AS metric, CAST(n_keys AS DOUBLE) AS value FROM base
      |  UNION ALL SELECT 'total_rows', CAST(total_rows AS DOUBLE) FROM base
      |  UNION ALL SELECT 'max_cnt', CAST(max_cnt AS DOUBLE) FROM base
      |  UNION ALL SELECT 'avg_cnt', round(avg_cnt, 4) FROM base
      |  UNION ALL SELECT 'skew_ratio', round(max_cnt / avg_cnt, 4) FROM base
      |  UNION ALL SELECT 'top10_share', round(top10 / CAST(total_rows AS DOUBLE), 4)
      |    FROM top10 CROSS JOIN base
      |  UNION ALL SELECT 'p99_cnt', CAST(p99_cnt AS DOUBLE) FROM p99)
      |ORDER BY metric""".stripMargin

  // ---------------------------------------------------------------- dq01

  /** Single-pass data-quality constraint audit (the Deequ/
    * Great-Expectations shape): PK uniqueness, FK containment, range,
    * domain, and completeness checks, each reduced to a violation
    * count — per table ONE aggregate scan (the FK check is one
    * broadcast-ably small anti-join), unioned into a tiny report.
    * This is the gate a 100 TB ingest runs before anything else reads
    * the drop.
    */
  private def dq01Constraints(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val c = Tables.customer(s, dir)
    val pkDup = o.agg((count(lit(1)) - countDistinct(col("o_orderkey")))
      .as("n_violations"))
      .select(lit("orders_pk_unique").as("check"), col("n_violations"))
    val fkOrphan = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("lineitem_fk_orders").as("check"), col("n_violations"))
    val discRange = li.agg(sum(when(col("l_discount") < 0 ||
        col("l_discount") > 0.1, 1L).otherwise(0L)).as("n_violations"))
      .select(lit("lineitem_discount_range").as("check"), col("n_violations"))
    val flagDomain = li.agg(sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
        .otherwise(0L)).as("n_violations"))
      .select(lit("lineitem_returnflag_domain").as("check"), col("n_violations"))
    val balComplete = c.agg(sum(when(col("c_acctbal").isNull, 1L).otherwise(0L))
      .as("n_violations"))
      .select(lit("customer_acctbal_complete").as("check"), col("n_violations"))
    val dateBounds = o.agg(sum(when(col("o_orderdate") < to_date(lit("1995-01-01")) ||
        col("o_orderdate") > to_date(lit("2001-12-31")), 1L).otherwise(0L))
      .as("n_violations"))
      .select(lit("orders_date_bounds").as("check"), col("n_violations"))
    pkDup.union(fkOrphan).union(discRange).union(flagDomain)
      .union(balComplete).union(dateBounds)
      .select(col("check"), col("n_violations"),
        (col("n_violations") === 0).as("pass"))
      .orderBy(col("check"))
  }

  private val dq01Sql =
    """WITH checks AS (
      |  SELECT 'orders_pk_unique' AS "check",
      |    count(*) - count(DISTINCT o_orderkey) AS n_violations FROM orders
      |  UNION ALL
      |  SELECT 'lineitem_fk_orders',
      |    count(*) FROM lineitem l
      |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem_discount_range',
      |    coalesce(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END), 0)
      |    FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_returnflag_domain',
      |    coalesce(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END), 0)
      |    FROM lineitem
      |  UNION ALL
      |  SELECT 'customer_acctbal_complete',
      |    coalesce(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END), 0)
      |    FROM customer
      |  UNION ALL
      |  SELECT 'orders_date_bounds',
      |    coalesce(sum(CASE WHEN o_orderdate < DATE '1995-01-01'
      |      OR o_orderdate > DATE '2001-12-31' THEN 1 ELSE 0 END), 0)
      |    FROM orders)
      |SELECT "check", CAST(n_violations AS BIGINT) AS n_violations,
      |  n_violations = 0 AS pass
      |FROM checks ORDER BY "check"""".stripMargin

  // ---------------------------------------------------------------- dq02

  /** Population Stability Index between two time periods of the same
    * table, per feature, from Laplace-smoothed histogram fractions:
    * PSI = Σ_buckets (p_i − q_i)·ln(p_i/q_i). Everything upstream of
    * the ln is exact integer counting; bucket domains are value-
    * bounded (the tx17 argument), so the whole check is two tiny
    * aggregates per feature regardless of table size. PSI < 0.1 is
    * the conventional "stable" threshold; the synthetic generator is
    * time-stationary, so the gate's expected report is stability —
    * Extended11Spec plants a drifted frame to prove the metric moves.
    */
  private def dq02DriftPsi(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(
      (col("l_shipdate") >= to_date(lit("1998-01-01"))).as("recent"),
      floor(col("l_extendedprice") / 5000).cast("long").as("price_b"),
      floor(col("l_quantity") / 5).cast("long").as("qty_b"),
      round(col("l_discount") * 100, 0).cast("long").as("disc_b"))
    def psi(bucket: String, feature: String): DataFrame = {
      val hist = li.groupBy(col(bucket).as("b"))
        .agg(sum(when(col("recent"), 1L).otherwise(0L)).as("cr"),
          sum(when(!col("recent"), 1L).otherwise(0L)).as("cp"))
      // Laplace-smoothed fractions over the feature's own bucket count
      // keep empty cells finite without dropping them
      val tot = hist.agg(sum(col("cr")).as("nr"), sum(col("cp")).as("np"),
        count(lit(1)).as("nb"))
      hist.crossJoin(broadcast(tot))
        .select((((col("cr") + 1) / (col("nr") + col("nb")).cast("double")).as("p")),
          (((col("cp") + 1) / (col("np") + col("nb")).cast("double")).as("q")))
        .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi_raw"))
        .select(lit(feature).as("feature"), round(col("psi_raw"), 6).as("psi"),
          (round(col("psi_raw"), 6) < 0.1).as("stable"))
    }
    psi("price_b", "extendedprice").union(psi("qty_b", "quantity"))
      .union(psi("disc_b", "discount"))
      .orderBy(col("feature"))
  }

  private val dq02Sql = {
    def one(bucket: String, feature: String) =
      s"""SELECT '$feature' AS feature, round(psi_raw, 6) AS psi,
         |  round(psi_raw, 6) < 0.1 AS stable
         |FROM (
         |  SELECT sum((p - q) * ln(p / q)) AS psi_raw
         |  FROM (
         |    SELECT (cr + 1) / CAST(t.nr + t.nb AS DOUBLE) AS p,
         |      (cp + 1) / CAST(t.np + t.nb AS DOUBLE) AS q
         |    FROM (
         |      SELECT $bucket AS b,
         |        sum(CASE WHEN recent THEN 1 ELSE 0 END) AS cr,
         |        sum(CASE WHEN NOT recent THEN 1 ELSE 0 END) AS cp
         |      FROM li GROUP BY 1) h
         |    CROSS JOIN (
         |      SELECT sum(cr) AS nr, sum(cp) AS np, count(*) AS nb
         |      FROM (
         |        SELECT $bucket AS b,
         |          sum(CASE WHEN recent THEN 1 ELSE 0 END) AS cr,
         |          sum(CASE WHEN NOT recent THEN 1 ELSE 0 END) AS cp
         |        FROM li GROUP BY 1) h2) t))""".stripMargin
    """WITH li AS (
      |  SELECT l_shipdate >= DATE '1998-01-01' AS recent,
      |    CAST(floor(l_extendedprice / 5000) AS BIGINT) AS price_b,
      |    CAST(floor(l_quantity / 5) AS BIGINT) AS qty_b,
      |    CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_b
      |  FROM lineitem)
      |""".stripMargin +
      Seq(one("price_b", "extendedprice"), one("qty_b", "quantity"),
        one("disc_b", "discount")).mkString("", "\nUNION ALL\n", "\n") +
      "ORDER BY feature"
  }

  /** Benford first-digit audit — the forensic
    * member of the data-quality family (dq01 constraints, dq02 drift,
    * dq03 this): compare the first-significant-digit distribution of a
    * monetary column against Benford's law and report the divergence.
    * A synthetic uniform price generator does NOT follow Benford — the
    * gate documents that honestly (high chi2), exactly as dq02 reports
    * the stationary generator stable; on real financial data the same
    * query is the standard fabrication screen.
    *
    * Per first digit (1–9): observed count and frequency vs the
    * Benford expectation log10(1 + 1/d), plus the per-digit chi-square
    * contribution. One aggregate over the scan; digit extraction is
    * floor(p / 10^floor(log10 p)) — identical double arithmetic in
    * both engines.
    */
  private def dq03Benford(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.orders(s, dir).filter(col("o_totalprice") > 0)
      .select(floor(col("o_totalprice") /
        pow(lit(10.0), floor(log10(col("o_totalprice"))))).cast("int").as("d"))
    val tot = p.agg(count(lit(1)).as("n"))
    p.groupBy(col("d")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .select(col("d"), col("cnt"),
        (floor(col("cnt") / col("n").cast("double") * 1e6 + 0.5) / 1e6)
          .as("obs_freq"),
        (floor(log10(lit(1.0) + lit(1.0) / col("d")) * 1e6 + 0.5) / 1e6)
          .as("benford_freq"))
      .withColumn("chi2_term",
        floor(pow(col("obs_freq") - col("benford_freq"), 2) /
          col("benford_freq") * 1e6 + 0.5) / 1e6)
      .orderBy(col("d"))
  }

  private val dq03Sql =
    """WITH p AS (
      |  SELECT CAST(floor(o_totalprice
      |    / pow(10.0, floor(log10(o_totalprice)))) AS INTEGER) AS d
      |  FROM orders WHERE o_totalprice > 0),
      |tot AS (SELECT count(*) AS n FROM p),
      |f AS (
      |  SELECT d, count(*) AS cnt,
      |    floor(count(*) / CAST(t.n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS obs_freq,
      |    floor(log10(1.0 + 1.0 / d) * 1e6 + 0.5) / 1e6 AS benford_freq
      |  FROM p CROSS JOIN tot t
      |  GROUP BY d, t.n)
      |SELECT d, cnt, obs_freq, benford_freq,
      |  floor(pow(obs_freq - benford_freq, 2) / benford_freq * 1e6 + 0.5) / 1e6
      |    AS chi2_term
      |FROM f
      |ORDER BY d""".stripMargin

  /** Referential-integrity audit of the whole star schema: for each of
    * the seven FK edges, total child rows, NULL keys (not violations),
    * and orphans (non-NULL keys with no parent). Each edge is one
    * left join onto the DISTINCT parent-key set (dimension sides
    * broadcast; the lineitem→orders edge shuffles on the key) folded
    * into a single-row aggregate; the report unions seven scalar rows.
    * The synthetic generator is referentially clean — the gate
    * documents that, and the spec proves detection on planted orphans.
    */
  /** One FK edge of the audit: child rows joined to the distinct
    * parent-key set, folded to (total, null-keys, orphans). Public so
    * the spec can prove orphan DETECTION on planted violations (the
    * star schema itself is clean). */
  def fkEdge(name: String, child: DataFrame, ck: String,
      parent: DataFrame, pk: String): DataFrame = {
    val p = parent.select(col(pk).as("k")).distinct().withColumn("m", lit(1))
    child.select(col(ck).as("k")).join(p, Seq("k"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_nulls"),
        sum(when(col("k").isNotNull && col("m").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .select(lit(name).as("fk"), col("n_rows"), col("n_nulls"), col("n_orphans"))
  }

  private def dq04FkIntegrity(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String): DataFrame =
      fkEdge(name, child, ck, parent, pk)
    val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir); val su = Tables.supplier(s, dir)
    val pa = Tables.part(s, dir); val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey")
      .union(edge("lineitem.l_partkey->part", li, "l_partkey", pa, "p_partkey"))
      .union(edge("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"))
      .union(edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"))
      .union(edge("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"))
      .union(edge("supplier.s_nationkey->nation", su, "s_nationkey", n, "n_nationkey"))
      .union(edge("nation.n_regionkey->region", n, "n_regionkey", r, "r_regionkey"))
      .withColumn("orphan_rate",
        round(col("n_orphans") / col("n_rows"), 4))
      .orderBy(col("fk"))
  }

  private val dq04Sql = {
    def edge(name: String, child: String, ck: String, parent: String, pk: String) =
      s"""SELECT '$name' AS fk, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN c.$ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(sum(CASE WHEN c.$ck IS NOT NULL AND p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
         |FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p ON c.$ck = p.$pk""".stripMargin
    Seq(
      edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      edge("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"))
      .mkString("SELECT fk, n_rows, n_nulls, n_orphans, round(n_orphans / CAST(n_rows AS DOUBLE), 4) AS orphan_rate FROM (\n",
        "\nUNION ALL ", "\n) ORDER BY fk")
  }

  /** IQR outlier fences for a grouped value column, computed
    * scale-safely: quartiles come from the per-group 2-dp value
    * histogram (rank-based, q = min value whose cumulative count
    * reaches ceil(q·n) — no interpolation, so integer logic decides),
    * and the outlier count is one broadcast-join-and-aggregate pass.
    * No global sort, no per-row window; the only windows run over the
    * bounded per-group histograms. Public so the spec can plant
    * outliers. */
  def iqrOutliers(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // integer cents end-to-end: quartiles are exact cent values and the
    // 1.5·IQR fences live in HALF-cents, so no engine ever rounds a
    // half-way decimal (round(x, 2) at an exact .xx5 is where Spark's
    // HALF_UP-on-decimal and DuckDB's binary-value rounding part ways)
    // finite screen (r11): floor() on a double returns LONG, so a
    // single NaN/±Inf metric is an ANSI ARITHMETIC_OVERFLOW that
    // aborts the whole audit — exactly the failure an outlier AUDIT
    // must survive. Non-finite values are excluded from the histogram
    // (they would poison the quartiles in either direction); NULLs
    // keep their original path. Mirrored in the oracle (isfinite).
    val d = df.filter(col(valueCol).isNull ||
        (!isnan(col(valueCol)) && abs(col(valueCol)) < lit(Double.PositiveInfinity)))
      .select(col(groupCol).as("g"),
        floor(col(valueCol) * 100 + 0.5).cast("long").as("vc"))
      // materialized (r19 optimization round): `d` feeds the histogram
      // AND the final fence probe — two full input scans unstaged
      .localCheckpoint()
    val hist = d.groupBy(col("g"), col("vc")).agg(count(lit(1)).as("n"))
    val tot = hist.groupBy(col("g")).agg(sum(col("n")).as("nn"))
    val w = Window.partitionBy(col("g")).orderBy(col("vc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // materialized: q1 and q3 are different filters over this bounded
    // cumulative histogram — unstaged, the window pass ran twice.
    // Console A/B for the pair of checkpoints: 1.20-1.84 s → 0.74-0.89 s
    // steady at sf0.1, byte-identical output.
    val cum = hist.withColumn("cum", sum(col("n")).over(w)).join(tot, "g")
      .localCheckpoint()
    val q1 = cum.filter(col("cum") >= ceil(col("nn") * 0.25))
      .groupBy(col("g")).agg(min(col("vc")).as("q1c"))
    val q3 = cum.filter(col("cum") >= ceil(col("nn") * 0.75))
      .groupBy(col("g")).agg(min(col("vc")).as("q3c"))
    val fences = tot.join(q1, "g").join(q3, "g")
      .select(col("g"), col("nn"), col("q1c"), col("q3c"),
        (lit(2) * col("q1c") - lit(3) * (col("q3c") - col("q1c"))).as("lo_hc"),
        (lit(2) * col("q3c") + lit(3) * (col("q3c") - col("q1c"))).as("hi_hc"))
    d.join(broadcast(fences), "g")
      .groupBy(col("g"))
      .agg(sum(when(lit(2) * col("vc") < col("lo_hc")
          || lit(2) * col("vc") > col("hi_hc"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .join(fences, "g")
      .select(col("g").as(groupCol), col("nn").as("n"),
        (col("q1c") / 100.0).as("q1"), (col("q3c") / 100.0).as("q3"),
        (col("lo_hc") / 200.0).as("lo_fence"), (col("hi_hc") / 200.0).as("hi_fence"),
        col("n_outliers"),
        round(col("n_outliers") / col("nn"), 4).as("outlier_rate"))
      .orderBy(col(groupCol))
  }

  private def dq05IqrOutliers(s: SparkSession, dir: String): DataFrame =
    iqrOutliers(Tables.events(s, dir), "event_type", "value")

  private val dq05Sql =
    """WITH d AS (
      |  SELECT event_type AS g,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
      |  FROM events WHERE value IS NULL OR isfinite(value)),
      |hist AS (SELECT g, vc, count(*) AS n FROM d GROUP BY 1, 2),
      |tot AS (SELECT g, sum(n) AS nn FROM hist GROUP BY 1),
      |cum AS (
      |  SELECT h.g, h.vc, t.nn,
      |    sum(h.n) OVER (PARTITION BY h.g ORDER BY h.vc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist h JOIN tot t USING (g)),
      |q1 AS (SELECT g, min(vc) AS q1c FROM cum WHERE cum >= ceil(nn * 0.25) GROUP BY 1),
      |q3 AS (SELECT g, min(vc) AS q3c FROM cum WHERE cum >= ceil(nn * 0.75) GROUP BY 1),
      |fences AS (
      |  SELECT t.g, t.nn, q1.q1c, q3.q3c,
      |    2 * q1.q1c - 3 * (q3.q3c - q1.q1c) AS lo_hc,
      |    2 * q3.q3c + 3 * (q3.q3c - q1.q1c) AS hi_hc
      |  FROM tot t JOIN q1 USING (g) JOIN q3 USING (g)),
      |oc AS (
      |  SELECT d.g,
      |    sum(CASE WHEN 2 * d.vc < f.lo_hc OR 2 * d.vc > f.hi_hc THEN 1 ELSE 0 END) AS n_outliers
      |  FROM d JOIN fences f USING (g) GROUP BY 1)
      |SELECT f.g AS event_type, CAST(f.nn AS BIGINT) AS n,
      |  f.q1c / 100.0 AS q1, f.q3c / 100.0 AS q3,
      |  f.lo_hc / 200.0 AS lo_fence, f.hi_hc / 200.0 AS hi_fence,
      |  CAST(oc.n_outliers AS BIGINT) AS n_outliers,
      |  round(oc.n_outliers / CAST(f.nn AS DOUBLE), 4) AS outlier_rate
      |FROM fences f JOIN oc USING (g)
      |ORDER BY event_type""".stripMargin

  /** Cross-table value reconciliation: does o_totalprice equal the
    * order's lineitem total Σ extprice·(1−disc)·(1+tax)? Per order
    * status: order count, orders with NO lineitems at all, mismatches
    * beyond a cent, and the mean/max absolute delta. One shuffle on
    * the order key, one status rollup. The synthetic generator draws
    * o_totalprice independently of its lineitems, so the audit
    * reports 100% mismatch — documented honestly (dq03's posture);
    * on real warehouse data the same query is the booking-integrity
    * screen. Spec proves the zero-delta path on constructed data.
    */
  /** Public so the spec can prove the zero-delta path on constructed
    * books that DO reconcile. */
  def priceReconciliation(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val li = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * (lit(1) + col("l_tax"))).as("computed"))
    orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderstatus"),
        col("computed").isNull.as("no_lines"),
        when(col("computed").isNull, lit(0.0))
          .otherwise(abs(col("o_totalprice") - col("computed"))).as("ad"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("no_lines"), 1L).otherwise(0L)).as("n_no_lines"),
        sum(when(!col("no_lines") && col("ad") > 0.01, 1L).otherwise(0L)).as("n_mismatched"),
        round(avg(when(!col("no_lines"), col("ad"))), 2).as("avg_abs_delta"),
        round(max(when(!col("no_lines"), col("ad"))), 2).as("max_abs_delta"))
      .orderBy(col("o_orderstatus"))
  }

  private def dq06PriceReconciliation(s: SparkSession, dir: String): DataFrame =
    priceReconciliation(Tables.orders(s, dir), Tables.lineitem(s, dir))

  private val dq06Sql =
    """WITH c AS (
      |  SELECT l_orderkey,
      |    sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS computed
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o.o_orderstatus, (c.computed IS NULL) AS no_lines,
      |    CASE WHEN c.computed IS NULL THEN 0.0
      |         ELSE abs(o.o_totalprice - c.computed) END AS ad
      |  FROM orders o LEFT JOIN c ON o.o_orderkey = c.l_orderkey)
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CASE WHEN no_lines THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
      |  CAST(sum(CASE WHEN NOT no_lines AND ad > 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
      |  round(avg(CASE WHEN NOT no_lines THEN ad END), 2) AS avg_abs_delta,
      |  round(max(CASE WHEN NOT no_lines THEN ad END), 2) AS max_abs_delta
      |FROM j GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Candidate-key / uniqueness profile of orders: per column, its
    * distinct count, null count, distinct ratio, and whether it is a
    * candidate key (distinct == non-null rows == all rows). One
    * Expand-based aggregate pass (Spark plans the multi-column
    * count-distinct as a single shuffle); no per-column jobs. The
    * profiling pass every schema-inference / dedup-key decision
    * starts from.
    */
  private def dq07KeyProfile(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = Seq(count(lit(1)).as("n_rows")) ++
      cols.flatMap { c =>
        Seq(countDistinct(col(c)).as(s"d_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"z_$c"))
      }
    val st = o.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      s"'$c', d_$c, z_$c"
    }.mkString("stack(" + cols.length + ", ", ", ", ") AS (col_name, n_distinct, n_nulls)")
    st.select(col("n_rows"), expr(stacked))
      .select(col("col_name"), col("n_rows"), col("n_distinct"), col("n_nulls"),
        round(col("n_distinct") / col("n_rows"), 4).as("distinct_ratio"),
        (col("n_distinct") === col("n_rows") && col("n_nulls") === 0)
          .as("is_candidate_key"))
      .orderBy(col("col_name"))
  }

  private val dq07Sql = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val branches = cols.map { c =>
      s"""  SELECT '$c' AS col_name, count(*) AS n_rows,
         |    count(DISTINCT $c) AS n_distinct,
         |    sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS n_nulls
         |  FROM orders""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
       |  CAST(n_distinct AS BIGINT) AS n_distinct,
       |  CAST(n_nulls AS BIGINT) AS n_nulls,
       |  round(n_distinct / CAST(n_rows AS DOUBLE), 4) AS distinct_ratio,
       |  (n_distinct = n_rows AND n_nulls = 0) AS is_candidate_key
       |FROM (
       |$branches
       |)
       |ORDER BY col_name""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q80_group_outliers", q80GroupOutliers, Some(q80Sql)),
    Q("q83_key_skew", q83KeySkew, Some(q83Sql)),
    Q("dq01_constraints", dq01Constraints, Some(dq01Sql)),
    Q("dq02_drift_psi", dq02DriftPsi, Some(dq02Sql)),
    Q("dq03_benford", dq03Benford, Some(dq03Sql)),
    Q("dq04_fk_integrity", dq04FkIntegrity, Some(dq04Sql)),
    Q("dq05_iqr_outliers", dq05IqrOutliers, Some(dq05Sql)),
    Q("dq06_price_reconciliation", dq06PriceReconciliation, Some(dq06Sql)),
    Q("dq07_key_profile", dq07KeyProfile, Some(dq07Sql)),
  )
}
