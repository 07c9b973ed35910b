package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextStats

/** Round-4 widening: event-log analytics (sessionization, funnel,
  * cohort retention, rolling time windows) and corpus-curation
  * operators a training-data pipeline needs (TF-IDF, benchmark
  * contamination, PII redaction, repetition filtering, sequence
  * packing, domain mixing). All DuckDB-oracle-checked.
  *
  * Scale posture (shared): every query here shuffles at most on a
  * bounded key (user_id, doc_id, source, term) — no driver-side
  * loops, no collects; window functions partition on high-cardinality
  * keys so state per partition stays small at 100 TB.
  */
object Extended4Queries {

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

  /** TF-IDF top-3 terms per document (corpus-relative salience — the
    * classic retrieval/quality feature). tf and df are two aggregates
    * over the exploded token stream; N comes in by broadcast, so the
    * only wide exchanges are on (doc_id, term) and term. Ranking runs
    * on the rounded score with a lexicographic tiebreak so the result
    * is engine-independent.
    */
  private def q65Tfidf(s: SparkSession, dir: String): DataFrame = {
    // materialized (r19 optimization round): `toks` feeds terms (read
    // by two different aggs — tf and dfreq, no shared exchange) plus
    // the n_docs count, so the unstaged form ran the interpreted
    // tokenize pass three times over the corpus
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint()
    val terms = toks.select(col("doc_id"), size(col("toks")).as("doc_len"),
      explode(col("toks")).as("term"))
    val tf = terms.groupBy("doc_id", "doc_len", "term").agg(count(lit(1)).as("cnt"))
    val dfreq = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = toks.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .filter(col("doc_id") < 50)
      .withColumn("tfidf",
        round((col("cnt") / col("doc_len")) * log(col("n_docs") / col("df")), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val q65Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
      |  FROM documents),
      |terms AS (SELECT doc_id, len(toks) AS doc_len, unnest(toks) AS term
      |          FROM toks WHERE len(toks) > 0),
      |tf AS (SELECT doc_id, doc_len, term, count(*) AS cnt FROM terms GROUP BY 1, 2, 3),
      |dfreq AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM toks WHERE len(toks) > 0),
      |scored AS (
      |  SELECT doc_id, term, round((cnt / doc_len) * ln(n_docs / df), 6) AS tfidf
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
      |  WHERE doc_id < 50),
      |ranked AS (
      |  SELECT doc_id, term, tfidf,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rk
      |  FROM scored)
      |SELECT doc_id, rk, term, tfidf FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** Fixed 10-bin histogram of l_extendedprice with data-driven
    * bounds: the min/max scalar row is broadcast, so the whole plan is
    * scan → broadcast-join → partial/final count — one shuffle of 10
    * rows regardless of input size.
    */
  private def q66Histogram(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("x"))
    val st = li.agg(min("x").as("mn"), max("x").as("mx"))
    li.crossJoin(broadcast(st))
      .withColumn("bucket",
        least(floor((col("x") - col("mn")) / ((col("mx") - col("mn")) / 10)), lit(9))
          .cast("int"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(st))
      .select(col("bucket"),
        round(col("mn") + col("bucket") * (col("mx") - col("mn")) / 10, 2).as("lo"),
        round(col("mn") + (col("bucket") + 1) * (col("mx") - col("mn")) / 10, 2).as("hi"),
        col("n"))
      .orderBy(col("bucket"))
  }

  private val q66Sql =
    """WITH st AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem),
      |b AS (SELECT CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / 10)), 9) AS INTEGER) AS bucket
      |      FROM lineitem, st)
      |SELECT bucket,
      |  round(mn + bucket * (mx - mn) / 10, 2) AS lo,
      |  round(mn + (bucket + 1) * (mx - mn) / 10, 2) AS hi,
      |  count(*) AS n
      |FROM b, st GROUP BY bucket, mn, mx
      |ORDER BY bucket""".stripMargin

  /** Exact median plus a deterministic mode per group. Spark's mode()
    * is tie-arbitrary, so the mode is computed explicitly as
    * argmax(count) with a lexicographic tiebreak — same derivation on
    * both engines, so it always hash-matches.
    */
  private def q67ModeMedian(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val med = li.groupBy("l_returnflag")
      .agg(round(expr("percentile(l_quantity, 0.5)"), 2).as("median_qty"))
    val cnts = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("l_returnflag").orderBy(col("cnt").desc, col("l_linestatus"))
    val mode = cnts.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("l_returnflag"), col("l_linestatus").as("mode_status"),
        col("cnt").as("mode_n"))
    med.join(mode, "l_returnflag")
      .select(col("l_returnflag"), col("median_qty"), col("mode_status"), col("mode_n"))
      .orderBy(col("l_returnflag"))
  }

  private val q67Sql =
    """WITH med AS (SELECT l_returnflag, round(median(l_quantity), 2) AS median_qty
      |             FROM lineitem GROUP BY 1),
      |c AS (SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem GROUP BY 1, 2),
      |m AS (SELECT l_returnflag, l_linestatus AS mode_status, cnt AS mode_n,
      |        row_number() OVER (PARTITION BY l_returnflag ORDER BY cnt DESC, l_linestatus) AS rk
      |      FROM c)
      |SELECT med.l_returnflag AS l_returnflag, median_qty, mode_status, mode_n
      |FROM med JOIN m ON med.l_returnflag = m.l_returnflag AND rk = 1
      |ORDER BY med.l_returnflag""".stripMargin

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

  /** Benchmark-contamination check — the eval-hygiene step of an LLM
    * data pipeline: fraction of each corpus doc's word 5-gram shingles
    * that appear in a held-out "benchmark" set (here docs 0-24). The
    * benchmark shingle set is distinct-reduced and broadcast, so the
    * corpus side never shuffles on shingles — a scan-side hash probe
    * even at 100 TB.
    */
  private def tx08Contamination(s: SparkSession, dir: String): DataFrame = {
    // Shingles hash to 48-bit longs before the distinct: the only
    // shuffle in the query carries 8-byte keys, not 5-gram strings.
    // Positions exploded + per-row slice, NOT explode(transform(...)):
    // the materializing shape is ~2.5× slower per giant-doc token and
    // OOMs ~3× earlier (the retired GramShapeAB probe, SCALE.md
    // "Round-12, session 4").
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(1, size(toks) - 4)")).as("i"))
      .select(col("doc_id"), graft.dedup.Dedup.md5Hash48(
        expr("concat_ws(' ', slice(toks, i, 5))")).as("sh5"))
      .distinct()
      // materialized (r19 optimization round): the bench side and the
      // probe side are DIFFERENT filters over this frame, so exchange
      // reuse cannot dedup them — unstaged, the tokenize+shingle pass
      // ran twice (two full corpus scans at any scale)
      .localCheckpoint()
    val bench = sh.filter(col("doc_id") < 25).select(col("sh5")).distinct()
      .withColumn("hit", lit(1))
    sh.filter(col("doc_id") >= 25)
      .join(broadcast(bench), Seq("sh5"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).as("n_matched"))
      .filter(col("n_matched") > 0)
      .withColumn("contamination", round(col("n_matched") / col("n_shingles"), 4))
      .select(col("doc_id"), col("n_shingles"), col("n_matched"), col("contamination"))
      .orderBy(col("doc_id"))
  }

  private val tx08Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(sh5s), 1, 12))::BIGINT AS sh5
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))) AS sh5s
      |        FROM toks WHERE len(toks) >= 5)),
      |bench AS (SELECT DISTINCT sh5 FROM sh WHERE doc_id < 25),
      |corpus AS (SELECT doc_id, sh5 FROM sh WHERE doc_id >= 25)
      |SELECT doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN b.sh5 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |  round(CAST(sum(CASE WHEN b.sh5 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    / CAST(count(*) AS DOUBLE), 4) AS contamination
      |FROM corpus c LEFT JOIN bench b USING (sh5)
      |GROUP BY doc_id
      |HAVING sum(CASE WHEN b.sh5 IS NOT NULL THEN 1 ELSE 0 END) > 0
      |ORDER BY doc_id""".stripMargin

  /** PII redaction: email/phone patterns replaced with placeholder
    * tags, with per-doc match counts. The testdata corpus carries no
    * real PII, so deterministic synthetic contact strings are woven in
    * (identically on both engines) to exercise the patterns; the
    * redaction itself is a pure codegen'd projection — no shuffle at
    * any scale. The fingerprint column proves the redacted text
    * matches byte-for-byte across engines.
    *
    * The patterns apply PER WHITESPACE TOKEN, gated at
    * `Guards.MaxPiiTokenChars`, never to the full text: the classes
    * exclude whitespace so the match set is identical, and the
    * full-text formulation is O(len²) in Java's backtracking engine
    * on adversarial class runs (`a@bbb…` — RegexBlast probe, SCALE.md
    * r12 session 4; 145 s for ONE 100 KB doc). The fingerprint is over
    * the single-space rejoin of the redacted token stream — mirrored
    * in the oracle, like every whitespace contract in the text family.
    */
  private def tx09PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+1-555-[0-9]{4}"
    val cap = Guards.MaxPiiTokenChars
    val aug = concat(
      lit("contact user"), col("doc_id").cast("string"), lit("@example.com tel +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" "),
      when(col("doc_id") % 3 === 0, lit("cc admin@test.org ")).otherwise(lit("")),
      col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        TextStats.countMatchesTokenGated(col("aug"), emailRe, cap).as("n_email"),
        TextStats.countMatchesTokenGated(col("aug"), phoneRe, cap).as("n_phone"),
        md5(TextStats.replaceTokenGated(col("aug"),
          Seq(emailRe -> "<EMAIL>", phoneRe -> "<PHONE>"), cap)).as("red_fp"))
      .orderBy(col("doc_id"))
  }

  private val tx09Sql = {
    val cap = Guards.MaxPiiTokenChars
    s"""WITH aug AS (
      |  SELECT doc_id,
      |    'contact user' || CAST(doc_id AS VARCHAR) || '@example.com tel +1-555-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' ||
      |    CASE WHEN doc_id % 3 = 0 THEN 'cc admin@test.org ' ELSE '' END || text AS aug
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(aug, '${graft.text.TextStats.WsClass}+'),
      |      t -> t != '') AS toks
      |  FROM aug)
      |SELECT doc_id,
      |  -- toks-conditional coalesce (ADVICE r12): DuckDB's list_sum
      |  -- over an EMPTY token list is NULL where the engine's
      |  -- aggregate(..., 0, ...) is 0 for non-NULL whitespace-only
      |  -- text — unreachable on this aug (always prefixed
      |  -- non-whitespace) but pinned so reuse of this gated-count/
      |  -- oracle pair on raw text cannot silently diverge. The
      |  -- coalesce must stay INSIDE a toks-NULL guard: for NULL text
      |  -- both engines contract to NULL (aggregate over a NULL array
      |  -- is NULL — the chaos shard witnesses this arm), and a bare
      |  -- coalesce would fold that NULL to 0 oracle-side only.
      |  CAST(CASE WHEN toks IS NULL THEN NULL ELSE
      |    coalesce(list_sum(list_transform(toks, t -> CASE WHEN length(t) <= $cap
      |      THEN len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
      |      ELSE 0 END)), 0) END AS INTEGER) AS n_email,
      |  CAST(CASE WHEN toks IS NULL THEN NULL ELSE
      |    coalesce(list_sum(list_transform(toks, t -> CASE WHEN length(t) <= $cap
      |      THEN len(regexp_extract_all(t, '\\+1-555-[0-9]{4}'))
      |      ELSE 0 END)), 0) END AS INTEGER) AS n_phone,
      |  md5(array_to_string(list_transform(toks, t -> CASE WHEN length(t) <= $cap
      |    THEN regexp_replace(regexp_replace(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\\+1-555-[0-9]{4}', '<PHONE>', 'g')
      |    ELSE t END), ' ')) AS red_fp
      |FROM toks
      |ORDER BY doc_id""".stripMargin
  }

  /** Gopher-style repetition score: fraction of duplicated word
    * bigrams per document (1 − distinct/total), the standard
    * boilerplate/degenerate-text filter. Explode + two-level count so
    * the heavy lifting is a (doc_id, bigram) aggregate — map-side
    * combinable, one shuffle.
    */
  private def tx10Repetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(1, size(toks) - 1)")).as("i"))
      .select(col("doc_id"), expr("concat_ws(' ', slice(toks, i, 2))").as("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), countDistinct(col("bg")).as("n_distinct"))
      .withColumn("dup_frac", round(lit(1) - col("n_distinct") / col("n_bigrams"), 4))
      .withColumn("is_repetitive",
        when(col("dup_frac") > 0.2, 1).otherwise(0))
      .orderBy(col("doc_id"))

  private val tx10Sql =
    """WITH bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))) AS bg
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 2)
      |SELECT doc_id, count(*) AS n_bigrams, count(DISTINCT bg) AS n_distinct,
      |  round(1 - count(DISTINCT bg) / CAST(count(*) AS DOUBLE), 4) AS dup_frac,
      |  CASE WHEN round(1 - count(DISTINCT bg) / CAST(count(*) AS DOUBLE), 4) > 0.2
      |       THEN 1 ELSE 0 END AS is_repetitive
      |FROM bg GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Sequence packing (concat-and-chunk): assign docs to fixed 512-
    * token training sequences by cumulative token count, per source
    * shard. Packing is inherently sequential, so the running total is
    * a window cumsum per source — at 100 TB you pack within shards
    * (source × date) in parallel rather than globally, which is
    * exactly what the partition key expresses.
    */
  private def mx01Pack(s: SparkSession, dir: String): DataFrame = {
    // staged token attribute (r20, the FromTokens sweep's consistency
    // pass): tokenCount is a single expansion today, but staging keeps
    // the site safe if a second token consumer is ever added
    val t = Tables.documents(s, dir)
      .withColumn("__tk", TextStats.tokens(col("text")))
      .select(col("source"), col("doc_id"), size(col("__tk")).as("n_tokens"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", floor((col("cum_tokens") - col("n_tokens")) / lit(512)))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"), col("pack_id"))
      .orderBy(col("source"), col("doc_id"))
  }

  private val mx01Sql =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '')) AS INTEGER) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM t)
      |SELECT source, doc_id, n_tokens, cum_tokens,
      |  CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS pack_id
      |FROM c
      |ORDER BY source, doc_id""".stripMargin

  /** Domain mixing: deterministic hash-downsampling of every source to
    * the size of the smallest one (uniform mix). The per-source rate
    * table is tiny and broadcast; membership is a pure function of
    * doc_id (same md5-bucket trick as q58), so the sample is stable
    * across engines, runs, and partitionings — the property a
    * reproducible training-data pipeline needs.
    */
  private def mx02Mix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
    val minN = counts.agg(min("n_total").as("min_n"))
    val rates = counts.crossJoin(broadcast(minN))
      .withColumn("th", round(lit(10000) * col("min_n") / col("n_total")).cast("long"))
    val kept = docs
      .withColumn("bucket",
        pmod(graft.dedup.Dedup.md5Hash48(col("doc_id").cast("string")), lit(10000)))
      .join(broadcast(rates.select(col("source"), col("th"))), "source")
      .filter(col("bucket") < col("th"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    counts.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_total"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  private val mx02Sql =
    """WITH counts AS (SELECT source, count(*) AS n_total FROM documents GROUP BY 1),
      |rates AS (
      |  SELECT source, n_total,
      |    CAST(round(10000 * (SELECT min(n_total) FROM counts) / n_total) AS BIGINT) AS th
      |  FROM counts),
      |kept AS (
      |  SELECT source, count(*) AS n_kept
      |  FROM documents d JOIN rates USING (source)
      |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 10000 < th
      |  GROUP BY 1)
      |SELECT source, n_total, coalesce(n_kept, 0) AS n_kept
      |FROM counts LEFT JOIN kept USING (source)
      |ORDER BY source""".stripMargin

  /** Z-order layout key (custom codegen Expression graft.functions.
    * ZOrder2): Morton interleave of bucketed (partkey, suppkey) — the
    * clustering key that buys 2-D row-group pruning when the table is
    * written sorted by it (ZOrder.clusterByZ). The oracle reproduces
    * the interleave with the generated 32-term per-bit formula, so the
    * magic-constant codegen kernel is verified bit-for-bit.
    */
  private def q69Zorder(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 65536).as("px"),
        (col("l_suppkey") % 65536).as("sy"))
      .withColumn("zval", graft.functions.ZOrder.zOrder2(col("px"), col("sy")))
      .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))

  private val q69Sql: String = {
    val terms = (0 until 16).flatMap { k =>
      Seq(s"(((px >> $k) & 1) * ${1L << (2 * k)})",
        s"(((sy >> $k) & 1) * ${1L << (2 * k + 1)})")
    }.mkString("\n      + ")
    s"""WITH b AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey % 65536 AS px, l_suppkey % 65536 AS sy
       |  FROM lineitem WHERE l_orderkey < 100)
       |SELECT l_orderkey, l_linenumber, px, sy,
       |  $terms AS zval
       |FROM b
       |ORDER BY zval, l_orderkey, l_linenumber""".stripMargin
  }

  /** Sliding-window chunking with overlap (window 128 tokens, stride
    * 96): the retrieval/context-window preprocessing step between
    * cleaning and packing. One explode over per-doc chunk starts — a
    * narrow map, no shuffle; chunk identity is fingerprinted so the
    * oracle verifies the chunk CONTENT, not just its bounds.
    */
  private def mx03Chunk(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(1, size(toks), 96)")).as("st"))
      .select(col("doc_id"),
        expr("CAST((st - 1) DIV 96 AS INT)").as("chunk_idx"),
        col("st").cast("int").as("st"),
        expr("CAST(size(slice(toks, st, 128)) AS INT)").as("n_chunk_tokens"),
        md5(expr("concat_ws(' ', slice(toks, st, 128))")).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val mx03Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
      |  FROM documents),
      |starts AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 96)) AS st
      |  FROM toks WHERE len(toks) > 0)
      |SELECT doc_id,
      |  CAST((st - 1) // 96 AS INTEGER) AS chunk_idx,
      |  CAST(st AS INTEGER) AS st,
      |  CAST(len(toks[st:st+127]) AS INTEGER) AS n_chunk_tokens,
      |  md5(array_to_string(toks[st:st+127], ' ')) AS chunk_fp
      |FROM starts
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Skew-salted join through the verified surface: orders⋈customer
    * via ops.Scale.saltedJoin (random salt on the big side, salt
    * explosion on the small side) aggregated per nation. The oracle is
    * the PLAIN join's SQL — proving the salting machinery is
    * result-invariant, which is the whole point: it only changes the
    * shuffle key distribution, never the join semantics.
    */
  private def q70SaltedJoin(s: SparkSession, dir: String): DataFrame =
    graft.ops.Scale.saltedJoin(
        Tables.orders(s, dir).select(col("o_custkey"), col("o_totalprice")),
        Tables.customer(s, dir).select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        key = "o_custkey", buckets = 8)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("c_nationkey"))

  private val q70Sql =
    """SELECT c_nationkey, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** Batch upsert (MERGE INTO semantics) through ops.Merge: a
    * deterministic CDC batch (rate-changed accounts + inserted keys,
    * derived from the table itself so both engines build the same
    * batch) merged into customer. The oracle replays the same merge in
    * SQL — updates win, unmatched targets pass, inserts append.
    */
  private def q71MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val tgt = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val updates = tgt.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 100).as("c_acctbal"),
        lit("UPDATED").as("c_mktsegment"))
      .unionByName(tgt.filter(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"), col("c_acctbal"),
          lit("INSERTED").as("c_mktsegment")))
    graft.ops.Merge.mergeUpsert(tgt, updates, "c_custkey")
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("c_acctbal"),
        col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  private val q71Sql =
    """WITH tgt AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
      |upd AS (
      |  SELECT c_custkey AS k, c_acctbal + 100 AS u_bal, 'UPDATED' AS u_seg
      |  FROM customer WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_acctbal, 'INSERTED'
      |  FROM customer WHERE c_custkey % 97 = 0)
      |SELECT coalesce(k, c_custkey) AS c_custkey,
      |  round(coalesce(u_bal, c_acctbal), 2) AS c_acctbal,
      |  coalesce(u_seg, c_mktsegment) AS c_mktsegment
      |FROM tgt FULL JOIN upd ON c_custkey = k
      |ORDER BY c_custkey""".stripMargin

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

  /** Snapshot diff (CDC extraction): two deterministic versions of the
    * orders table (v2 bumps some totals, drops some keys, gains later
    * orders) classified into added / removed / changed via
    * ops.Merge.snapshotDiff's presence-marker full-outer join.
    */
  private def q73SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    val v1 = base.filter(col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = base.filter(col("o_orderdate") < lit("1997-07-01")
        && col("o_orderkey") % 13 =!= 0)
      // additive bump, not *1.1: a multiplicative change can land the
      // double exactly on a .xx5 rounding boundary where engines'
      // half-rounding rules diverge; adding keeps 2-dec values exact
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1000)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    graft.ops.Merge.snapshotDiff(v1, v2, "o_orderkey", Seq("o_totalprice"))
      .select(col("o_orderkey"), col("change_type"),
        round(col("old_o_totalprice"), 2).as("old_total"),
        round(col("new_o_totalprice"), 2).as("new_total"))
      .orderBy(col("o_orderkey"))
  }

  private val q73Sql =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderdate < '1997-01-01'),
      |v2 AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderdate < '1997-07-01' AND o_orderkey % 13 != 0),
      |j AS (
      |  SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
      |    v1.o_totalprice AS old_total, v2.o_totalprice AS new_total,
      |    v1.o_orderkey IS NOT NULL AS in_old, v2.o_orderkey IS NOT NULL AS in_new
      |  FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
      |SELECT o_orderkey,
      |  CASE WHEN NOT in_old THEN 'added'
      |       WHEN NOT in_new THEN 'removed'
      |       WHEN old_total IS DISTINCT FROM new_total THEN 'changed'
      |       ELSE 'unchanged' END AS change_type,
      |  round(old_total, 2) AS old_total,
      |  round(new_total, 2) AS new_total
      |FROM j
      |WHERE CASE WHEN NOT in_old THEN 'added'
      |           WHEN NOT in_new THEN 'removed'
      |           WHEN old_total IS DISTINCT FROM new_total THEN 'changed'
      |           ELSE 'unchanged' END != 'unchanged'
      |ORDER BY o_orderkey""".stripMargin

  /** Quality-weighted sampling without replacement (Efraimidis–
    * Spirakis A-ES): key = −ln(u)/w with u a deterministic md5-derived
    * uniform and w = TextStats.qualityScore — the top-100 by key IS a
    * weighted sample, reproducible across engines/runs/partitionings
    * (the same property q58/mx02 give uniform sampling, extended to
    * weights). orderBy+limit plans as TakeOrderedAndProject: each
    * partition keeps its local top-100, the driver merges — no global
    * sort at any scale.
    */
  private def mx04WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextStats
    val scored = Tables.documents(s, dir)
      .withColumn("__tk", TextStats.tokens(col("text"))) // staged once (r19)
      .filter(size(col("__tk")) > 0)
      .select(col("doc_id"), TextStats.qualityScoreFromTokens(col("__tk")).as("w"),
        ((pmod(graft.dedup.Dedup.md5Hash48(col("doc_id").cast("string")),
          lit(10000)) + 1) / lit(10001.0)).as("u"))
      .withColumn("skey", -log(col("u")) / col("w"))
    scored.orderBy(col("skey"), col("doc_id")).limit(100)
      .select(col("doc_id"), round(col("w"), 4).as("weight"),
        round(col("skey"), 6).as("skey"))
  }

  private val mx04Sql =
    """WITH t AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
      |    len(list_filter(toks, x -> list_contains(
      |      ['the','a','an','and','or','of','to','in','is','it'], x))) AS nstop
      |  FROM t WHERE len(toks) > 0),
      |w AS (
      |  SELECT doc_id,
      |    0.4 * least(n / 50.0, 1.0) + 0.4 * (nd / CAST(n AS DOUBLE))
      |      + 0.2 * least(5.0 * (nstop / CAST(n AS DOUBLE)), 1.0) AS w
      |  FROM m),
      |s AS (
      |  SELECT doc_id, w,
      |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 10000 + 1) / 10001.0 AS u
      |  FROM w)
      |SELECT doc_id, round(w, 4) AS weight, round(-ln(u) / w, 6) AS skey
      |FROM s
      |ORDER BY -ln(u) / w, doc_id
      |LIMIT 100""".stripMargin

  /** Link-graph centrality (simplified PageRank, 10 fixed iterations)
    * over a deterministic part→supplier projection graph — the
    * corpus-quality propagation op of web-scale curation. The oracle
    * UNROLLS the iterations into chained SQL CTEs (generated), with
    * damping literals interpolated from the exact Scala doubles so
    * both engines iterate identical IEEE arithmetic.
    */
  // Shared by the Spark query and the generated oracle — the unrolled
  // SQL must replay EXACTLY this many rounds.
  private val PageRankIters = 10
  private val PageRankDamping = 0.85

  private def q74PageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.lineitem(s, dir)
      .select((col("l_partkey") % 100).as("src"), (col("l_suppkey") % 100).as("dst"))
    graft.ops.Graph.pageRank(edges, "src", "dst",
        iters = PageRankIters, damping = PageRankDamping)
      .select(col("node"), round(col("rank"), 4).as("rank"))
      .orderBy(col("node"))
  }

  private val q74Sql: String = {
    val damping = PageRankDamping
    val base = (1.0 - damping).toString // exact double repr, not "0.15"
    val d = damping.toString
    val iterCtes = (1 to PageRankIters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    round(CAST($base AS DOUBLE) + CAST($d AS DOUBLE) * coalesce(c.incoming, 0.0), 8)
         |      AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / od.outdeg) AS incoming
         |    FROM e JOIN od USING (src) JOIN r${i - 1} r ON r.node = e.src
         |    GROUP BY e.dst) c USING (node))""".stripMargin
    }.mkString(",\n")
    // e, nodes and od are read by every iteration: MATERIALIZED, or
    // DuckDB 1.0 re-derives them from lineitem at each read
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT l_partkey % 100 AS src, l_suppkey % 100 AS dst FROM lineitem),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
       |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
       |$iterCtes
       |SELECT node, round(rank, 4) AS rank FROM r$PageRankIters
       |ORDER BY node""".stripMargin
  }

  /** Unigram NLL scoring — the perplexity-filter stand-in (CCNet-style
    * quality gating without a neural LM): score each doc by the mean
    * −ln p(token) under the corpus unigram distribution. Low scores =
    * stereotypical text, high = rare-token soup; production pipelines
    * threshold both tails. Two map-side-combined aggregates (corpus
    * counts, per-doc mean) joined through a broadcast of the (small)
    * vocabulary stats.
    */
  private def tx11UnigramNll(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), explode(col("toks")).as("t"))
    val vocab = terms.groupBy("t").agg(count(lit(1)).as("c"))
    val total = terms.agg(count(lit(1)).as("total"))
    terms.join(broadcast(vocab), "t").crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("c") / col("total"))), 4).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  private val tx11Sql =
    """WITH terms AS (
      |  SELECT doc_id, unnest(toks) AS t
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
      |        FROM documents)
      |  WHERE len(toks) > 0),
      |vocab AS (SELECT t, count(*) AS c FROM terms GROUP BY 1),
      |total AS (SELECT count(*) AS total FROM terms)
      |SELECT doc_id, count(*) AS n_tokens,
      |  round(avg(-ln(c / CAST(total AS DOUBLE))), 4) AS avg_nll
      |FROM terms JOIN vocab USING (t) CROSS JOIN total
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Signed-hash bag-of-words embedding (feature hashing with a ±1
    * sign hash — Weinberger et al.'s unbiased variant), md5-derived so
    * any engine reproduces it bit-for-bit, unlike HashingTF's
    * murmur3 (ml06 stays rows-only for that reason). Sparse output
    * (doc, dim, weight) — the layout a 100 TB embedding table wants
    * anyway (dense arrays waste 98% of storage at this sparsity).
    */
  private def ml07Md5Embed(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .withColumn("h",
        pmod(graft.dedup.Dedup.md5Hash48(col("t")), lit(1048576)))
    terms
      .select(col("doc_id"), (col("h") % 64).cast("int").as("dim"),
        (((col("h") / 64).cast("long") % 2) * 2 - 1).as("sign"))
      .groupBy("doc_id", "dim").agg(sum(col("sign")).as("weight"))
      .filter(col("weight") =!= 0)
      .orderBy(col("doc_id"), col("dim"))
  }

  private val ml07Sql =
    """WITH terms AS (
      |  SELECT doc_id, unnest(toks) AS t
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
      |        FROM documents WHERE doc_id < 100)
      |  WHERE len(toks) > 0),
      |h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(t), 1, 12))::BIGINT % 1048576 AS h
      |  FROM terms)
      |SELECT doc_id, CAST(h % 64 AS INTEGER) AS dim,
      |  CAST(sum((h // 64) % 2 * 2 - 1) AS BIGINT) AS weight
      |FROM h
      |GROUP BY doc_id, dim
      |HAVING sum((h // 64) % 2 * 2 - 1) != 0
      |ORDER BY doc_id, dim""".stripMargin

  /** The end-to-end curation pipeline a training-data user actually
    * runs, composed from this library's operators in one plan:
    * exact-dedup (keep canonical) → quality gate (≥ 0.5) → repetition
    * gate (dup bigram frac ≤ 0.4) → benchmark-decontamination (no
    * shared 5-gram with docs 0–24) → curated corpus with per-doc
    * stats. Every stage is the same logic its standalone gate query
    * verifies (dd01/tx02/tx10/tx08); this proves they COMPOSE — one
    * DAG, shuffles only on doc_id and the broadcast benchmark set.
    */
  private def mx05CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextStats
    val docs = Tables.documents(s, dir)
    val canon = graft.dedup.Dedup.exactGroups(docs, "doc_id", "text")
      .filter(col("is_dup") === 0).select(col("doc_id"))
    // tokenization feeds three downstream stages (repetition, shingles
    // ×2 sides) — materialize once, same rationale as jaccardPairs
    val toks = docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint()
    // quality/n_tokens from the materialized token frame (r19
    // optimization round): size(toks) > 0 IS the tokenCount(text) > 0
    // gate, and the text-input forms re-tokenized the corpus ~8×
    val quality = toks
      .select(col("doc_id"),
        TextStats.qualityScoreFromTokens(col("toks")).as("quality"),
        size(col("toks")).as("n_tokens"))
    val rep = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(1, size(toks) - 1)")).as("i"))
      .select(col("doc_id"), expr("concat_ws(' ', slice(toks, i, 2))").as("bg"))
      .groupBy("doc_id")
      .agg((lit(1) - countDistinct(col("bg")) / count(lit(1))).as("dup_frac"))
    val sh = toks.filter(size(col("toks")) >= 5)
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(1, size(toks) - 4)")).as("i"))
      .select(col("doc_id"), graft.dedup.Dedup.md5Hash48(
        expr("concat_ws(' ', slice(toks, i, 5))")).as("s5"))
      .distinct()
    val contaminated = sh.filter(col("doc_id") >= 25)
      .join(broadcast(sh.filter(col("doc_id") < 25).select(col("s5")).distinct()), "s5")
      .select(col("doc_id")).distinct()
    docs.select(col("doc_id"), col("source"))
      .join(canon, "doc_id")
      .join(quality, "doc_id")
      .join(rep, "doc_id")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .filter(col("doc_id") >= 25 && col("quality") >= 0.5 && col("dup_frac") <= 0.4)
      .select(col("doc_id"), col("source"), round(col("quality"), 4).as("quality"),
        col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  private val mx05Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
      |  FROM documents),
      |fp AS (
      |  SELECT doc_id, md5(translate(regexp_replace(trim(text), '[ \t\n\f\r]+', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS c FROM fp)
      |  WHERE doc_id = c),
      |m AS (
      |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
      |    len(list_filter(toks, x -> list_contains(
      |      ['the','a','an','and','or','of','to','in','is','it'], x))) AS nstop
      |  FROM toks WHERE len(toks) > 0),
      |q AS (
      |  SELECT doc_id,
      |    0.4 * least(n / 50.0, 1.0) + 0.4 * (nd / CAST(n AS DOUBLE))
      |      + 0.2 * least(5.0 * (nstop / CAST(n AS DOUBLE)), 1.0) AS quality,
      |    n FROM m),
      |bg AS (
      |  SELECT doc_id, count(*) AS nb, count(DISTINCT b) AS nd
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))) AS b
      |        FROM toks WHERE len(toks) >= 2)
      |  GROUP BY doc_id),
      |rep AS (SELECT doc_id, 1 - nd / CAST(nb AS DOUBLE) AS dup_frac FROM bg),
      |sh AS (
      |  SELECT DISTINCT doc_id, ('0x' || substr(md5(s5s), 1, 12))::BIGINT AS s5
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))) AS s5s
      |        FROM toks WHERE len(toks) >= 5)),
      |contaminated AS (
      |  SELECT DISTINCT c.doc_id
      |  FROM sh c JOIN (SELECT DISTINCT s5 FROM sh WHERE doc_id < 25) b USING (s5)
      |  WHERE c.doc_id >= 25)
      |SELECT d.doc_id, d.source, round(q.quality, 4) AS quality,
      |  CAST(q.n AS INTEGER) AS n_tokens
      |FROM documents d
      |JOIN canon USING (doc_id)
      |JOIN q USING (doc_id)
      |JOIN rep USING (doc_id)
      |WHERE d.doc_id >= 25 AND q.quality >= 0.5 AND rep.dup_frac <= 0.4
      |  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
      |ORDER BY d.doc_id""".stripMargin

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

  /** Correlated LATERAL subquery (Spark 4 SQL surface): top-2 orders
    * per customer through a lateral derived table — the SQL-standard
    * per-row subplan that Catalyst rewrites into a window/join, so it
    * scales like q22's window rank rather than re-executing per row.
    */
  private def q77Lateral(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("v_customer")
    Tables.orders(s, dir).createOrReplaceTempView("v_orders")
    s.sql(
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM v_customer,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM v_orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 2)
        |WHERE c_custkey < 50
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
  }

  private val q77Sql =
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 2)
      |WHERE c_custkey < 50
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  /** ANSI-safe arithmetic surface: Spark 4 runs ANSI mode (casts and
    * division faults THROW), so pipelines use the try_* family for
    * dirty data — NULL instead of job failure. The oracle mirrors
    * try_divide with NULLIF (DuckDB's double division by zero yields
    * inf, not an error) and try_cast with TRY_CAST.
    */
  private def q78SafeArith(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") < 200)
      .select(col("l_orderkey"), col("l_linenumber"),
        // floor-truncate, don't round: division lands on .xxx5 ties
        // where the engines' double-rounding rules diverge; floor of
        // the identical IEEE product is deterministic on both
        (floor(try_divide(col("l_extendedprice"), col("l_quantity") - 25) * 10000) / 10000)
          .as("unit_adj"),
        expr("try_cast(l_returnflag AS INT)").as("flag_int"),
        expr("try_cast(cast(l_orderkey AS STRING) AS INT)").as("key_int"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val q78Sql =
    """SELECT l_orderkey, l_linenumber,
      |  floor(l_extendedprice / nullif(l_quantity - 25, 0) * 10000) / 10000 AS unit_adj,
      |  TRY_CAST(l_returnflag AS INTEGER) AS flag_int,
      |  TRY_CAST(CAST(l_orderkey AS VARCHAR) AS INTEGER) AS key_int
      |FROM lineitem
      |WHERE l_orderkey < 200
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // Keep `all` LAST: object init order would null-out any Q referencing
  // a val defined after it.
  val all: Seq[Q] = Seq(
    Q("q62_sessionize", q62Sessionize, Some(q62Sql)),
    Q("q63_funnel", q63Funnel, Some(q63Sql)),
    Q("q64_cohort_retention", q64Cohort, Some(q64Sql)),
    Q("q65_tfidf", q65Tfidf, Some(q65Sql)),
    Q("q66_histogram", q66Histogram, Some(q66Sql)),
    Q("q67_mode_median", q67ModeMedian, Some(q67Sql)),
    Q("q68_rolling_window", q68RollingWindow, Some(q68Sql)),
    Q("tx08_contamination", tx08Contamination, Some(tx08Sql)),
    Q("tx09_pii_redact", tx09PiiRedact, Some(tx09Sql)),
    Q("tx10_repetition", tx10Repetition, Some(tx10Sql)),
    Q("tx11_unigram_nll", tx11UnigramNll, Some(tx11Sql)),
    Q("q69_zorder", q69Zorder, Some(q69Sql)),
    Q("q70_salted_join", q70SaltedJoin, Some(q70Sql)),
    Q("q71_merge_upsert", q71MergeUpsert, Some(q71Sql)),
    Q("q72_islands", q72Islands, Some(q72Sql)),
    Q("q73_snapshot_diff", q73SnapshotDiff, Some(q73Sql)),
    Q("q74_pagerank", q74PageRank, Some(q74Sql)),
    Q("q75_attribution", q75Attribution, Some(q75Sql)),
    Q("q77_lateral", q77Lateral, Some(q77Sql)),
    Q("q78_safe_arith", q78SafeArith, Some(q78Sql)),
    Q("q76_session_window", q76SessionWindow, Some(q76Sql)),
    Q("ml07_md5_embed", ml07Md5Embed, Some(ml07Sql)),
    Q("mx01_pack", mx01Pack, Some(mx01Sql)),
    Q("mx02_mix", mx02Mix, Some(mx02Sql)),
    Q("mx03_chunk", mx03Chunk, Some(mx03Sql)),
    Q("mx04_weighted_sample", mx04WeightedSample, Some(mx04Sql)),
    Q("mx05_curation_pipeline", mx05CurationPipeline, Some(mx05Sql)))
}
