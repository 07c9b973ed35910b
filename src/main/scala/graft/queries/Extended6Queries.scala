package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.{SpanDedup, TextStats}

/** Round-7 widening: scale-safe twins for the two operator families the
  * round-6 audit flagged as weak-at-scale — global distribution windows
  * (q44/q45's single-partition WindowExec) and engine-internal sketches
  * (q38's HLL/KLL, which no oracle can reproduce). Each twin computes
  * the same statistic with a bounded-state, shuffle-lean plan AND a
  * deterministic md5-derived construction the DuckDB oracle mirrors
  * cell-for-cell.
  */
object Extended6Queries {

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

  /** Deterministic sketch gate — the cross-engine-verifiable member of
    * the approximate-aggregate family (q38's HLL++/KLL internals are
    * Spark-private, so their gate is rows-only). Two constructions,
    * both md5-derived and both reproduced cell-for-cell by the oracle:
    *
    *   - distinct l_partkey per returnflag via a k=32 MIN-HASH sketch
    *     (the KMV family): for each of 32 independent md5 hash
    *     functions, keep min(h_s(v)) — duplicates cannot change a min,
    *     so the sketch needs NO distinct pre-shuffle, and min() is
    *     map-side combined: the whole estimator is one aggregate with
    *     32 min columns. Σ of the 32 minima (exact longs, fixed
    *     summation order) estimates D̂ = k·2^48/Σm − 1 (each min/2^48
    *     ~ Beta(1,D), E = 1/(D+1)).
    *   - p50/p90 of l_extendedprice per flag via the tx17
    *     histogram-CDF: dollar-bucket counts (domain-bounded), a
    *     running sum per flag over that histogram, and the first
    *     bucket whose cumulative count crosses the target rank.
    *
    * Exact values ride along so the result documents the estimator
    * error at this SF. SketchSpec asserts the accuracy envelope.
    */
  private def q38bKmvSketch(s: SparkSession, dir: String): DataFrame = {
    val k = 32
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"), col("l_partkey"),
        col("l_extendedprice"))
    def h(seed: Int) =
      graft.dedup.Dedup.md5Hash48(
        concat_ws(":", lit(seed), col("l_partkey").cast("string")))
    val mins = li.groupBy(col("flag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        (0 until k).map(s => min(h(s)).as(s"m$s")): _*)
    val sumMin = (0 until k).map(s => col(s"m$s")).reduce(_ + _)
    val kmv = mins.select(col("flag"), col("exact_parts"),
      round(lit(k.toDouble) * lit(281474976710656.0) / sumMin - 1, 2)
        .as("kmv_parts"))
    val pr = li.select(col("flag"), floor(col("l_extendedprice")).cast("long").as("b"))
    val hist = pr.groupBy(col("flag"), col("b")).agg(count(lit(1)).as("nb"))
    val wc = Window.partitionBy(col("flag")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("nb")).over(wc))
    val tot = pr.groupBy(col("flag")).agg(count(lit(1)).as("n"))
    val quant = cum.join(tot, "flag")
      .groupBy(col("flag"))
      .agg(min(when(col("cum") >= col("n") * 0.5, col("b"))).as("p50_bucket"),
        min(when(col("cum") >= col("n") * 0.9, col("b"))).as("p90_bucket"))
    kmv.join(quant, "flag")
      .select(col("flag").as("l_returnflag"), col("exact_parts"),
        col("kmv_parts"), col("p50_bucket"), col("p90_bucket"))
      .orderBy(col("l_returnflag"))
  }

  private val q38bSql =
    """WITH seeds AS (SELECT unnest(range(0, 32)) AS seed),
      |mins AS (
      |  SELECT l_returnflag, seed,
      |    min(('0x' || substr(md5(seed || ':' || l_partkey), 1, 12))::BIGINT) AS m
      |  FROM lineitem CROSS JOIN seeds
      |  GROUP BY 1, 2),
      |kmv AS (
      |  SELECT l_returnflag,
      |    round(32.0 * 281474976710656.0 / sum(m) - 1, 2) AS kmv_parts
      |  FROM mins GROUP BY 1),
      |exact AS (
      |  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
      |  FROM lineitem GROUP BY 1),
      |hist AS (
      |  SELECT l_returnflag, CAST(floor(l_extendedprice) AS BIGINT) AS b,
      |    count(*) AS nb
      |  FROM lineitem GROUP BY 1, 2),
      |cum AS (
      |  SELECT l_returnflag, b,
      |    sum(nb) OVER (PARTITION BY l_returnflag ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |tot AS (SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1),
      |quant AS (
      |  SELECT c.l_returnflag,
      |    min(CASE WHEN c.cum >= t.n * 0.5 THEN c.b END) AS p50_bucket,
      |    min(CASE WHEN c.cum >= t.n * 0.9 THEN c.b END) AS p90_bucket
      |  FROM cum c JOIN tot t USING (l_returnflag)
      |  GROUP BY 1)
      |SELECT e.l_returnflag, CAST(e.exact_parts AS BIGINT) AS exact_parts,
      |  k.kmv_parts, q.p50_bucket, q.p90_bucket
      |FROM exact e JOIN kmv k USING (l_returnflag) JOIN quant q USING (l_returnflag)
      |ORDER BY e.l_returnflag""".stripMargin

  /** The round-9 completion of the q38 family: a FULL-oracle gate on the
    * engine-internal sketches themselves (HLL++ distinct counts, KLL
    * percentiles). The sketch estimates can't be reproduced
    * cross-engine, but their ERROR BOUND can be hash-verified: compute
    * exact and approximate values per flag, emit the exact
    * values plus a boolean per estimator asserting the estimate landed
    * within its bound (5% for HLL at rsd=0.01 — 5σ; 2% relative VALUE
    * error for percentile_approx at accuracy 10000 — note the
    * estimator's actual contract is RANK error ≤ 1/accuracy = 1e-4,
    * not value error; the 2% value bound is an empirical envelope for
    * this data's distribution, generous because l_extendedprice has no
    * extreme tail mass near p50/p90 where a rank-bounded estimate
    * could stray far in value space). Both engines agree on the
    * exact values; the oracle pins the booleans at TRUE, so a drifting
    * sketch implementation hash-mismatches. Sketches are deterministic
    * for fixed data (pure functions of the hashes), so this is a stable
    * gate, not a flaky one.
    */
  private def q38cHllErrorGate(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // Two aggregates joined on the flag. In one agg, the DISTINCT
    // rewrite carries the percentile buffers through every (flag, key)
    // group of both countDistincts: 19× the task CPU at sf0.01.
    val exact = li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
    val sketch = li.groupBy(col("l_returnflag").as("flag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("hll_parts"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("hll_orders"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("ap50"),
        percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000)).as("ap90"),
        expr("percentile(l_extendedprice, 0.5)").as("ep50"),
        expr("percentile(l_extendedprice, 0.9)").as("ep90"))
    exact.join(sketch, col("l_returnflag") <=> col("flag"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
        (abs(col("hll_parts") - col("exact_parts")) <=
          col("exact_parts") * 0.05).as("hll_parts_ok"),
        (abs(col("hll_orders") - col("exact_orders")) <=
          col("exact_orders") * 0.05).as("hll_orders_ok"),
        (abs(col("ap50") - col("ep50")) <= abs(col("ep50")) * 0.02).as("kll_p50_ok"),
        (abs(col("ap90") - col("ep90")) <= abs(col("ep90")) * 0.02).as("kll_p90_ok"))
      .orderBy(col("l_returnflag"))
  }

  private val q38cSql =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  count(DISTINCT l_orderkey) AS exact_orders,
      |  TRUE AS hll_parts_ok, TRUE AS hll_orders_ok,
      |  TRUE AS kll_p50_ok, TRUE AS kll_p90_ok
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

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

  /** Hard-negative mining (contrastive-training batch construction):
    * for each of the first 10 vectors, the 3 nearest neighbors whose
    * label differs — [[graft.similarity.Ann.hardNegatives]].
    */
  private def q87HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.similarity.Ann.hardNegatives(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("neg_label"), round(col("cosine"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val q87Sql =
    s"""WITH e AS (SELECT vec_id, label, v FROM ${OracleVec.EmbFinite} t),
      |pairs AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    c.label AS neg_label,
      |    ${OracleVec.cosPair("q.v", "c.v")} AS cosine
      |  FROM e q JOIN e c
      |    ON q.vec_id != c.vec_id AND q.label != c.label
      |  WHERE q.vec_id < 10)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, neg_label,
      |  round(cosine, 4) AS cosine
      |FROM (
      |  SELECT query_id, neighbor_id, neg_label, cosine,
      |    row_number() OVER (
      |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM pairs WHERE cosine IS NOT NULL
      |)
      |WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** Token-budget curation: keep the highest-quality documents until
    * half the corpus's tokens are spent — the "best data under a
    * fixed compute budget" selection every pretraining run makes.
    * NO global quality sort: the cumulative spend comes from the
    * rounded-quality histogram (bounded buckets, tx17 shape); full
    * buckets above the cut are taken wholesale, and only the single
    * boundary bucket orders its own members (doc_id asc) to spend the
    * remainder. Deterministic: integer token counts, 4-dp quality.
    */
  private def mx08TokenBudget(s: SparkSession, dir: String): DataFrame = {
    // staged tokenization + ONE materialization (r19 optimization
    // round): `docs` feeds four subtrees (total, histogram, and the
    // flagged join consumed twice), so the unstaged form tokenized the
    // corpus 4× and quality-scored it 4×6 expression copies deep
    val docs = Tables.documents(s, dir)
      .withColumn("__tk", graft.text.TextStats.tokens(col("text")))
      .select(col("doc_id"),
        round(graft.text.TextStats.qualityScoreFromTokens(col("__tk")), 4).as("quality"),
        size(col("__tk")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .localCheckpoint()
    val total = docs.agg(floor(sum(col("n_tokens")) / 2).cast("long").as("budget"))
    val hist = docs.groupBy(col("quality")).agg(sum(col("n_tokens")).as("bt"))
    // cumulative spend from the highest-quality bucket down (window
    // over the bounded histogram, not the data)
    val wq = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("bt")).over(wq))
      .withColumn("cum_above", col("cum") - col("bt"))
      .select(col("quality"), col("cum"), col("cum_above"))
    val flagged = docs.join(broadcast(cum), "quality").crossJoin(broadcast(total))
    val fullBuckets = flagged.filter(col("cum") <= col("budget"))
    // exactly one bucket straddles the budget line; its members fill
    // the remainder in doc_id order
    val wb = Window.partitionBy(col("quality")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val boundary = flagged
      .filter(col("cum") > col("budget") && col("cum_above") < col("budget"))
      .withColumn("dcum", sum(col("n_tokens")).over(wb))
      .filter(col("dcum") <= col("budget") - col("cum_above"))
    fullBuckets.select(col("doc_id"), col("quality"), col("n_tokens"))
      .union(boundary.select(col("doc_id"), col("quality"), col("n_tokens")))
      .orderBy(col("doc_id"))
  }

  private val mx08Sql =
    """WITH t AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
      |  FROM documents),
      |d AS (
      |  SELECT doc_id,
      |    round(0.4 * least(len(toks) / 50.0, 1.0)
      |        + 0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
      |        + 0.2 * least(5.0 * (len(list_filter(toks, x -> list_contains(
      |            ['the','a','an','and','or','of','to','in','is','it'], x)))
      |          / CAST(len(toks) AS DOUBLE)), 1.0), 4) AS quality,
      |    CAST(len(toks) AS BIGINT) AS n_tokens
      |  FROM t WHERE len(toks) > 0),
      |total AS (SELECT CAST(floor(sum(n_tokens) / 2) AS BIGINT) AS budget FROM d),
      |hist AS (SELECT quality, sum(n_tokens) AS bt FROM d GROUP BY 1),
      |cum AS (
      |  SELECT quality,
      |    sum(bt) OVER (ORDER BY quality DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(bt) OVER (ORDER BY quality DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bt AS cum_above
      |  FROM hist),
      |flagged AS (
      |  SELECT d.doc_id, d.quality, d.n_tokens, c.cum, c.cum_above, t.budget
      |  FROM d JOIN cum c USING (quality) CROSS JOIN total t),
      |full_b AS (
      |  SELECT doc_id, quality, n_tokens FROM flagged WHERE cum <= budget),
      |boundary AS (
      |  SELECT doc_id, quality, n_tokens
      |  FROM (
      |    SELECT doc_id, quality, n_tokens, budget, cum_above,
      |      sum(n_tokens) OVER (PARTITION BY quality ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcum
      |    FROM flagged WHERE cum > budget AND cum_above < budget)
      |  WHERE dcum <= budget - cum_above)
      |SELECT doc_id, quality, n_tokens FROM full_b
      |UNION ALL SELECT doc_id, quality, n_tokens FROM boundary
      |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination by span excision (tx08's surgical
    * variant): docs 0–24 are the benchmark; corpus docs ≥ 25 lose only
    * the 8-token spans a shared 5-gram touches. The reassembly
    * fingerprint proves CONTENT of the excision cross-engine, not just
    * counts — [[graft.text.SpanDedup.decontaminateSpans]].
    */
  private def tx19SpanDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    SpanDedup.decontaminateSpans(docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), window = 8, n = 5)
      .orderBy(col("doc_id"))
  }

  private val tx19Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
      |  FROM documents),
      |bsh AS (
      |  SELECT DISTINCT ('0x' || substr(md5(s), 1, 12))::BIGINT AS h
      |  FROM (SELECT unnest(list_transform(range(1, len(toks) - 3),
      |                i -> array_to_string(toks[i:i+4], ' '))) AS s
      |        FROM toks WHERE doc_id < 25 AND len(toks) >= 5)),
      |hits AS (
      |  SELECT DISTINCT doc_id, unnest([CAST((p - 1) // 8 AS INTEGER),
      |                                  CAST((p + 3) // 8 AS INTEGER)]) AS span_idx
      |  FROM (SELECT doc_id, p,
      |          ('0x' || substr(md5(array_to_string(toks[p:p+4], ' ')), 1, 12))::BIGINT AS h
      |        FROM (SELECT doc_id, unnest(range(1, len(toks) - 3)) AS p, toks
      |              FROM toks WHERE doc_id >= 25 AND len(toks) >= 5))
      |  WHERE h IN (SELECT h FROM bsh)),
      |spans AS (
      |  SELECT doc_id, CAST((st - 1) // 8 AS INTEGER) AS span_idx,
      |    array_to_string(toks[st:st+7], ' ') AS span_text
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 8)) AS st
      |        FROM toks WHERE doc_id >= 25 AND len(toks) > 0)),
      |kept AS (
      |  SELECT s.* FROM spans s
      |  WHERE NOT EXISTS (SELECT 1 FROM hits h
      |                    WHERE h.doc_id = s.doc_id AND h.span_idx = s.span_idx)),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
      |    md5(string_agg(span_text, ' ' ORDER BY span_idx)) AS cleaned_fp
      |  FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_spans
      |        FROM spans GROUP BY doc_id)
      |SELECT t.doc_id, t.n_spans, coalesce(a.n_kept, 0) AS n_kept,
      |  coalesce(a.cleaned_fp, md5('')) AS cleaned_fp
      |FROM tot t LEFT JOIN agg a USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Per-source diversity profile — the dataset-card statistics a
    * mixture designer reads before weighting sources: document and
    * token counts, type-token ratio, and distinct-trigram ratio
    * (self-repetition across a source lowers both). Three hash
    * aggregates, no joins wider than the source list.
    */
  private def q88SourceDiversity(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val base = toks.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(size(col("toks"))).as("n_tokens"))
    val words = toks.select(col("source"), explode(col("toks")).as("w"))
      .groupBy(col("source"))
      .agg((countDistinct(col("w")) / count(lit(1))).as("ttr_raw"))
    val tris = toks.filter(size(col("toks")) >= 3)
      .select(col("source"), col("toks"),
        explode(expr("sequence(1, size(toks) - 2)")).as("i"))
      .select(col("source"), graft.dedup.Dedup.md5Hash48(
        expr("concat_ws(' ', slice(toks, i, 3))")).as("t3"))
      .groupBy(col("source"))
      .agg((countDistinct(col("t3")) / count(lit(1))).as("tri_raw"))
    base.join(words, "source").join(tris, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("ttr_raw"), 4).as("ttr"),
        round(col("tri_raw"), 4).as("tri_ratio"))
      .orderBy(col("source"))
  }

  private val q88Sql =
    """WITH toks AS (
      |  SELECT doc_id, source, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
      |  FROM documents),
      |nz AS (SELECT * FROM toks WHERE len(toks) > 0),
      |base AS (
      |  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |    CAST(sum(len(toks)) AS BIGINT) AS n_tokens
      |  FROM nz GROUP BY 1),
      |words AS (
      |  SELECT source, count(DISTINCT w) / CAST(count(*) AS DOUBLE) AS ttr_raw
      |  FROM (SELECT source, unnest(toks) AS w FROM nz) GROUP BY 1),
      |tris AS (
      |  SELECT source, count(DISTINCT t3) / CAST(count(*) AS DOUBLE) AS tri_raw
      |  FROM (SELECT source, ('0x' || substr(md5(t3s), 1, 12))::BIGINT AS t3
      |        FROM (SELECT source,
      |                unnest(list_transform(range(1, len(toks) - 1),
      |                  i -> array_to_string(toks[i:i+2], ' '))) AS t3s
      |              FROM nz WHERE len(toks) >= 3))
      |  GROUP BY 1)
      |SELECT b.source, b.n_docs, b.n_tokens,
      |  round(w.ttr_raw, 4) AS ttr, round(t.tri_raw, 4) AS tri_ratio
      |FROM base b JOIN words w USING (source) JOIN tris t USING (source)
      |ORDER BY b.source""".stripMargin

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
    // spine clamp (Guards.SpineCapHours): one corrupted max-timestamp
    // must not explode the generated per-user grid — mirrored in the oracle
    val spans = e.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"),
        least(max(col("h")),
          min(col("h")) + expr(s"INTERVAL ${Guards.SpineCapHours} HOURS")).as("h1"))
    spans.select(col("user_id"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
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
      |spans AS (SELECT user_id, min(h) AS h0,
      |            least(max(h), min(h) + INTERVAL ${Guards.SpineCapHours} HOURS) AS h1
      |          FROM e GROUP BY 1),
      |dense AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |  FROM spans)
      |SELECT d.user_id, strftime(d.h, '%Y-%m-%d %H:%M:%S') AS hour,
      |  CAST(coalesce(c.n, 0) AS BIGINT) AS n
      |FROM dense d LEFT JOIN counts c USING (user_id, h)
      |ORDER BY d.user_id, hour""".stripMargin

  /** Quantile feature binning (the discretization step of feature
    * engineering): per returnflag, price quartile-bins assigned by the
    * value-histogram CDF — the q45b technique applied per group, with
    * the per-bin summary (count, bucket range) as the gate output.
    * Row-level assignment is the same join the summary uses (join
    * `bins` back on (flag, bucket)); every op is histogram-level.
    */
  private def ml09QuantileBins(s: SparkSession, dir: String): DataFrame = {
    val pr = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice")).cast("long").as("b"))
    val hist = pr.groupBy(col("flag"), col("b")).agg(count(lit(1)).as("nb"))
    val wc = Window.partitionBy(col("flag")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("nb")).over(wc))
    val tot = pr.groupBy(col("flag")).agg(count(lit(1)).as("n"))
    cum.join(tot, "flag")
      .select(col("flag"), col("b"), col("nb"),
        ceil(col("cum") * 4 / col("n")).cast("int").as("bin"))
      .groupBy(col("flag"), col("bin"))
      .agg(sum(col("nb")).as("n"), min(col("b")).as("lo"), max(col("b")).as("hi"))
      .select(col("flag").as("l_returnflag"), col("bin"), col("n"),
        col("lo"), col("hi"))
      .orderBy(col("l_returnflag"), col("bin"))
  }

  private val ml09Sql =
    """WITH pr AS (
      |  SELECT l_returnflag AS flag, CAST(floor(l_extendedprice) AS BIGINT) AS b
      |  FROM lineitem),
      |hist AS (SELECT flag, b, count(*) AS nb FROM pr GROUP BY 1, 2),
      |cum AS (
      |  SELECT flag, b, nb,
      |    sum(nb) OVER (PARTITION BY flag ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |tot AS (SELECT flag, count(*) AS n FROM pr GROUP BY 1),
      |binned AS (
      |  SELECT c.flag, c.b, c.nb,
      |    CAST(ceil(c.cum * 4 / CAST(t.n AS DOUBLE)) AS INTEGER) AS bin
      |  FROM cum c JOIN tot t USING (flag))
      |SELECT flag AS l_returnflag, bin, CAST(sum(nb) AS BIGINT) AS n,
      |  min(b) AS lo, max(b) AS hi
      |FROM binned
      |GROUP BY 1, 2
      |ORDER BY l_returnflag, bin""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q45b_dist_cdf", q45bDistCdf, Some(q45bSql)),
    Q("q38b_kmv_sketch", q38bKmvSketch, Some(q38bSql)),
    Q("q38c_hll_error_gate", q38cHllErrorGate, Some(q38cSql)),
    Q("q44b_range_hist", q44bRangeHist, Some(q44bSql)),
    Q("q87_hard_negatives", q87HardNegatives, Some(q87Sql)),
    Q("mx08_token_budget", mx08TokenBudget, Some(mx08Sql)),
    Q("tx19_span_decontaminate", tx19SpanDecontaminate, Some(tx19Sql)),
    Q("q88_source_diversity", q88SourceDiversity, Some(q88Sql)),
    Q("q89_gap_fill", q89GapFill, Some(q89Sql)),
    Q("ml09_quantile_bins", ml09QuantileBins, Some(ml09Sql)),
  )
}
