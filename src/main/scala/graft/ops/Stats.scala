package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-shape utilities for data-quality gates: group-wise
  * outlier flagging and deterministic fixed-size per-group sampling.
  */
object Stats {

  /** Rows whose value sits ≥ `zMin` sample standard deviations from
    * their group mean. The z-score is rounded to 4 decimals BEFORE the
    * threshold compare so the flagged set is reproducible across
    * engines and partial-aggregation orders (float non-associativity
    * shifts the last bits of mean/stddev; the compare must not see
    * them).
    *
    * Scale shape: groupBy to per-group (mean, stddev) — a tiny
    * aggregate, broadcast back onto the fact scan — rather than a
    * window over the full partition, which would shuffle AND sort the
    * whole table by group and serialize each group through one task.
    * Groups with stddev 0 or a single row produce NULL z and are never
    * flagged.
    */
  def zscoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
      zMin: Double): DataFrame = {
    val stats = df.groupBy(col(groupCol))
      .agg(avg(col(valueCol)).as("grp_mu"),
        stddev_samp(col(valueCol)).as("grp_sd"))
    // nullif: a CONSTANT group has stddev exactly 0 and x − mu exactly
    // 0, and under ANSI that 0/0 would abort the job — nullif delivers
    // the NULL z the contract above promises
    df.join(broadcast(stats), Seq(groupCol))
      .withColumn("z",
        round((col(valueCol) - col("grp_mu")) / nullif(col("grp_sd"), lit(0.0)), 4))
      .filter(abs(col("z")) >= zMin)
      .drop("grp_mu", "grp_sd")
  }

  /** Deterministic fixed-size per-group sample: the `n` rows with the
    * smallest md5(key) per group — reproducible on any engine, run,
    * and partitioning (the q58/ml02 hash-membership idiom, here with
    * an exact per-group SIZE guarantee instead of an expected rate).
    * The price of exactness is a rank: one shuffle on the group key
    * plus a within-partition sort; for rate-based sampling with no
    * shuffle at all, use the md5-bucket filter directly.
    */
  def groupSample(df: DataFrame, groupCol: String, keyCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= n)
      .withColumn("sample_rank", col("sample_rank").cast("int"))
  }

  /** Key-skew profile — the diagnostic you run BEFORE choosing a join
    * strategy (salt? broadcast? AQE skew split?) on a 100 TB table.
    * One row per metric:
    *
    *   n_keys, total_rows, max_cnt, avg_cnt,
    *   skew_ratio  = max_cnt / avg_cnt (1.0 = perfectly uniform),
    *   top10_share = fraction of all rows held by the 10 hottest keys,
    *   p99_cnt     = smallest count c with ≥ ⌈0.99·n_keys⌉ keys ≤ c
    *                 (rank definition on integers — reproducible
    *                 everywhere, unlike interpolated quantiles).
    *
    * Scale shape: ONE shuffle (the per-key count); everything after
    * operates on the key-count table and its count-histogram, both
    * ≪ the fact table. p99 comes from a cumulative sum over the
    * histogram (distinct count VALUES — typically hundreds), never a
    * global sort of the key table; top-10 is TakeOrdered.
    */
  def keySkewProfile(df: DataFrame, keyCol: String): DataFrame = {
    // Materialize the per-key count ONCE: base/top10/p99 all branch
    // from it, and without the checkpoint each branch re-scans and
    // re-shuffles the raw fact (4 scans → 1; QualitySpec's
    // "keySkewProfile: the fact table is scanned and shuffled once for
    // all metrics" pins it).
    // Eager, like the dedup iteration tables — the key-count table is
    // ≪ the fact and this is a terminal diagnostic, not a composable
    // lazy view.
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val base = counts.agg(
      count(lit(1)).as("n_keys"), sum(col("c")).as("total_rows"),
      max(col("c")).as("max_cnt"), avg(col("c")).as("avg_cnt"))
    val top10 = counts.orderBy(col("c").desc, col(keyCol)).limit(10)
      .agg(sum(col("c")).as("top10"))
    // count-histogram cumulative: tiny table, single window is fine
    val hist = counts.groupBy(col("c")).agg(count(lit(1)).as("nk"))
      .withColumn("cum", sum(col("nk")).over(
        Window.orderBy(col("c")).rowsBetween(Window.unboundedPreceding, 0)))
    val p99 = hist.crossJoin(broadcast(base.select(col("n_keys"))))
      .filter(col("cum") >= ceil(col("n_keys") * 0.99))
      .agg(min(col("c")).as("p99_cnt"))
    base.crossJoin(top10).crossJoin(p99).select(
      explode(map(
        lit("n_keys"), col("n_keys").cast("double"),
        lit("total_rows"), col("total_rows").cast("double"),
        lit("max_cnt"), col("max_cnt").cast("double"),
        lit("avg_cnt"), round(col("avg_cnt"), 4),
        lit("skew_ratio"), round(col("max_cnt") / col("avg_cnt"), 4),
        lit("top10_share"), round(col("top10") / col("total_rows"), 4),
        lit("p99_cnt"), col("p99_cnt").cast("double")
      )).as(Seq("metric", "value")))
  }
}
