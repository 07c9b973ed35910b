package graft.tools

import org.apache.spark.sql.SparkSession

/** Scale probe over the [[Shards]] regimes (driver-side tooling): builds
  * the regime's shard at each size and times its queries there, so a
  * quadratic wall shows as a ~K²/T² step between sizes (~100× per 10×
  * size, where linearithmic reads ~10-12×). The probes are for
  * measuring; ProbeSmokeSpec pins each regime's structural property
  * inside `sbt test`.
  *
  * Usage: runMain graft.tools.Blast <regime> [size ...]
  *   regime ∈ dup, neardup, skew, regex, giant (sizes default per regime)
  *   SPARK_GRAFT_SF_DIR  source testdata (default sf0.001)
  * Runs on `graft.Bench.session()`; each query is timed with
  * `graft.Bench.force`.
  */
object Blast {

  private case class Regime(
      build: (SparkSession, String, String, Int) => Unit,
      sizes: Seq[Int], queries: Seq[String])

  private val regimes: Map[String, Regime] = Map(
    "dup" -> Regime(Shards.dup, Seq(250, 1000), Seq(
      "dd01_exact_dedup", "dd02_jaccard_pairs", "dd03_simhash",
      "dd04_minhash_lsh", "dd06_simhash_pairs", "dd08_dup_clusters",
      "dd09_curated_corpus", "dd13_quality_canonical", "dd14_minhash_curated",
      "dd18_prefix_filter", "dd19_containment",
      "dd05_cosine_pairs", "dd12_semantic_dedup", "sim03_ivf_topk")),
    // dd14 and dd14b are the star-cap A/B: the same collapse-first chain,
    // exact candidates vs starCap=64; the receipt sought is "identical
    // kept set (same hash), quadratic term gone"
    "neardup" -> Regime(Shards.neardup, Seq(250, 1000), Seq(
      "dd01_exact_dedup", "dd02_jaccard_pairs", "dd04_minhash_lsh",
      "dd08_dup_clusters", "dd09_curated_corpus", "dd13_quality_canonical",
      "dd14_minhash_curated", "dd14b_minhash_star")),
    "skew" -> Regime(Shards.skew, Seq(20000, 200000), Seq(
      "q62_sessionize", "q60_gapfill", "q89_gap_fill", "q93_interp",
      "q92_ewma", "q68_rolling_window", "q86_transition_matrix",
      "q63_funnel", "q64_cohort_retention", "q83_key_skew")),
    "regex" -> Regime(Shards.regex, Seq(50000, 100000, 200000), Seq("tx09_pii_redact")),
    "giant" -> Regime(Shards.giant, Seq(0, 250000, 1000000), Seq(
      // per-doc projections / stats (tokenize once, aggregate scalars)
      "tx01_token_stats", "tx03_lang_id", "tx05_fingerprint", "tx07_curate",
      // n-gram families (the explode(transform(...)) materializing shape)
      "tx08_contamination", "tx10_repetition", "tx14_bigram_nll",
      "tx18_source_contamination",
      // span tiling + reassembly collect_list, winnowed fingerprints
      "tx12_span_dedup", "tx16_span_novelty", "tx19_span_decontaminate",
      "dd10_passage_overlap",
      // per-doc windows (CDC chunk ids = cumulative sum over positions)
      "tx20_cdc_chunks",
      // distinct-word table consumers (giant doc adds <=100k vocab words)
      "tx15_bpe_apply",
      // shingle inverted-index dedup (giant doc joins the candidate pool)
      "dd02_jaccard_pairs")))

  def main(args: Array[String]): Unit = {
    val regime = args.headOption.flatMap(regimes.get).getOrElse {
      System.err.println(s"usage: Blast <${regimes.keys.toSeq.sorted.mkString("|")}> [size ...]")
      sys.exit(2)
    }
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val sizes = if (args.length > 1) args.toSeq.tail.map(_.toInt) else regime.sizes
    val spark = graft.Bench.session()
    // per-run temp base: two concurrent probe runs on one host must
    // not overwrite each other's shard mid-sweep (the ChaosGateSpec
    // lesson, ADVICE r11)
    val base = java.nio.file.Files.createTempDirectory(s"graft_blast_${args(0)}_").toString
    for (size <- sizes) {
      val dir = s"$base/$size"
      regime.build(spark, srcDir, dir, size)
      println(s"== ${args(0)} $size ==")
      for (name <- regime.queries) {
        spark.catalog.clearCache()
        graft.Bench.force(graft.SparkEntry.queries(name)(spark, dir)) match {
          case (dt, Right((n, x))) => println(f"$name%-26s $dt%8.2fs rows=$n%d x=$x%016x")
          case (dt, Left(e)) => println(f"$name%-26s $dt%8.2fs THREW $e")
        }
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }
}
