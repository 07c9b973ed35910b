package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Scratch stage decomposition for dd14 (driver-side tooling, VERDICT
  * r12 #4): separates the byte-identical collapse's cost from each LSH
  * chain stage's, so the "recover dd14's collapse cost" work targets
  * the stage that actually pays, measured rather than assumed.
  */
object ProfileDd14 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try graft.Tables.documents(spark, sfDir)
      .selectExpr("bit_xor(xxhash64(struct(*)))").collect()
    catch { case _: Throwable => () }
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$name%-30s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
    }
    val docs = graft.Tables.documents(spark, sfDir)
    for (round <- 1 to 2) {
      println(s"== round $round ==")
      time("collapse")(
        Dedup.collapseIdenticalTexts(docs, "doc_id", "text", minTokens = 3).count())
      val collapsed = Dedup.collapseIdenticalTexts(docs, "doc_id", "text", minTokens = 3)
      time("inv=shingles+ckpt") {
        val inv = Dedup.hashedShingleRows(collapsed, "doc_id", "text", 3).localCheckpoint()
        inv.count()
      }
      val inv = Dedup.hashedShingleRows(collapsed, "doc_id", "text", 3).localCheckpoint()
      time("signatures(inv)")(
        Dedup.signaturesFromShingles(inv, 32, 42L).count())
      val cand = Dedup.minHashCandidatePairs(collapsed, "doc_id", "text", 3, 8, 4, 42L)
      time("cand pairs (sig+band+join)")(cand.count())
      val sizes = inv.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
      val common = cand
        .join(inv.toDF("doc_a", "s"), "doc_a")
        .join(inv.toDF("doc_b", "s"), Seq("doc_b", "s"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
      val verified = common
        .join(sizes.toDF("doc_a", "n_a"), "doc_a")
        .join(sizes.toDF("doc_b", "n_b"), "doc_b")
        .filter(col("common") / (col("n_a") + col("n_b") - col("common")) >= 0.5)
        .select(col("doc_a"), col("doc_b"))
      time("verified pairs")(verified.count())
      time("clusters")(Dedup.duplicateClusters(verified, "doc_a", "doc_b").count())
      val clusters = Dedup.duplicateClusters(verified, "doc_a", "doc_b")
      time("keepCanonical")(
        Dedup.keepCanonical(collapsed, "doc_id", clusters).count())
      time("full curated(collapsed)")(
        Dedup.minHashCuratedCorpus(collapsed, "doc_id", "text",
          n = 3, bands = 8, rowsPerBand = 4, threshold = 0.5).count())
    }
    spark.stop()
  }
}
