package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup

/** Scratch profiler (driver-side tooling, not library surface) for the
  * exact-Jaccard dedup family (dd02/dd08/dd09/dd13): times each stage
  * of jaccardPairs and the clustering machinery separately so the r20
  * optimization round targets the component that actually costs.
  */
object ProfileJac {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "2").toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    spark.range(1000000L).selectExpr("sum(id)").collect()
    Seq("documents").foreach { t =>
      try Tables.load(spark, sfDir, t)
        .selectExpr("bit_xor(xxhash64(struct(*)))").collect()
      catch { case _: Throwable => () }
    }

    def noop(df: DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); -1L
    }
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$name%-34s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
    }

    for (r <- 1 to rounds) {
      println(s"--- round $r ---")
      spark.catalog.clearCache(); System.gc()
      val docs = Tables.documents(spark, sfDir)

      // stage 1: inverted index build (tokenize+md5+shingle+distinct)
      time("inv build (noop)")(noop(Dedup.hashedShingleRows(docs, "doc_id", "text", 3)))
      val inv = Dedup.hashedShingleRows(docs, "doc_id", "text", 3)
      time("inv localCheckpoint")(inv.localCheckpoint().count())
      val invC = inv.localCheckpoint()

      // stage 2: sizes agg
      time("sizes agg")(invC.groupBy(col("doc")).agg(count(lit(1)).as("n_sh")).count())

      // stage 3: candidate self-join + common count
      val common = invC.as("a").join(invC.as("b"),
          col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
        .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
        .agg(count(lit(1)).as("common"))
      time("self-join+count (noop)")(noop(common))
      time("self-join row volume")(invC.as("a").join(invC.as("b"),
        col("a.s") === col("b.s") && col("a.doc") < col("b.doc")).count())

      // stage 4: full jaccardPairs
      time("jaccardPairs full (noop)")(noop(
        Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)))

      // collapse pass (dd09/dd13 prelude)
      time("collapseIdenticalTexts")(
        Dedup.collapseIdenticalTexts(docs, "doc_id", "text", 3).count())

      // clustering on the real pair set
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5).localCheckpoint()
      time("pairs materialize")(pairs.count())
      time("duplicateClusters")(
        Dedup.duplicateClusters(pairs, "doc_a", "doc_b").count())

      // full catalog entries for reference
      for (q <- Seq("dd02_jaccard_pairs", "dd08_dup_clusters", "dd09_curated_corpus",
          "dd13_quality_canonical")) {
        spark.catalog.clearCache(); System.gc()
        val fn = graft.queries.Catalog.queries(q)
        time(q)(fn(spark, sfDir).count())
      }
    }
    spark.stop()
  }
}
