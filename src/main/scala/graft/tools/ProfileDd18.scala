package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextStats

/** Scratch stage-cost breakdown for dd18 (driver-side tooling). */
object ProfileDd18 {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.documents(spark, dir).count()
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[dd18] $label%-24s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    for (rnd <- 1 to 2) {
      println(s"--- round $rnd ---")
      val t = 0.5
      val toks = time("toks-build") {
        Tables.documents(spark, dir)
          .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"), col("toks"),
            explode(expr("sequence(1, size(toks) - 2)")).as("i"))
          .select(col("doc_id"), graft.dedup.Dedup.md5Hash48(
            expr("concat_ws(' ', slice(toks, i, 3))")).as("tok"))
          .distinct()
      }
      time("toks-count")(println("  n=" + toks.count()))
      val base = time("base-checkpoint") {
        toks
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
          .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
          .withColumn("pos", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
          .localCheckpoint()
      }
      val ranked = base
        .filter(col("pos") <= col("sz") - ceil(col("sz") * t) + 1)
        .select(col("doc_id"), col("tok"), col("pos"), col("sz"))
      time("ranked-count")(println("  n=" + ranked.count()))
      val alpha = ceil((col("a.sz") + col("b.sz")) * lit(t) / lit(1 + t))
      val cands = time("cands-checkpoint") {
        ranked.as("a").join(ranked.as("b"),
            col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
            least(col("a.sz"), col("b.sz")) >=
              lit(t) * greatest(col("a.sz"), col("b.sz")) &&
            lit(1) + least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos"))
              >= alpha)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
          .localCheckpoint()
      }
      time("cands-count")(println("  n=" + cands.count()))
      val candDocs = cands.select(col("doc_a").as("doc_id"))
        .union(cands.select(col("doc_b"))).distinct()
      val docSets = base.groupBy(col("doc_id"))
        .agg(collect_list(col("tok")).as("ts"), first(col("sz")).as("sz"))
        .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      val out = cands
        .join(docSets.select(col("doc_id").as("doc_a"),
          col("ts").as("ts_a"), col("sz").as("sz_a")), "doc_a")
        .join(docSets.select(col("doc_id").as("doc_b"),
          col("ts").as("ts_b"), col("sz").as("sz_b")), "doc_b")
        .withColumn("inter",
          size(array_intersect(col("ts_a"), col("ts_b"))).cast("long"))
        .withColumn("jaccard", round(col("inter") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4))
        .filter(col("jaccard") >= t)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
      time("verify-tail")(println("  n=" + out.count()))
    }
    spark.stop()
  }
}
