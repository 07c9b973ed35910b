package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch profiler for the dedup path (driver-side tooling, not
  * library surface): times each stage of dd01/dd02 twice to separate
  * cold-start from steady-state cost.
  */
object ProfileDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
    }

    // mimic Bench's warmup exactly, then time the dd01 catalog entry
    // (orderBy included) as the first "real" query
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.range(100000L).selectExpr("id % 32 AS k", "id")
      .groupBy("k").count().collect()
    spark.range(10000L).selectExpr("id % 8 AS k", "id")
      .selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
      .filter("rn <= 3").collect()
    spark.range(10000L)
      .selectExpr("md5(regexp_replace(cast(id AS string), '0+', ' ')) AS f",
        "filter(split(cast(id AS string), '1'), x -> length(x) > 0) AS t")
      .selectExpr("count(distinct f)", "sum(size(t))").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      try graft.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    time("warm broadcast join")(
      spark.range(10000L).selectExpr("id % 100 AS k")
        .join(broadcast(spark.range(100L).selectExpr("id AS k", "id AS w")), "k")
        .count())
    time("warm orderBy")(
      spark.range(10000L).selectExpr("id % 97 AS k").orderBy("k").count())
    val dd01 = graft.queries.Catalog.queries("dd01_exact_dedup")
    for (round <- 1 to 3) {
      println(s"--- round $round ---")
      time("dd01 catalog entry")(dd01(spark, sfDir).count())
    }
    spark.stop()
  }
}
