package graft.tools

import org.apache.spark.sql.SparkSession
import graft.Tables

/** Scratch repro (driver-side tooling): replicates Bench's exact
  * warmup → first-timed-query sequence to localize where the first
  * query's in-bench inflation (dd01 15 s vs 2.9 s isolated-cold)
  * comes from. Prints phase timings.
  */
object BenchRepro {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[repro] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    time("warm-jit") {
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
    }
    (Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .map(t => () => Tables.load(spark, sfDir, t)) :+
      (() => Tables.events(spark, sfDir))).foreach { mk =>
      time("prescan-table") {
        try mk().selectExpr("bit_xor(xxhash64(struct(*)))").collect()
        catch { case e: Throwable => println(s"[repro] prescan failed: $e") }
      }
    }
    for (r <- 1 to 3) {
      time(s"dd01[$r]") {
        graft.queries.Catalog.queries("dd01_exact_dedup")(spark, sfDir).count()
      }
      time(s"clear+gc[$r]") { spark.catalog.clearCache(); System.gc() }
    }
    spark.stop()
  }
}
