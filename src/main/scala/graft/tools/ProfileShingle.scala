package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import graft.text.TextStats

/** Scratch A/B (driver-side tooling): decompose hashedShingleRows'
  * cost — interpreted transform(md5) over the token array vs a
  * codegen'd explode+project+window-lead formulation — before touching
  * the hot path 9 catalog queries share.
  */
object ProfileShingle {
  private val P = 2147483647L
  private val C = 1048583L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try Tables.documents(spark, sfDir)
      .selectExpr("bit_xor(xxhash64(struct(*)))").collect()
    catch { case _: Throwable => () }
    def noop(df: DataFrame): Long = { df.write.format("noop").mode("overwrite").save(); -1L }
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"$name%-34s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
    }
    val docs = Tables.documents(spark, sfDir)

    def leadVariant(n: Int): DataFrame = {
      val tokRows = docs
        .withColumn("__toks", TextStats.tokens(col("text")))
        .filter(size(col("__toks")) >= n)
        .select(col("doc_id").as("doc"), posexplode(col("__toks")).as(Seq("pos", "tok")))
        .select(col("doc"), col("pos"), pmod(Dedup.md5Hash48(col("tok")), lit(P)).as("h"))
      val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
      val hs = (0 until n).map(k => if (k == 0) col("h") else lead(col("h"), k).over(w))
      tokRows
        .select(col("doc"), hs.reduce((acc, h) => (acc * lit(C) + h) % lit(P)).as("s"))
        .filter(col("s").isNotNull)
        .distinct()
    }

    for (r <- 1 to 3) {
      println(s"--- round $r ---")
      spark.catalog.clearCache(); System.gc()
      time("tokens only (noop)")(noop(docs.select(col("doc_id"),
        TextStats.tokens(col("text")).as("t"))))
      time("tokens+transform md5 (noop)")(noop(docs.select(col("doc_id"),
        transform(TextStats.tokens(col("text")),
          t => pmod(Dedup.md5Hash48(t), lit(P))).as("th"))))
      time("tokens+explode+md5 (noop)")(noop(docs
        .select(col("doc_id"), posexplode(TextStats.tokens(col("text"))).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("pos"), pmod(Dedup.md5Hash48(col("tok")), lit(P)).as("h"))))
      time("current hashedShingleRows (noop)")(noop(
        Dedup.hashedShingleRows(docs, "doc_id", "text", 3)))
      time("lead variant (noop)")(noop(leadVariant(3)))
      if (r == 1) {
        val a = Dedup.hashedShingleRows(docs, "doc_id", "text", 3)
        val b = leadVariant(3)
        val onlyA = a.except(b).count(); val onlyB = b.except(a).count()
        println(s"    set-diff: onlyCurrent=$onlyA onlyLead=$onlyB")
      }
    }
    spark.stop()
  }
}
