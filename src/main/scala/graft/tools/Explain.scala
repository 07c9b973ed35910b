package graft.tools

/** Dump formatted physical plans for selected catalog queries (dev
  * tool). Usage: runMain graft.tools.Explain <sfDir> [name ...]
  * Runs on `graft.Bench.session()`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q01_pricing_summary", "q05_join_broadcast", "q13_trends",
        "q07_topk", "dd02_jaccard_pairs", "sim01_brute_topk")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.queries.Catalog.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
