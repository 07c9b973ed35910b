package graft.tools

/** Scratch profiler (driver-side tooling, not library surface): times
  * the named catalog queries, several rounds each, after Bench's warmup
  * — separates cold-start from steady-state cost so optimization work
  * targets the right component. Each timing forces the whole plan
  * through `graft.Bench.force`, as Bench does.
  *
  * Usage: runMain graft.tools.ProfileQ q30_sql_entry ml03_gbt_eval
  * Runs on `graft.Bench.session()`.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "3").toInt
    val spark = graft.Bench.session()
    graft.Bench.warmup(spark, sfDir)

    val names = if (args.nonEmpty) args.toSeq else Seq("q01_pricing_summary")
    // Bench's isolation before every timing: drop the SQL cache and
    // nudge the ContextCleaner so one run's blocks don't tax the next.
    for (r <- 1 to rounds; name <- names) {
      try { spark.catalog.clearCache(); System.gc() }
      catch { case _: Throwable => () }
      graft.Bench.force(graft.queries.Catalog.queries(name)(spark, sfDir)) match {
        case (dt, Right((n, x))) => println(f"[$r] $name%-28s $dt%8.3f s  rows=$n x=$x%016x")
        case (dt, Left(e)) => println(f"[$r] $name%-28s $dt%8.3f s  THREW $e")
      }
    }
    spark.stop()
  }
}
