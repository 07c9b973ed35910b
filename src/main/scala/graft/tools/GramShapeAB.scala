package graft.tools

import org.apache.spark.sql.functions._

/** A/B/C experiment behind GiantDocBlast: the catalog generates n-gram
  * streams in two plan shapes, and this measures whether the difference
  * is real at giant-document scale before any site is rewritten.
  *
  *   A materializing: `explode(transform(sequence(1, T-n+1), i -> gram))`
  *     — the full per-doc gram array is ONE value (T strings) before
  *     Generate iterates it (tx08/tx10/tx14/tx18/dd18/dd19/mx05/mx06,
  *     SpanDedup.decontaminateSpans).
  *   B position stream: `explode(sequence(1, T-n+1))` + per-row slice
  *     in the downstream projection — peak is the position array
  *     (T ints) plus the token array (SpanDedup.winnowedFingerprints).
  *   C posexplode: `posexplode(toks)` + per-row slice — no generated
  *     array at all; the token array is the only per-doc value (tx20).
  *
  * Work is forced through the same aggregate (count + bit_xor over the
  * 48-bit gram hash) so all three shapes compute identical results.
  *
  * Usage: runMain graft.tools.GramShapeAB [T ...]  (default 4M 16M 48M)
  */
object GramShapeAB {

  def main(args: Array[String]): Unit = {
    val ts = if (args.nonEmpty) args.toSeq.map(_.toInt)
             else Seq(4000000, 16000000, 48000000)
    // SPARK_GRAFT_SHAPES=BC runs only those shapes: an OOM in shape A
    // kills the whole local JVM, so finding the LATER shapes' walls
    // needs a fresh process without A in it
    val shapes = sys.env.getOrElse("SPARK_GRAFT_SHAPES", "ABC")
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val n = 5
    val base = java.nio.file.Files.createTempDirectory("graft_gramab_").toString
    for (t <- ts) {
      // through parquet, NOT a LocalRelation: the optimizer constant-
      // folds expressions over local relations ON THE DRIVER, so an
      // in-memory giant doc OOMs inside ConvertToLocalRelation before
      // any shape under test ever runs (observed at T=48M)
      Seq((1L, GiantDocBlast.giantText(t))).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$base/doc.parquet")
      val doc = graft.Tables.load(spark, base, "doc")
        .select(col("doc_id"), graft.text.TextStats.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= n)
      def time(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
        if (!shapes.contains(label.charAt(0))) return
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val res = try {
          val r = mk.agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x")).collect()(0)
          f"n=${r.getLong(0)} x=${r.getLong(1)}%016x"
        } catch { case e: Throwable => s"THREW ${e.getClass.getSimpleName}" }
        println(f"T=$t%-9d $label%-14s ${(System.nanoTime() - t0) / 1e9}%8.2fs $res")
      }
      time("A transform") {
        doc.select(explode(expr(
          s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))"))
          .as("s"))
          .select(graft.dedup.Dedup.md5Hash48(col("s")).as("h"))
      }
      time("B sequence") {
        doc.select(col("toks"),
          explode(expr(s"sequence(1, size(toks) - ${n - 1})")).as("p"))
          .select(graft.dedup.Dedup.md5Hash48(
            expr(s"concat_ws(' ', slice(toks, p, $n))")).as("h"))
      }
      time("C posexplode") {
        doc.select(col("toks"), posexplode(col("toks")).as(Seq("p0", "tok")))
          .filter(col("p0") <= size(col("toks")) - n)
          .select(graft.dedup.Dedup.md5Hash48(
            expr(s"concat_ws(' ', slice(toks, p0 + 1, $n))")).as("h"))
      }
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }
}
