package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional third arg: comma-separated name prefixes — local dev
    // filter for fast iteration (the driver always passes two args).
    val keep: String => Boolean = args.lift(2) match {
      case Some(prefixes) =>
        val ps = prefixes.split(','); name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    // Probe every table's post-loader schema first (named fail-fast on
    // testdata drift — the r8 events.ts regeneration killed 28 queries
    // invisibly). A probe failure is recorded loudly but does NOT abort
    // the query loop: one drifted table must cost its own queries, not
    // zero the whole round's correctness report.
    try SchemaProbe.assertAll(spark, sfDir, recordDir = Some(outDir))
    catch { case e: Throwable =>
      System.err.println(s"[verify] SCHEMA PROBE FAILED: ${e.getMessage}")
      val fdir = Paths.get(s"$outDir/_failed"); Files.createDirectories(fdir)
      Files.writeString(fdir.resolve("_SCHEMA_PROBE.txt"), s"${e.getMessage}\n")
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val selected = SparkEntry.queries.filter(kv => keep(kv._1))
    // Declared list FIRST, before any query runs: if this JVM dies
    // mid-loop, selfcheck still sees the full declared set and flags
    // every unwritten query — written post-loop it would vanish with
    // the crash (selfcheck now also fails loudly on its absence, but
    // an exact diff beats a generic "missing declared.json").
    // oracle_sql.json must stay post-loop: ml06's oracle is generated
    // from the executed run's vocabulary.
    Files.writeString(Paths.get(s"$outDir/declared.json"),
      selected.keys.toSeq.sorted.map(n => "\"" + n + "\"").mkString("[", ",", "]"))
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Leave a durable record: a query that throws writes no parquet
        // and would otherwise silently vanish from the driver's
        // correctness report (the r8 failure mode — 28 queries gone
        // with no red anywhere).
        val fdir = Paths.get(s"$outDir/_failed"); Files.createDirectories(fdir)
        Files.writeString(fdir.resolve(s"$name.txt"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      }
    }
    if (failed.nonEmpty) {
      println(s"[verify] ${failed.size} FAILED: ${failed.toSeq.sorted.mkString(", ")}")
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.toSeq.sorted.mkString(", ")}")
    } else println(s"[verify] all ${selected.size} queries written OK")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
