package graft

import org.apache.spark.sql.SparkSession

import scala.util.{Failure, Success, Try}

/** Testdata-drift guard (round-9 hardening): load every table the engine
  * knows and print its ACTUAL Spark schema before any query runs. The
  * round-8 incident — the driver regenerated testdata and events.ts
  * changed physical type, silently killing 28 queries — becomes a
  * fail-fast with a named table instead.
  *
  * Run standalone (`runMain graft.SchemaProbe <sfDir>`) or via
  * [[SchemaProbe.assertAll]], which Verify calls first thing.
  */
object SchemaProbe {

  private val loaders: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    Seq(
      "region" -> Tables.region _,
      "nation" -> Tables.nation _,
      "customer" -> Tables.customer _,
      "supplier" -> Tables.supplier _,
      "part" -> Tables.part _,
      "orders" -> Tables.orders _,
      "lineitem" -> Tables.lineitem _,
      "events" -> Tables.events _,
      "documents" -> Tables.documents _,
      "embeddings" -> Tables.embeddings _)

  /** Loads each table and forces one row through the full pipeline
    * (schema resolution + an actual read), printing the post-loader
    * schema — and, when `recordDir` is given, persisting the lines to
    * `<recordDir>/_schemas.txt` so the probe survives in the round
    * artifacts even if stdout is truncated. Throws after probing all
    * tables if any failed, naming them.
    */
  def assertAll(spark: SparkSession, sfDir: String,
      recordDir: Option[String] = None): Unit = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val failures = loaders.flatMap { case (name, loadFn) =>
      Try {
        val df = loadFn(spark, sfDir)
        df.limit(1).collect() // force a real read, not just analysis
        val line = s"[schema] $name: ${df.schema.map(f =>
          s"${f.name}:${f.dataType.simpleString}").mkString(", ")}"
        lines += line
        println(line)
      } match {
        case Success(_) => None
        case Failure(e) =>
          val line = s"[schema] $name FAILED to load from $sfDir: ${e.getMessage}"
          lines += line
          System.err.println(line)
          Some(name)
      }
    }
    recordDir.foreach { d =>
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/_schemas.txt"), lines.mkString("", "\n", "\n"))
      catch { case e: Throwable =>
        System.err.println(s"[schema] could not persist _schemas.txt: ${e.getMessage}")
      }
    }
    if (failures.nonEmpty) throw new IllegalStateException(
      s"SchemaProbe: ${failures.size} table(s) failed to load from $sfDir: " +
        failures.mkString(", ") + " — testdata schema drifted; fix graft.Tables first")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Bench.session()
    assertAll(spark, sfDir)
    spark.stop()
  }
}
