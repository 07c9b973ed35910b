package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the testdata star schema (TESTDATA.md). Each table is
  * `<dir>/<name>.parquet`: one parquet file (the testdata layout) or a
  * Spark-written directory of part files. Parquet scans are
  * vectorized + column-pruned by Spark; callers select early so the
  * pruning reaches the scan.
  *
  * The schema is read on the driver from one parquet footer and handed
  * to the reader. Without a schema, `spark.read.parquet` infers it with
  * a `parallelize(...).collect()` Spark job, even for a single file with
  * `mergeSchema` off — one job per table load, on every catalog query's
  * path. The footer picked and its conversion are the ones Spark's
  * inference uses (summary file first, then the first data file;
  * `ParquetFileFormat.readSchemaFromFooter` under the session's
  * `binaryAsString`/`int96AsTimestamp`/`nanosAsLong`/`inferTimestampNTZ`
  * confs), so the loaded schema is the inferred one. A read that needs
  * partition discovery or merges appended batches should keep Spark's
  * inference instead: one footer cannot describe it.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  /** The Spark schema of the parquet table at `path`, from one footer. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) throw new AnalysisException("PATH_NOT_FOUND",
      Map("path" -> fs.makeQualified(p).toString))
    val root = fs.getFileStatus(p)
    val file: Option[FileStatus] =
      if (root.isFile) Some(root)
      else {
        val files = fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.getName)
        def named(n: String) = files.find(_.getPath.getName == n)
        named("_common_metadata").orElse(named("_metadata")).orElse(files.find { f =>
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        })
      }
    val footer = file.getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
      Map("format" -> s"Parquet at ${fs.makeQualified(p)}")))
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(footer.getPath,
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(footer, conf), SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")

  /** events.parquet's `ts` physical type has drifted across testdata
    * generations: TIMESTAMP(NANOS) (Spark's vectorized reader rejects it
    * unless read as long via the legacy conf) vs plain timestamp[us]
    * (loads as TIMESTAMP_NTZ). Branch on the loaded schema so either
    * arrival normalizes to session-zoned TimestampType — with the UTC
    * session timezone both paths yield the same wall-clock instants the
    * DuckDB oracle sees. Unexpected types fail fast with the table name
    * rather than poisoning every downstream event query.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, "true")
    val df = load(spark, dir, "events")
    // Scoped conf: restore the caller's value so a later read of some
    // OTHER nanos-timestamp parquet in the same session fails loudly
    // (or converts) instead of silently arriving as LongType.
    def restore(): Unit = prior match {
      case Some(v) => spark.conf.set(nanosKey, v)
      case None    => spark.conf.unset(nanosKey)
    }
    df.schema("ts").dataType match {
      case LongType => // nanos-as-long arrival: integer divide to micros
        // The conf must STAY set on this branch: the parquet footer is
        // re-converted at action time under the then-active session
        // conf, so restoring here would make the returned DataFrame
        // itself fail at its first action.
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        restore()
        // NTZ wall-clocks are UTC by testdata contract, but a bare
        // cast to TimestampType interprets them in the *session* zone
        // — on any non-UTC caller (default spark-shell) every instant
        // silently shifts by the host offset, and the two physical
        // arrivals (nanos = true instants vs NTZ) disagree. Nor is a
        // session-zone round-trip (convert_timezone UTC→sessionTz,
        // then cast) safe: in any DST zone the fall-back overlap hour
        // makes the wall-clock→instant cast ambiguous, and Spark
        // resolves it to the earlier offset — one hour of instants per
        // year silently shifts (pinned by the randomized TablesSpec
        // round-trip, which caught exactly this). Instead reassemble
        // epoch micros arithmetically from the wall-clock fields:
        // every function below is a tz-free field extraction, so the
        // result is exact for any session zone, gaps and overlaps
        // included.
        df.withColumn("ts", expr(
          """timestamp_micros(
            |  cast(unix_date(cast(ts AS date)) AS bigint) * 86400000000 +
            |  cast(extract(HOUR FROM ts) AS bigint) * 3600000000 +
            |  cast(extract(MINUTE FROM ts) AS bigint) * 60000000 +
            |  cast(extract(SECOND FROM ts) * 1000000 AS bigint))""".stripMargin))
      case TimestampType => restore(); df
      case other =>
        restore()
        throw new IllegalStateException(
          s"events.ts: unexpected parquet arrival type $other in $dir")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
