package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Pins for the schema-adaptive events loader (Tables.events) — the
  * round-8 incident class: driver-regenerated testdata changed ts's
  * physical parquet type and a loader pinned to one arrival silently
  * broke every downstream event query. Each supported arrival
  * (nanos-as-long, timestamp_ntz, session-zoned timestamp) must load
  * to the SAME instants; unsupported arrivals must fail fast naming
  * the problem, not surface later as an analysis error in a query.
  *
  * Also pins Tables.load's driver-side footer schema: the same schema
  * Spark's inference gives, for single files and Spark-written
  * directories, without starting a Spark job.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // one instant, three physical encodings: 2024-01-15T10:30:00.123456Z
  private val micros = 1705314600123456L

  private def writeDir(suffix: String): String = {
    val d = s"/tmp/graft_tablesspec_$suffix"
    SparkSpec.deleteRecursively(d)
    d
  }

  private def loadedMicros(dir: String): Seq[Long] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType,
      s"every arrival must normalize to session-zoned TimestampType, got ${df.schema("ts").dataType}")
    df.select(unix_micros(col("ts"))).as[Long].collect().toSeq.sorted
  }

  test("events loader: nanos-as-long arrival divides to micros") {
    val dir = writeDir("long")
    Seq((1L, micros * 1000L + 789L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    // sub-microsecond nanos truncate (integer DIV), never round up
    assert(loadedMicros(dir) === Seq(micros))
  }

  test("events loader: timestamp_ntz arrival casts via the UTC session zone") {
    val dir = writeDir("ntz")
    Seq((1L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(lit(micros)).cast(TimestampNTZType))
      .write.parquet(s"$dir/events.parquet")
    assert(loadedMicros(dir) === Seq(micros))
  }

  test("events loader: session-zoned timestamp arrival passes through") {
    val dir = writeDir("tz")
    Seq((1L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(lit(micros)))
      .write.parquet(s"$dir/events.parquet")
    assert(loadedMicros(dir) === Seq(micros))
  }

  test("events loader: INT96 (legacy Spark writer) arrival passes through with the same instants") {
    // The one remaining plausible drift for driver-regenerated parquet:
    // a legacy writer emitting INT96 timestamps. Spark reads INT96 as
    // session-zoned TimestampType, so this lands on the pass-through
    // branch — pin that the stored instant survives the round-trip.
    val dir = writeDir("int96")
    val prior = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try Seq((1L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(lit(micros)))
      .write.parquet(s"$dir/events.parquet")
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prior)
    assert(loadedMicros(dir) === Seq(micros))
  }

  test("events loader: NTZ arrival yields the same instants under a non-UTC session zone") {
    // ADVICE r9 (medium): a bare NTZ→timestamp cast interprets the
    // wall-clock in the ambient session zone, silently shifting every
    // instant for any caller that forgot to pin UTC. The loader now
    // converts zone-independently; a New-York session must see the
    // exact same epoch micros as the UTC sessions above.
    val dir = writeDir("ntz_offutc")
    Seq((1L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(lit(micros)).cast(TimestampNTZType))
      .write.parquet(s"$dir/events.parquet")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try assert(loadedMicros(dir) === Seq(micros))
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("events loader: nanosAsLong conf is restored after non-nanos arrivals") {
    // ADVICE r9 (low): the conf was set session-globally and never
    // restored, so a later read of a DIFFERENT nanos parquet silently
    // arrived as LongType. Non-nanos arrivals must leave the session
    // conf exactly as found.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = writeDir("restore")
    Seq((1L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(lit(micros)))
      .write.parquet(s"$dir/events.parquet")
    // the nanos-arrival test above legitimately leaves the conf set
    // (its DataFrame needs it at action time) — start from a clean
    // state so this test pins the restore, not that residue
    spark.conf.unset(key)
    val prior = spark.conf.getOption(key)
    Tables.events(spark, dir)
    assert(spark.conf.getOption(key) === prior)
    assert(!spark.conf.get(key, "false").toBoolean,
      "non-nanos load must not leave nanosAsLong enabled session-wide")
  }

  test("events loader: a nanos DataFrame survives a later non-nanos load's conf restore") {
    // The restore is scoped to the caller's PRIOR value, not blindly to
    // "unset": after a nanos load (which must leave nanosAsLong set for
    // its own action-time footer conversion), a later non-nanos load
    // restores Some("true") — so acting on the earlier nanos DataFrame
    // afterwards still works. A blind unset would break this ordering.
    val nanosDir = writeDir("interleave_nanos")
    Seq((1L, micros * 1000L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$nanosDir/events.parquet")
    val usDir = writeDir("interleave_us")
    Seq((1L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(lit(micros)))
      .write.parquet(s"$usDir/events.parquet")
    val nanosDf = Tables.events(spark, nanosDir)
    Tables.events(spark, usDir) // restores the conf it found: "true"
    assert(nanosDf.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      === Seq(micros))
  }

  test("events loader: randomized instants round-trip through both writable arrivals, UTC and non-UTC") {
    // Boundary-heavy instant set (fixed seed): random 1990-2030 draws
    // plus hand-picked adversaries — pre-1970 (negative micros), the
    // epoch, America/New_York DST spring-forward and fall-back edges
    // (both sides), and a leap-day noon. A session-zone-dependent NTZ
    // conversion fails here precisely on the DST rows: the UTC and
    // New-York sessions would disagree by the offset change.
    val rnd = new scala.util.Random(42)
    val adversaries = Seq(
      -631152000000000L,      // 1950-01-01T00:00:00Z
      0L,                     // epoch
      1710054000000000L - 1L, // 2024-03-10T06:59:59.999999Z (just before EST→EDT)
      1710054000000000L,      // the spring-forward instant
      1730613600000000L - 1L, // just before 2024-11-03 EDT→EST fall-back
      1730613600000000L,      // the fall-back instant
      1709208000000000L)      // 2024-02-29T12:00:00Z leap-day noon
    val micros = (adversaries ++ Seq.fill(20)(
      631152000000000L + (rnd.nextDouble() * 1.26e15).toLong)).distinct.sorted
    def write(dir: String, ntz: Boolean): Unit = {
      val base = micros.zipWithIndex
        .map { case (m, i) => (i.toLong, 7L, "click", 1.0, "{}", m) }
        .toDF("event_id", "user_id", "event_type", "value", "props", "m")
        .withColumn("ts", if (ntz) timestamp_micros(col("m")).cast(TimestampNTZType)
                          else timestamp_micros(col("m")))
      base.drop("m").write.parquet(s"$dir/events.parquet")
    }
    val ntzDir = writeDir("prop_ntz"); write(ntzDir, ntz = true)
    val tzDir = writeDir("prop_tz"); write(tzDir, ntz = false)
    Seq("UTC", "America/New_York").foreach { zone =>
      spark.conf.set("spark.sql.session.timeZone", zone)
      try Seq(ntzDir, tzDir).foreach { dir =>
        assert(loadedMicros(dir) === micros,
          s"instants drifted for $dir under session zone $zone")
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }

  test("events loader: an unexpected ts arrival fails fast with the table named") {
    val dir = writeDir("bad")
    Seq((1L, "2024-01-15", 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts"))
  }

  private val shardTables = Seq(Sf0001, Sf001, Sf01).flatMap { dir =>
    Option(new java.io.File(dir).list()).toSeq.flatten.sorted
      .filter(_.endsWith(".parquet")).map(f => (dir, f.stripSuffix(".parquet")))
  }

  /** A Spark-written table directory: part files plus `_SUCCESS` and
    * the `.crc` side files of the local file system. */
  private def sparkWrittenTable(): (String, String) = {
    val dir = writeDir("spark_written")
    Seq((1L, "a", Array[Byte](1, 2), BigDecimal("1.25"), Seq(1, 2), Map("k" -> 1.5)),
        (2L, null, null, null, Seq.empty[Int], Map.empty[String, Double]))
      .toDF("id", "s", "b", "d", "arr", "m")
      .withColumn("ts", timestamp_micros(lit(micros)))
      .withColumn("st", struct(col("id").as("x"), col("s").as("y")))
      .repartition(2)
      .write.parquet(s"$dir/t.parquet")
    val names = new java.io.File(s"$dir/t.parquet").list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) >= 2,
      s"expected part files, _SUCCESS and .crc files, got $names")
    (dir, "t")
  }

  test("load: the footer schema equals Spark's inferred schema on every shard table and a Spark-written directory") {
    assert(shardTables.nonEmpty, "no testdata shard found")
    (shardTables :+ sparkWrittenTable()).foreach { case (dir, t) =>
      assert(Tables.load(spark, dir, t).schema === spark.read.parquet(s"$dir/$t.parquet").schema,
        s"$dir/$t.parquet")
    }
  }

  test("load starts no Spark job") {
    val tables = shardTables :+ sparkWrittenTable()
    val jobs = jobsDuring(tables.foreach { case (dir, t) => Tables.load(spark, dir, t) })
    assert(jobs === 0, s"jobs started by ${tables.size} loads")
  }

  test("load: a missing path and an empty directory fail with an AnalysisException naming the path") {
    val dir = writeDir("missing")
    val missing = intercept[AnalysisException](Tables.load(spark, dir, "nope"))
    assert(missing.getMessage.contains(s"$dir/nope.parquet"), missing.getMessage)
    new java.io.File(s"$dir/empty.parquet").mkdirs()
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$dir/empty.parquet/_SUCCESS"))
    val empty = intercept[AnalysisException](Tables.load(spark, dir, "empty"))
    assert(empty.getMessage.contains(s"$dir/empty.parquet"), empty.getMessage)
  }
}
