package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Catalog-wide degenerate-data smoke (driver-side tooling): rebuilds a
  * testdata directory whose documents/embeddings/events carry the
  * malformed rows a 100 TB corpus is guaranteed to contain — empty,
  * whitespace-only and NULL text; sub-shingle docs; zero-magnitude and
  * NaN-element embeddings; events with NULL ts/user/type/value — then
  * runs EVERY catalog query against it and reports which ones throw.
  *
  * This is the pipeline-level complement to DegenerateInputSpec's
  * unit pins: the claim under test is "no single malformed row aborts
  * any query in the catalog" (under ANSI a stray 0/0 or bad cast is an
  * exception, not a NaN — see SCALE.md round-10 session 2). Value
  * changes are expected (the rows ARE new data); exceptions are the
  * failure condition. Exit 1 if any query throws.
  *
  * Usage: runMain graft.tools.ChaosSmoke
  *   SPARK_GRAFT_SF_DIR   source testdata (default sf0.001)
  *   SPARK_GRAFT_CHAOS    output dir (default /tmp/graft_chaos)
  * Runs on `SPARK_GRAFT_CPUS` cores, validated as Bench does.
  */
object ChaosSmoke {

  /** Build the degenerate testdata directory (shared with the
    * chaos-invariance tests in ScaleInvarianceSpec). Relational tables
    * are byte-identical copies — TPC-H columns are NOT NULL by spec,
    * so their degenerate regimes are out of contract; the three
    * corpus-shaped tables get a malformed block appended at ids far
    * above the real range.
    */
  def build(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    import spark.implicits._
    val badDocs = Seq(
      (900001L, "", "en", "chaos", 0L),
      (900002L, "   \t  \n ", "en", "chaos", 8L),
      (900003L, null.asInstanceOf[String], null.asInstanceOf[String], "chaos", 0L),
      (900004L, "one", "en", "chaos", 3L),
      (900005L, "two tokens", "en", "chaos", 10L),
      (900006L, "!!! ??? ... ;;; :::", "en", "chaos", 19L),
      (900007L, "x " * 5000, "en", "chaos", 10000L),
      // the two engine-divergence classes found by probing (SCALE.md):
      // vertical tab (Java \s vs RE2 \s) and locale-sensitive casing
      (900008L, "ab\u000Bverticaltab words here", "en", "chaos", 30L),
      (900009L, "İstanbul ΣΟΦΟΣ STRASSE ß MiXeD case tokens", "tr", "chaos", 42L),
      // shape wave 2 (r11): astral-plane emoji (surrogate pairs: UTF-16
      // length ≠ codepoint count ≠ UTF-8 bytes), combining marks, and
      // RTL text with an embedded LTR run — the byte/char-length and
      // segmentation edge cases real crawls contain
      (900010L, "🚀🚀 éléphant مرحبا hello مع world", "und", "chaos", 48L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(Seq(
        // real text with NULL lang AND NULL source: the mixing/packing
        // family groups and joins on source, so the NULL-group path
        // (SQL GROUP BY keeps it, equi-joins drop it) must be inert
        (900011L, "perfectly ordinary text with missing metadata fields",
          null.asInstanceOf[String], null.asInstanceOf[String], 52L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))

    val dim = graft.Tables.embeddings(spark, srcDir)
      .select(size(col("embedding"))).first().getInt(0)
    val zero = Array.fill(dim)(0.0f)
    val nan = Array.tabulate(dim)(i => if (i == 3) Float.NaN else 0.1f)
    // shape wave 2 (r11): the corruption classes a real embedding job
    // leaves behind — a truncated (wrong-length) vector, an overflowed
    // (+Inf element) vector, a zero-length array, and a NULL row. Parquet
    // arrays are variable-length, so none of these are schema errors;
    // every consumer must screen shape, not just finiteness.
    val short = Array.fill(math.max(1, dim / 2))(0.1f)
    val inf = Array.tabulate(dim)(i => if (i == 5) Float.PositiveInfinity else 0.1f)
    val badEmb = Seq(
      (900001L, zero, 0), (900002L, nan, 1),
      (900003L, short, 0), (900004L, inf, 1),
      (900005L, Array.empty[Float], 0),
      (900006L, null.asInstanceOf[Array[Float]], 1),
      // chaos-parity wave 3 (r12): two finite vectors truncated to the
      // SAME length — the systematic shard-truncation mode. The
      // pairwise cosine family (dd05/sim01/ml17/q87) legitimately
      // scores them against EACH OTHER (the data defines their space)
      // while they never pair with the full-width corpus
      (900008L, Array.tabulate(math.max(1, dim / 2))(i => if (i == 0) 0.3f else 0.2f), 0),
      (900009L, Array.fill(math.max(1, dim / 2))(0.2f), 1))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("label"))
    // chaos-parity wave 3 (r12): a right-length vector with one NULL
    // ELEMENT — schema-legal for parquet (containsNull), invisible to
    // a naive isnan screen (Spark's isnan(NULL) is FALSE), and read
    // as 0.0 by an unguarded kernel: the fabricated-score class.
    // Built via Option so the encoder emits containsNull=true.
    val nullElem = Seq((900007L, Seq.tabulate(dim)(i =>
        if (i == 2) None else Some(0.1f)): Seq[Option[Float]], 0))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("label"))
    // chaos-parity wave 3 (r12): a corrupt vector INSIDE the quantizer
    // seed range — vec_id 5 is re-written with a NaN element, so the
    // sim03/sim06/sim07/dd12 "first N ids" seed collects must SCREEN
    // it or build a NaN centroid that reorders every cell assignment
    val nanSeed = Seq((5L,
        Array.tabulate(dim)(i => if (i == 1) Float.NaN else 0.15f), 1))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("label"))

    // events + NULL ts / user / type / value rows (written back as
    // plain TimestampType — a supported loader arrival)
    val badEv = Seq(
      (9000001L, Some("2024-01-02 03:04:05"), None: Option[Long], Some("click"), Some(1.0), Some("{}")),
      (9000002L, None: Option[String], Some(1L), Some("view"), Some(2.0), Some("{}")),
      (9000003L, Some("2024-01-02 03:05:06"), Some(1L), None: Option[String], None: Option[Double], None: Option[String]),
      // shape wave 2 (r11): timestamps at the representable extremes
      // (microsecond window/gap arithmetic must not overflow) and
      // non-finite metric values (an ANSI cast of NaN/Inf to int
      // THROWS — one bad sensor reading must not abort an audit)
      (9000004L, Some("0001-01-01 00:00:00"), Some(2L), Some("click"), Some(Double.NaN), Some("{}")),
      (9000005L, Some("9999-12-31 23:59:59"), Some(2L), Some("view"), Some(Double.PositiveInfinity), Some("{}")),
      (9000006L, Some("2024-01-02 03:06:07"), Some(3L), Some("click"), Some(Double.NegativeInfinity), Some("{}")),
      // malformed producer payloads: valid JSON with a non-numeric k
      // (reaches the cast — ANSI CAST_INVALID_INPUT without try_cast,
      // probed) and a truncated document (extraction itself is NULL-safe)
      (9000007L, Some("2024-01-02 03:07:08"), Some(3L), Some("view"), Some(1.0), Some("""{"k":"not-a-number"}""")),
      (9000008L, Some("2024-01-02 03:08:09"), Some(3L), Some("view"), Some(2.0), Some("""{"k":""")))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    Shards.derive(spark, srcDir, outDir, parts = 1)(
      "documents" -> (Shards.append(_, badDocs)),
      "embeddings" -> (emb => Shards.append(emb.filter(col("vec_id") =!= 5L),
        nanSeed.unionByName(badEmb).unionByName(nullElem))),
      "events" -> (Shards.append(_, badEv)))
  }

  /** Run EVERY catalog query against `dir`; pass = does not throw.
    * Returns (query, root-cause) per failure. Shared by the CLI below
    * and by ChaosGateSpec, which makes this sweep part of `sbt test`
    * (VERDICT r10 #3): the degenerate-input guarantee is a machine
    * gate, not a tool the builder remembers to run. Each query runs
    * under [[graft.Bench.force]], whose hash keeps every output projection
    * live, so a throw in a final SELECT cannot pass unexecuted.
    */
  def sweep(spark: SparkSession, dir: String): Seq[(String, String)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val (dt, res) = graft.Bench.force(fn(spark, dir))
      // per-query progress line: when a degenerate row sends a plan
      // quadratic (r11: a year-9999 ts exploding a window frame), the
      // stuck query must be identifiable from the log, not a jstack
      res.fold(root => println(s"[chaos] FAIL $name  $root"),
        _ => println(f"[chaos] ok $name $dt%.1fs"))
      try { spark.catalog.clearCache() } catch { case _: Throwable => () }
      res.left.toOption.map(name -> _)
    }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_CHAOS", "/tmp/graft_chaos")
    val spark = graft.Bench.session()
    spark.sparkContext.setLogLevel("ERROR")

    build(spark, srcDir, outDir)
    val failures = sweep(spark, outDir)
    println(s"[chaos] ${graft.SparkEntry.queries.size - failures.size} survived, " +
      s"${failures.size} threw, over ${graft.SparkEntry.queries.size} queries")
    failures.foreach { case (n, e) => println(s"[chaos]   $n -> $e") }
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
