package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial testdata shards (driver-side tooling): each regime copies
  * a testdata directory and mutates one or two of its tables, so the
  * scale pathologies of a real crawl are measured rather than argued
  * about. `graft.tools.Blast` times a regime's queries at escalating
  * sizes; ProbeSmokeSpec pins each regime's structural property at the
  * smallest size; `ChaosSmoke.build` derives the degenerate-data shard
  * through the same copy and write.
  *
  * Every synthetic row takes an id from 900000 up, far above the real
  * range, so a probe can always tell blast rows from source rows.
  */
object Shards {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The loader a shard table is read through: events normalizes its
    * drifting `ts` arrival, every other table loads as stored.
    */
  def load(spark: SparkSession, dir: String, t: String): DataFrame =
    if (t == "events") graft.Tables.events(spark, dir) else graft.Tables.load(spark, dir, t)

  /** Layout-aware parquet copy: the source may be a single parquet file
    * (driver testdata) or a Spark-written directory of part files — a
    * bare Files.copy on the latter copies only the empty directory
    * entry, leaving confusing downstream read failures.
    */
  private def copyTable(srcDir: String, t: String, out: java.nio.file.Path): Unit = {
    val src = java.nio.file.Paths.get(s"$srcDir/$t.parquet")
    if (java.nio.file.Files.isDirectory(src))
      org.apache.commons.io.FileUtils.copyDirectory(
        src.toFile, out.resolve(s"$t.parquet").toFile)
    else {
      java.nio.file.Files.copy(src, out.resolve(s"$t.parquet"))
      ()
    }
  }

  /** Recreates `outDir` as a copy of `srcDir` in which each table named
    * in `rewrites` is replaced by what its function builds from the
    * source table, written as `parts` files.
    */
  def derive(spark: SparkSession, srcDir: String, outDir: String, parts: Int)(
      rewrites: (String, DataFrame => DataFrame)*): Unit = {
    val out = java.nio.file.Paths.get(outDir)
    org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
    java.nio.file.Files.createDirectories(out)
    tables.filterNot(rewrites.map(_._1).contains).foreach(copyTable(srcDir, _, out))
    for ((t, rewrite) <- rewrites)
      rewrite(load(spark, srcDir, t)).coalesce(parts)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
  }

  /** `base` with `extra`'s rows appended, in `base`'s column order. */
  def append(base: DataFrame, extra: DataFrame): DataFrame =
    base.unionByName(extra.select(base.columns.map(col): _*))

  /** k copies of the one-row frame `one`, under fresh ids in `idCol`. */
  private def copies(one: DataFrame, idCol: String, k: Int): DataFrame =
    one.sparkSession.range(k.toLong)
      .select((col("id") + 900000L).as(idCol)).crossJoin(one)

  /** The longest real document, without its id. */
  private def longestDoc(docs: DataFrame): DataFrame =
    docs.orderBy(length(col("text")).desc).limit(1).drop("doc_id")

  /** One synthetic document row with a real lang/source, so
    * source-keyed queries see a known group. The row goes through
    * createDataFrame, NOT lit(text) — a multi-MB literal would bloat
    * every plan string it appears in.
    */
  private def docRow(docs: DataFrame, txt: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val proto = docs.select(col("lang"), col("source")).head()
    Seq((900000L, txt, proto.getString(0), proto.getString(1), txt.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** dup(k), byte-identical boilerplate: a real crawl replicates the
    * same page body thousands to millions of times. Pairwise near-dup
    * operators do Σ bucket² work, so a K-identical-doc cluster costs
    * O(K²) candidates no matter how clever the banding is (every copy
    * lands in every bucket together). The cluster replicates ONE real
    * row (all columns) of documents and of embeddings, so it passes
    * every quality/shingle screen a synthetic string might fail — only
    * the id is fresh.
    */
  def dup(spark: SparkSession, srcDir: String, outDir: String, k: Int): Unit =
    derive(spark, srcDir, outDir, parts = 2)(
      "documents" -> (docs => append(docs, copies(longestDoc(docs), "doc_id", k))),
      "embeddings" -> (emb => append(emb,
        copies(emb.orderBy(col("vec_id")).limit(1).drop("vec_id"), "vec_id", k))))

  /** neardup(k), near-identical boilerplate: dup's copies are absorbed
    * by the exact-first collapse for one linear shuffle, but a real
    * crawl's boilerplate usually differs in one mutated token (a
    * session id, a timestamp, a view counter). Each copy of the longest
    * real doc gets a unique trailing token ("sid<i>"): distinct bytes
    * (the collapse must NOT merge them), near-total shingle overlap
    * (jaccard ≈ 1 − 2n/|sh|), so all K copies land together in every
    * LSH band bucket and every inverted-index posting list — O(K²)
    * candidates however the banding is tuned.
    */
  def neardup(spark: SparkSession, srcDir: String, outDir: String, k: Int): Unit =
    derive(spark, srcDir, outDir, parts = 2)(
      "documents" -> (docs => append(docs, copies(longestDoc(docs), "doc_id", k)
        .withColumn("text", concat(col("text"), lit(" sid"),
          (col("doc_id") - 900000L).cast("string")))
        .withColumn("n_chars", length(col("text")).cast("long")))))

  /** skew(k), one hot user: the per-user event family partitions its
    * windows by `user_id` BY SEMANTICS, so no salting/AQE can split one
    * user's rows across tasks, and a bot user with tens of millions of
    * events pins one task per query. Whether that is "a long task" or
    * "a hung job" depends on each operator being linearithmic or
    * quadratic in the hot partition. The busiest real user gets K
    * synthetic events, with event types cycled through its real types.
    */
  def skew(spark: SparkSession, srcDir: String, outDir: String, k: Int): Unit =
    derive(spark, srcDir, outDir, parts = 4)("events" -> { events =>
      val hot = events.filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).count().orderBy(col("count").desc, col("user_id"))
        .limit(1).collect()(0).getLong(0)
      val span = events.agg(
        unix_micros(min(col("ts"))).as("lo"), unix_micros(max(col("ts"))).as("hi"))
        .collect()(0)
      val (lo, hi) = (span.getLong(0), span.getLong(1))
      val types = events.filter(col("user_id") === hot && col("event_type").isNotNull)
        .select(col("event_type")).distinct()
        .orderBy(col("event_type")).as[String](spark.implicits.newStringEncoder)
        .collect()
      // jitter: a fixed odd multiplier mod the span keeps every synthetic
      // instant inside [lo, hi] (no gap-fill spine growth) while
      // scattering the hot user's rows across the whole window ordering
      val spanUs = math.max(hi - lo, 1L)
      // all-NULL event_type on the hot user (a degenerate-shard shape):
      // cycle NULL rather than divide by a zero modulus under ANSI
      val typeExpr =
        if (types.isEmpty) lit(null).cast("string")
        else element_at(array(types.map(lit): _*),
          (pmod(col("id"), lit(types.length.toLong)) + 1).cast("int"))
      append(events, spark.range(k.toLong).select(
        (col("id") + 900000L).as("event_id"),
        timestamp_micros(lit(lo) + pmod(col("id") * lit(2654435761L), lit(spanUs)))
          .as("ts"),
        lit(hot).as("user_id"),
        typeExpr.as("event_type"),
        (pmod(col("id") * lit(7919L), lit(100000L)) / lit(100.0)).as("value"),
        lit(null).cast("string").as("props")))
    })

  /** The adversarial regex row: one '@' then a run that keeps the
    * email domain class fed but never yields `\.[A-Za-z]{2,}`. Java's
    * backtracking engine is O(len²) on `cls1+@cls2+\.suffix` over such
    * a run — every start position consumes the rest of the run before
    * failing — and a crawl WILL contain them (base64 blobs, URLs with
    * userinfo, minified JS).
    */
  private[tools] def advText(n: Int): String = "a@" + "b" * n

  /** regex(n): one document holding `advText(n)`. */
  def regex(spark: SparkSession, srcDir: String, outDir: String, n: Int): Unit =
    derive(spark, srcDir, outDir, parts = 2)(
      "documents" -> (docs => append(docs, docRow(docs, advText(n)))))

  /** Deterministic token stream: ~100k distinct lowercase-alnum words
    * (Knuth multiplicative hash over the position), so the giant doc
    * is NOT boilerplate (dup covers that), trains BPE, passes the
    * `^[a-z0-9]+$` word gate, and yields mostly-distinct shingles —
    * the worst honest case for n-gram volume.
    */
  private[tools] def giantText(tokens: Int): String = {
    val sb = new java.lang.StringBuilder(tokens * 6)
    var i = 0
    while (i < tokens) {
      if (i > 0) sb.append(' ')
      val h = (i.toLong * 2654435761L) & 0x7fffffffL
      sb.append('w').append(java.lang.Long.toString(h % 99991L, 36))
      i += 1
    }
    sb.toString
  }

  /** giant(t), the SINGLE giant document (concatenated logs, minified
    * JS bundles, a book corpus row) of t whitespace tokens; t = 0 is
    * the no-giant baseline. Every per-doc text operator composes
    * tokenize → n-gram/span/window → aggregate, and each composition
    * has its own peak-memory and time shape in the token count T:
    *
    *   - streaming shape: `explode(sequence(...))` positions + per-row
    *     `slice` — peak memory O(T) (the token array), time O(T·n);
    *   - materializing shape: `explode(transform(sequence(...), i ->
    *     gram))` — the FULL per-doc n-gram array is one value before
    *     Generate iterates it: peak O(T·n·token_width) on a single row;
    *   - per-doc windows (winnowing, CDC chunk ids, bigrams): a
    *     single-partition sort, linearithmic and spill-safe;
    *   - per-doc/per-chunk `collect_list` reassembly (tx12/tx19/tx20):
    *     one aggregation buffer holding the document.
    *
    * Each escalation multiplies the corpus token mass ~T/150k-fold: the
    * sf0.001 corpus is 500 docs of ~50 tokens.
    */
  def giant(spark: SparkSession, srcDir: String, outDir: String, t: Int): Unit =
    derive(spark, srcDir, outDir, parts = 2)(
      "documents" -> (docs => if (t == 0) docs else append(docs, docRow(docs, giantText(t)))))
}
