package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always yields the same files;
  * the library only ever sees the files written here.
  */
object Gen {

  private def writeLines(file: File)(body: (Seq[Any] => Unit) => Unit): Long = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    var n = 0L
    try body { fields =>
      out.write(fields.map {
        case null | None => "\\N"
        case Some(v) => v.toString
        case v => v.toString
      }.mkString("\t"))
      out.write('\n')
      n += 1
    } finally out.close()
    n - 1 // header line
  }

  private val Genres = Array("Drama", "Comedy", "Action", "Thriller", "Documentary",
    "Horror", "Romance", "Sci-Fi", "Crime", "Adventure", "Animation", "Family",
    "Mystery", "Fantasy", "Biography", "History", "War", "Music", "Sport", "Western")
  // rating offset per genre, so the classifier has signal to learn
  private val GenreEffect = Array(0.9, -0.3, -0.4, 0.0, 1.3, -1.4, 0.1, -0.2, 0.4,
    0.0, 0.6, 0.2, 0.1, -0.1, 1.0, 0.8, 0.5, 0.3, 0.2, 0.0)
  private val TitleTypes = Array("movie", "movie", "movie", "tvMovie", "short",
    "tvSeries", "video", "tvShort")
  private val Categories = Array("actor", "actress", "writer", "composer", "editor",
    "director", "producer", "self", "cinematographer")
  private val Professions = Array("actor", "actress", "writer", "producer", "director",
    "composer", "editor", "miscellaneous")
  private val Regions = Array("US", "DE", "FR", "JP", "BR", "IN", "GB", "ES")

  /** A seeded IMDb dump: the six TSV tables of the public dataset, with
    * `\N` nulls and comma-separated list columns, written under `dir`.
    * Returns the number of data rows per table.
    */
  def imdbDump(seed: Long, dir: File, nTitles: Int, nPeople: Int): Map[String, Long] = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)
    def tt(i: Int) = f"tt$i%07d"
    def nm(i: Int) = f"nm$i%07d"
    // a skewed person pick: a few prolific people, a long tail
    def person(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      (u * u * u * nPeople).toInt
    }
    def csv(xs: Seq[String]): Option[String] = if (xs.isEmpty) None else Some(xs.mkString(","))

    val counts = Map.newBuilder[String, Long]
    val basicsR = rnd.split(); val ratingsR = rnd.split(); val crewR = rnd.split()
    val princR = rnd.split(); val akasR = rnd.split(); val namesR = rnd.split()

    // title attributes are drawn once and shared by basics and ratings
    val genreIdx = Array.fill(nTitles)(Array.empty[Int])
    val runtime = new Array[Int](nTitles)
    counts += "title.basics" -> writeLines(new File(dir, "title.basics.tsv")) { emit =>
      emit(Seq("tconst", "titleType", "primaryTitle", "originalTitle", "isAdult",
        "startYear", "endYear", "runtimeMinutes", "genres"))
      for (i <- 0 until nTitles) {
        val r = basicsR
        val g = if (r.nextInt(30) == 0) Array.empty[Int]
          else Array.fill(1 + r.nextInt(3))(r.nextInt(Genres.length)).distinct
        genreIdx(i) = g
        runtime(i) = if (r.nextInt(15) == 0) -1 else 5 + r.nextInt(200)
        val year = if (r.nextInt(25) == 0) None else Some(1990 + r.nextInt(37))
        emit(Seq(tt(i), TitleTypes(r.nextInt(TitleTypes.length)), s"Title $i",
          s"Original $i", if (r.nextInt(20) == 0) "1" else "0", year, None,
          if (runtime(i) < 0) None else Some(runtime(i)),
          csv(g.toSeq.map(Genres(_)))))
      }
    }
    counts += "title.ratings" -> writeLines(new File(dir, "title.ratings.tsv")) { emit =>
      emit(Seq("tconst", "averageRating", "numVotes"))
      for (i <- 0 until nTitles if ratingsR.nextInt(5) < 3) {
        val r = ratingsR
        val g = genreIdx(i)
        val ge = if (g.isEmpty) 0.0 else g.map(GenreEffect(_)).sum / g.length
        val rt = if (runtime(i) < 0) 0.0 else (runtime(i) - 100) / 80.0
        val noise = (r.nextDouble() + r.nextDouble() + r.nextDouble() - 1.5) * 1.2
        val rating = math.max(1.0, math.min(10.0, 6.0 + 1.6 * ge + rt + noise))
        val votes = (5 + math.pow(10.0, r.nextDouble() * 4.5)).toInt
        emit(Seq(tt(i), f"${math.round(rating * 10) / 10.0}%.1f", votes))
      }
    }
    counts += "title.crew" -> writeLines(new File(dir, "title.crew.tsv")) { emit =>
      emit(Seq("tconst", "directors", "writers"))
      for (i <- 0 until nTitles if crewR.nextInt(10) < 9) {
        val r = crewR
        val dirs = if (r.nextInt(8) == 0) Nil else Seq.fill(1 + r.nextInt(2))(nm(person(r))).distinct
        val wrs = if (r.nextInt(5) == 0) Nil else Seq.fill(1 + r.nextInt(3))(nm(person(r))).distinct
        emit(Seq(tt(i), csv(dirs), csv(wrs)))
      }
    }
    counts += "title.principals" -> writeLines(new File(dir, "title.principals.tsv")) { emit =>
      emit(Seq("tconst", "ordering", "nconst", "category", "job", "characters"))
      for (i <- 0 until nTitles; o <- 1 to princR.nextInt(8)) {
        val r = princR
        val cat = Categories(r.nextInt(Categories.length))
        val chars = if (cat == "actor" || cat == "actress" || cat == "self")
          Some(s"""["Role ${r.nextInt(500)}"]""") else None
        emit(Seq(tt(i), o, nm(person(r)), cat, None, chars))
      }
    }
    counts += "title.akas" -> writeLines(new File(dir, "title.akas.tsv")) { emit =>
      emit(Seq("titleId", "ordering", "title", "region", "language", "types",
        "attributes", "isOriginalTitle"))
      for (i <- 0 until nTitles; o <- 1 to akasR.nextInt(5)) {
        emit(Seq(tt(i), o, s"Aka $i-$o", Regions(akasR.nextInt(Regions.length)),
          None, None, None, if (o == 1) 1 else 0))
      }
    }
    counts += "name.basics" -> writeLines(new File(dir, "name.basics.tsv")) { emit =>
      emit(Seq("nconst", "primaryName", "birthYear", "deathYear",
        "primaryProfession", "knownForTitles"))
      for (p <- 0 until nPeople) {
        val r = namesR
        val birth = if (r.nextInt(3) == 0) None else Some(1920 + r.nextInt(90))
        val death = if (r.nextInt(10) == 0) Some(1980 + r.nextInt(45)) else None
        val profs = if (r.nextInt(12) == 0) Nil
          else Seq.fill(1 + r.nextInt(2))(Professions(r.nextInt(Professions.length))).distinct
        val known = if (r.nextInt(9) == 0) Nil else Seq.fill(2)(tt(r.nextInt(nTitles))).distinct
        emit(Seq(nm(p), s"Person $p", birth, death, csv(profs), csv(known)))
      }
    }
    counts.result()
  }

  // ---- star schema (the catalog's table layout), generated in Spark --------

  /** Uniform long in [0, n) from (row id, seed, salt): xxhash64 is
    * deterministic, so the tables do not depend on partitioning.
    */
  private def ri(seed: Long, salt: Int, n: Long) =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(n))
  private def ru(seed: Long, salt: Int) = ri(seed, salt, 1000003L) / lit(1000003.0)
  private def pick(seed: Long, salt: Int, xs: Seq[String]) =
    element_at(array(xs.map(lit): _*), (ri(seed, salt, xs.size.toLong) + 1).cast("int"))

  /** The catalog's star schema (region, nation, customer, supplier, part,
    * orders, lineitem, events) at scale factor `sf`, one parquet file
    * per table under `dir`. Returns rows per table.
    */
  def starSchema(spark: SparkSession, seed: Long, dir: File, sf: Double): Map[String, Long] = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nEvents = n(1000000); val nUsers = n(15000)
    val days = 2404 // 1995-01-01 .. 2001-08-01
    def write(name: String, df: org.apache.spark.sql.DataFrame): (String, Long) = {
      val path = new File(dir, s"$name.parquet")
      df.coalesce(1).write.mode("overwrite").parquet(path.getPath)
      name -> path.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val in = ParquetFileReader.open(HadoopInputFile.fromPath(
          new Path(f.getPath), spark.sparkContext.hadoopConfiguration))
        try in.getRecordCount finally in.close()
      }.sum
    }
    val r = spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))
    val nat = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))
    val cust = spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ri(seed, 1, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + ru(seed, 2) * 10999.0, 2).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val supp = spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ri(seed, 4, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + ru(seed, 5) * 10999.0, 2).as("s_acctbal"))
    val part = spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(seed, 6, Seq("large", "hot", "blue", "small", "red", "bright",
        "dark", "light", "green")), pick(seed, 7, Seq("ring", "bolt", "anvil", "widget",
        "gear", "spring", "valve"))).as("p_name"),
      concat(lit("Brand#"), ri(seed, 8, 25) + 1).as("p_brand"),
      pick(seed, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (ri(seed, 10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice"))
    val ord = spark.range(nOrd).select(col("id").as("o_orderkey"),
      ri(seed, 11, nCust).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + ru(seed, 13) * 499000.0, 2).as("o_totalprice"),
      to_timestamp(date_add(lit("1995-01-01").cast("date"), ri(seed, 14, days).cast("int")))
        .as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    // 1-7 lines per order (mean 4); the order date is re-derived from the
    // order key's hash, and each line hashes on (order, line number)
    val line = spark.range(nOrd)
      .select(col("id").as("okey"), ri(seed, 14, days).cast("int").as("odays"),
        explode(sequence(lit(1), (ri(seed, 16, 7) + 1).cast("int"))).as("ln"))
      .withColumn("id", col("okey") * 8 + col("ln"))
      .select(col("okey").as("l_orderkey"),
        ri(seed, 17, nPart).as("l_partkey"),
        ri(seed, 18, nSupp).as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (ri(seed, 19, 50) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + ru(seed, 20) * 104099.0, 2).as("l_extendedprice"),
        (ri(seed, 21, 11) / 100.0).as("l_discount"),
        (ri(seed, 22, 9) / 100.0).as("l_tax"),
        pick(seed, 23, Seq("A", "N", "R")).as("l_returnflag"),
        pick(seed, 24, Seq("F", "O")).as("l_linestatus"),
        to_timestamp(date_add(lit("1995-01-01").cast("date"),
          col("odays") + (ri(seed, 25, 121) + 1).cast("int"))).as("l_shipdate"))
    val events = spark.range(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + ri(seed, 26, 30L * 86400L * 1000000L)).as("ts"),
      ri(seed, 27, nUsers).as("user_id"),
      pick(seed, 28, Seq("click", "view", "signup", "purchase", "error")).as("event_type"),
      round(-log(lit(1.0) - ru(seed, 29)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), ri(seed, 30, 100), lit("}")).as("props"))
    Seq("region" -> r, "nation" -> nat, "customer" -> cust, "supplier" -> supp,
      "part" -> part, "orders" -> ord, "lineitem" -> line, "events" -> events)
      .map { case (name, df) => write(name, df) }.toMap
  }

  // ---- near-duplicate document corpus ---------------------------------------

  private val Vocab = Array("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "join", "vector",
    "customer", "index", "shard", "token", "cache", "plan", "stage", "task", "node",
    "commit", "log", "page", "frame", "split", "score", "model", "train", "label")
  private val Markers = Map(
    "en" -> Array("the", "a", "is", "and", "of"),
    "de" -> Array("der", "die", "das", "und", "ist"),
    "es" -> Array("el", "la", "los", "y", "es"),
    "fr" -> Array("le", "la", "et", "les", "est"),
    "zh" -> Array.empty[String])
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  /** A seeded curation corpus: `nBase` original documents, each replicated
    * with perturbations (exact copies, near-duplicates with a few tokens
    * substituted, and shared boilerplate spans), plus one 64-dim embedding
    * per document (cluster centre + noise; near-duplicate documents get
    * near-duplicate vectors). Writes documents.parquet and embeddings.parquet,
    * and exact_topk.parquet: for every vector whose id is a multiple of
    * `queryEvery`, its `k` nearest other vectors by cosine, computed here
    * by brute force as the reference the ANN index is checked against.
    */
  def corpus(spark: SparkSession, seed: Long, dir: File, nBase: Int, queryEvery: Int,
      k: Int): Map[String, Long] = {
    val rnd = new SplittableRandom(seed)
    val dim = 64; val nCentres = 16
    val centres = Array.fill(nCentres, dim)(rnd.nextDouble() * 2 - 1)
    val boiler = Array.fill(12)(Array.fill(16)(Vocab(rnd.nextInt(Vocab.length))).mkString(" "))
    val docs = Array.newBuilder[Row]
    val vecs = Array.newBuilder[Row]
    var id = 0L
    def emit(text: String, lang: String, src: Int, vec: Array[Double], label: Int): Unit = {
      docs += Row(id, text, lang, s"src$src", text.length.toLong)
      vecs += Row(id, vec.map(_.toFloat).toSeq, label)
      id += 1
    }
    def gauss(r: SplittableRandom) = r.nextDouble() + r.nextDouble() + r.nextDouble() - 1.5
    // which documents get boilerplate, copies and near-duplicates follows
    // the base index, so every seed yields the same number of documents and
    // duplicates; the seed draws their content
    for (i <- 0 until nBase) {
      val lang = Langs(rnd.nextInt(Langs.length))
      val marks = Markers(lang)
      val toks = Array.fill(10 + rnd.nextInt(90)) {
        if (marks.nonEmpty && rnd.nextInt(4) == 0) marks(rnd.nextInt(marks.length))
        else Vocab(rnd.nextInt(Vocab.length))
      }
      val body = toks.mkString(" ")
      val text = i * 7 % 10 match {
        case 0 | 1 => boiler(rnd.nextInt(boiler.length)) + " " + body
        case 2 => body + " " + boiler(rnd.nextInt(boiler.length))
        case _ => body
      }
      val label = rnd.nextInt(nCentres)
      val vec = centres(label).map(_ + gauss(rnd) * 0.35)
      val src = rnd.nextInt(20)
      emit(text, lang, src, vec, label)
      i % 10 match {
        case 0 | 1 => emit(text, lang, rnd.nextInt(20), vec, label) // exact copy
        case 2 | 3 | 4 => // 1-3 near-duplicates
          for (_ <- 0 until 1 + i / 10 % 3) {
            val t2 = toks.clone()
            for (_ <- 0 until math.max(1, t2.length / 20))
              t2(rnd.nextInt(t2.length)) = Vocab(rnd.nextInt(Vocab.length))
            emit(t2.mkString(" "), lang, rnd.nextInt(20), vec.map(_ + gauss(rnd) * 0.02), label)
          }
        case _ =>
      }
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val topkSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("neighbor_id", LongType)))
    def write(name: String, rows: Array[Row], schema: StructType): (String, Long) = {
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
        .write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)
      name -> rows.length.toLong
    }
    val vs = vecs.result()
    val unit = vs.map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val exact = vs.indices.filter(_ % queryEvery == 0).flatMap { q =>
      vs.indices.filter(_ != q)
        .map(c => (c, (0 until dim).map(i => unit(q)(i) * unit(c)(i)).sum))
        .sortBy { case (c, cos) => (-cos, c) }.take(k)
        .map { case (c, _) => Row(q.toLong, c.toLong) }
    }.toArray
    write("exact_topk", exact, topkSchema)
    Map(write("documents", docs.result(), docSchema), write("embeddings", vs, vecSchema))
  }
}
