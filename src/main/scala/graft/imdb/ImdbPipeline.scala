package graft.imdb

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's four-stage feature-engineering pipeline
  * (scripts/data_processing.py:70-374) re-expressed in Scala Spark.
  *
  * Where the reference made a *manual physical* decision or used an
  * anti-pattern (SURVEY.md §4.2-4.3), both behaviors exist behind
  * [[Config.strictFidelity]], defaulting to the correct/scalable one:
  *
  *   - `repartition("tconst")` ×4 and `broadcast(title_crew)`
  *     (data_processing.py:108,114,119,142,154): fidelity-only. The
  *     broadcast hint ships an 11.3M-row table to every executor; AQE
  *     picks the right strategy from runtime stats.
  *   - popularity flags via 1000-alternate unanchored `rlike`
  *     (data_processing.py:295): fidelity-only; O(rows × N) NFA scan
  *     with prefix false-positives (nm123 matches nm1234). Default is
  *     an exploded id-set membership + re-aggregation — linear, exact,
  *     and a single InSet probe per id at any scale.
  *
  * Everything else is semantics-identical, including the quirks the
  * output depends on: `isAdult == 0` on a string column (implicit
  * cast), explode dropping NULL csv rows, `countries_count` counting
  * all aka rows (not distinct regions), and the trailing `dropna()`
  * that turns the left joins inner-ish (SURVEY.md §4.3 item 5).
  */
object ImdbPipeline {

  case class Config(strictFidelity: Boolean = false, topN: Int = 1000)

  /** The four collected top-N id sets that drive stage 3's membership
    * flags (data_processing.py:253-264) — exposed so a caller (the
    * correctness gate) can see exactly the lists a run used.
    */
  case class TopSets(directorsRated: Seq[String], writersRated: Seq[String],
      directorsPopular: Seq[String], writersPopular: Seq[String])

  val TitleTypes: Seq[String] = Seq("tvMovie", "movie", "tvShort", "short")

  private def maybeRepartition(df: DataFrame, cfg: Config): DataFrame =
    if (cfg.strictFidelity) df.repartition(col("tconst")) else df

  /** Stage 1 — data_processing.py:70-189: filter/join the five title
    * tables, one-hot genres (data-dependent schema via one collect,
    * SURVEY.md §7.4 item 1) and title types, aka-count and principal
    * aggregates, runtime buckets, final casts.
    */
  def initialForm(titleAkas: DataFrame, titleBasics: DataFrame, titleCrew: DataFrame,
      titlePrincipals: DataFrame, titleRatings: DataFrame,
      cfg: Config = Config()): DataFrame = {

    val titlesCleaned = maybeRepartition(
      titleBasics
        .filter(col("startYear").isNotNull && col("genres").isNotNull &&
          col("runtimeMinutes").isNotNull && col("isAdult") === 0 &&
          col("titleType").isin(TitleTypes: _*) && col("startYear").between(2000, 2024))
        .select("tconst", "titleType", "primaryTitle", "genres", "startYear", "runtimeMinutes"),
      cfg)

    val ratingsCleaned = maybeRepartition(
      titleRatings
        .filter(col("averageRating").isNotNull && col("numVotes") >= 100)
        .select("tconst", "averageRating", "numVotes"),
      cfg)

    val crew = if (cfg.strictFidelity) broadcast(titleCrew) else titleCrew
    val merged = titlesCleaned
      .join(ratingsCleaned, Seq("tconst"), "inner")
      .join(crew, Seq("tconst"), "left")

    // The one place the logical plan depends on collected data
    // (data_processing.py:122-133): distinct genres drive the output
    // schema. Sorted for run-to-run column-order determinism (the
    // reference's collect order is partition-dependent).
    val uniqueGenres = merged
      .select(explode(split(col("genres"), ",")).as("genre"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq

    // one split, 26 membership probes (r19 optimization round): each
    // genre column re-split the csv string per row — codegen CSE does
    // not collapse the copies across independent projection slots, so
    // the one-hot block cost |genres| regex splits per row instead of 1.
    // The staged attribute is multiply-referenced and non-cheap, so
    // CollapseProject keeps it materialized (the withShingles note).
    val genreCols = uniqueGenres.map(g =>
      array_contains(col("__genres_arr"), g).cast("int").as(s"genre_$g"))
    val typeCols = TitleTypes.map(t =>
      (col("titleType") === t).cast("int").as(s"title_type_$t"))

    val countriesCount = maybeRepartition(
      titleAkas.groupBy(col("titleId")).agg(count(lit(1)).as("countries_count"))
        .withColumnRenamed("titleId", "tconst"),
      cfg)

    val principalsAgg = maybeRepartition(
      titlePrincipals.groupBy(col("tconst")).agg(
        count(lit(1)).as("principals_count"),
        countDistinct(col("category")).as("principals_categories_count"),
        sum(when(col("category") === "actor" || col("category") === "actress", 1)
          .otherwise(0)).as("actors_count"),
        sum(when(col("category") === "writer", 1).otherwise(0)).as("writers_count"),
        sum(when(col("category") === "composer", 1).otherwise(0)).as("composers_count"),
        sum(when(col("category") === "editor", 1).otherwise(0)).as("editors_count")),
      cfg)

    val bucket =
      when(col("runtimeMinutes") < 30, 0)
        .when(col("runtimeMinutes") >= 30 && col("runtimeMinutes") <= 90, 1)
        .when(col("runtimeMinutes") > 90 && col("runtimeMinutes") <= 150, 2)
        .otherwise(3)

    merged
      .join(countriesCount, Seq("tconst"), "left")
      .join(principalsAgg, Seq("tconst"), "left")
      .withColumn("runtimeMinutesBucket", bucket)
      .withColumn("__genres_arr", split(col("genres"), ","))
      .select(Seq(
        col("tconst"),
        col("titleType"),
        col("primaryTitle"),
        col("startYear").cast("int"),
        col("averageRating").cast("float"),
        col("numVotes").cast("int"),
        col("runtimeMinutes").cast("int"),
        col("runtimeMinutesBucket").cast("int"),
        col("writers"),
        col("directors")) ++
        genreCols ++ typeCols ++ Seq(
        col("countries_count").cast("int"),
        col("principals_count").cast("int"),
        col("principals_categories_count").cast("int"),
        col("actors_count").cast("int"),
        col("writers_count").cast("int"),
        col("composers_count").cast("int"),
        col("editors_count").cast("int")): _*)
  }

  /** Stage 2 — data_processing.py:192-250: explode writers/directors,
    * join person stats (size of csv lists), aggregate mean/min/max per
    * title, join back. Titles with NULL writers/directors drop out of
    * the exploded side and surface as NULLs after the left join —
    * explode's NULL-drop semantics the reference relies on (F2).
    */
  def addPeopleColumns(mergedData: DataFrame, nameBasics: DataFrame): DataFrame = {
    val peopleData = nameBasics.select(
      col("nconst"),
      size(split(col("knownForTitles"), ",")).as("numKnownForTitles"),
      size(split(col("primaryProfession"), ",")).as("numProfessions"))

    // BOTH roles in one melted pass (r20 optimization round): the two
    // per-role subtrees each re-executed the whole stage-1 join DAG
    // (pruned to the spine + one csv column) and paid their own
    // explode + people join + groupBy shuffles — so stage 1 ran three
    // times per pipeline and stage 2 shuffled twice. One (tconst,
    // role, id) explode feeds one people join and one conditional
    // aggregate; stage 1 now executes once per side (full-width +
    // this pass) and the role stats cost one shuffle. Values are
    // unchanged: explode of the concatenated per-role arrays emits
    // exactly the union of the two explodes (a NULL csv column
    // contributes an empty array, preserving explode's NULL-drop —
    // fidelity note F2), and the role-gated avg/min/max see exactly
    // the rows the per-role aggregates saw (avg over ints sums exact
    // integer doubles, so even the float means are bit-identical; a
    // title with rows for only one role gets NULLs for the other from
    // the all-NULL conditional aggregate where it got NULLs from the
    // missing left-join row before).
    val roleStruct = "array<struct<r:int,id:string>>"
    def roleArr(c: String, r: Int): Column = coalesce(
      transform(split(col(c), ","), x => struct(lit(r).as("r"), x.as("id"))),
      array().cast(roleStruct))
    val roles = mergedData.select(col("tconst"),
        explode(concat(roleArr("writers", 0), roleArr("directors", 1))).as("e"))
      .select(col("tconst"), col("e.r").as("__role"), col("e.id").as("__pid"))
    def aggsFor(r: Int, prefix: String) = Seq(
      avg(when(col("__role") === r, col("numKnownForTitles")))
        .as(s"${prefix}s_known_titles_mean"),
      min(when(col("__role") === r, col("numKnownForTitles")))
        .as(s"${prefix}s_known_titles_min"),
      max(when(col("__role") === r, col("numKnownForTitles")))
        .as(s"${prefix}s_known_titles_max"),
      avg(when(col("__role") === r, col("numProfessions")))
        .as(s"${prefix}s_professions_mean"),
      min(when(col("__role") === r, col("numProfessions")))
        .as(s"${prefix}s_professions_min"),
      max(when(col("__role") === r, col("numProfessions")))
        .as(s"${prefix}s_professions_max"))
    val both = aggsFor(0, "writer") ++ aggsFor(1, "director")
    val stats = roles
      .join(peopleData, roles("__pid") === peopleData("nconst"), "left")
      .groupBy(col("tconst"))
      .agg(both.head, both.tail: _*)
    mergedData.join(stats, Seq("tconst"), "left")
  }

  /** Membership flag of a csv column against a collected top-id set.
    * Fidelity: the reference's unanchored rlike over "id1|id2|…"
    * (data_processing.py:290-298) with its prefix false-positives.
    * Default: exact set membership on the exploded ids (InSet probe),
    * re-aggregated with max() — linear and correct (SURVEY.md §4.3).
    */
  def addFlag(df: DataFrame, columnName: String, topEntities: Seq[String],
      flagName: String, cfg: Config = Config()): DataFrame =
    if (cfg.strictFidelity) {
      df.withColumn(flagName,
        when(col(columnName).isNotNull &&
          col(columnName).rlike(topEntities.mkString("|")), 1).otherwise(0))
    } else flagsForColumn(df, columnName, Seq(flagName -> topEntities))

  /** All membership flags over one csv column in a single explode +
    * aggregation pass (two flags share each column in stage 3, so the
    * correct variant costs 2 shuffles total, not 4).
    *
    * Membership is a broadcast join against the collected top-id sets,
    * not an `isInCollection` literal list: 4 × 1000 string literals
    * embedded in the plan made analysis/codegen the dominant cost of
    * the whole pipeline at bench scale, and a broadcast hash probe is
    * the same O(1)-per-row work without the plan bloat.
    */
  def flagsForColumn(df: DataFrame, columnName: String,
      flags: Seq[(String, Seq[String])]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val lookup = flags.zipWithIndex.flatMap { case ((_, top), i) =>
      top.distinct.map(id => (id, i))
    }.toDF("entity", "flag_idx")
    val aggCols = flags.zipWithIndex.map { case ((name, _), i) =>
      max(when(col("flag_idx") === i, 1).otherwise(0)).as(name)
    }
    val hits = df
      .select(col("tconst").as("flag_tconst"),
        explode(split(col(columnName), ",")).as("entity"))
      .join(broadcast(lookup), Seq("entity"), "inner")
      .groupBy(col("flag_tconst"))
      .agg(aggCols.head, aggCols.tail: _*)
    flags.foldLeft(
      df.join(hits, col("tconst") === col("flag_tconst"), "left").drop("flag_tconst")) {
      case (d, (name, _)) => d.withColumn(name, coalesce(col(name), lit(0)))
    }
  }

  /** The four stage-3 rankings as one value. The reference runs four
    * independent explode+agg+sort jobs (data_processing.py:266-288);
    * the rated and popular orderings of one csv column share the same
    * per-entity aggregate, so each column's aggregate is computed once
    * (one shuffle), cached, and sorted twice — half the stage-3
    * shuffle work for the same collected lists.
    *
    * The reference leaves ties at the top-N cut unordered, so which
    * tied entities make the list depends on partitioning. The entity
    * id is the last ascending key of both orderings: every list is one
    * the reference could produce, and every run produces the same one.
    */
  def topSets(mergedData: DataFrame, cfg: Config = Config()): TopSets = {
    val n = cfg.topN
    def bothOrderings(columnName: String): (Seq[String], Seq[String]) = {
      val agg = mergedData.select(col("averageRating"), col("numVotes"),
          explode(split(col(columnName), ",")).as("entity"))
        .groupBy(col("entity"))
        .agg(avg(col("averageRating")).as("avg_rating"),
          avg(col("numVotes")).as("avg_votes"))
        .persist()
      try {
        def top(ordering: Seq[Column]): Seq[String] =
          agg.orderBy(ordering: _*).limit(n)
            .select("entity").collect().map(_.getString(0)).toSeq
        (top(Seq(col("avg_rating").desc, col("avg_votes").desc, col("entity"))),
          top(Seq(col("avg_votes").desc, col("avg_rating").desc, col("entity"))))
      } finally agg.unpersist()
    }
    val (directorsRated, directorsPopular) = bothOrderings("directors")
    val (writersRated, writersPopular) = bothOrderings("writers")
    TopSets(directorsRated, writersRated, directorsPopular, writersPopular)
  }

  /** Stage 3 — data_processing.py:253-315: four top-1000 rankings
    * (directors/writers × rated/popular), four membership flags, then
    * the reference's `dropna()` (which silently inner-izes the earlier
    * left joins — preserved, it defines the output dataset).
    */
  def addPopularityColumns(mergedData: DataFrame, cfg: Config = Config(),
      precomputedTops: Option[TopSets] = None): DataFrame = {
    val tops = precomputedTops.getOrElse(topSets(mergedData, cfg))
    val TopSets(topDirectorsRated, topWritersRated,
      topDirectorsPopular, topWritersPopular) = tops

    val flagged =
      if (cfg.strictFidelity)
        Seq(
          ("directors", topDirectorsRated, "hasTopRatedDirector"),
          ("writers", topWritersRated, "hasTopRatedWriter"),
          ("directors", topDirectorsPopular, "hasPopularDirector"),
          ("writers", topWritersPopular, "hasPopularWriter"),
        ).foldLeft(mergedData) { case (df, (c, top, name)) => addFlag(df, c, top, name, cfg) }
      else {
        // one explode+agg pass per csv column (2 flags each), then
        // restore the reference's column order
        val d = flagsForColumn(mergedData, "directors", Seq(
          "hasTopRatedDirector" -> topDirectorsRated,
          "hasPopularDirector" -> topDirectorsPopular))
        val w = flagsForColumn(d, "writers", Seq(
          "hasTopRatedWriter" -> topWritersRated,
          "hasPopularWriter" -> topWritersPopular))
        w.select((mergedData.columns.toSeq ++ Seq("hasTopRatedDirector",
          "hasTopRatedWriter", "hasPopularDirector", "hasPopularWriter")).map(col): _*)
      }

    flagged.na.drop()
  }

  /** Stage 4 — data_processing.py:318-337: drop identity/leak columns. */
  def cleanupColumns(mergedData: DataFrame): DataFrame =
    mergedData.drop("tconst", "titleType", "genre", "directors", "writers", "numVotes")

  /** The full ETL — data_processing.py:340-374. The merged frame is
    * persisted before stage 3: the four top-N rankings are four
    * separate jobs over it (plus the final write), and without a cache
    * each re-executes the whole 8-join upstream DAG — the reference
    * recomputes it 5× (SURVEY.md §3.1 actions 3-4). Semantics
    * unchanged; at 100 TB use StorageLevel.DISK_ONLY or a parquet
    * checkpoint instead of memory.
    */
  def generateDataset(t: ImdbReader.ImdbTables, cfg: Config = Config()): DataFrame =
    generateDatasetWithTops(t, cfg)._1

  /** Same ETL, but also returns the collected top-N sets the run used —
    * the correctness gate interpolates them into its generated DuckDB
    * oracle so both engines flag against identical lists (float-avg
    * ranking order is not reproducible across engines at the top-N
    * boundary; the collected lists are).
    */
  def generateDatasetWithTops(t: ImdbReader.ImdbTables,
      cfg: Config = Config()): (DataFrame, TopSets) = {
    // Stage-1 is NOT separately persisted (r19 optimization round,
    // measured): stage 2 reads it from three subtrees, but column
    // pruning strips the two roleStats copies down to the join spine +
    // one csv column, so an extra full-width materialization measured
    // NEUTRAL at bench scale (6.3-6.5 s vs 6.3-7.0 s synth steady)
    // while costing cache space the 100 TB posture can't spare.
    // (r20: the two roleStats subtrees are now ONE — addPeopleColumns
    // melts both roles into a single pass — so stage 1 executes twice
    // per run: full-width for the output frame, pruned once for the
    // role spine. The remaining duplicate is the narrow side; a
    // separate spine checkpoint would itself be a stage-1 execution,
    // saving nothing.)
    val initial = initialForm(t.titleAkas, t.titleBasics, t.titleCrew,
      t.titlePrincipals, t.titleRatings, cfg)
    // At 100 TB the 8-join frame doesn't fit in executor memory — use
    // StorageLevel.DISK_ONLY or a parquet checkpoint there.
    val withPeople = addPeopleColumns(initial, t.nameBasics)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tops = topSets(withPeople, cfg)
      val withPopularity = addPopularityColumns(withPeople, cfg, Some(tops))
      // materialize the (small) final dataset before dropping the cache:
      // cleanup only prunes columns, so this forces the last job through
      // the cached frame rather than a post-unpersist recompute
      (cleanupColumns(withPopularity).localCheckpoint(eager = true), tops)
    } finally withPeople.unpersist()
  }
}
