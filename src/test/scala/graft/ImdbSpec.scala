package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.imdb.{ImdbAnalysis, ImdbPipeline}

/** Operator-semantics tests for the IMDb pipeline against the
  * micro-fixtures — the reference ships no tests (SURVEY.md §5), so
  * expected values here are hand-derived from its documented
  * semantics.
  */
class ImdbSpec extends SparkSpec {
  import spark.implicits._

  private lazy val t = ImdbFixtures.tables(spark)
  private lazy val initial = ImdbPipeline.initialForm(
    t.titleAkas, t.titleBasics, t.titleCrew, t.titlePrincipals, t.titleRatings)

  test("initialForm keeps exactly the filter-surviving, rated titles") {
    val ids = initial.select("tconst").collect().map(_.getString(0)).toSet
    assert(ids === Set("t1", "t2", "t9"))
  }

  test("initialForm one-hot genres come from the collected distinct set, sorted") {
    val genreCols = initial.columns.filter(_.startsWith("genre_")).toSeq
    assert(genreCols === Seq("genre_Comedy", "genre_Drama"))
    val r = initial.filter($"tconst" === "t1")
      .select("genre_Comedy", "genre_Drama", "title_type_movie", "title_type_short")
      .first()
    assert(r === Row(1, 1, 1, 0))
  }

  test("initialForm aggregates: aka counts all rows, principals conditional sums") {
    val m = initial.select("tconst", "countries_count", "principals_count",
      "principals_categories_count", "actors_count", "editors_count")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(m("t1").get(1) === 3)  // 3 aka rows, regions not distinct-counted
    assert(m("t1").get(2) === 4)
    assert(m("t1").get(3) === 4)  // actor, actress, writer, composer
    assert(m("t1").get(4) === 2)  // actor + actress both count
    assert(m("t2").get(4) === 2)  // two actor rows
    assert(m("t2").get(5) === 1)
    assert(m("t9").isNullAt(1))   // no akas → NULL via left join
    assert(m("t9").isNullAt(2))   // no principals
  }

  test("runtime buckets at boundaries: 25→0, 100→2, 160→3") {
    val m = initial.select("tconst", "runtimeMinutesBucket")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(m === Map("t1" -> 2, "t2" -> 0, "t9" -> 3))
  }

  test("addPeopleColumns: csv sizes, NULL explode-drop, avg over NULL stats") {
    val people = ImdbPipeline.addPeopleColumns(initial, t.nameBasics)
    val m = people.select("tconst", "writers_known_titles_mean",
      "directors_known_titles_mean", "directors_known_titles_min",
      "directors_professions_mean")
      .collect().map(r => r.getString(0) -> r).toMap
    // t1: writers=nm1234 (2 known titles); directors=nm1,nm2 → mean(3,1)=2
    assert(m("t1").getDouble(1) === 2.0)
    assert(m("t1").getDouble(2) === 2.0)
    assert(m("t1").get(3) === 1)
    assert(m("t1").getDouble(4) === 1.5)
    // t2: writers NULL → explode drops → stats NULL after left join
    assert(m("t2").isNullAt(1))
    // t2: directors=nm123 whose knownForTitles is NULL → avg(NULL)=NULL
    assert(m("t2").isNullAt(2))
    assert(m("t2").getDouble(4) === 3.0) // but professions x,y,z = 3
  }

  test("topSets ranks directors by avg rating then votes") {
    val top = ImdbPipeline.topSets(initial, ImdbPipeline.Config(topN = 2)).directorsRated
    // directors: nm1,nm2 (t1: 7.5) vs nm123 (t2: 5.0) → nm1/nm2 first
    assert(top.length === 2)
    assert(top.toSet === Set("nm1", "nm2"))
  }

  test("topSets breaks ties at the cut by entity id, whatever the partitioning") {
    // four directors (and writers) with identical (avg_rating, avg_votes):
    // the reference leaves the top-2 among them unordered
    val tied = Seq("nm9", "nm30", "nm2", "nm10").zipWithIndex.map { case (id, i) =>
      (s"t$i", 7.0f, 100, id, id)
    }.toDF("tconst", "averageRating", "numVotes", "directors", "writers")
    val cfg = ImdbPipeline.Config(topN = 2)
    val smallest = Seq("nm10", "nm2")
    Seq(1, 8).foreach { parts =>
      val tops = ImdbPipeline.topSets(tied.repartition(parts), cfg)
      Seq(tops.directorsRated, tops.directorsPopular, tops.writersRated,
        tops.writersPopular).foreach(l => assert(l === smallest, s"$parts partitions: $tops"))
    }
  }

  test("addFlag: rlike fidelity has prefix false-positive, default semi-join does not") {
    val fidelity = ImdbPipeline.addFlag(initial, "writers", Seq("nm123"), "flag",
      ImdbPipeline.Config(strictFidelity = true))
    val fm = fidelity.select("tconst", "flag").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(fm("t1") === 1) // writers=nm1234 matches /nm123/ — the documented bug
    assert(fm("t2") === 0) // writers NULL

    val correct = ImdbPipeline.addFlag(initial, "writers", Seq("nm123"), "flag")
    val cm = correct.select("tconst", "flag").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(cm("t1") === 0) // exact id membership
    assert(cm("t2") === 0)
  }

  test("generateDataset end-to-end: dropna leaves fully-populated rows, identity cols dropped") {
    val ds = ImdbPipeline.generateDataset(t)
    val rows = ds.collect()
    assert(rows.length === 1) // only t1 has no NULL anywhere (t2/t9 lose stats)
    assert(!ds.columns.contains("tconst") && !ds.columns.contains("writers") &&
      !ds.columns.contains("numVotes"))
    val r = ds.select("primaryTitle", "genre_Drama", "hasTopRatedDirector",
      "hasPopularWriter", "countries_count").first()
    assert(r === Row("A", 1, 1, 1, 3))
  }

  test("trendsDataFrame: genre×year aggregation matches hand computation") {
    val trends = ImdbAnalysis.trendsDataFrame(t.titleBasics, t.titleRatings)
      .orderBy($"genre", $"startYear")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    assert(trends.toSeq === Seq(
      ("Comedy", 2010, 7.5, 150L),
      ("Comedy", 2018, 6.0, 200L),
      ("Drama", 2010, 7.5, 150L),
      ("Drama", 2020, 5.0, 100L)))
  }

  test("basicStats counts rows, null rows, per-column nulls") {
    val stats = ImdbAnalysis.basicStats(t.titleCrew)
    assert(stats.rowCount === 3)
    assert(stats.columnCount === 3)
    assert(stats.nullContainingRows === 2) // t2 (writers), t9 (directors)
    assert(stats.fullyNullRows === 0)
    val nulls = stats.nullsPerColumn.first()
    assert(nulls.getAs[Long]("directors") === 1L)
    assert(nulls.getAs[Long]("writers") === 1L)
  }

  test("fidelity config produces same logical results (flags aside) as default") {
    val strict = ImdbPipeline.initialForm(t.titleAkas, t.titleBasics, t.titleCrew,
      t.titlePrincipals, t.titleRatings, ImdbPipeline.Config(strictFidelity = true))
    assert(strict.orderBy("tconst").collect().toSeq ===
      initial.orderBy("tconst").collect().toSeq)
  }
}
