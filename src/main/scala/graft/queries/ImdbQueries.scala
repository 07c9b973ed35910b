package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.imdb.{ImdbAnalysis, ImdbDemo, ImdbOracle, ImdbPipeline, ImdbSynth}

/** Driver-visible entries for the IMDb-fidelity pipeline — the demo
  * fixtures and the 30k-title synthetic scale run (the sf dir argument
  * is unused: the real inputs are IMDb dumps, not the star schema).
  *
  * All three now carry generated DuckDB oracles (ImdbOracle): the demo
  * fixtures are inlined as VALUES, the synth inputs re-derived with the
  * same splitmix arithmetic, and each pipeline run's collected top-N id
  * sets are interpolated into its oracle. The pipeline is
  * deterministic (sorted genre columns, entity-id tie-break at every
  * top-N cut), so each query call and each oracle generator runs it
  * afresh and sees the same lists and genres.
  */
object ImdbQueries {

  private def demoRun(s: SparkSession): (DataFrame, ImdbPipeline.TopSets) =
    ImdbPipeline.generateDatasetWithTops(ImdbDemo.tables(s))

  private def synthRun(s: SparkSession): (DataFrame, ImdbPipeline.TopSets) =
    ImdbPipeline.generateDatasetWithTops(ImdbSynth.tables(s, 30000L, 6000L))

  /** The one-hot genre schema the run collected, recovered from the
    * result's columns (initialForm's single plan-data dependency).
    */
  private def genresOf(result: DataFrame): Seq[String] =
    result.columns.toSeq.filter(_.startsWith("genre_")).map(_.stripPrefix("genre_"))

  private def activeSession: SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "IMDb oracle generation needs an active SparkSession"))

  private def imdbPipeline(s: SparkSession, dir: String): DataFrame =
    demoRun(s)._1.orderBy(col("primaryTitle"))

  private def imdbTrends(s: SparkSession, dir: String): DataFrame = {
    val t = ImdbDemo.tables(s)
    ImdbAnalysis.trendsDataFrame(t.titleBasics, t.titleRatings)
      .orderBy(col("genre"), col("startYear"))
  }

  /** The flagship ETL at synthetic scale (30k titles / 6k people,
    * generated distributed) — measures the real 8-join + 4-ranking
    * pipeline in the bench, not a toy fixture.
    */
  private def imdbPipelineSynth(s: SparkSession, dir: String): DataFrame =
    synthRun(s)._1.orderBy(col("primaryTitle"))

  val all: Seq[Q] = Seq(
    Q("imdb_pipeline_demo", imdbPipeline, None, Some(() => {
      val (res, tops) = demoRun(activeSession)
      ImdbOracle.pipelineSql(
        ImdbOracle.demoInputCtes(ImdbDemo.tables(activeSession)), genresOf(res), tops)
    })),
    Q("imdb_trends_demo", imdbTrends, None, Some(() => {
      val t = ImdbDemo.tables(activeSession)
      ImdbOracle.trendsSql(t.titleBasics, t.titleRatings)
    })),
    Q("imdb_pipeline_synth", imdbPipelineSynth, None, Some(() => {
      val (res, tops) = synthRun(activeSession)
      ImdbOracle.pipelineSql(ImdbOracle.synthInputCtes(30000L, 6000L), genresOf(res), tops)
    })),
  )
}
