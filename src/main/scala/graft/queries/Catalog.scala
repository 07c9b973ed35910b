package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle over
  * the same parquet tables. Queries without an oracle get the driver's
  * weaker rows-only check.
  *
  * Contract notes (driver compares by column-name-sorted value hash):
  *   - every computed column is aliased identically in Spark and SQL;
  *   - double outputs are rounded on BOTH sides so partial-aggregation
  *     order (Spark) vs single-pass (DuckDB) float non-associativity
  *     cannot flip the last bit;
  *   - every query ends in a deterministic ORDER BY (total order).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    // Oracle SQL built at dump time rather than object init — for
    // oracles that interpolate values collected from a Spark run (the
    // IMDb pipeline's top-N id sets). Evaluated once, lazily, inside
    // Catalog.oracleSql: by then Verify has created the SparkSession
    // and (normally) already executed the query, so the generator
    // reuses the memoized run instead of launching jobs at class init.
    oracleGen: Option[() => String] = None)

object Catalog {
  lazy val all: Seq[Q] =
    RelationalQueries.all ++ WindowQueries.all ++ EventQueries.all ++
      TextQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
      MlQueries.all ++ QualityQueries.all ++ GraphQueries.all ++
      ImdbQueries.all ++ MultimodalQueries.all

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** Drop every cross-call memo (the IMDb pipeline runs, the shared
    * GBT model) so the next query execution does its full work.
    * Bench-only: per-query repetition (VERDICT r10 #1) must time the
    * real cost each rep, not a TrieMap hit. Verify never calls this —
    * its generated oracles must describe the memoized run that
    * produced the dumped parquet.
    */
  def clearMemos(): Unit = {
    ImdbQueries.clearMemo()
    MlQueries.clearMemo()
  }

  lazy val oracleSql: Map[String, String] =
    all.flatMap { q =>
      val sql = q.oracle.orElse(q.oracleGen.flatMap { gen =>
        // A generator failure must degrade THIS query to the driver's
        // rows-only check, not take down the whole oracle dump (Verify
        // writes oracle_sql.json in one shot — an uncaught throw here
        // would zero the round's correctness for every query).
        try Some(gen())
        catch {
          case e: Throwable =>
            System.err.println(s"[catalog] oracle generation failed for ${q.name}: $e")
            None
        }
      })
      sql.map(q.name -> _)
    }.toMap
}
