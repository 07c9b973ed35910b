package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding trainer (Sennrich, Haddow & Birch
  * 2016): iteratively merge the globally most frequent adjacent symbol
  * pair, starting from characters. The industrial shape — and the one
  * that scales — trains on the DISTINCT-WORD frequency table, not the
  * raw token stream: one corpus-wide shuffle builds (word, count),
  * after which every merge iteration aggregates only the vocabulary
  * (|V| rows — thousands to low millions at 100 TB, vs trillions of
  * tokens). Per iteration: one tiny pair-count aggregate, one bounded
  * driver collect of the single argmax row (an R2-style plan-data
  * dependency), one narrow projection applying the merge.
  *
  * Symbol sequences are flat strings with a TWO-character separator
  * `··` between symbols and at both ends (`spark` → `··s··p··a··r··k··`),
  * and a merge of (l, r) is `replace(repr, "·l··r·", "·lr·")`. The
  * framing is load-bearing twice over:
  *   - `replace` resumes scanning AFTER each substitution, so with a
  *     single shared separator the pattern consumes the boundary and
  *     misses every other occurrence in a run (`a a a a` would merge
  *     to [aa, a, a], not greedy BPE's [aa, aa]). With `··`, each
  *     match consumes only the INNER dot on each side, leaving the
  *     outer dot to anchor the next overlapping-adjacent match —
  *     exactly left-to-right greedy merging.
  *   - the one-dot margins in the pattern are boundary guards: symbol
  *     `a` never matches the prefix of symbol `ab` (`·a·` ≠ `·ab·`)
  *     nor the suffix of `ba` — string-level replace cannot corrupt
  *     symbols. Both engines (Java, DuckDB) share these replace
  *     semantics, which is what makes the unrolled-CTE oracle exact.
  *
  * Words are restricted to `^[a-z0-9]+$` (parity-filtered in the
  * oracle too) so the separator and SQL literals can never collide
  * with symbol text.
  */
object BpeTrainer {

  val Sep = "·" // '·' — outside the [a-z0-9] word alphabet

  /** (word, wcount, repr) for the trainable vocabulary. */
  def wordTable(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(TextStats.tokens(col(textCol))).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
      .withColumn("repr",
        concat(lit(Sep * 2),
          array_join(filter(split(col("word"), ""), c => length(c) > 0), Sep * 2),
          lit(Sep * 2)))

  /** Learned merges as (merge_rank, lhs, rhs, pair_count), rank 1-based
    * in learning order. Deterministic: ties on pair_count break by
    * (lhs, rhs) lexicographic — the same total order the oracle uses.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    var vocab = wordTable(docs, textCol).localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 1 to numMerges) {
      val best = pairCounts(vocab)
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, l, r, c))
        vocab = vocab.withColumn("repr",
          call_function("replace", col("repr"),
            lit(Sep + l + Sep + Sep + r + Sep), lit(Sep + l + r + Sep)))
        // cut the growing replace-chain lineage the way the PageRank
        // loop does — every THIRD iteration (r19 optimization round):
        // an eager materialization job per merge dominated the train
        // loop's wall-clock at bench scale, and a ≤3-replace chain over
        // the tiny vocab re-derives for free. No final-iteration
        // checkpoint: train() returns the collected merges, so the last
        // vocab is never read again.
        if (rank % 3 == 0 && rank < numMerges) vocab = vocab.localCheckpoint()
      }
    }
    import spark.implicits._
    merges.result().toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** Weighted adjacent-pair counts over the current symbol table. */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val syms = vocab.withColumn("arr",
      filter(split(col("repr"), Sep * 2), s => length(s) > 0))
    syms
      .filter(size(col("arr")) > 1)
      .select(col("wcount"), col("arr"),
        explode(expr("sequence(1, size(arr) - 1)")).as("j"))
      .select(col("wcount"),
        expr("element_at(arr, j)").as("lhs"),
        expr("element_at(arr, j + 1)").as("rhs"))
      .groupBy(col("lhs"), col("rhs"))
      .agg(sum(col("wcount")).as("pair_count"))
  }

  /** Tokenize words with a learned merge list: replays the merges in
    * rank order (the standard BPE apply). Output: word, pieces
    * (array<string>).
    */
  def applyMerges(words: DataFrame, wordCol: String, merges: Seq[(String, String)]): DataFrame = {
    val base = words
      .filter(col(wordCol).rlike("^[a-z0-9]+$"))
      .withColumn("repr",
        concat(lit(Sep * 2),
          array_join(filter(split(col(wordCol), ""), c => length(c) > 0), Sep * 2),
          lit(Sep * 2)))
    val applied = merges.foldLeft(base) { case (df, (l, r)) =>
      df.withColumn("repr",
        call_function("replace", col("repr"),
          lit(Sep + l + Sep + Sep + r + Sep), lit(Sep + l + r + Sep)))
    }
    applied.withColumn("pieces",
      filter(split(col("repr"), Sep * 2), s => length(s) > 0))
      .drop("repr")
  }

  /** The fully-unrolled DuckDB oracle: re-derives the word table, then
    * for each of `numMerges` rounds recomputes pair counts, selects
    * the same (count DESC, lhs, rhs) argmax via LIMIT 1, and applies
    * the same boundary-guarded replace — no interpolated values, the
    * SQL is self-contained and independent of the Spark run.
    */
  def oracleSql(numMerges: Int): String = {
    val sep = Sep
    def pairCte(i: Int) =
      s"""p$i AS MATERIALIZED (
         |  SELECT arr[j] AS lhs, arr[j + 1] AS rhs, sum(wcount) AS pair_count
         |  FROM (SELECT wcount, arr, unnest(range(1, len(arr))) AS j
         |        FROM (SELECT wcount,
         |                list_filter(string_split(repr, '$sep$sep'), x -> x != '') AS arr
         |              FROM v${i - 1}))
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM p$i
         |        ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT word, wcount,
         |    replace(repr,
         |      '$sep' || (SELECT lhs FROM b$i) || '$sep$sep' || (SELECT rhs FROM b$i) || '$sep',
         |      '$sep' || (SELECT lhs FROM b$i) || (SELECT rhs FROM b$i) || '$sep') AS repr
         |  FROM v${i - 1})""".stripMargin
    val stages = (1 to numMerges).map(pairCte).mkString(",\n")
    val union = (1 to numMerges)
      .map(i => s"SELECT CAST($i AS INTEGER) AS merge_rank, lhs, rhs, " +
        s"CAST(pair_count AS BIGINT) AS pair_count FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH words AS MATERIALIZED (
       |  SELECT word, count(*) AS wcount
       |  FROM (SELECT unnest(${TextStats.tokensSql("text")}) AS word
       |        FROM documents)
       |  WHERE regexp_matches(word, '^[a-z0-9]+$$')
       |  GROUP BY word),
       |v0 AS MATERIALIZED (
       |  SELECT word, wcount,
       |    '$sep$sep' ||
       |    array_to_string(list_filter(string_split(word, ''), x -> x != ''), '$sep$sep')
       |    || '$sep$sep' AS repr
       |  FROM words),
       |$stages
       |$union
       |ORDER BY merge_rank""".stripMargin
  }

  /** Oracle for tokenizer APPLICATION (tx15): the same self-derived
    * merge chain as [[oracleSql]], extended to score every document —
    * per-word piece counts from the final symbol table v{numMerges},
    * left-joined back onto each doc's token stream (non-trainable
    * tokens contribute nothing and are counted separately). No
    * interpolated values: the SQL re-learns the merges itself.
    */
  def applyOracleSql(numMerges: Int): String = {
    val trainSql = oracleSql(numMerges)
    // reuse everything up to the merge-list union; swap the SELECT tail
    val withPrefix = trainSql.substring(0, trainSql.indexOf(s"\nSELECT CAST(1 AS INTEGER)"))
    // NOTE: strip the margin of the tail BEFORE concatenating — a
    // stripMargin over the interpolated prefix would eat the first
    // pipe of every `||` concat operator that happens to start a line.
    val tail =
      s""",
         |pieces AS (
         |  SELECT word,
         |    len(list_filter(string_split(repr, '$Sep$Sep'), x -> x != '')) AS n_pieces
         |  FROM v$numMerges),
         |doctoks AS (
         |  SELECT doc_id,
         |    unnest(${TextStats.tokensSql("text")}) AS word
         |  FROM documents)
         |SELECT d.doc_id,
         |  CAST(count(p.word) AS BIGINT) AS n_trainable,
         |  CAST(coalesce(sum(p.n_pieces), 0) AS BIGINT) AS n_pieces
         |FROM doctoks d LEFT JOIN pieces p USING (word)
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    withPrefix + tail
  }
}
