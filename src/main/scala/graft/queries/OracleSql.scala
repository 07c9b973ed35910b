package graft.queries

import graft.dedup.Dedup
import graft.text.TextStats

/** Shared DuckDB-oracle fragments: each rule that more than one oracle
  * mirrors is written here once, so a change to the engine rule has
  * one oracle-side counterpart to change with it.
  *
  * Text family: the DuckDB mirrors of the exact-dedup fingerprint,
  * the stopword and language-marker hit counts, the language argmax and
  * the quality score. The tokenizer mirror is `TextStats.tokensSql`,
  * beside the rule it mirrors, so `graft.text`'s own oracles reach it.
  * Dedup family: the MinHash signature and band joins, the
  * exact-Jaccard verification, and the label-propagation components.
  *
  * Embedding family: the oracle-side mirror of the engine's
  * degenerate-vector contracts, introduced by the chaos-parity drive
  * (SCALE.md, round 12): running the full oracle battery against the
  * degenerate shard showed every vector oracle either THREW (DuckDB's
  * list_* functions error on length-mismatched or NULL-element lists
  * the engine screens) or silently diverged (DuckDB orders NaN cosines
  * ABOVE every number, the engine folds them to inert NULL). These
  * fragments encode the engine contracts exactly, and are no-ops on
  * clean data — the clean-data hash parity the driver gate checks is
  * unchanged.
  *
  * Mirror-level caveat (shared with every generated oracle here): the
  * corpus dim is burnt in as the testdata fixture constant 64, where
  * the engine elects it from the data (`VectorExprs.dominantDim`).
  */
object OracleSql {

  // ------------------------------------------------------------ text

  /** `TextStats.fingerprint`: md5 of the trimmed, whitespace-run
    * collapsed, ASCII-lowercased (translate, not lower) text.
    */
  def fingerprint(text: String): String =
    s"md5(translate(regexp_replace(trim($text), ${TextStats.WsRunSql}, ' ', 'g'), " +
      "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'))"

  /** `words` as a DuckDB list literal. */
  private def listLit(words: Seq[String]): String = words.map(w => s"'$w'").mkString("[", ",", "]")

  /** `TextStats.DefaultStopwords` as a DuckDB list literal. */
  private val Stopwords = listLit(TextStats.DefaultStopwords)

  /** Stopword hits in the token list `toks` (`TextStats.wordHitCount`
    * over the default stopwords). The long list starts its own line. */
  def stopHits(toks: String): String =
    s"len(list_filter($toks, x -> list_contains(\n      $Stopwords, x)))"

  /** Per-language marker hit counts `c_<lang>` in the token list
    * `toks`, one select item per `TextStats.LangMarkers` entry — the
    * staged scores of `TextStats.withLangId`. */
  def langHits(toks: String): String =
    TextStats.LangMarkers.map { case (lang, words) =>
      s"len(list_filter($toks, x -> list_contains(${listLit(words)}, x))) AS c_$lang"
    }.mkString(",\n    ")

  /** `TextStats.langIdFromScores` over the [[langHits]] columns: the
    * first language whose count is the positive maximum, else 'und'. */
  val LangPred: String = {
    val langs = TextStats.LangMarkers.map(_._1)
    val best = langs.map(l => s"c_$l").mkString("greatest(", ", ", ")")
    langs.map(l => s"WHEN c_$l = $best AND $best > 0 THEN '$l'")
      .mkString("CASE ", "\n    ", "\n    ELSE 'und' END")
  }

  /** `TextStats.qualityScore` from its three counts: 0.4·min(n/50, 1)
    * + 0.4·ttr + 0.2·min(5·stop_ratio, 1). Unrounded and unguarded:
    * each caller rounds it and decides what a token-less doc scores.
    */
  def quality(n: String, nd: String, nstop: String): String =
    s"0.4 * least($n / 50.0, 1.0) + 0.4 * ($nd / CAST($n AS DOUBLE)) " +
      s"+ 0.2 * least(5.0 * ($nstop / CAST($n AS DOUBLE)), 1.0)"

  // ----------------------------------------------------------- dedup

  /** Distinct hashed-shingle CTE `sh(doc_id, sh)` — mirrors
    * `Dedup.hashedShingleRows` (md5 token hash → positional mix, n=3).
    * Body only, so callers choose WITH vs WITH RECURSIVE.
    */
  val Shingles: String =
    s"""sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(th) - 1),
      |    i -> ((th[i] * 1048583 + th[i+1]) % 2147483647 * 1048583 + th[i+2]) % 2147483647)) AS sh
      |  FROM (
      |    SELECT doc_id, list_transform(toks,
      |      t -> ('0x' || substr(md5(t), 1, 12))::BIGINT % 2147483647) AS th,
      |      toks
      |    FROM (SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |          FROM documents)
      |  )
      |  WHERE len(toks) >= 3
      |)""".stripMargin

  private val MinHashBands = 8
  private val MinHashRowsPerBand = 4

  /** MinHash signature CTE `sig(doc_id, mh_0 … mh_31)` over the
    * shingle rows `inv(doc_id, h)`: `Dedup`'s default 8 bands × 4 rows,
    * the seeded permutation coefficients (`Dedup.minHashCoeffs`) burnt
    * in as literals. MATERIALIZED: both sides of all 8 band joins read
    * it, and DuckDB 1.0 inlines a plain CTE at every read, recomputing
    * the signatures 16 times.
    */
  val MinHashSig: String = {
    val mins = Dedup.minHashCoeffs(MinHashBands * MinHashRowsPerBand).zipWithIndex
      .map { case ((a, b), i) => s"    min((h * $a + $b) % 2147483647) AS mh_$i" }
      .mkString(",\n")
    s"sig AS MATERIALIZED (\n  SELECT doc_id,\n$mins\n  FROM inv GROUP BY doc_id\n )"
  }

  /** The per-band equi-joins of `sig a` with `sig b` — docs sharing a
    * band bucket — each selecting `cols` for pairs passing `pairPred`,
    * chained by `union` (UNION, or UNION ALL under an outer DISTINCT).
    */
  def minHashBandJoins(cols: String, pairPred: String, union: String): String =
    (0 until MinHashBands).map { bd =>
      val conds = (0 until MinHashRowsPerBand)
        .map(r => s"a.mh_${bd * MinHashRowsPerBand + r} = b.mh_${bd * MinHashRowsPerBand + r}")
        .mkString(" AND ")
      s"  SELECT $cols\n" +
        s"  FROM sig a JOIN sig b ON $pairPred AND $conds"
    }.mkString(s"\n  $union\n")

  /** Exact shingle Jaccard of a pair from its `common` count and the
    * two sides' `sizes` rows `a`, `b` (column `n_sh`). */
  def jaccard(a: String, b: String): String =
    s"common / CAST($a.n_sh + $b.n_sh - common AS DOUBLE)"

  /** The pairs of `from(doc_a, doc_b, common)` at Jaccard ≥ 0.5 — the
    * exact verification `Dedup.jaccardPairs` applies. */
  def jaccardVerified(from: String): String =
    s"SELECT doc_a, doc_b FROM $from\n" +
      "  JOIN sizes na ON doc_a = na.doc_id\n" +
      "  JOIN sizes nb ON doc_b = nb.doc_id\n" +
      s"  WHERE ${jaccard("na", "nb")} >= 0.5"

  /** Connected components of `pairs(doc_a, doc_b)` by recursive
    * min-label propagation (`Dedup.duplicateClusters`): CTEs `edges`,
    * `walk` and `labels(doc_id, cluster_id)`. Needs WITH RECURSIVE.
    */
  val Components: String =
    """edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs
      | ), walk(v, label) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, walk.label FROM walk JOIN edges e ON walk.v = e.src
      | ), labels AS (
      |  SELECT v AS doc_id, min(label) AS cluster_id FROM walk GROUP BY v
      | )""".stripMargin

  // ------------------------------------------------------- embeddings

  /** Screened embeddings relation (parenthesized, alias it): vectors
    * right-shaped at the fixture dim with every element non-NULL and
    * finite — `VectorExprs.isShapedVec` in SQL. `x * 0` is 0 for any
    * finite x and NaN for NaN/±Inf (the isFiniteVec trick); a NULL
    * element makes the lambda NULL, which list_filter drops, so the
    * length compare catches all three corruption classes at once.
    * Zero-magnitude vectors are NOT screened — they are shaped and
    * finite; the engine keeps them and folds their cosines to NULL
    * ([[cos]]).
    */
  val EmbScreened: String =
    "(SELECT vec_id, label, embedding, embedding::DOUBLE[] AS v FROM embeddings " +
      "WHERE len(embedding) = 64 " +
      "AND len(list_filter(embedding, x -> NOT isnan(x * 0))) = 64)"

  /** Engine cosine contract (`VectorExprs.cosineWithNorms`): NULL —
    * not NaN, which DuckDB orders ABOVE every number in a DESC rank —
    * when either side has zero magnitude. The non-degenerate branch
    * stays `list_cosine_similarity`, preserving the bit-for-bit float
    * parity the clean-data gate relies on. Rankings over this must
    * drop NULLs pre-rank (`WHERE … IS NOT NULL`), mirroring the Ann
    * tails' drop contract.
    */
  def cos(a: String, b: String): String =
    s"CASE WHEN list_dot_product($a, $a) = 0 OR list_dot_product($b, $b) = 0 " +
      s"THEN NULL ELSE list_cosine_similarity($a, $b) END"

  /** Finiteness-only screen for the PAIRWISE cosine family (sim01,
    * dd05, ml17, q87 — the dim-free exact baselines): any length is
    * admissible, because the engine's contract there is pairwise —
    * `cosineWithNorms` scores any SAME-length finite pair, so two
    * identically-truncated vectors legitimately pair with each other
    * (the data defines their space) while never pairing with the
    * full-width corpus. Length agreement is enforced per pair by
    * [[cosPair]], not here. NULL rows, NULL elements, and NaN/±Inf
    * elements screen out exactly as in [[EmbScreened]].
    */
  val EmbFinite: String =
    "(SELECT vec_id, label, embedding, embedding::DOUBLE[] AS v FROM embeddings " +
      "WHERE embedding IS NOT NULL " +
      "AND len(list_filter(embedding, x -> NOT isnan(x * 0))) = len(embedding))"

  /** [[cos]] plus the per-pair length guard — the exact SQL of
    * `cosineWithNorms`' contract: NULL (dropped pre-rank) for a
    * length-mismatched or zero-magnitude pair.
    */
  def cosPair(a: String, b: String): String =
    s"CASE WHEN len($a) != len($b) " +
      s"OR list_dot_product($a, $a) = 0 OR list_dot_product($b, $b) = 0 " +
      s"THEN NULL ELSE list_cosine_similarity($a, $b) END"
}
