package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * quality scoring, language-ID heuristics, fingerprinting. All are
  * pure Column expressions (whole-stage-codegen-friendly, no UDFs), so
  * they distribute trivially: each is a narrow map over the documents
  * table, no shuffle, and survives any scale-up as a single projection
  * pass over the parquet scan.
  *
  * Extension scope beyond the reference (SURVEY.md §7.1 step 8): the
  * reference's only text ops are split/explode (scripts/
  * data_processing.py:123) — these generalize them to the operators an
  * LLM-data pipeline needs.
  */
object TextStats {

  /** The whitespace class, written out: Java's `\s` is
    * `[ \t\n\x0B\f\r]` but RE2's (DuckDB, the oracle engine) is
    * `[\t\n\f\r ]` — they disagree on exactly one character, vertical
    * tab, which DOES occur in scraped text. An explicit class both
    * regex dialects read identically makes every token-derived result
    * engine-portable. Spelled in backslash-escape form (`\t` the
    * two-character pattern escape, not a literal tab) so the SAME
    * constant can be interpolated into oracle SQL — both Java regex
    * and RE2 parse the escapes identically, and a literal control
    * character would break stripMargin'd SQL text. Public so the
    * oracle builders (BpeTrainer, ml06, dd13, mx10, q54) share this
    * exact spelling instead of re-deriving it or reaching for `\s`
    * (VERDICT r10 #5: no shorthand classes anywhere).
    * (Same divergence family as [[asciiLower]] — probed empirically.)
    */
  val WsClass: String = "[ \\t\\n\\f\\r]"
  private val Ws = WsClass

  /** Whitespace tokenization. Leading/trailing whitespace would leave
    * empty tokens after split (Spark keeps trailing empties), so they
    * are filtered out. NULL text → NULL array (split of NULL
    * propagates), mirroring the reference's NULL-propagating split
    * (scripts/data_processing.py:123). Whitespace = [[Ws]] (portable
    * RE2/Java subset), not `\s`.
    */
  def tokens(text: Column): Column =
    filter(split(text, Ws + "+"), t => length(t) > 0)

  /** [[WsClass]] run as a SQL string literal. */
  val WsRunSql: String = s"'$WsClass+'"

  /** DuckDB mirror of [[tokens]] over the SQL text expression `text`:
    * split on whitespace runs, the empty strings that leading or
    * trailing whitespace leaves dropped. Every oracle tokenizes through
    * this one spelling, the BPE oracles here and the catalog's alike.
    */
  def tokensSql(text: String): String =
    s"list_filter(regexp_split_to_array($text, $WsRunSql), z -> z != '')"

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Lexical diversity: distinct tokens / total tokens, in [0,1].
    * NULL (not an error) for token-less text: under ANSI (Spark 4
    * default) a bare 0/0 THROWS DIVIDE_BY_ZERO — one empty document
    * in a 100 TB corpus would abort the whole job — and NULL is also
    * what the DuckDB oracle's 0/0 yields, so both engines agree on
    * degenerate docs. Same guard on every ratio below.
    */
  def typeTokenRatio(text: Column): Column =
    distinctTokenCount(text).cast("double") /
      nullif(tokenCount(text).cast("double"), lit(0.0))

  /** Total characters across tokens (i.e., length excluding whitespace). */
  def tokenCharCount(text: Column): Column =
    aggregate(tokens(text), lit(0), (acc, t) => acc + length(t))

  def meanTokenLength(text: Column): Column =
    tokenCharCount(text).cast("double") /
      nullif(tokenCount(text).cast("double"), lit(0.0))

  /** Occurrences (not distinct) of any of `words` among the tokens. */
  def wordHitCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(words)))

  /** Per-token, length-gated regex application — the PII-scan shape
    * (tx09). The pattern is applied to each whitespace token of at
    * most `cap` characters; longer tokens pass through untouched.
    * Both bounds are semantic AND load-bearing for scale: PII
    * character classes exclude whitespace, so per-token scanning
    * finds the identical match set to a full-text scan — but Java's
    * backtracking regex engine is O(len²) on adversarial class runs
    * (`a@` + megabytes of `b`: the RegexBlast probe measured 145 s
    * for ONE 100 KB document through the full-text formulation), so
    * the scan unit must be bounded. An RFC-total email is ≤ 254
    * chars; a longer run is a blob (base64, minified JS), not a
    * redactable artifact. NULL text → NULL, like every stat here.
    */
  def countMatchesTokenGated(text: Column, pattern: String, cap: Int): Column =
    aggregate(transform(tokens(text),
        t => when(length(t) <= cap, regexp_count(t, lit(pattern))).otherwise(lit(0))),
      lit(0), (a, x) => a + x)

  /** Redacted single-space rejoin of the token stream: each
    * gate-passing token has every `(pattern, tag)` replacement applied
    * in order ([[countMatchesTokenGated]]'s contract; whitespace runs
    * normalize to one space, mirrored in the oracle like every
    * whitespace contract in this family).
    */
  def replaceTokenGated(text: Column, replacements: Seq[(String, String)],
      cap: Int): Column =
    array_join(transform(tokens(text),
      t => when(length(t) <= cap,
        replacements.foldLeft(t) { case (c, (p, tag)) => regexp_replace(c, p, tag) })
        .otherwise(t)), " ")

  /** Ratio of punctuation characters to total characters. NULL for the
    * empty string (0/0 — see [[typeTokenRatio]]'s ANSI note).
    */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.!?,;:]", "")).cast("double") /
      nullif(length(text).cast("double"), lit(0.0))

  /** English-ish stopwords for quality scoring; the score only needs a
    * fixed public list, not linguistic accuracy.
    */
  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def stopwordRatio(text: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    wordHitCount(text, stopwords).cast("double") /
      nullif(tokenCount(text).cast("double"), lit(0.0))

  /** Composite quality score in [0,1]: rewards lexical diversity and a
    * moderate stopword ratio, penalizes very short documents. The exact
    * formula is engine-defined (the reference has no equivalent); what
    * matters is determinism + monotonicity in its inputs.
    *
    * Token-less text (empty or all-whitespace) scores a defined 0.0 —
    * the worst quality — so a `quality >= t` curation gate always drops
    * it. Without the guard the 0/0 ratios either abort the job (ANSI)
    * or go NaN, and Spark orders NaN ABOVE every number, so empty docs
    * would sail through every quality filter. NULL text stays NULL
    * (the ratios propagate it), matching the NULL-propagation contract
    * of [[tokens]].
    */
  def qualityScore(text: Column, stopwords: Seq[String] = DefaultStopwords): Column = {
    val lenFactor = least(tokenCount(text).cast("double") / lit(50.0), lit(1.0))
    val diversity = typeTokenRatio(text)
    val stop = stopwordRatio(text, stopwords)
    when(tokenCount(text) === 0, lit(0.0)).otherwise(
      lit(0.4) * lenFactor + lit(0.4) * diversity +
        lit(0.2) * least(stop * 5.0, lit(1.0)))
  }

  // ---- Staged (token-attribute) stat variants (r19 optimization
  // round). Every text-input ratio above inlines `tokens(text)` — an
  // interpreted HigherOrderFunction (filter/split lambdas carry no
  // doGenCode) — once per reference, and codegen subexpression
  // elimination does not collapse the copies (the when()/division
  // guards put them in conditional branches, which CSE skips by
  // design). A stats projection like tx01/tx02 therefore re-tokenized
  // every document up to ~10×, and qualityScore alone expands the
  // split six times. The FromTokens forms take the token ARRAY as an
  // attribute staged by one upstream projection (the withLangId/
  // withShingles discipline — CollapseProject keeps a multiply-
  // referenced non-cheap alias materialized), so the split runs once
  // per row at any scale. Value-identical by construction: the same
  // expression trees with the shared token subtree as the input.
  // Measured at sf0.1 (console A/B over the documents table):
  // qualityScore 0.64 s → 0.28 s per pass.

  def typeTokenRatioFromTokens(tk: Column): Column =
    size(array_distinct(tk)).cast("double") /
      nullif(size(tk).cast("double"), lit(0.0))

  def meanTokenLengthFromTokens(tk: Column): Column =
    aggregate(tk, lit(0), (acc, t) => acc + length(t)).cast("double") /
      nullif(size(tk).cast("double"), lit(0.0))

  def stopwordRatioFromTokens(tk: Column,
      stopwords: Seq[String] = DefaultStopwords): Column =
    size(filter(tk, t => t.isInCollection(stopwords))).cast("double") /
      nullif(size(tk).cast("double"), lit(0.0))

  /** [[qualityScore]] from a staged token-array attribute — the same
    * formula tree, tokenized once. See the staging note above.
    */
  def qualityScoreFromTokens(tk: Column,
      stopwords: Seq[String] = DefaultStopwords): Column = {
    val lenFactor = least(size(tk).cast("double") / lit(50.0), lit(1.0))
    val diversity = typeTokenRatioFromTokens(tk)
    val stop = stopwordRatioFromTokens(tk, stopwords)
    when(size(tk) === 0, lit(0.0)).otherwise(
      lit(0.4) * lenFactor + lit(0.4) * diversity +
        lit(0.2) * least(stop * 5.0, lit(1.0)))
  }

  /** Marker-word sets for the language-ID heuristic. Text with none of
    * a language's markers scores 0 for it.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
  )

  /** Argmax over already-staged per-language hit-count columns, ties
    * broken by marker order, "und" when nothing matches. Pass cheap
    * attribute references (see [[withLangId]]): inlining full score
    * expressions here would re-evaluate each one ~10× inside the
    * greatest/when tree.
    */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Convenience single-expression language-ID (fine for small frames
    * and tests; hot paths should use [[withLangId]]).
    */
  def langId(text: Column, markers: Seq[(String, Seq[String])] = LangMarkers): Column =
    langIdFromScores(markers.map { case (lang, words) =>
      lang -> wordHitCount(text, words)
    })

  /** Staged language-ID over a whole frame: tokenize once, compute one
    * hit-count column per language (each a single linear scan of the
    * token attribute), then the cheap argmax — three narrow
    * projections, no shuffle, no re-evaluated subtrees.
    */
  def withLangId(df: org.apache.spark.sql.DataFrame, textCol: String,
      outCol: String = "lang_pred",
      markers: Seq[(String, Seq[String])] = LangMarkers,
      // pre-staged token column (r19 optimization round): a caller
      // that already tokenized (e.g. tx07, which also quality-scores)
      // names its token attribute here so the corpus is split once,
      // not once per consumer
      tokensCol: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val toksed = tokensCol match {
      case Some(c) => df.withColumn("__toks", col(c))
      case None => df.withColumn("__toks", tokens(col(textCol)))
    }
    val scored = markers.foldLeft(toksed) { case (d, (lang, words)) =>
      d.withColumn(s"__score_$lang",
        size(filter(col("__toks"), t => t.isInCollection(words))))
    }
    scored
      .withColumn(outCol,
        langIdFromScores(markers.map { case (l, _) => l -> col(s"__score_$l") }))
      .drop("__toks" +: markers.map { case (l, _) => s"__score_$l" }: _*)
  }

  /** ASCII-only case folding (A-Z → a-z, every other byte untouched).
    * NOT `lower()`: full-unicode lowercasing is locale/library-defined
    * and DIVERGES between engines on real text — Java (Spark) maps
    * İ → i+combining-dot and applies the Greek final-sigma rule
    * (ΣΟΦΟΣ → σοφος) where DuckDB maps İ → i and Σ → σ everywhere
    * (probed empirically; fingerprints differed on both). translate is
    * a fixed 1:1 byte table with identical semantics in every engine,
    * so hash keys built on it are portable. The trade: non-ASCII case
    * variants no longer merge — a missed dedup, never a wrong one.
    */
  def asciiLower(text: Column): Column =
    translate(text, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

  /** Content fingerprint: md5 of whitespace-normalized case-folded
    * text. Stable across layout-only edits; the exact-dedup key in
    * graft.dedup.Dedup. Case folding is [[asciiLower]] so the key is
    * engine-portable (the DuckDB oracle mirrors translate, not
    * lower()).
    */
  def fingerprint(text: Column): Column =
    md5(asciiLower(regexp_replace(trim(text), Ws + "+", " ")))

  /** BPE-ish pre-tokenization regex: alphabetic runs, digit runs, and
    * single non-alphanumeric marks as separate pieces — the
    * whitespace-independent piece segmentation LLM tokenizers apply
    * before merges (a real BPE would then merge pieces against a
    * learned vocabulary; counting pre-merge pieces is the standard
    * cheap token-budget estimate).
    */
  // whitespace written out as [[Ws]] — `\s` reads differently in Java
  // vs the oracle's RE2 (vertical tab), see Ws
  val BpePieceRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"

  /** All BPE-ish pieces of a text, in order (codegen'd, no UDF). */
  def bpePieces(text: Column): Column =
    regexp_extract_all(text, lit(BpePieceRegex), lit(0))

  def bpePieceCount(text: Column): Column = size(bpePieces(text))

  /** Interpolated bigram negative log-likelihood per document — the
    * perplexity-style quality filter one step up from the unigram
    * model (tx11): p(wᵢ|wᵢ₋₁) = λ·c(wᵢ₋₁wᵢ)/c(wᵢ₋₁·) + (1−λ)·c(wᵢ)/N,
    * with the LM estimated on the scored corpus itself. A document's
    * first token (no predecessor) scores by the unigram term alone.
    *
    * Scale shape: tokens carry (doc_id, pos); the predecessor comes
    * from a lag window partitioned BY DOC (one shuffle on doc_id,
    * partition-local sort of a bounded doc — never a global sort, and
    * never the O(len²) alternative of carrying the token array through
    * the explode). Unigram vocab broadcasts (tx11's assumption);
    * the bigram table joins by shuffle on (prev, w) — at web scale
    * bigram vocab is NOT broadcastable.
    *
    * Output: (doc_id, n_tokens, bigram_nll rounded to 4 dp).
    */
  def bigramNll(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, lambda: Double = 0.7): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
    val seq2 = toks.withColumn("prev",
      lag(col("w"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val total = toks.agg(count(lit(1)).as("total"))
    val big = seq2.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("w")).agg(count(lit(1)).as("cb"))
    val ctx = seq2.filter(col("prev").isNotNull)
      .groupBy(col("prev")).agg(count(lit(1)).as("cctx"))
    val pUni = col("cu") / col("total")
    val p = when(col("prev").isNull, pUni)
      .otherwise(lit(lambda) * col("cb") / col("cctx") + lit(1.0 - lambda) * pUni)
    seq2.join(broadcast(uni), "w").crossJoin(broadcast(total))
      .join(big, Seq("prev", "w"), "left")
      .join(ctx, Seq("prev"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(p)), 4).as("bigram_nll"))
  }
}
