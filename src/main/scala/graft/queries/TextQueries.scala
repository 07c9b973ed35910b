package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.{SpanDedup, TextStats}
import graft.text.TextStats._

/** Text analysis and training-data curation over the documents table.
  * The token statistics (tx01–tx07) are single shuffle-free
  * projections (plus one grouped agg for tx04), so the plan is a
  * parquet scan → codegen'd map at any scale. The curation operators a
  * training-data pipeline needs follow: TF-IDF, benchmark
  * contamination and decontamination, PII redaction, repetition and
  * perplexity-proxy filters, span-level dedup, BPE training and
  * application, sequence packing and chunking, domain mixing, token
  * budgets, and the end-to-end pipelines (mx05, mx09) with their
  * funnel telemetry and output-shard manifests (mx10, mx11).
  *
  * Scale posture: every query shuffles at most on a bounded key
  * (doc_id, source, term) — no driver-side loops, no collects.
  */
object TextQueries {

  /** Token / character statistics per document. Tokenized ONCE via a
    * staged attribute (r19 optimization round — see TextStats'
    * FromTokens note): the text-input forms re-ran the interpreted
    * split/filter once per stat.
    */
  private def tx01TokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("__tk", tokens(col("text")))
      .select(col("doc_id"),
        size(col("__tk")).as("n_tokens"),
        size(array_distinct(col("__tk"))).as("n_distinct_tokens"),
        length(col("text")).as("len_chars"),
        round(meanTokenLengthFromTokens(col("__tk")), 4).as("mean_token_len"))
      .orderBy(col("doc_id"))

  private val tx01Sql =
    raw"""SELECT doc_id,
      |  CAST(len(${TextStats.tokensSql("text")}) AS INTEGER) AS n_tokens,
      |  CAST(len(list_distinct(${TextStats.tokensSql("text")})) AS INTEGER) AS n_distinct_tokens,
      |  CAST(length(text) AS INTEGER) AS len_chars,
      |  round(list_sum(list_transform(${TextStats.tokensSql("text")}, t -> length(t)))
      |        / len(${TextStats.tokensSql("text")}), 4) AS mean_token_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Quality scoring: diversity, stopword ratio, punctuation ratio,
    * composite score.
    */
  private def tx02Quality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("__tk", tokens(col("text"))) // one split for 3 of 4 stats
      .select(col("doc_id"),
        round(typeTokenRatioFromTokens(col("__tk")), 4).as("ttr"),
        round(stopwordRatioFromTokens(col("__tk")), 4).as("stop_ratio"),
        round(punctRatio(col("text")), 4).as("punct_ratio"),
        round(qualityScoreFromTokens(col("__tk")), 4).as("quality"))
      .orderBy(col("doc_id"))

  // DuckDB mirror of TextStats.qualityScore: 0.4*min(n/50,1) +
  // 0.4*ttr + 0.2*min(5*stop_ratio,1). Degenerate-doc contract: the
  // ratios are NULL for token-less text (DuckDB's 0/0 is NULL, and the
  // Spark side divides by nullif(n, 0)); quality alone is a defined
  // 0.0 there, mirroring TextStats.qualityScore's curation-gate guard.
  private val tx02Sql =
    raw"""WITH t AS (
      |  SELECT doc_id, text, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents
      |), m AS (
      |  SELECT doc_id, text,
      |    len(toks) AS n,
      |    len(list_distinct(toks)) AS nd,
      |    ${OracleSql.stopHits("toks")} AS nstop
      |  FROM t
      |)
      |SELECT doc_id,
      |  round(nd / CAST(n AS DOUBLE), 4) AS ttr,
      |  round(nstop / CAST(n AS DOUBLE), 4) AS stop_ratio,
      |  round(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
      |  CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE) ELSE
      |    round(${OracleSql.quality("n", "nd", "nstop")}, 4)
      |  END AS quality
      |FROM m
      |ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: argmax marker-word hit count, first-listed
    * language wins ties, 'und' when no marker hits.
    */
  private def tx03LangId(s: SparkSession, dir: String): DataFrame =
    withLangId(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("lang"), col("lang_pred"))
      .orderBy(col("doc_id"))

  private val tx03Sql =
    raw"""WITH t AS (
      |  SELECT doc_id, lang, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents
      |), sc AS (
      |  SELECT doc_id, lang,
      |    ${OracleSql.langHits("toks")}
      |  FROM t
      |)
      |SELECT doc_id, lang,
      |  ${OracleSql.LangPred} AS lang_pred
      |FROM sc
      |ORDER BY doc_id""".stripMargin

  /** Corpus token frequency: explode tokens, count, top-50 — the
    * vocabulary profile a data pipeline builds before filtering.
    */
  private def tx04TokenFreq(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(50)

  private val tx04Sql =
    raw"""SELECT token, count(*) AS freq FROM (
      |  SELECT unnest(${TextStats.tokensSql("text")}) AS token
      |  FROM documents
      |)
      |GROUP BY token
      |ORDER BY freq DESC, token
      |LIMIT 50""".stripMargin

  /** Content fingerprint (md5 of normalized text) — the exact-dedup key. */
  private def tx05Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  private val tx05Sql =
    raw"""SELECT doc_id,
      |  ${OracleSql.fingerprint("text")} AS fp
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** BPE-ish piece counts (whitespace-independent token-budget
    * estimate): alphabetic runs / digit runs / single marks.
    */
  private def tx06BpePieces(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        bpePieceCount(col("text")).as("n_pieces"),
        // asciiLower, not lower(): full-unicode lowercasing diverges
        // between engines (İ, final sigma) — see TextStats.asciiLower
        size(array_distinct(bpePieces(asciiLower(col("text"))))).as("n_distinct_pieces"))
      .orderBy(col("doc_id"))

  private val tx06Sql =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]')) AS INTEGER) AS n_pieces,
      |  CAST(len(list_distinct(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]'))) AS INTEGER) AS n_distinct_pieces
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** End-to-end training-data curation: keep documents that (a) are the
    * canonical copy of their exact-dup group, (b) classify as English
    * by the marker heuristic, (c) score ≥ 0.6 composite quality. The
    * flagship composition of the text/dedup operators — three narrow
    * projections + one fingerprint shuffle at any scale.
    */
  private def tx07Curate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dups = graft.dedup.Dedup.exactGroups(docs, "doc_id", "text")
      .select(col("doc_id"), col("is_dup"))
    // one tokenization pass feeds BOTH the language-ID scores and the
    // quality score (r19 optimization round — the FromTokens staging)
    withLangId(docs.withColumn("__tk", tokens(col("text"))), "text",
        tokensCol = Some("__tk"))
      .select(col("doc_id"), col("lang_pred"),
        round(qualityScoreFromTokens(col("__tk")), 4).as("quality"))
      .join(dups, "doc_id")
      .filter(col("is_dup") === 0 && col("lang_pred") === "en" && col("quality") >= 0.6)
      .select(col("doc_id"), col("quality"))
      .orderBy(col("doc_id"))
  }

  private val tx07Sql =
    raw"""WITH t AS (
      |  SELECT doc_id, text, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents
      |), m AS (
      |  SELECT doc_id, text,
      |    len(toks) AS n, len(list_distinct(toks)) AS nd,
      |    ${OracleSql.stopHits("toks")} AS nstop,
      |    ${OracleSql.langHits("toks")}
      |  FROM t
      |), scored AS (
      |  SELECT doc_id,
      |    round(${OracleSql.quality("n", "nd", "nstop")}, 4) AS quality,
      |    ${OracleSql.LangPred} AS lang_pred
      |  FROM m
      |), fp AS (
      |  SELECT doc_id, ${OracleSql.fingerprint("text")} AS fp
      |  FROM documents
      |), dup AS (
      |  SELECT doc_id, CAST(doc_id != min(doc_id) OVER (PARTITION BY fp) AS INTEGER) AS is_dup
      |  FROM fp
      |)
      |SELECT s.doc_id, s.quality
      |FROM scored s JOIN dup d ON s.doc_id = d.doc_id
      |WHERE d.is_dup = 0 AND s.lang_pred = 'en' AND s.quality >= 0.6
      |ORDER BY s.doc_id""".stripMargin

  /** TF-IDF top-3 terms per document (corpus-relative salience — the
    * classic retrieval/quality feature). tf and df are two aggregates
    * over the exploded token stream; N comes in by broadcast, so the
    * only wide exchanges are on (doc_id, term) and term. Ranking runs
    * on the rounded score with a lexicographic tiebreak so the result
    * is engine-independent.
    */
  private def q65Tfidf(s: SparkSession, dir: String): DataFrame = {
    // materialized (r19 optimization round): `toks` feeds terms (read
    // by two different aggs — tf and dfreq, no shared exchange) plus
    // the n_docs count, so the unstaged form ran the interpreted
    // tokenize pass three times over the corpus
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint()
    val terms = toks.select(col("doc_id"), size(col("toks")).as("doc_len"),
      explode(col("toks")).as("term"))
    val tf = terms.groupBy("doc_id", "doc_len", "term").agg(count(lit(1)).as("cnt"))
    val dfreq = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = toks.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .filter(col("doc_id") < 50)
      .withColumn("tfidf",
        round((col("cnt") / col("doc_len")) * log(col("n_docs") / col("df")), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val q65Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |terms AS (SELECT doc_id, len(toks) AS doc_len, unnest(toks) AS term
      |          FROM toks WHERE len(toks) > 0),
      |tf AS (SELECT doc_id, doc_len, term, count(*) AS cnt FROM terms GROUP BY 1, 2, 3),
      |dfreq AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM toks WHERE len(toks) > 0),
      |scored AS (
      |  SELECT doc_id, term, round((cnt / doc_len) * ln(n_docs / df), 6) AS tfidf
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
      |  WHERE doc_id < 50),
      |ranked AS (
      |  SELECT doc_id, term, tfidf,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rk
      |  FROM scored)
      |SELECT doc_id, rk, term, tfidf FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** Benchmark-contamination check — the eval-hygiene step of an LLM
    * data pipeline: fraction of each corpus doc's word 5-gram shingles
    * that appear in a held-out "benchmark" set (here docs 0-24). The
    * benchmark shingle set is distinct-reduced and broadcast, so the
    * corpus side never shuffles on shingles — a scan-side hash probe
    * even at 100 TB.
    */
  private def tx08Contamination(s: SparkSession, dir: String): DataFrame = {
    // Shingles hash to 48-bit longs before the distinct: the only
    // shuffle in the query carries 8-byte keys, not 5-gram strings.
    val sh = TextStats.wordGrams(Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.tokens(col("text")).as("toks")), 5, Seq("doc_id"))
      .select(col("doc_id"), graft.dedup.Dedup.md5Hash48(col("gram")).as("sh5"))
      .distinct()
      // materialized (r19 optimization round): the bench side and the
      // probe side are DIFFERENT filters over this frame, so exchange
      // reuse cannot dedup them — unstaged, the tokenize+shingle pass
      // ran twice (two full corpus scans at any scale)
      .localCheckpoint()
    val bench = sh.filter(col("doc_id") < 25).select(col("sh5")).distinct()
      .withColumn("hit", lit(1))
    sh.filter(col("doc_id") >= 25)
      .join(broadcast(bench), Seq("sh5"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).as("n_matched"))
      .filter(col("n_matched") > 0)
      .withColumn("contamination", round(col("n_matched") / col("n_shingles"), 4))
      .select(col("doc_id"), col("n_shingles"), col("n_matched"), col("contamination"))
      .orderBy(col("doc_id"))
  }

  private val tx08Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(sh5s), 1, 12))::BIGINT AS sh5
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))) AS sh5s
      |        FROM toks WHERE len(toks) >= 5)),
      |bench AS (SELECT DISTINCT sh5 FROM sh WHERE doc_id < 25),
      |corpus AS (SELECT doc_id, sh5 FROM sh WHERE doc_id >= 25)
      |SELECT doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN b.sh5 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |  round(CAST(sum(CASE WHEN b.sh5 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    / CAST(count(*) AS DOUBLE), 4) AS contamination
      |FROM corpus c LEFT JOIN bench b USING (sh5)
      |GROUP BY doc_id
      |HAVING sum(CASE WHEN b.sh5 IS NOT NULL THEN 1 ELSE 0 END) > 0
      |ORDER BY doc_id""".stripMargin

  /** PII patterns (tx09) apply per whitespace token, and only to
    * tokens of at most this many characters. Two bounds in one, both
    * SEMANTIC and mirrored verbatim in the oracle: (1) the PII
    * regexes' character classes exclude whitespace, so a match can
    * never span tokens — per-token scanning finds the identical match
    * set; (2) Java's backtracking regex engine is O(len²) on
    * class-run text that feeds `local+@domain+\.tld` without
    * completing it (RegexBlast probe: the full-text formulation costs
    * 10.6/36/145 s at 25k/50k/100k chars of `a@bbb…` — a 10 MB blob
    * token would pin one task for ~2 weeks), so unbounded tokens must
    * not reach the engine. An RFC-total email is ≤ 254 chars; 320
    * leaves margin, and a longer run is a blob (base64, minified JS),
    * not a redactable contact artifact. The cap is a contract: PII
    * embedded INSIDE a >320-char blob token is left unredacted, on
    * both engines, by design.
    */
  val MaxPiiTokenChars = 320

  /** PII redaction: email/phone patterns replaced with placeholder
    * tags, with per-doc match counts. The testdata corpus carries no
    * real PII, so deterministic synthetic contact strings are woven in
    * (identically on both engines) to exercise the patterns; the
    * redaction itself is a pure codegen'd projection — no shuffle at
    * any scale. The fingerprint column proves the redacted text
    * matches byte-for-byte across engines.
    *
    * The patterns apply PER WHITESPACE TOKEN, gated at
    * `MaxPiiTokenChars`, never to the full text: the classes
    * exclude whitespace so the match set is identical, and the
    * full-text formulation is O(len²) in Java's backtracking engine
    * on adversarial class runs (`a@bbb…` — RegexBlast probe, SCALE.md
    * r12 session 4; 145 s for ONE 100 KB doc). The fingerprint is over
    * the single-space rejoin of the redacted token stream — mirrored
    * in the oracle, like every whitespace contract in the text family.
    */
  private def tx09PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+1-555-[0-9]{4}"
    val cap = MaxPiiTokenChars
    val aug = concat(
      lit("contact user"), col("doc_id").cast("string"), lit("@example.com tel +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" "),
      when(col("doc_id") % 3 === 0, lit("cc admin@test.org ")).otherwise(lit("")),
      col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        TextStats.countMatchesTokenGated(col("aug"), emailRe, cap).as("n_email"),
        TextStats.countMatchesTokenGated(col("aug"), phoneRe, cap).as("n_phone"),
        md5(TextStats.replaceTokenGated(col("aug"),
          Seq(emailRe -> "<EMAIL>", phoneRe -> "<PHONE>"), cap)).as("red_fp"))
      .orderBy(col("doc_id"))
  }

  private val tx09Sql = {
    val cap = MaxPiiTokenChars
    s"""WITH aug AS (
      |  SELECT doc_id,
      |    'contact user' || CAST(doc_id AS VARCHAR) || '@example.com tel +1-555-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' ||
      |    CASE WHEN doc_id % 3 = 0 THEN 'cc admin@test.org ' ELSE '' END || text AS aug
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id,
      |    ${TextStats.tokensSql("aug")} AS toks
      |  FROM aug)
      |SELECT doc_id,
      |  -- toks-conditional coalesce (ADVICE r12): DuckDB's list_sum
      |  -- over an EMPTY token list is NULL where the engine's
      |  -- aggregate(..., 0, ...) is 0 for non-NULL whitespace-only
      |  -- text — unreachable on this aug (always prefixed
      |  -- non-whitespace) but pinned so reuse of this gated-count/
      |  -- oracle pair on raw text cannot silently diverge. The
      |  -- coalesce must stay INSIDE a toks-NULL guard: for NULL text
      |  -- both engines contract to NULL (aggregate over a NULL array
      |  -- is NULL — the chaos shard witnesses this arm), and a bare
      |  -- coalesce would fold that NULL to 0 oracle-side only.
      |  CAST(CASE WHEN toks IS NULL THEN NULL ELSE
      |    coalesce(list_sum(list_transform(toks, t -> CASE WHEN length(t) <= $cap
      |      THEN len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
      |      ELSE 0 END)), 0) END AS INTEGER) AS n_email,
      |  CAST(CASE WHEN toks IS NULL THEN NULL ELSE
      |    coalesce(list_sum(list_transform(toks, t -> CASE WHEN length(t) <= $cap
      |      THEN len(regexp_extract_all(t, '\\+1-555-[0-9]{4}'))
      |      ELSE 0 END)), 0) END AS INTEGER) AS n_phone,
      |  md5(array_to_string(list_transform(toks, t -> CASE WHEN length(t) <= $cap
      |    THEN regexp_replace(regexp_replace(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\\+1-555-[0-9]{4}', '<PHONE>', 'g')
      |    ELSE t END), ' ')) AS red_fp
      |FROM toks
      |ORDER BY doc_id""".stripMargin
  }

  /** Gopher-style repetition score: fraction of duplicated word
    * bigrams per document (1 − distinct/total), the standard
    * boilerplate/degenerate-text filter. Explode + two-level count so
    * the heavy lifting is a (doc_id, bigram) aggregate — map-side
    * combinable, one shuffle.
    */
  private def tx10Repetition(s: SparkSession, dir: String): DataFrame =
    TextStats.wordGrams(Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.tokens(col("text")).as("toks")), 2, Seq("doc_id"))
      .select(col("doc_id"), col("gram").as("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), countDistinct(col("bg")).as("n_distinct"))
      .withColumn("dup_frac", round(lit(1) - col("n_distinct") / col("n_bigrams"), 4))
      .withColumn("is_repetitive",
        when(col("dup_frac") > 0.2, 1).otherwise(0))
      .orderBy(col("doc_id"))

  private val tx10Sql =
    raw"""WITH bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))) AS bg
      |  FROM (SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 2)
      |SELECT doc_id, count(*) AS n_bigrams, count(DISTINCT bg) AS n_distinct,
      |  round(1 - count(DISTINCT bg) / CAST(count(*) AS DOUBLE), 4) AS dup_frac,
      |  CASE WHEN round(1 - count(DISTINCT bg) / CAST(count(*) AS DOUBLE), 4) > 0.2
      |       THEN 1 ELSE 0 END AS is_repetitive
      |FROM bg GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Sequence packing (concat-and-chunk): assign docs to fixed 512-
    * token training sequences by cumulative token count, per source
    * shard. Packing is inherently sequential, so the running total is
    * a window cumsum per source — at 100 TB you pack within shards
    * (source × date) in parallel rather than globally, which is
    * exactly what the partition key expresses.
    */
  private def mx01Pack(s: SparkSession, dir: String): DataFrame = {
    // staged token attribute (r20, the FromTokens sweep's consistency
    // pass): tokenCount is a single expansion today, but staging keeps
    // the site safe if a second token consumer is ever added
    val t = Tables.documents(s, dir)
      .withColumn("__tk", TextStats.tokens(col("text")))
      .select(col("source"), col("doc_id"), size(col("__tk")).as("n_tokens"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", floor((col("cum_tokens") - col("n_tokens")) / lit(512)))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"), col("pack_id"))
      .orderBy(col("source"), col("doc_id"))
  }

  private val mx01Sql =
    raw"""WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(${TextStats.tokensSql("text")}) AS INTEGER) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM t)
      |SELECT source, doc_id, n_tokens, cum_tokens,
      |  CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS pack_id
      |FROM c
      |ORDER BY source, doc_id""".stripMargin

  /** Domain mixing: deterministic hash-downsampling of every source to
    * the size of the smallest one (uniform mix). The per-source rate
    * table is tiny and broadcast; membership is a pure function of
    * doc_id (same md5-bucket trick as q58), so the sample is stable
    * across engines, runs, and partitionings — the property a
    * reproducible training-data pipeline needs.
    */
  private def mx02Mix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
    val minN = counts.agg(min("n_total").as("min_n"))
    val rates = counts.crossJoin(broadcast(minN))
      .withColumn("th", round(lit(10000) * col("min_n") / col("n_total")).cast("long"))
    val kept = docs
      .withColumn("bucket",
        pmod(graft.dedup.Dedup.md5Hash48(col("doc_id").cast("string")), lit(10000)))
      .join(broadcast(rates.select(col("source"), col("th"))), "source")
      .filter(col("bucket") < col("th"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    counts.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_total"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  private val mx02Sql =
    """WITH counts AS (SELECT source, count(*) AS n_total FROM documents GROUP BY 1),
      |rates AS (
      |  SELECT source, n_total,
      |    CAST(round(10000 * (SELECT min(n_total) FROM counts) / n_total) AS BIGINT) AS th
      |  FROM counts),
      |kept AS (
      |  SELECT source, count(*) AS n_kept
      |  FROM documents d JOIN rates USING (source)
      |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 10000 < th
      |  GROUP BY 1)
      |SELECT source, n_total, coalesce(n_kept, 0) AS n_kept
      |FROM counts LEFT JOIN kept USING (source)
      |ORDER BY source""".stripMargin

  /** Sliding-window chunking with overlap (window 128 tokens, stride
    * 96): the retrieval/context-window preprocessing step between
    * cleaning and packing. One explode over per-doc chunk starts — a
    * narrow map, no shuffle; chunk identity is fingerprinted so the
    * oracle verifies the chunk CONTENT, not just its bounds.
    */
  private def mx03Chunk(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(1, size(toks), 96)")).as("st"))
      .select(col("doc_id"),
        expr("CAST((st - 1) DIV 96 AS INT)").as("chunk_idx"),
        col("st").cast("int").as("st"),
        expr("CAST(size(slice(toks, st, 128)) AS INT)").as("n_chunk_tokens"),
        md5(expr("concat_ws(' ', slice(toks, st, 128))")).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val mx03Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |starts AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 96)) AS st
      |  FROM toks WHERE len(toks) > 0)
      |SELECT doc_id,
      |  CAST((st - 1) // 96 AS INTEGER) AS chunk_idx,
      |  CAST(st AS INTEGER) AS st,
      |  CAST(len(toks[st:st+127]) AS INTEGER) AS n_chunk_tokens,
      |  md5(array_to_string(toks[st:st+127], ' ')) AS chunk_fp
      |FROM starts
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Quality-weighted sampling without replacement (Efraimidis–
    * Spirakis A-ES): key = −ln(u)/w with u a deterministic md5-derived
    * uniform and w = TextStats.qualityScore — the top-100 by key IS a
    * weighted sample, reproducible across engines/runs/partitionings
    * (the same property q58/mx02 give uniform sampling, extended to
    * weights). orderBy+limit plans as TakeOrderedAndProject: each
    * partition keeps its local top-100, the driver merges — no global
    * sort at any scale.
    */
  private def mx04WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextStats
    val scored = Tables.documents(s, dir)
      .withColumn("__tk", TextStats.tokens(col("text"))) // staged once (r19)
      .filter(size(col("__tk")) > 0)
      .select(col("doc_id"), TextStats.qualityScoreFromTokens(col("__tk")).as("w"),
        ((pmod(graft.dedup.Dedup.md5Hash48(col("doc_id").cast("string")),
          lit(10000)) + 1) / lit(10001.0)).as("u"))
      .withColumn("skey", -log(col("u")) / col("w"))
    scored.orderBy(col("skey"), col("doc_id")).limit(100)
      .select(col("doc_id"), round(col("w"), 4).as("weight"),
        round(col("skey"), 6).as("skey"))
  }

  private val mx04Sql =
    raw"""WITH t AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
      |    ${OracleSql.stopHits("toks")} AS nstop
      |  FROM t WHERE len(toks) > 0),
      |w AS (
      |  SELECT doc_id,
      |    ${OracleSql.quality("n", "nd", "nstop")} AS w
      |  FROM m),
      |s AS (
      |  SELECT doc_id, w,
      |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 10000 + 1) / 10001.0 AS u
      |  FROM w)
      |SELECT doc_id, round(w, 4) AS weight, round(-ln(u) / w, 6) AS skey
      |FROM s
      |ORDER BY -ln(u) / w, doc_id
      |LIMIT 100""".stripMargin

  /** Unigram NLL scoring — the perplexity-filter stand-in (CCNet-style
    * quality gating without a neural LM): score each doc by the mean
    * −ln p(token) under the corpus unigram distribution. Low scores =
    * stereotypical text, high = rare-token soup; production pipelines
    * threshold both tails. Two map-side-combined aggregates (corpus
    * counts, per-doc mean) joined through a broadcast of the (small)
    * vocabulary stats.
    */
  private def tx11UnigramNll(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), explode(col("toks")).as("t"))
    val vocab = terms.groupBy("t").agg(count(lit(1)).as("c"))
    val total = terms.agg(count(lit(1)).as("total"))
    terms.join(broadcast(vocab), "t").crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("c") / col("total"))), 4).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  private val tx11Sql =
    raw"""WITH terms AS (
      |  SELECT doc_id, unnest(toks) AS t
      |  FROM (SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |        FROM documents)
      |  WHERE len(toks) > 0),
      |vocab AS (SELECT t, count(*) AS c FROM terms GROUP BY 1),
      |total AS (SELECT count(*) AS total FROM terms)
      |SELECT doc_id, count(*) AS n_tokens,
      |  round(avg(-ln(c / CAST(total AS DOUBLE))), 4) AS avg_nll
      |FROM terms JOIN vocab USING (t) CROSS JOIN total
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** The end-to-end curation pipeline a training-data user actually
    * runs, composed from this library's operators in one plan:
    * exact-dedup (keep canonical) → quality gate (≥ 0.5) → repetition
    * gate (dup bigram frac ≤ 0.4) → benchmark-decontamination (no
    * shared 5-gram with docs 0–24) → curated corpus with per-doc
    * stats. Every stage is the same logic its standalone gate query
    * verifies (dd01/tx02/tx10/tx08); this proves they COMPOSE — one
    * DAG, shuffles only on doc_id and the broadcast benchmark set.
    */
  private def mx05CurationPipeline(s: SparkSession, dir: String): DataFrame =
    curationGates(Tables.documents(s, dir))
      .filter(gateStages.last)
      .select(col("doc_id"), col("source"), round(col("quality"), 4).as("quality"),
        col("n_tokens"))
      .orderBy(col("doc_id"))

  /** The four curation gates of the mx05 pipeline as one frame, one row
    * per document: `canon` (exact-dedup canonical, dd01), `q_ok`
    * (quality ≥ 0.5, tx02), `rep_ok` (duplicated-bigram fraction ≤ 0.4,
    * tx10) and `contam` (shares a word 5-gram with the benchmark docs
    * 0–24, tx08), beside `source`, `n_tokens`, `quality` and `eligible`
    * (doc_id ≥ 25). A doc a gate cannot score (too few tokens, NULL
    * text) fails it, and a failed gate reads false, never NULL. mx05,
    * mx06 and mx09/mx09b all read this frame, so each gate's rule is
    * written here once. Shuffles: doc_id (dedup fingerprint window,
    * per-doc repetition agg, the gate joins) and the 48-bit shingle
    * distinct; the benchmark shingle set broadcasts.
    */
  private def curationGates(docs: DataFrame): DataFrame = {
    import graft.dedup.Dedup
    val toks = docs.select(col("doc_id"), col("source"),
      TextStats.tokens(col("text")).as("toks"))
    val canon = Dedup.exactGroups(docs, "doc_id", "text")
      .filter(col("is_dup") === 0).select(col("doc_id"), lit(true).as("canon"))
    val rep = TextStats.wordGrams(toks, 2, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(((lit(1) - countDistinct(col("gram")) / count(lit(1))) <= 0.4).as("rep_ok"))
    // 48-bit hashed shingles: the distinct shuffles 8-byte longs and
    // the broadcast benchmark set is ~5× smaller than with raw strings
    val sh = TextStats.wordGrams(toks, 5, Seq("doc_id"))
      .select(col("doc_id"), Dedup.md5Hash48(col("gram")).as("s5"))
      .distinct()
    val contaminated = sh.filter(col("doc_id") >= 25)
      .join(broadcast(sh.filter(col("doc_id") < 25).select(col("s5")).distinct()), "s5")
      .select(col("doc_id")).distinct().withColumn("contam", lit(true))
    // quality and n_tokens read the staged token attribute of the one
    // base projection; quality is NULL for a token-less doc, as in the
    // oracle's `len(toks) > 0` scoring CTE, so it fails q_ok
    toks
      .select(col("doc_id"), col("source"), size(col("toks")).as("n_tokens"),
        when(size(col("toks")) > 0, TextStats.qualityScoreFromTokens(col("toks")))
          .as("quality"))
      .join(canon, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("quality"),
        (col("doc_id") >= 25).as("eligible"),
        coalesce(col("canon"), lit(false)).as("canon"),
        coalesce(col("quality") >= 0.5, lit(false)).as("q_ok"),
        coalesce(col("rep_ok"), lit(false)).as("rep_ok"),
        coalesce(col("contam"), lit(false)).as("contam"))
  }

  /** The curation funnel's cumulative gates, stages 2–6: eligible,
    * then each gate of [[curationGates]] AND-ed on in pipeline order.
    * The last one is the curated corpus.
    */
  private val gateStages: Seq[Column] =
    Seq(col("canon"), col("q_ok"), col("rep_ok"), !col("contam"))
      .scanLeft(col("eligible"))(_ && _)

  /** Stage names of the curation funnel, 1-based by stage_idx. */
  private val funnelStages: Seq[String] =
    Seq("all", "eligible", "canonical", "quality", "repetition", "decontaminated")

  /** Docs and tokens surviving each funnel stage 1–6 of a
    * [[curationGates]] frame, grouped by `by` (mx06 over the corpus,
    * mx09 per source), all from one aggregate. Output: (by...,
    * stage_idx, n_docs, n_tokens).
    */
  private def gateFunnel(gates: DataFrame, by: Column*): DataFrame = {
    val counts = (count(lit(1)).as("d1") +: sum(col("n_tokens")).as("t1") +:
      gateStages.zipWithIndex.flatMap { case (g, i) => Seq(
        sum(when(g, 1L).otherwise(0L)).as(s"d${i + 2}"),
        sum(when(g, col("n_tokens")).otherwise(0L)).as(s"t${i + 2}")) })
    val rows = (1 to 6).map(i => s"$i,d$i,t$i").mkString(", ")
    gates.groupBy(by: _*).agg(counts.head, counts.tail: _*)
      .select(by :+ expr(s"stack(6, $rows) AS (stage_idx, n_docs, n_tokens)"): _*)
  }

  private val mx05Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |fp AS (
      |  SELECT doc_id, ${OracleSql.fingerprint("text")} AS fp
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS c FROM fp)
      |  WHERE doc_id = c),
      |m AS (
      |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
      |    ${OracleSql.stopHits("toks")} AS nstop
      |  FROM toks WHERE len(toks) > 0),
      |q AS (
      |  SELECT doc_id,
      |    ${OracleSql.quality("n", "nd", "nstop")} AS quality,
      |    n FROM m),
      |bg AS (
      |  SELECT doc_id, count(*) AS nb, count(DISTINCT b) AS nd
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))) AS b
      |        FROM toks WHERE len(toks) >= 2)
      |  GROUP BY doc_id),
      |rep AS (SELECT doc_id, 1 - nd / CAST(nb AS DOUBLE) AS dup_frac FROM bg),
      |sh AS (
      |  SELECT DISTINCT doc_id, ('0x' || substr(md5(s5s), 1, 12))::BIGINT AS s5
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))) AS s5s
      |        FROM toks WHERE len(toks) >= 5)),
      |contaminated AS (
      |  SELECT DISTINCT c.doc_id
      |  FROM sh c JOIN (SELECT DISTINCT s5 FROM sh WHERE doc_id < 25) b USING (s5)
      |  WHERE c.doc_id >= 25)
      |SELECT d.doc_id, d.source, round(q.quality, 4) AS quality,
      |  CAST(q.n AS INTEGER) AS n_tokens
      |FROM documents d
      |JOIN canon USING (doc_id)
      |JOIN q USING (doc_id)
      |JOIN rep USING (doc_id)
      |WHERE d.doc_id >= 25 AND q.quality >= 0.5 AND rep.dup_frac <= 0.4
      |  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
      |ORDER BY d.doc_id""".stripMargin

  /** CCNet-style duplicated-span removal over 8-token spans: spans
    * appearing in >1 document are boilerplate and dropped everywhere;
    * cleaned text is fingerprinted so the oracle verifies CONTENT and
    * ORDER of the reassembly, not just counts.
    */
  private def tx12SpanDedup(s: SparkSession, dir: String): DataFrame =
    SpanDedup.dedupSpans(Tables.documents(s, dir), window = 8)
      .orderBy(col("doc_id"))

  private val tx12Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |spans AS (
      |  SELECT doc_id, CAST((st - 1) // 8 AS INTEGER) AS span_idx,
      |    array_to_string(toks[st:st+7], ' ') AS span_text
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 8)) AS st
      |        FROM toks WHERE len(toks) > 0)),
      |withfp AS (SELECT doc_id, span_idx, span_text,
      |    ('0x' || substr(md5(span_text), 1, 12))::BIGINT AS span_fp FROM spans),
      |dup AS (SELECT span_fp FROM withfp GROUP BY span_fp HAVING count(DISTINCT doc_id) > 1),
      |kept AS (SELECT * FROM withfp WHERE span_fp NOT IN (SELECT span_fp FROM dup)),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
      |    md5(string_agg(span_text, ' ' ORDER BY span_idx)) AS cleaned_fp
      |  FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_spans FROM withfp GROUP BY doc_id)
      |SELECT t.doc_id, t.n_spans, coalesce(a.n_kept, 0) AS n_kept,
      |  coalesce(a.cleaned_fp, md5('')) AS cleaned_fp
      |FROM tot t LEFT JOIN agg a USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Distributed BPE training, 8 merges over the corpus vocabulary.
    * The oracle is fully self-derived (no interpolated values): 8
    * unrolled CTE rounds each recomputing pair counts, taking the
    * same (count DESC, lhs, rhs) argmax, and applying the same
    * boundary-guarded replace.
    */
  private def tx13BpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.text.BpeTrainer.train(Tables.documents(s, dir), "text", numMerges = 8)
      .orderBy(col("merge_rank"))

  /** Tokenizer APPLICATION at corpus scale: learn the same 8 merges
    * tx13 gates, then tokenize every document with them — per doc, the
    * count of trainable tokens and their total BPE piece count (the
    * token-budget estimate a training pipeline prices datasets with).
    * The piece table is per distinct WORD (vocab ≪ corpus) and
    * broadcasts back onto the token stream; merges replay as 8 literal
    * codegen'd replaces.
    */
  private def tx15BpeApply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = graft.text.BpeTrainer.train(docs, "text", numMerges = 8)
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val toks = docs.select(col("doc_id"),
      explode(TextStats.tokens(col("text"))).as("word"))
    val pieces = graft.text.BpeTrainer
      .applyMerges(toks.select(col("word")).distinct(), "word", merges)
      .select(col("word"), size(col("pieces")).as("n_pieces"))
    toks.join(broadcast(pieces), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("n_pieces")).as("n_trainable"),
        coalesce(sum(col("n_pieces")), lit(0L)).as("n_pieces"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated bigram NLL (λ=0.7) over the documents corpus — the
    * next-order perplexity filter above tx11's unigram model. The lag
    * window, LM joins, and per-doc aggregate all reproduce exactly in
    * ANSI SQL.
    */
  private def tx14BigramNll(s: SparkSession, dir: String): DataFrame =
    TextStats.bigramNll(Tables.documents(s, dir), "doc_id", "text", lambda = 0.7)
      .orderBy(col("doc_id"))

  private val tx14Sql =
    raw"""WITH base AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS t
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, pos, t[pos] AS w
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos FROM base)),
      |seq AS (
      |  SELECT doc_id, pos, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM toks),
      |uni AS (SELECT w, count(*) AS cu FROM toks GROUP BY 1),
      |total AS (SELECT count(*) AS total FROM toks),
      |big AS (SELECT prev, w, count(*) AS cb FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
      |ctx AS (SELECT prev, count(*) AS cctx FROM seq WHERE prev IS NOT NULL GROUP BY 1)
      |SELECT s.doc_id, count(*) AS n_tokens,
      |  round(avg(-ln(CASE WHEN s.prev IS NULL THEN u.cu / CAST(t.total AS DOUBLE)
      |    ELSE 0.7 * b.cb / CAST(c.cctx AS DOUBLE)
      |       + 0.3 * u.cu / CAST(t.total AS DOUBLE) END)), 4) AS bigram_nll
      |FROM seq s JOIN uni u ON s.w = u.w CROSS JOIN total t
      |LEFT JOIN big b ON s.prev = b.prev AND s.w = b.w
      |LEFT JOIN ctx c ON s.prev = c.prev
      |GROUP BY s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** Span novelty over 8-token spans: the id-ordered contribution
    * score — what fraction of each doc's spans first appear there.
    */
  private def tx16SpanNovelty(s: SparkSession, dir: String): DataFrame =
    SpanDedup.spanNovelty(Tables.documents(s, dir), window = 8)
      .orderBy(col("doc_id"))

  private val tx16Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |spans AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(array_to_string(toks[st:st+7], ' ')), 1, 12))::BIGINT AS span_fp
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 8)) AS st
      |        FROM toks WHERE len(toks) > 0)),
      |firsts AS (SELECT span_fp, min(doc_id) AS first_doc FROM spans GROUP BY 1)
      |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
      |    / CAST(count(*) AS DOUBLE), 4) AS novelty
      |FROM spans s JOIN firsts f USING (span_fp)
      |GROUP BY s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** Quality percentile per doc WITHOUT a global sort: CDF via the
    * count-histogram of rounded scores (distinct values ≪ docs), a
    * running sum over that tiny table, and a join back on the score —
    * the scalable alternative to percent_rank's full-corpus window.
    * pct_le = fraction of docs with quality ≤ yours.
    */
  private def tx17QualityPercentile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // unscored docs (NULL text → NULL quality) leave the percentile
    // POPULATION, not just the output: before this filter the NULL
    // group rode the cumulative at the Spark end (nulls-first) and the
    // DuckDB end (nulls-last) of the histogram, shifting every real
    // bucket's pct_le by 1/total on exactly one engine (r12 chaos
    // parity). No-op when every doc scores.
    // staged tokenization (r19 optimization round, TextStats FromTokens
    // note) — and materialized ONCE: `q` feeds three subtrees (the
    // histogram, the total, and the final join), so the unstaged form
    // tokenized and quality-scored the corpus three times over.
    val q = docs
      .withColumn("__tk", TextStats.tokens(col("text")))
      .select(col("doc_id"),
        round(TextStats.qualityScoreFromTokens(col("__tk")), 4).as("quality"))
      .filter(col("quality").isNotNull)
      .localCheckpoint()
    val hist = q.groupBy(col("quality")).agg(count(lit(1)).as("nq"))
    val cum = hist.withColumn("cum", sum(col("nq")).over(
      Window.orderBy(col("quality")).rowsBetween(Window.unboundedPreceding, 0)))
    val total = q.agg(count(lit(1)).as("total"))
    q.join(broadcast(cum.select(col("quality"), col("cum"))), "quality")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("quality"),
        round(col("cum") / col("total"), 4).as("pct_le"))
      .orderBy(col("doc_id"))
  }

  private val tx17Sql =
    raw"""WITH t AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |q AS (
      |  -- CASE mirrors TextStats.qualityScore's token-less guard:
      |  -- a doc with no tokens scores a defined 0.0 on both engines
      |  SELECT doc_id,
      |    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE) ELSE
      |      round(${OracleSql.quality("len(toks)", "len(list_distinct(toks))", OracleSql.stopHits("toks"))}, 4)
      |    END AS quality
      |  FROM t),
      |qs AS (SELECT * FROM q WHERE quality IS NOT NULL),
      |hist AS (SELECT quality, count(*) AS nq FROM qs GROUP BY 1),
      |cum AS (
      |  SELECT quality, sum(nq) OVER (ORDER BY quality
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |total AS (SELECT count(*) AS total FROM qs)
      |SELECT qs.doc_id, qs.quality, round(c.cum / CAST(t.total AS DOUBLE), 4) AS pct_le
      |FROM qs JOIN cum c USING (quality) CROSS JOIN total t
      |ORDER BY qs.doc_id""".stripMargin

  /** Curation-funnel observability: how many docs survive each gate
    * of the mx05 pipeline (eligibility → exact-dedup canonical →
    * quality → repetition → decontamination), computed in ONE pass:
    * every gate becomes a boolean flag on a single frame, and the six
    * cumulative-conjunction counts come from one aggregate — the
    * pipeline telemetry a curation run reports without re-running a
    * filter chain per stage.
    */
  private def mx06CurationFunnel(s: SparkSession, dir: String): DataFrame =
    gateFunnel(curationGates(Tables.documents(s, dir)))
      .withColumn("stage", element_at(array(funnelStages.map(lit): _*), col("stage_idx")))
      .select(col("stage_idx"), col("stage"), col("n_docs"))
      .orderBy(col("stage_idx"))

  private val mx06Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |fp AS (
      |  SELECT doc_id, ${OracleSql.fingerprint("text")} AS fp
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS c FROM fp)
      |  WHERE doc_id = c),
      |m AS (
      |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
      |    ${OracleSql.stopHits("toks")} AS nstop
      |  FROM toks WHERE len(toks) > 0),
      |q AS (
      |  SELECT doc_id,
      |    ${OracleSql.quality("n", "nd", "nstop")} AS quality
      |  FROM m),
      |bg AS (
      |  SELECT doc_id, count(*) AS nb, count(DISTINCT b) AS nd
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))) AS b
      |        FROM toks WHERE len(toks) >= 2)
      |  GROUP BY doc_id),
      |rep AS (SELECT doc_id, 1 - nd / CAST(nb AS DOUBLE) AS dup_frac FROM bg),
      |sh AS (
      |  SELECT DISTINCT doc_id, ('0x' || substr(md5(s5s), 1, 12))::BIGINT AS s5
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))) AS s5s
      |        FROM toks WHERE len(toks) >= 5)),
      |contaminated AS (
      |  SELECT DISTINCT c.doc_id
      |  FROM sh c JOIN (SELECT DISTINCT s5 FROM sh WHERE doc_id < 25) b USING (s5)
      |  WHERE c.doc_id >= 25),
      |flags AS (
      |  SELECT d.doc_id,
      |    d.doc_id >= 25 AS eligible,
      |    (c.doc_id IS NOT NULL) AS canon,
      |    coalesce(q.quality >= 0.5, false) AS q_ok,
      |    coalesce(rep.dup_frac <= 0.4, false) AS rep_ok,
      |    (ct.doc_id IS NOT NULL) AS contam
      |  FROM documents d
      |  LEFT JOIN canon c USING (doc_id)
      |  LEFT JOIN q USING (doc_id)
      |  LEFT JOIN rep USING (doc_id)
      |  LEFT JOIN contaminated ct USING (doc_id))
      |SELECT stage_idx, stage, n_docs FROM (
      |  SELECT 1 AS stage_idx, 'all' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM flags
      |  UNION ALL SELECT 2, 'eligible',
      |    CAST(sum(CASE WHEN eligible THEN 1 ELSE 0 END) AS BIGINT) FROM flags
      |  UNION ALL SELECT 3, 'canonical',
      |    CAST(sum(CASE WHEN eligible AND canon THEN 1 ELSE 0 END) AS BIGINT) FROM flags
      |  UNION ALL SELECT 4, 'quality',
      |    CAST(sum(CASE WHEN eligible AND canon AND q_ok THEN 1 ELSE 0 END) AS BIGINT) FROM flags
      |  UNION ALL SELECT 5, 'repetition',
      |    CAST(sum(CASE WHEN eligible AND canon AND q_ok AND rep_ok THEN 1 ELSE 0 END) AS BIGINT)
      |    FROM flags
      |  UNION ALL SELECT 6, 'decontaminated',
      |    CAST(sum(CASE WHEN eligible AND canon AND q_ok AND rep_ok AND NOT contam
      |      THEN 1 ELSE 0 END) AS BIGINT) FROM flags)
      |ORDER BY stage_idx""".stripMargin

  /** Cross-source contamination matrix: for every source pair, how
    * many distinct 5-gram shingles they share and what fraction of
    * the smaller side's shingle vocabulary that is — the
    * leakage-between-subcorpora diagnostic run before treating
    * sources as independent mixture components (tx08 checks docs
    * against one benchmark; this checks every source against every
    * other).
    */
  private def tx18SourceContamination(s: SparkSession, dir: String): DataFrame = {
    // Shingles are reduced to 48-bit md5-derived longs BEFORE the
    // distinct and the self-join: the inverted-index shuffle carries
    // 8-byte keys instead of ~40-byte 5-gram strings (the Dedup
    // hashedShingleRows discipline — never shuffle shingle text).
    val inv = TextStats.wordGrams(Tables.documents(s, dir)
        .select(col("source"), TextStats.tokens(col("text")).as("toks")), 5, Seq("source"))
      .select(col("source"), graft.dedup.Dedup.md5Hash48(col("gram")).as("s5"))
      .distinct()
      // materialized (r19 optimization round): ReuseExchange dedups the
      // self-join's two identical sides but NOT the sizes agg (different
      // grouping), which re-ran the whole tokenize+shingle pass —
      // console A/B 1.48-1.60 s → 1.19-1.43 s steady at sf0.1
      .localCheckpoint()
    val sizes = inv.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    inv.toDF("source_a", "s5")
      .join(inv.toDF("source_b", "s5"), Seq("s5"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b")).agg(count(lit(1)).as("shared"))
      .join(sizes.toDF("source_a", "n_a"), "source_a")
      .join(sizes.toDF("source_b", "n_b"), "source_b")
      .select(col("source_a"), col("source_b"), col("shared"),
        round(col("shared") / least(col("n_a"), col("n_b")), 4).as("overlap"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private val tx18Sql =
    raw"""WITH inv AS (
      |  SELECT DISTINCT source, ('0x' || substr(md5(s5s), 1, 12))::BIGINT AS s5
      |  FROM (
      |    SELECT source,
      |      unnest(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))) AS s5s
      |    FROM (SELECT source, ${TextStats.tokensSql("text")} AS toks
      |          FROM documents)
      |    WHERE len(toks) >= 5)),
      |sizes AS (SELECT source, count(*) AS n_sh FROM inv GROUP BY 1),
      |shared AS (
      |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
      |  FROM inv a JOIN inv b ON a.s5 = b.s5 AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT s.source_a, s.source_b, CAST(s.shared AS BIGINT) AS shared,
      |  round(s.shared / CAST(least(na.n_sh, nb.n_sh) AS DOUBLE), 4) AS overlap
      |FROM shared s
      |JOIN sizes na ON s.source_a = na.source
      |JOIN sizes nb ON s.source_b = nb.source
      |ORDER BY s.source_a, s.source_b""".stripMargin

  /** Temperature-scaled mixture weights (the multilingual-sampling
    * formula: p_s ∝ n_s^α with α = 0.5): per source, its document
    * count, natural share, and the α-scaled sampling weight that
    * up-samples small sources. Two tiny aggregates over one per-source
    * count — the mixing table mx02 consumes, now derived in-engine
    * instead of supplied.
    */
  private def mx07TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val totals = counts.agg(sum(col("n_docs")).as("total"),
      sum(pow(col("n_docs"), 0.5)).as("pow_total"))
    counts.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"),
        round(col("n_docs") / col("total"), 4).as("natural_share"),
        round(pow(col("n_docs"), 0.5) / col("pow_total"), 4).as("alpha_weight"))
      .orderBy(col("source"))
  }

  private val mx07Sql =
    """WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      |totals AS (
      |  SELECT sum(n_docs) AS total, sum(pow(n_docs, 0.5)) AS pow_total FROM counts)
      |SELECT c.source, CAST(c.n_docs AS BIGINT) AS n_docs,
      |  round(c.n_docs / CAST(t.total AS DOUBLE), 4) AS natural_share,
      |  round(pow(c.n_docs, 0.5) / t.pow_total, 4) AS alpha_weight
      |FROM counts c CROSS JOIN totals t
      |ORDER BY c.source""".stripMargin

  /** Token-budget curation: keep the highest-quality documents until
    * half the corpus's tokens are spent — the "best data under a
    * fixed compute budget" selection every pretraining run makes.
    * NO global quality sort: the cumulative spend comes from the
    * rounded-quality histogram (bounded buckets, tx17 shape); full
    * buckets above the cut are taken wholesale, and only the single
    * boundary bucket orders its own members (doc_id asc) to spend the
    * remainder. Deterministic: integer token counts, 4-dp quality.
    */
  private def mx08TokenBudget(s: SparkSession, dir: String): DataFrame = {
    // staged tokenization + ONE materialization (r19 optimization
    // round): `docs` feeds four subtrees (total, histogram, and the
    // flagged join consumed twice), so the unstaged form tokenized the
    // corpus 4× and quality-scored it 4×6 expression copies deep
    val docs = Tables.documents(s, dir)
      .withColumn("__tk", graft.text.TextStats.tokens(col("text")))
      .select(col("doc_id"),
        round(graft.text.TextStats.qualityScoreFromTokens(col("__tk")), 4).as("quality"),
        size(col("__tk")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .localCheckpoint()
    val total = docs.agg(floor(sum(col("n_tokens")) / 2).cast("long").as("budget"))
    val hist = docs.groupBy(col("quality")).agg(sum(col("n_tokens")).as("bt"))
    // cumulative spend from the highest-quality bucket down (window
    // over the bounded histogram, not the data)
    val wq = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("bt")).over(wq))
      .withColumn("cum_above", col("cum") - col("bt"))
      .select(col("quality"), col("cum"), col("cum_above"))
    val flagged = docs.join(broadcast(cum), "quality").crossJoin(broadcast(total))
    val fullBuckets = flagged.filter(col("cum") <= col("budget"))
    // exactly one bucket straddles the budget line; its members fill
    // the remainder in doc_id order
    val wb = Window.partitionBy(col("quality")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val boundary = flagged
      .filter(col("cum") > col("budget") && col("cum_above") < col("budget"))
      .withColumn("dcum", sum(col("n_tokens")).over(wb))
      .filter(col("dcum") <= col("budget") - col("cum_above"))
    fullBuckets.select(col("doc_id"), col("quality"), col("n_tokens"))
      .union(boundary.select(col("doc_id"), col("quality"), col("n_tokens")))
      .orderBy(col("doc_id"))
  }

  private val mx08Sql =
    raw"""WITH t AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |d AS (
      |  SELECT doc_id,
      |    round(${OracleSql.quality("len(toks)", "len(list_distinct(toks))", OracleSql.stopHits("toks"))}, 4) AS quality,
      |    CAST(len(toks) AS BIGINT) AS n_tokens
      |  FROM t WHERE len(toks) > 0),
      |total AS (SELECT CAST(floor(sum(n_tokens) / 2) AS BIGINT) AS budget FROM d),
      |hist AS (SELECT quality, sum(n_tokens) AS bt FROM d GROUP BY 1),
      |cum AS (
      |  SELECT quality,
      |    sum(bt) OVER (ORDER BY quality DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(bt) OVER (ORDER BY quality DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bt AS cum_above
      |  FROM hist),
      |flagged AS (
      |  SELECT d.doc_id, d.quality, d.n_tokens, c.cum, c.cum_above, t.budget
      |  FROM d JOIN cum c USING (quality) CROSS JOIN total t),
      |full_b AS (
      |  SELECT doc_id, quality, n_tokens FROM flagged WHERE cum <= budget),
      |boundary AS (
      |  SELECT doc_id, quality, n_tokens
      |  FROM (
      |    SELECT doc_id, quality, n_tokens, budget, cum_above,
      |      sum(n_tokens) OVER (PARTITION BY quality ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcum
      |    FROM flagged WHERE cum > budget AND cum_above < budget)
      |  WHERE dcum <= budget - cum_above)
      |SELECT doc_id, quality, n_tokens FROM full_b
      |UNION ALL SELECT doc_id, quality, n_tokens FROM boundary
      |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination by span excision (tx08's surgical
    * variant): docs 0–24 are the benchmark; corpus docs ≥ 25 lose only
    * the 8-token spans a shared 5-gram touches. The reassembly
    * fingerprint proves CONTENT of the excision cross-engine, not just
    * counts — [[graft.text.SpanDedup.decontaminateSpans]].
    */
  private def tx19SpanDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    SpanDedup.decontaminateSpans(docs.filter(col("doc_id") >= 25),
        docs.filter(col("doc_id") < 25), window = 8, n = 5)
      .orderBy(col("doc_id"))
  }

  private val tx19Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |bsh AS (
      |  SELECT DISTINCT ('0x' || substr(md5(s), 1, 12))::BIGINT AS h
      |  FROM (SELECT unnest(list_transform(range(1, len(toks) - 3),
      |                i -> array_to_string(toks[i:i+4], ' '))) AS s
      |        FROM toks WHERE doc_id < 25 AND len(toks) >= 5)),
      |hits AS (
      |  SELECT DISTINCT doc_id, unnest([CAST((p - 1) // 8 AS INTEGER),
      |                                  CAST((p + 3) // 8 AS INTEGER)]) AS span_idx
      |  FROM (SELECT doc_id, p,
      |          ('0x' || substr(md5(array_to_string(toks[p:p+4], ' ')), 1, 12))::BIGINT AS h
      |        FROM (SELECT doc_id, unnest(range(1, len(toks) - 3)) AS p, toks
      |              FROM toks WHERE doc_id >= 25 AND len(toks) >= 5))
      |  WHERE h IN (SELECT h FROM bsh)),
      |spans AS (
      |  SELECT doc_id, CAST((st - 1) // 8 AS INTEGER) AS span_idx,
      |    array_to_string(toks[st:st+7], ' ') AS span_text
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 8)) AS st
      |        FROM toks WHERE doc_id >= 25 AND len(toks) > 0)),
      |kept AS (
      |  SELECT s.* FROM spans s
      |  WHERE NOT EXISTS (SELECT 1 FROM hits h
      |                    WHERE h.doc_id = s.doc_id AND h.span_idx = s.span_idx)),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_kept,
      |    md5(string_agg(span_text, ' ' ORDER BY span_idx)) AS cleaned_fp
      |  FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_spans
      |        FROM spans GROUP BY doc_id)
      |SELECT t.doc_id, t.n_spans, coalesce(a.n_kept, 0) AS n_kept,
      |  coalesce(a.cleaned_fp, md5('')) AS cleaned_fp
      |FROM tot t LEFT JOIN agg a USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Per-source diversity profile — the dataset-card statistics a
    * mixture designer reads before weighting sources: document and
    * token counts, type-token ratio, and distinct-trigram ratio
    * (self-repetition across a source lowers both). Three hash
    * aggregates, no joins wider than the source list.
    */
  private def q88SourceDiversity(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val base = toks.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(size(col("toks"))).as("n_tokens"))
    val words = toks.select(col("source"), explode(col("toks")).as("w"))
      .groupBy(col("source"))
      .agg((countDistinct(col("w")) / count(lit(1))).as("ttr_raw"))
    val tris = TextStats.wordGrams(toks, 3, Seq("source"))
      .select(col("source"), graft.dedup.Dedup.md5Hash48(col("gram")).as("t3"))
      .groupBy(col("source"))
      .agg((countDistinct(col("t3")) / count(lit(1))).as("tri_raw"))
    base.join(words, "source").join(tris, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("ttr_raw"), 4).as("ttr"),
        round(col("tri_raw"), 4).as("tri_ratio"))
      .orderBy(col("source"))
  }

  private val q88Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, source, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |nz AS (SELECT * FROM toks WHERE len(toks) > 0),
      |base AS (
      |  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |    CAST(sum(len(toks)) AS BIGINT) AS n_tokens
      |  FROM nz GROUP BY 1),
      |words AS (
      |  SELECT source, count(DISTINCT w) / CAST(count(*) AS DOUBLE) AS ttr_raw
      |  FROM (SELECT source, unnest(toks) AS w FROM nz) GROUP BY 1),
      |tris AS (
      |  SELECT source, count(DISTINCT t3) / CAST(count(*) AS DOUBLE) AS tri_raw
      |  FROM (SELECT source, ('0x' || substr(md5(t3s), 1, 12))::BIGINT AS t3
      |        FROM (SELECT source,
      |                unnest(list_transform(range(1, len(toks) - 1),
      |                  i -> array_to_string(toks[i:i+2], ' '))) AS t3s
      |              FROM nz WHERE len(toks) >= 3))
      |  GROUP BY 1)
      |SELECT b.source, b.n_docs, b.n_tokens,
      |  round(w.ttr_raw, 4) AS ttr, round(t.tri_raw, 4) AS tri_ratio
      |FROM base b JOIN words w USING (source) JOIN tris t USING (source)
      |ORDER BY b.source""".stripMargin

  // ---------------------------------------------------------------- tx20

  /** Content-defined chunking (the rsync/LBFS/gear-hash family):
    * chunk boundaries fall where md5Hash48(token) ≡ 0 (mod 8), so an
    * insertion early in a document shifts ONE chunk, not every
    * fixed-width window — which is why CDC dedupes where fixed spans
    * can't. Per-source report: chunks, distinct chunk fingerprints,
    * dup ratio, mean chunk width.
    *
    * Scale shape: the only window is per-document over token positions
    * (bounded by doc length); chunk identity is a 48-bit fingerprint
    * groupBy. Nothing global, nothing pairwise.
    */
  private def tx20CdcChunks(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        posexplode(TextStats.tokens(col("text"))).as(Seq("pos", "tok")))
    val flagged = toks.withColumn("boundary",
      when(col("pos") === 0 ||
        graft.dedup.Dedup.md5Hash48(col("tok")) % 8 === 0, 1).otherwise(0))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val chunks = flagged
      .withColumn("chunk", sum(col("boundary")).over(wd))
      .groupBy(col("doc_id"), col("source"), col("chunk"))
      .agg(count(lit(1)).as("width"),
        graft.dedup.Dedup.md5Hash48(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")))).as("fp"))
    chunks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("fp")).as("n_distinct"),
        round(lit(1.0) - countDistinct(col("fp")) / count(lit(1)).cast("double"), 4)
          .as("dup_ratio"),
        round(avg(col("width")), 2).as("avg_width"))
      .orderBy(col("source"))
  }

  private val tx20Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, source, pos - 1 AS pos, t[pos] AS tok
      |  FROM (
      |    SELECT doc_id, source, t, unnest(range(1, len(t) + 1)) AS pos
      |    FROM (
      |      SELECT doc_id, source,
      |        ${TextStats.tokensSql("text")} AS t
      |      FROM documents) d0) d1),
      |flagged AS (
      |  SELECT doc_id, source, pos, tok,
      |    CASE WHEN pos = 0
      |      OR ('0x' || substr(md5(tok), 1, 12))::BIGINT % 8 = 0
      |      THEN 1 ELSE 0 END AS boundary
      |  FROM toks),
      |chunked AS (
      |  SELECT doc_id, source, tok, pos,
      |    sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk
      |  FROM flagged),
      |chunks AS (
      |  SELECT doc_id, source, chunk, count(*) AS width,
      |    ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 12))::BIGINT AS fp
      |  FROM chunked GROUP BY 1, 2, 3)
      |SELECT source, count(*) AS n_chunks,
      |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
      |  round(1.0 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 4) AS dup_ratio,
      |  round(avg(width), 2) AS avg_width
      |FROM chunks GROUP BY 1 ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // mx09: end-to-end pretraining-data pipeline, one plan, per-source
  // funnel. Stages: 1 all → 2 eligible (doc_id ≥ 25, the synthetic
  // benchmark split used by tx08/mx05) → 3 canonical (exact-dedup
  // keep-min-id) → 4 quality (score ≥ 0.5) → 5 repetition (dup bigram
  // frac ≤ 0.4) → 6 decontaminated (no 5-gram shared with the
  // benchmark docs) → 7 mixed (per-source hash-downsample to the
  // smallest CURATED source, mx02's md5-bucket rule re-derived on the
  // curated corpus) → 8 packed (512-token sequence packing per source;
  // n_docs reports the PACK count). n_tokens tracks the surviving
  // token mass per stage. Shuffles: doc_id (dedup fp, per-doc aggs),
  // source (funnel agg, packing window); the benchmark shingle set,
  // mixing-rate table and budget scalars are broadcast. At 100 TB the
  // shape is unchanged — every stage is the same scale-safe
  // formulation its standalone gate uses. mx09 composes every curation
  // stage this library verifies standalone (dd01 exact-dedup, tx02
  // quality, tx10 repetition, tx08 decontamination, mx02 mixing, mx01
  // packing) into ONE Spark plan: the single hash-green gate that
  // proves the operators COMPOSE into the full pretraining-data
  // pipeline, with mx06-style telemetry reconciling every stage.
  // ---------------------------------------------------------------
  /** The shared pipeline frames: the per-doc gate flags and the
    * curated+mixed corpus. mx09 reports the funnel over them; mx09b
    * hash-verifies the final pack assignment doc-by-doc. */
  private def pipelineFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.dedup.Dedup
    // one flags frame; three consumers (funnel agg, mixing, packing)
    val flags = curationGates(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"), col("n_tokens").cast("long").as("n_tokens"),
        col("eligible"), col("canon"), col("q_ok"), col("rep_ok"), col("contam"))
      .localCheckpoint()
    val curated = flags.filter(gateStages.last)
      .select(col("source"), col("doc_id"), col("n_tokens"))
    // mx02's mixing rule, re-derived on the curated per-source counts:
    // keep md5-bucket < round(10000 · min_n / n_s)
    val counts = curated.groupBy(col("source")).agg(count(lit(1)).as("n_c"))
    val minN = counts.agg(min(col("n_c")).as("min_n"))
    val rates = counts.crossJoin(broadcast(minN))
      .withColumn("th", round(lit(10000) * col("min_n") / col("n_c")).cast("long"))
      .select(col("source"), col("th"))
    val mixed = curated
      .withColumn("bucket",
        pmod(Dedup.md5Hash48(col("doc_id").cast("string")), lit(10000)))
      .join(broadcast(rates), "source")
      .filter(col("bucket") < col("th"))
      .select(col("source"), col("doc_id"), col("n_tokens"))
    (flags, mixed)
  }

  private def mx09MegaPipeline(s: SparkSession, dir: String): DataFrame = {
    val (flags, mixed) = pipelineFrames(s, dir)
    val funnel16 = gateFunnel(flags, col("source"))
    val s7 = mixed.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .select(lit(7).as("stage_idx"), col("n_docs"), col("n_tokens"), col("source"))
    // mx01's packing per source over the mixed corpus; n_docs = packs
    val wp = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s8 = mixed.withColumn("cum", sum(col("n_tokens")).over(wp))
      .withColumn("pack_id", floor((col("cum") - col("n_tokens")) / lit(512)))
      .groupBy(col("source")).agg(
        countDistinct(col("pack_id")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .select(lit(8).as("stage_idx"), col("n_docs"), col("n_tokens"), col("source"))
    funnel16.select(col("stage_idx"), col("n_docs"), col("n_tokens"), col("source"))
      .union(s7).union(s8)
      .withColumn("stage", element_at(
        array((funnelStages :+ "mixed" :+ "packed").map(lit): _*), col("stage_idx")))
      .select(col("stage_idx"), col("stage"), col("source"),
        col("n_docs"), col("n_tokens"))
      .orderBy(col("stage_idx"), col("source"))
  }

  /** Shared oracle CTE chain for mx09/mx09b: document gates → curated
    * corpus → mixed corpus → pack assignment. Unreferenced CTEs in a
    * given final query are not evaluated by DuckDB. */
  private val pipelineSqlCtes =
    raw"""WITH toks AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |fp AS (
      |  SELECT doc_id, ${OracleSql.fingerprint("text")} AS fp
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS c FROM fp)
      |  WHERE doc_id = c),
      |m AS (
      |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
      |    ${OracleSql.stopHits("toks")} AS nstop
      |  FROM toks WHERE len(toks) > 0),
      |q AS (
      |  SELECT doc_id,
      |    ${OracleSql.quality("n", "nd", "nstop")} AS quality
      |  FROM m),
      |bg AS (
      |  SELECT doc_id, count(*) AS nb, count(DISTINCT b) AS ndb
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))) AS b
      |        FROM toks WHERE len(toks) >= 2)
      |  GROUP BY doc_id),
      |rep AS (SELECT doc_id, 1 - ndb / CAST(nb AS DOUBLE) AS dup_frac FROM bg),
      |sh AS (
      |  SELECT DISTINCT doc_id, ('0x' || substr(md5(s5s), 1, 12))::BIGINT AS s5
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))) AS s5s
      |        FROM toks WHERE len(toks) >= 5)),
      |contaminated AS (
      |  SELECT DISTINCT c.doc_id
      |  FROM sh c JOIN (SELECT DISTINCT s5 FROM sh WHERE doc_id < 25) b USING (s5)
      |  WHERE c.doc_id >= 25),
      |flags AS (
      |  SELECT d.doc_id, d.source, CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |    d.doc_id >= 25 AS eligible,
      |    (c.doc_id IS NOT NULL) AS canon,
      |    coalesce(q.quality >= 0.5, false) AS q_ok,
      |    coalesce(rep.dup_frac <= 0.4, false) AS rep_ok,
      |    (ct.doc_id IS NOT NULL) AS contam
      |  FROM documents d
      |  JOIN toks t USING (doc_id)
      |  LEFT JOIN canon c USING (doc_id)
      |  LEFT JOIN q USING (doc_id)
      |  LEFT JOIN rep USING (doc_id)
      |  LEFT JOIN contaminated ct USING (doc_id)),
      |f16 AS (
      |  SELECT source,
      |    count(*) AS d1, sum(n_tokens) AS t1,
      |    sum(CASE WHEN eligible THEN 1 ELSE 0 END) AS d2,
      |    sum(CASE WHEN eligible THEN n_tokens ELSE 0 END) AS t2,
      |    sum(CASE WHEN eligible AND canon THEN 1 ELSE 0 END) AS d3,
      |    sum(CASE WHEN eligible AND canon THEN n_tokens ELSE 0 END) AS t3,
      |    sum(CASE WHEN eligible AND canon AND q_ok THEN 1 ELSE 0 END) AS d4,
      |    sum(CASE WHEN eligible AND canon AND q_ok THEN n_tokens ELSE 0 END) AS t4,
      |    sum(CASE WHEN eligible AND canon AND q_ok AND rep_ok THEN 1 ELSE 0 END) AS d5,
      |    sum(CASE WHEN eligible AND canon AND q_ok AND rep_ok THEN n_tokens ELSE 0 END) AS t5,
      |    sum(CASE WHEN eligible AND canon AND q_ok AND rep_ok AND NOT contam THEN 1 ELSE 0 END) AS d6,
      |    sum(CASE WHEN eligible AND canon AND q_ok AND rep_ok AND NOT contam THEN n_tokens ELSE 0 END) AS t6
      |  FROM flags GROUP BY source),
      |curated AS (
      |  SELECT doc_id, source, n_tokens FROM flags
      |  WHERE eligible AND canon AND q_ok AND rep_ok AND NOT contam),
      |ccounts AS (SELECT source, count(*) AS n_c FROM curated GROUP BY 1),
      |rates AS (
      |  SELECT source,
      |    CAST(round(10000 * (SELECT min(n_c) FROM ccounts) / n_c) AS BIGINT) AS th
      |  FROM ccounts),
      |mixed AS (
      |  SELECT c.source, c.doc_id, c.n_tokens
      |  FROM curated c JOIN rates USING (source)
      |  WHERE ('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 12))::BIGINT % 10000 < th),
      |packs AS (
      |  SELECT source, doc_id, n_tokens,
      |    floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0) AS pack_id
      |  FROM mixed)""".stripMargin

  private val mx09Sql =
    s"""$pipelineSqlCtes,
      |funnel AS (
      |  SELECT 1 AS stage_idx, source, d1 AS n_docs, t1 AS n_tokens FROM f16
      |  UNION ALL SELECT 2, source, d2, t2 FROM f16
      |  UNION ALL SELECT 3, source, d3, t3 FROM f16
      |  UNION ALL SELECT 4, source, d4, t4 FROM f16
      |  UNION ALL SELECT 5, source, d5, t5 FROM f16
      |  UNION ALL SELECT 6, source, d6, t6 FROM f16
      |  UNION ALL SELECT 7, source, count(*), sum(n_tokens) FROM mixed GROUP BY source
      |  UNION ALL SELECT 8, source, count(DISTINCT pack_id), sum(n_tokens) FROM packs GROUP BY source)
      |SELECT CAST(stage_idx AS INTEGER) AS stage_idx,
      |  ['all', 'eligible', 'canonical', 'quality', 'repetition',
      |   'decontaminated', 'mixed', 'packed'][stage_idx] AS stage,
      |  source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens
      |FROM funnel
      |ORDER BY stage_idx, source""".stripMargin

  /** mx09's funnel verifies the pipeline in AGGREGATE; this gate
    * hash-verifies the final artifact doc-by-doc — every (source,
    * doc_id, tokens, pack) row of the curated+mixed+packed corpus.
    * Together they pin both the telemetry and the delivered data. */
  private def mx09bPackDetail(s: SparkSession, dir: String): DataFrame = {
    val (_, mixed) = pipelineFrames(s, dir)
    val wp = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mixed
      .withColumn("pack_id",
        floor((sum(col("n_tokens")).over(wp) - col("n_tokens")) / lit(512)))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("pack_id"))
      .orderBy(col("source"), col("doc_id"))
  }

  private val mx09bSql =
    s"""$pipelineSqlCtes
       |SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(pack_id AS BIGINT) AS pack_id
       |FROM packs
       |ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------------------------
  // mx10: deterministic output sharding. Quality-gated docs are laid
  // out in a content-hash order (md5-bucket b = h % 1024, then h, then
  // doc_id — hash-randomized, so shard composition is independent of
  // arrival order) and cut into token-budgeted shards: budget B =
  // ceil(total/8), shard_id = start_offset DIV B (a doc straddling a
  // boundary belongs to the shard its first token lands in, so every
  // shard holds < B + max_doc_tokens). The global offset is computed
  // scale-safely: per-bucket window cumsums (partitioned, parallel)
  // plus a bucket-offset table from the BOUNDED 1024-row bucket
  // histogram — the mx08 histogram-CDF technique applied to layout.
  // The manifest fingerprints each shard with a commutative sum of
  // per-doc 48-bit hashes: any membership change flips it, and it is
  // invariant to row order and input partitioning (spec-pinned). mx10
  // is the write-side determinism contract: the manifest is identical
  // across engines, runs, and input partitionings.
  // ---------------------------------------------------------------
  def shardManifest(docs: DataFrame): DataFrame = {
    import graft.dedup.Dedup
    val d = docs
      .withColumn("__tk", TextStats.tokens(col("text"))) // staged once (r19)
      .select(col("doc_id"),
        TextStats.qualityScoreFromTokens(col("__tk")).as("quality"),
        size(col("__tk")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0 && col("quality") >= 0.5)
      .select(col("doc_id"), col("n_tokens"),
        Dedup.md5Hash48(col("doc_id").cast("string")).as("h"))
      .withColumn("b", pmod(col("h"), lit(1024L)))
      // materialized (r19 optimization round): `d` feeds the budget
      // agg, the bucket histogram, AND the final probe — three
      // separate subtrees, each re-running the tokenize+quality pass
      // over the corpus (and mx11 instantiates this chain twice)
      .localCheckpoint()
    val budget = d.agg(expr("CAST((sum(n_tokens) + 7) DIV 8 AS BIGINT)").as("budget"))
    // bounded 1024-row histogram → per-bucket start offsets; the
    // no-partition window runs over the histogram, never the data
    val hist = d.groupBy(col("b")).agg(sum(col("n_tokens")).as("bt"))
    val wb = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = hist.withColumn("off", sum(col("bt")).over(wb) - col("bt"))
      .select(col("b"), col("off"))
    val ww = Window.partitionBy(col("b")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(broadcast(offs), "b")
      .withColumn("start_off",
        col("off") + sum(col("n_tokens")).over(ww) - col("n_tokens"))
      .crossJoin(broadcast(budget))
      .withColumn("shard_id", expr("start_off DIV budget"))
      .withColumn("fp", Dedup.md5Hash48(
        concat(col("doc_id").cast("string"), lit(":"), col("n_tokens").cast("string"))))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("fp")).as("content_fp"))
      .orderBy(col("shard_id"))
  }

  private def mx10ShardManifest(s: SparkSession, dir: String): DataFrame =
    shardManifest(Tables.documents(s, dir))

  /** The mx10 CTE chain with suffixed names and a doc predicate, so
    * mx11 can instantiate it once per delivery epoch. */
  private def shardChainSql(sfx: String, pred: String): String =
    s"""t$sfx AS (
       |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
       |  FROM documents WHERE $pred),
       |m$sfx AS (
       |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
       |    ${OracleSql.stopHits("toks")} AS nstop
       |  FROM t$sfx WHERE len(toks) > 0),
       |d$sfx AS (
       |  SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS h
       |  FROM m$sfx
       |  WHERE ${OracleSql.quality("n", "nd", "nstop")} >= 0.5),
       |tot$sfx AS (SELECT (sum(n_tokens) + 7) // 8 AS budget FROM d$sfx),
       |pos$sfx AS (
       |  SELECT doc_id, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY h % 1024, h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
       |  FROM d$sfx),
       |sh$sfx AS (
       |  SELECT start_off // budget AS shard_id, doc_id, n_tokens,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(n_tokens AS VARCHAR)), 1, 12))::BIGINT AS fp
       |  FROM pos$sfx CROSS JOIN tot$sfx),
       |man$sfx AS (
       |  SELECT CAST(shard_id AS BIGINT) AS shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens, CAST(sum(fp) AS BIGINT) AS content_fp
       |  FROM sh$sfx GROUP BY shard_id)""".stripMargin

  private val mx10Sql =
    s"""WITH ${shardChainSql("", "TRUE")}
       |SELECT shard_id, n_docs, n_tokens, content_fp FROM man
       |ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------------
  // mx11: incremental delivery. A new batch NEVER relays out shipped
  // data: epoch-0 shards are laid out from the base corpus (doc_id <
  // 400, mx10's exact rule) and stay byte-identical forever; the
  // epoch-1 batch is laid out independently by the same rule and its
  // shard ids continue from the epoch-0 maximum. The append is pure —
  // a function of (batch content, prior max id) only — so re-running
  // a delivery is idempotent and the combined manifest is still
  // deterministic. Spec pins epoch-0 immutability against standalone
  // mx10 output on the same subset.
  // ---------------------------------------------------------------
  private def mx11IncrementalShards(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // tiny (one row per shard) but referenced twice — the offset agg
    // and the epoch-0 union arm each re-ran the whole manifest chain
    val base = shardManifest(docs.filter(col("doc_id") < 400)).localCheckpoint()
    val off = base.agg((max(col("shard_id")) + 1).as("off"))
    val batch = shardManifest(docs.filter(col("doc_id") >= 400))
      .crossJoin(broadcast(off))
      .select((col("shard_id") + col("off")).as("shard_id"),
        col("n_docs"), col("n_tokens"), col("content_fp"))
    base.select(lit(0).as("epoch"), col("shard_id"), col("n_docs"),
        col("n_tokens"), col("content_fp"))
      .union(batch.select(lit(1).as("epoch"), col("shard_id"), col("n_docs"),
        col("n_tokens"), col("content_fp")))
      .orderBy(col("epoch"), col("shard_id"))
  }

  private val mx11Sql =
    s"""WITH ${shardChainSql("_a", "doc_id < 400")},
       |${shardChainSql("_b", "doc_id >= 400")}
       |SELECT epoch, shard_id, n_docs, n_tokens, content_fp FROM (
       |  SELECT 0 AS epoch, shard_id, n_docs, n_tokens, content_fp FROM man_a
       |  UNION ALL
       |  SELECT 1, shard_id + (SELECT max(shard_id) + 1 FROM man_a),
       |    n_docs, n_tokens, content_fp
       |  FROM man_b)
       |ORDER BY epoch, shard_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("tx01_token_stats", tx01TokenStats, Some(tx01Sql)),
    Q("tx02_quality", tx02Quality, Some(tx02Sql)),
    Q("tx03_lang_id", tx03LangId, Some(tx03Sql)),
    Q("tx04_token_freq", tx04TokenFreq, Some(tx04Sql)),
    Q("tx05_fingerprint", tx05Fingerprint, Some(tx05Sql)),
    Q("tx06_bpe_pieces", tx06BpePieces, Some(tx06Sql)),
    Q("tx07_curate", tx07Curate, Some(tx07Sql)),
    Q("q65_tfidf", q65Tfidf, Some(q65Sql)),
    Q("tx08_contamination", tx08Contamination, Some(tx08Sql)),
    Q("tx09_pii_redact", tx09PiiRedact, Some(tx09Sql)),
    Q("tx10_repetition", tx10Repetition, Some(tx10Sql)),
    Q("mx01_pack", mx01Pack, Some(mx01Sql)),
    Q("mx02_mix", mx02Mix, Some(mx02Sql)),
    Q("mx03_chunk", mx03Chunk, Some(mx03Sql)),
    Q("mx04_weighted_sample", mx04WeightedSample, Some(mx04Sql)),
    Q("tx11_unigram_nll", tx11UnigramNll, Some(tx11Sql)),
    Q("mx05_curation_pipeline", mx05CurationPipeline, Some(mx05Sql)),
    Q("tx12_span_dedup", tx12SpanDedup, Some(tx12Sql)),
    Q("tx13_bpe_train", tx13BpeTrain, Some(graft.text.BpeTrainer.oracleSql(8))),
    Q("tx15_bpe_apply", tx15BpeApply, Some(graft.text.BpeTrainer.applyOracleSql(8))),
    Q("tx14_bigram_nll", tx14BigramNll, Some(tx14Sql)),
    Q("tx16_span_novelty", tx16SpanNovelty, Some(tx16Sql)),
    Q("tx17_quality_percentile", tx17QualityPercentile, Some(tx17Sql)),
    Q("mx06_curation_funnel", mx06CurationFunnel, Some(mx06Sql)),
    Q("tx18_source_contamination", tx18SourceContamination, Some(tx18Sql)),
    Q("mx07_temperature_mix", mx07TemperatureMix, Some(mx07Sql)),
    Q("mx08_token_budget", mx08TokenBudget, Some(mx08Sql)),
    Q("tx19_span_decontaminate", tx19SpanDecontaminate, Some(tx19Sql)),
    Q("q88_source_diversity", q88SourceDiversity, Some(q88Sql)),
    Q("tx20_cdc_chunks", tx20CdcChunks, Some(tx20Sql)),
    Q("mx09_megapipeline", mx09MegaPipeline, Some(mx09Sql)),
    Q("mx09b_pack_detail", mx09bPackDetail, Some(mx09bSql)),
    Q("mx10_shard_manifest", mx10ShardManifest, Some(mx10Sql)),
    Q("mx11_incremental_shards", mx11IncrementalShards, Some(mx11Sql)),
  )
}
