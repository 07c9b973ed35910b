package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-document duplicated-span removal — the line-level dedup stage
  * of web-corpus curation (CCNet's "dedup paragraphs by hash across
  * shards"; the reference corpus has no newline structure, so the unit
  * here is a fixed window of `window` whitespace tokens). A span whose
  * fingerprint occurs in more than one distinct document is boilerplate
  * (headers, navigation, license blocks) and is dropped from EVERY
  * document; the survivors are reassembled in original order.
  *
  * Scale shape (100 TB): one explode (narrow), one groupBy on the
  * 8-byte fingerprint (shuffle linear in corpus token count / window),
  * one join back on the fingerprint, one per-doc reassembly groupBy.
  * No pairwise comparison anywhere — cost is O(tokens), not O(docs²).
  * The duplicated-fingerprint set is usually tiny relative to the span
  * universe, so AQE turns the back-join's build side into a broadcast
  * at runtime; the explicit shape keeps correctness independent of
  * that choice.
  */
object SpanDedup {

  /** One row per `window`-token span: (doc_id, span_idx, span_text,
    * span_fp). Non-overlapping tiling — the dedup unit, not a search
    * index (for overlap-sensitive detection see `passageOverlap`).
    * span_fp is a 48-bit md5-derived long, not the 32-char hex digest:
    * it exists only to be grouped and joined on, and an 8-byte shuffle
    * key carries 4× less than the hex string at corpus scale. The
    * ~|spans|²/2^49 collision odds are the standard fingerprint-dedup
    * trade (same budget as [[graft.dedup.Dedup.hashedShingleRows]]).
    */
  def spans(docs: DataFrame, window: Int): DataFrame =
    docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks), $window)")).as("st"))
      .select(col("doc_id"),
        expr(s"CAST((st - 1) DIV $window AS INT)").as("span_idx"),
        expr(s"concat_ws(' ', slice(toks, st, $window))").as("span_text"))
      .withColumn("span_fp", graft.dedup.Dedup.md5Hash48(col("span_text")))

  /** Per-document NOVELTY: the fraction of a doc's spans whose first
    * corpus occurrence (min doc_id per span fingerprint) is this doc —
    * the contribution score that ranks duplicate-heavy documents low
    * when ingesting corpora in id order. Within-doc repetition still
    * counts as novel here (it is measured separately by the
    * repetition filter); only cross-document copying lowers the score.
    *
    * Scale shape: one groupBy on the 8-byte fingerprint for the
    * first-owner table, one join back, one per-doc aggregate — all
    * hash shuffles, nothing pairwise.
    */
  def spanNovelty(docs: DataFrame, window: Int): DataFrame = {
    val sp = spans(docs, window)
    val firstOwner = sp.groupBy(col("span_fp")).agg(min(col("doc_id")).as("first_doc"))
    sp.join(firstOwner, Seq("span_fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel") / col("n_spans"), 4))
  }

  /** Fingerprints occurring in >1 distinct document. */
  def duplicatedSpanFps(spans: DataFrame): DataFrame =
    spans.groupBy(col("span_fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select(col("span_fp"))

  /** Per-document dedup summary: total spans, spans kept after
    * removing cross-document duplicates, and the md5 fingerprint of
    * the reassembled (order-preserving) cleaned text. A document whose
    * every span was boilerplate keeps fingerprint md5("") — the
    * caller's curation filter drops those.
    */
  def dedupSpans(docs: DataFrame, window: Int): DataFrame = {
    val sp = spans(docs, window)
    val kept = sp.join(duplicatedSpanFps(sp), Seq("span_fp"), "left_anti")
    // array_sort on struct(span_idx, _) orders by the leading int
    // field, making the collect_list order-insensitive (collect_list
    // alone is partition-order-dependent).
    val reassembled = kept.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_kept"),
        md5(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(span_idx, span_text))), x -> x.span_text)")))
          .as("cleaned_fp"))
    sp.groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n_spans"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("cleaned_fp"), md5(lit(""))).as("cleaned_fp"))
  }

  /** Winnowed duplicated-passage profile (Schleimer, Wilkerson &
    * Aiken 2003 — the MOSS fingerprinting scheme; the shuffle-engine
    * stand-in for Lee et al.'s suffix-array substring dedup). Every
    * position yields a k-token-gram md5; each window of `w`
    * consecutive grams selects its MINIMUM hash. Selection depends
    * only on content, never on position, so it is alignment-free:
    * any passage of ≥ w + k − 1 tokens shared between two documents
    * contains a full gram window in both, whose minimum is the same
    * hash — a guaranteed common fingerprint at ANY relative offset.
    * (A naive strided-window scheme only matches passages aligned
    * modulo the stride — the trap this construction exists to avoid.)
    * Equal md5 ⟹ equal gram for selection purposes, so the hash
    * itself is the tie-break-free selection key.
    *
    * Output per document: selected-fingerprint count, fingerprints
    * shared with ANY other document, and the shared fraction — the
    * score a curation pipeline thresholds on.
    *
    * Scale shape: one explode to the gram stream (linear), one
    * running-min window per doc (partition-local sort on doc_id, no
    * cross-doc traffic), distinct + groupBy on 8-byte long fingerprints
    * (min-selection runs over 48-bit md5-derived longs — cheaper to
    * sort and 4× narrower to shuffle than hex digests, and equally
    * content-determined, so the winnowing guarantee is unchanged).
    * Selected density ≈ 2/(w+1) of gram count, so the cross-doc
    * shuffle carries ~25% of the token stream at w=8.
    */
  def passageOverlap(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val selected = winnowedFingerprints(docs, k, w)
    val shared = selected.groupBy(col("win_fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select(col("win_fp"))
    val flagged = selected.join(shared, Seq("win_fp"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n_shared"))
    selected.groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n_fps"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_fps"),
        coalesce(col("n_shared"), lit(0)).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_fps").cast("double"), 4))
  }

  /** Benchmark decontamination by SPAN EXCISION: instead of dropping a
    * whole document that shares an n-gram with the benchmark (tx08's
    * policy), cut out only the `window`-token spans the contaminated
    * n-gram touches and keep the rest — the surgical variant that
    * preserves data at 100 TB where doc-level dropping is wasteful.
    *
    * Detection is EXACT at span boundaries: benchmark n-grams are
    * matched at every token position of the document (not within the
    * span tiling), and a hit at position p (1-based) marks every span
    * overlapping tokens [p, p+n−1] — so an n-gram straddling two spans
    * excises both.
    *
    * Output per document: total spans, spans kept, and the fingerprint
    * of the order-preserving reassembly (same contract as
    * [[dedupSpans]]; a fully-contaminated doc keeps md5("")).
    *
    * Scale shape: the benchmark shingle set reduces to DISTINCT 48-bit
    * longs and broadcasts; the corpus side is one explode (narrow) +
    * a scan-side hash probe; only (doc_id, span_idx) hit pairs — a
    * tiny set — shuffle into the anti-join.
    */
  def decontaminateSpans(corpus: DataFrame, bench: DataFrame, window: Int,
      n: Int = 5): DataFrame = {
    import graft.dedup.Dedup
    // n-gram streams via exploded POSITIONS + a per-row slice, never
    // explode(transform(...)): the transform shape materializes the
    // whole per-doc gram array as one value, which is ~2.5× slower and
    // hits the task heap wall ~3× earlier on a giant document
    // (the retired GramShapeAB probe, SCALE.md "Round-12, session 4")
    val bsh = bench
      .select(TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("toks"),
        explode(expr(s"sequence(1, size(toks) - ${n - 1})")).as("i"))
      .select(Dedup.md5Hash48(
        expr(s"concat_ws(' ', slice(toks, i, $n))")).as("h"))
      .distinct()
    val hits = corpus
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks) - ${n - 1})")).as("p"))
      .select(col("doc_id"), col("p"), Dedup.md5Hash48(
        expr(s"concat_ws(' ', slice(toks, p, $n))")).as("h"))
      .join(broadcast(bsh), Seq("h"), "left_semi")
      // the n-gram at p covers tokens [p, p+n-1]; excise every span it
      // overlaps (span_idx is 0-based over window-token tiles)
      .select(col("doc_id"), explode(expr(
        s"sequence(CAST((p - 1) DIV $window AS INT), CAST((p + ${n - 2}) DIV $window AS INT))"))
        .as("span_idx"))
      .distinct()
    val sp = spans(corpus, window)
    val kept = sp.join(hits, Seq("doc_id", "span_idx"), "left_anti")
    val reassembled = kept.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_kept"),
        md5(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(span_idx, span_text))), x -> x.span_text)")))
          .as("cleaned_fp"))
    sp.groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n_spans"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("cleaned_fp"), md5(lit(""))).as("cleaned_fp"))
  }

  /** The winnowed fingerprint stream itself: DISTINCT (doc_id, win_fp)
    * where win_fp is the minimum k-gram md5 of some full w-window —
    * the selection [[passageOverlap]] and passage-level clustering
    * build on. Full windows only: partial suffix windows are covered
    * by earlier starts.
    */
  def winnowedFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val grams = docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks) - ${k - 1})")).as("pos"))
      .select(col("doc_id"), col("pos"),
        graft.dedup.Dedup.md5Hash48(
          expr(s"concat_ws(' ', slice(toks, pos, $k))")).as("gfp"))
    val fr = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    grams
      .withColumn("n_in", count(lit(1)).over(fr))
      .withColumn("win_fp", min(col("gfp")).over(fr))
      .filter(col("n_in") === w)
      .select(col("doc_id"), col("win_fp"))
      .distinct()
  }
}
