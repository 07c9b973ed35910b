package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.text.{BpeTrainer, TextStats}

/** The empty-shard battery: every operator family fed the degenerate
  * inputs a 100 TB corpus is guaranteed to contain — empty tables,
  * empty/whitespace-only/NULL text, docs shorter than a shingle,
  * zero-magnitude embeddings, constant groups, k larger than the data.
  *
  * The point is the ANSI trap: Spark 4 defaults to ANSI mode, where a
  * data-dependent 0/0 (quality ratios of a token-less doc, cosine of a
  * zero vector, z-score inside a constant group) doesn't produce NaN —
  * it THROWS and aborts the whole job. One malformed document in one
  * shard must never kill a 1000-executor run, so each ratio divides by
  * nullif(·, 0) and `qualityScore` pins token-less text to a defined
  * 0.0 (worst quality — a `>= t` curation gate must DROP empty docs,
  * which NaN would not: Spark orders NaN above every number). These
  * tests are the regression pins for that contract.
  */
class DegenerateInputSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
  private def emptyDocs = docs()

  // ---- text stats on degenerate text ----------------------------------

  test("qualityScore: token-less text scores a defined 0.0, NULL stays NULL") {
    val got = docs((1L, ""), (2L, "   \t  "), (3L, null.asInstanceOf[String]),
        (4L, "the quick brown fox"))
      .select(col("doc_id"), TextStats.qualityScore(col("text")).as("q"))
      .orderBy(col("doc_id")).collect()
    assert(got(0).getDouble(1) === 0.0)            // empty string
    assert(got(1).getDouble(1) === 0.0)            // whitespace-only
    assert(got(2).isNullAt(1))                     // NULL propagates
    assert(got(3).getDouble(1) > 0.0)              // real text scores
  }

  test("quality gate drops empty docs; ratios are NULL not an ANSI abort") {
    val d = docs((1L, ""), (2L, "  "), (3L, "a genuinely useful document " * 10))
    val survivors = d.filter(TextStats.qualityScore(col("text")) >= 0.1)
      .select("doc_id").as[Long].collect()
    assert(survivors.toSeq === Seq(3L))
    val r = d.filter(col("doc_id") === 1)
      .select(
        TextStats.typeTokenRatio(col("text")).as("ttr"),
        TextStats.meanTokenLength(col("text")).as("mtl"),
        TextStats.stopwordRatio(col("text")).as("sr"),
        TextStats.punctRatio(col("text")).as("pr"))
      .first()
    (0 until 4).foreach(i => assert(r.isNullAt(i), s"ratio $i on empty text"))
  }

  test("fingerprint case folding is engine-portable on adversarial unicode") {
    // full-unicode lower() DIVERGES between engines: Java (Spark) maps
    // İ → i + combining dot and applies the Greek final-sigma rule,
    // DuckDB maps İ → i and Σ → σ everywhere — so an exact-dedup key
    // built on lower() silently disagrees with the oracle on real
    // multilingual text. fingerprint folds ASCII only (translate), a
    // fixed byte table with identical semantics in every engine. This
    // pins the Spark-side values the DuckDB translate reproduces.
    val got = docs((1L, "İstanbul"), (2L, "ΣΟΦΟΣ"), (3L, "MiXeD CASE"),
        (4L, "mixed case"), (5L, "STRASSE ß"))
      .select(col("doc_id"),
        TextStats.asciiLower(col("text")).as("lo"),
        TextStats.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id")).collect()
    assert(got(0).getString(1) === "İstanbul") // non-ASCII untouched
    assert(got(1).getString(1) === "ΣΟΦΟΣ")
    assert(got(2).getString(1) === "mixed case")
    assert(got(2).getString(2) === got(3).getString(2)) // ASCII case merges
    assert(got(4).getString(1) === "strasse ß")
  }

  test("tokenization whitespace class is engine-portable (vertical tab)") {
    // Java's \s includes \x0B, RE2's (DuckDB, the oracle engine) does
    // not — tokens() spells the class out so both engines read it
    // identically: \x0B is CONTENT (stays inside a token), like the
    // oracle's regexp_split_to_array('\s+') already behaves
    val vt = "\u000B" // the one char the two dialects dispute
    val got = docs((1L, s"a${vt}b cd"), (2L, "x\ty\nz"))
      .select(col("doc_id"), TextStats.tokens(col("text")).as("t"),
        TextStats.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id")).collect()
    assert(got(0).getSeq[String](1) === Seq(s"a${vt}b", "cd"))
    assert(got(1).getSeq[String](1) === Seq("x", "y", "z"))
    // fingerprint normalizes tab/newline runs but leaves \x0B alone —
    // same as the DuckDB replica's regexp_replace('\s+', ' ')
    assert(got(0).getString(2) !== got(1).getString(2))
  }

  // ---- dedup family on empty / too-short input ------------------------

  test("exactGroups: empty input → empty output; nulls group together") {
    assert(Dedup.exactGroups(emptyDocs, "doc_id", "text").isEmpty)
    // NULL text fingerprints to NULL; groupBy treats NULLs as one group
    // (SQL GROUP BY semantics), so no-text docs dedup against each other
    val got = Dedup.exactGroups(
        docs((5L, null.asInstanceOf[String]), (7L, null.asInstanceOf[String]), (9L, "x")),
        "doc_id", "text")
      .orderBy(col("doc_id")).collect()
    assert(got.map(_.getLong(1)).toSeq === Seq(5L, 5L, 9L))
    assert(got.map(_.getInt(3)).toSeq === Seq(0, 1, 0))
  }

  test("shingle pipelines: empty tables and sub-shingle docs are inert") {
    // hashedShingleRows guards sequence(1, size-n+1) with size >= n —
    // otherwise Spark's sequence() DESCENDS on a negative span and
    // slice()/element_at() on the resulting positions is an ANSI error
    val shorties = docs((1L, "only two"), (2L, ""), (3L, "one"))
    assert(Dedup.jaccardPairs(shorties, "doc_id", "text", n = 3).isEmpty)
    assert(Dedup.minHashCandidatePairs(shorties, "doc_id", "text").isEmpty)
    assert(Dedup.simHashPairs(emptyDocs, "doc_id", "text").isEmpty)
    assert(Dedup.jaccardPairs(emptyDocs, "doc_id", "text").isEmpty)
    // signatures exist only for docs with >= n tokens
    val sigs = Dedup.minHashSignatures(
      docs((1L, "a b c d"), (2L, "too short")), "doc_id", "text", n = 3, k = 4)
    assert(sigs.select("doc").as[Long].collect().toSeq === Seq(1L))
  }

  test("duplicateClusters: empty edge list converges to an empty labeling") {
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.duplicateClusters(noPairs, "doc_a", "doc_b").isEmpty)
    assert(Dedup.connectedComponentsStars(noPairs, "doc_a", "doc_b").isEmpty)
  }

  test("dedupAgainstCorpus: empty corpus keeps all; empty incoming is empty") {
    val inc = docs((1L, "alpha beta"), (2L, "gamma delta"))
    assert(Dedup.dedupAgainstCorpus(inc, emptyDocs, "doc_id", "text")
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(Dedup.dedupAgainstCorpus(emptyDocs, inc, "doc_id", "text").isEmpty)
  }

  // ---- similarity family on zero vectors / oversized k ----------------

  private def vecs(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")

  test("bruteForceTopK: zero vector is inert — never a neighbor, never fatal") {
    val corpus = vecs(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.8f, 0.2f)),
      (3L, Array(0.0f, 0.0f)), (4L, Array(0.0f, 1.0f)))
    // zero vector in the CORPUS: cosine NULL → the pair is DROPPED
    // pre-rank (r12 chaos-parity contract), never top-k
    val asCorpus = Ann.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 2).collect()
    assert(asCorpus.map(_.getLong(2)).toSet === Set(2L, 4L))
    // zero vector as the QUERY: every cosine NULL — no crash, and no
    // rows either: unscoreable pairs are dropped rather than padding a
    // top-k with junk (r12: the pre-rank isNotNull filter; before, the
    // window returned k all-NULL rows — a result that LOOKED like
    // neighbors). A caller distinguishes "no scoreable neighbor" from
    // "aborted job" by the query id's absence, not a fake row.
    val asQuery = Ann.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 3),
      "vec_id", "embedding", k = 2).collect()
    assert(asQuery.isEmpty)
    // length-mismatched pair (truncated shard): also NULL → dropped,
    // never a silent prefix-cosine neighbor (cosineWithNorms guard)
    val mixed = vecs((1L, Array(1.0f, 0.0f)), (2L, Array(0.8f, 0.2f)),
      (5L, Array(0.9f)))
    val short = Ann.bruteForceTopK(mixed, mixed.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 2).collect()
    assert(short.map(_.getLong(2)).toSet === Set(2L))
  }

  test("bruteForceTopK: a NaN-poisoned vector never takes rank 1") {
    // Spark orders NaN ABOVE every double, so without the nanvl guard
    // one NaN element (failed decode, upstream 0/0) would silently win
    // EVERY query's top-1 and pass every `>= t` similarity filter —
    // corpus-wide corruption, worse than the ANSI abort it replaces
    val corpus = vecs(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(Float.NaN, 1.0f)), (4L, Array(0.0f, 1.0f)))
    val got = Ann.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 2).orderBy(col("rank")).collect()
    assert(got.map(_.getLong(2)).toSeq === Seq(2L, 4L))
    val pairs = Dedup.cosinePairs(
        vecs((1L, Array(1.0f, 0.0f)), (2L, Array(Float.NaN, 0.0f))),
        "vec_id", "embedding", threshold = 0.5)
    assert(pairs.isEmpty) // NaN cosine fails the threshold, no crash
  }

  test("a NULL element is corruption, not a 0.0 — screened from scoring and fits") {
    // Spark's isnan(NULL) is FALSE, so before r12 a right-length
    // vector with one NULL element passed isFiniteVec and the dot
    // kernel read the slot as 0.0 — a fabricated score. Red-gate:
    // reverting the isNull arm in isFiniteVec turns this test red.
    import graft.functions.VectorExprs
    import spark.implicits._
    val withNull = Seq(
      (1L, Seq[Option[Float]](Some(1.0f), Some(0.0f))),
      (2L, Seq[Option[Float]](Some(0.9f), Some(0.1f))),
      (3L, Seq[Option[Float]](Some(1.0f), None)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val fin = withNull.select(col("vec_id"),
      VectorExprs.isFiniteVec(col("embedding")).as("ok"))
      .as[(Long, Boolean)].collect().toMap
    assert(fin(1L) && fin(2L) && !fin(3L))
    // and end-to-end: the null-element vector is never a neighbor
    val got = Ann.bruteForceTopK(withNull, withNull.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 3).collect()
    assert(got.map(_.getLong(2)).toSet === Set(2L))
  }

  test("quantizedTopK: one NaN element must not poison the global scale") {
    // r12 chaos-parity find: the 127/max|x| scale is GLOBAL — before
    // the screen, Spark's max ordered NaN above every number, the
    // scale went NaN, every quantized code went NaN, and CAST(NaN AS
    // LONG) collapsed every qdot to 0: the whole ranking silently
    // degenerated to neighbor-id order, rc=0 throughout.
    val corpus = vecs(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(Float.NaN, 1.0f)), (4L, Array(0.1f, 0.9f)))
    val got = Ann.quantizedTopK(corpus, corpus.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 2).orderBy(col("rank")).collect()
    // scale from clean rows only: |x|max = 1.0, codes are real ints,
    // vec 2 (aligned) must beat vec 4 (orthogonal-ish); the NaN row is
    // screened out entirely
    assert(got.map(_.getLong(2)).toSeq === Seq(2L, 4L))
    assert(got.forall(r => !r.isNullAt(3)))
    assert(got.head.getLong(3) > got.last.getLong(3))
  }

  test("quantizedTopK: dimHint path matches the elected path, wrong hint is loud emptiness") {
    val corpus = vecs((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (4L, Array(0.1f, 0.9f)))
    val q = corpus.filter(col("vec_id") === 1)
    val elected = Ann.quantizedTopK(corpus, q, "vec_id", "embedding", k = 2)
      .orderBy(col("rank")).collect()
    val hinted = Ann.quantizedTopK(corpus, q, "vec_id", "embedding", k = 2,
      dimHint = 2).orderBy(col("rank")).collect()
    assert(elected.map(_.toSeq).toSeq === hinted.map(_.toSeq).toSeq)
    // a hint that disagrees with the data screens every row — an
    // empty result (visible, debuggable), never junk codes
    assert(Ann.quantizedTopK(corpus, q, "vec_id", "embedding", k = 2,
      dimHint = 64).isEmpty)
  }

  test("semanticDedup: a +Inf vector must not become its cell's canonical") {
    // r12 chaos-parity find: the +Inf element made cdist −Inf, so the
    // corrupt vector out-ranked every clean member of its cell and
    // became the leader they were all compared against.
    val emb = vecs(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.01f)),
      (3L, Array(Float.PositiveInfinity, 0.0f)), (4L, Array(0.0f, 1.0f)))
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding",
      centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), threshold = 0.95)
      .collect()
    val ids = kept.map(_.getLong(0)).toSet
    // corrupt row screened (unclusterable); vec 2 deduped against the
    // CLEAN leader vec 1 (cosine ≈ 0.9999); vec 4 its own cell
    assert(ids === Set(1L, 4L))
    assert(kept.forall(_.getInt(2) === 1)) // every kept row is a leader
  }

  test("bruteForceTopK: k larger than the corpus returns what exists") {
    val corpus = vecs((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
    val got = Ann.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 50).collect()
    assert(got.length === 1) // only the one other row exists; no padding
    assert(Ann.bruteForceTopK(corpus, vecs(), "vec_id", "embedding", 3).isEmpty)
  }

  test("ivfTopKFixed: nProbe beyond the centroid count is clamped by slice") {
    val corpus = vecs((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)))
    val got = Ann.ivfTopKFixed(corpus, corpus.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 2,
      centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), nProbe = 99)
      .collect()
    assert(got.map(_.getLong(2)).toSet === Set(2L, 3L))
  }

  test("PCA/IVF fits survive a NaN-poisoned corpus row") {
    // one non-finite embedding poisons the Gram matrix into all-NaN:
    // MLlib PCA's eigensolver then throws NotConvergedException and a
    // k-means quantizer degrades to NaN centroids (found by the
    // ChaosSmoke catalog sweep) — the fits must screen to finite rows
    val rnd = new scala.util.Random(7)
    val base = (0L until 12L).map(i => (i, Array.fill(4)(rnd.nextFloat())))
    val poisoned = vecs(base :+
      (90L, Array(Float.NaN, 0.1f, 0.1f, 0.1f)) :+
      (91L, Array(0.0f, 0.0f, 0.0f, 0.0f)): _*)
    val (ev, orthRes) = graft.ml.MlPipeline.pcaGate(poisoned, "embedding", k = 2)
    assert(ev.length === 2 && ev.forall(f => !f.isNaN && f > 0.0 && f < 1.0))
    assert(orthRes < 1e-8)
    // non-finite rows are excluded from the projection output too (no
    // meaningful coordinates exist for them); the zero vector projects
    val proj = graft.ml.MlPipeline.pcaEmbed(poisoned, "vec_id", "embedding", k = 2)
    assert(proj.count() === base.size + 1)
    assert(proj.filter(col("vec_id") === 90).isEmpty)
    val ivf = Ann.ivfTopK(poisoned, poisoned.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 3, nLists = 2, nProbe = 2)
      .collect()
    assert(ivf.nonEmpty && ivf.forall(_.getLong(2) != 90L)) // NaN row never ranks
  }

  test("cosinePairs/semanticDedup: zero vectors never pair, never abort") {
    val emb = vecs((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.01f)),
      (3L, Array(0.0f, 0.0f)))
    val pairs = Dedup.cosinePairs(emb, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L))) // the zero vector joins nothing
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding",
      centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), threshold = 0.9)
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L)) // 2 deduped against 1; zero vec kept
  }

  // ---- grouped stats and trainers -------------------------------------

  test("zscoreOutliers: a constant group yields NULL z, not DIVIDE_BY_ZERO") {
    val df = Seq(("a", 5.0), ("a", 5.0), ("a", 5.0),
      ("b", 1.0), ("b", 2.0), ("b", 100.0)).toDF("g", "v")
    val flagged = graft.ops.Stats.zscoreOutliers(df, "g", "v", zMin = 1.0)
      .select("g").as[String].collect()
    assert(flagged.forall(_ == "b")) // constant group never flags
  }

  test("sessionize: empty events and NULL timestamps stay deterministic") {
    import graft.queries.EventQueries
    val empty = Seq.empty[(Long, Long, Long)].toDF("user_id", "event_id", "us")
    assert(EventQueries.sessionize(empty, gapUs = 1000L).isEmpty)
    // a NULL timestamp has no defined gap to any neighbor: each such
    // event opens its own session (is_new = 1 on a NULL lag diff) with
    // NULL span — sessions of real events are unaffected
    val e = Seq(
      (1L, 10L, Some(100L)), (1L, 11L, Some(200L)), (1L, 12L, None),
      (2L, 20L, None)).toDF("user_id", "event_id", "us")
    val got = EventQueries.sessionize(e, gapUs = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 1L, 1L), (1L, 2L, 2L), (2L, 1L, 1L)))
  }

  test("langId: NULL and token-less text classify as 'und', never crash") {
    val got = docs((1L, null.asInstanceOf[String]), (2L, ""), (3L, "   "),
        (4L, "the cat is on the mat"), (5L, "der hund und die katze ist"))
      .select(col("doc_id"), TextStats.langId(col("text")).as("lang"))
      .orderBy(col("doc_id")).as[(Long, String)].collect()
    assert(got.toSeq === Seq((1L, "und"), (2L, "und"), (3L, "und"),
      (4L, "en"), (5L, "de")))
  }

  test("multimodal features: an empty blob yields defined zeros") {
    import graft.multimodal.Multimodal
    import graft.multimodal.Multimodal.Media
    val media = Seq(
      Media(1L, "image", Array.empty[Byte], 0, 0, 0L),
      Media(2L, "image", Array[Byte](10, 20, 30), 3, 1, 0L)).toDS()
    val got = Multimodal.extractFeatures(media)
      .collect().sortBy(_.media_id)
    assert(got(0).mean_byte === 0.0 && got(0).byte_entropy === 0.0)
    assert(got(0).n_bytes === 0)
    assert(got(1).mean_byte === 20.0)
  }

  test("BPE train: empty and single-char corpora learn zero merges") {
    assert(BpeTrainer.train(emptyDocs, "text", numMerges = 3).isEmpty)
    // single-char words have no adjacent pair to merge
    assert(BpeTrainer.train(docs((1L, "a b c")), "text", numMerges = 3).isEmpty)
    val applied = BpeTrainer.applyMerges(docs((1L, "ab")).select(col("text")),
      "text", merges = Seq.empty)
    assert(applied.select("pieces").as[Seq[String]].head === Seq("a", "b"))
  }

  // ---- vector SHAPE corruption (r11 wave 2) ---------------------------
  // Parquet arrays are variable-length: a truncated, empty or NULL
  // embedding is schema-legal, and before these screens it crashed
  // MLlib PCA ("Dimensions mismatch"), raw Gram loops (IndexOutOfBounds)
  // and packed-bit rankers (ANSI INVALID_ARRAY_INDEX) instead of being
  // excluded like any other corrupt row.

  private def fvecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))

  test("isShapedVec: finiteness AND exact length, NULL/empty/short rejected") {
    val d = fvecs(
      (1L, Seq(1f, 2f, 3f, 4f)),                  // valid
      (2L, Seq(1f, 2f)),                          // truncated
      (3L, Seq.empty[Float]),                     // empty
      (4L, null.asInstanceOf[Seq[Float]]),        // NULL row
      (5L, Seq(1f, Float.NaN, 3f, 4f)),           // non-finite
      (6L, Seq(1f, 2f, 3f, Float.PositiveInfinity)))
    val kept = d.filter(graft.functions.VectorExprs.isShapedVec(col("embedding"), 4))
      .select("vec_id").as[Long].collect().toSeq
    assert(kept === Seq(1L))
  }

  test("dominantDim: modal length wins, ties to the smaller, zero-length doesn't vote") {
    val d = fvecs((1L, Seq(1f, 2f)), (2L, Seq(1f, 2f)), (3L, Seq(1f, 2f, 3f)),
      (4L, Seq.empty[Float]), (5L, null.asInstanceOf[Seq[Float]]))
    assert(graft.functions.VectorExprs.dominantDim(d, "embedding") === 2)
    // 2-way tie at count 1 → smaller dim (pure function of the data)
    val tie = fvecs((1L, Seq(1f, 2f)), (2L, Seq(1f, 2f, 3f)))
    assert(graft.functions.VectorExprs.dominantDim(tie, "embedding") === 2)
  }

  test("dominantDimWithShare: majority-corrupt election is detectable via the share") {
    // 3 of 5 truncated at the SAME length — the documented blind spot
    // (ADVICE r11): the corrupt dim wins the election. The share (0.6,
    // above MinModalShare) says the corpus is at least self-consistent.
    val majTrunc = fvecs(
      (1L, Seq(1f, 2f)), (2L, Seq(3f, 4f)), (3L, Seq(5f, 6f)),
      (4L, Seq(1f, 2f, 3f, 4f)), (5L, Seq(5f, 6f, 7f, 8f)))
    assert(graft.functions.VectorExprs.dominantDimWithShare(majTrunc, "embedding")
      === ((2, 0.6)))
    // Three-way fragmentation: no length holds MinModalShare — the
    // election still returns the deterministic (modal-count, smaller-
    // dim) answer, and the share < 0.5 is what dominantDim warns on.
    val frag = fvecs((1L, Seq(1f, 2f)), (2L, Seq(1f, 2f, 3f)), (3L, Seq(1f, 2f, 3f, 4f)))
    val (fd, fs) = graft.functions.VectorExprs.dominantDimWithShare(frag, "embedding")
    assert(fd === 2)
    assert(math.abs(fs - 1.0 / 3.0) < 1e-12)
    assert(fs < graft.functions.VectorExprs.MinModalShare)
  }

  test("dominantDim: the ambiguous-election warning actually reaches stderr") {
    // Pin the warn PATH, not just the share arithmetic: a future
    // refactor silently dropping the println would reopen the
    // majority-corrupt blind spot with every other test still green.
    def captureErr(body: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      try body finally System.setErr(old)
      buf.toString("UTF-8")
    }
    val frag = fvecs((1L, Seq(1f, 2f)), (2L, Seq(1f, 2f, 3f)), (3L, Seq(1f, 2f, 3f, 4f)))
    val warned = captureErr {
      assert(graft.functions.VectorExprs.dominantDim(frag, "embedding") === 2)
    }
    assert(warned.contains("dominantDim(embedding)") && warned.contains("33.3%"),
      s"expected an ambiguous-election warning on stderr, got: '$warned'")
    // ...and a clear majority stays silent
    val clean = fvecs((1L, Seq(1f, 2f)), (2L, Seq(3f, 4f)), (3L, Seq(1f, 2f, 3f)))
    val silent = captureErr {
      assert(graft.functions.VectorExprs.dominantDim(clean, "embedding") === 2)
    }
    assert(!silent.contains("dominantDim"), s"unexpected warning: '$silent'")
  }

  test("hammingTopK: a truncated corpus vector is screened, never an abort") {
    val corpus = fvecs(
      (1L, Seq.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)),
      (2L, Seq.tabulate(64)(i => if (i % 3 == 0) 1f else -1f)),
      (3L, Seq.tabulate(32)(_ => 1f)))           // truncated — unindexable
    val q = fvecs((9L, Seq.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)))
    val got = Ann.hammingTopK(corpus, q, "vec_id", "embedding", k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got === Set(1L, 2L))                  // 3 screened, others ranked
  }

  test("pcaEmbed: mixed-shape corpus fits on the dominant dim, corrupt rows excluded") {
    val rnd = new scala.util.Random(7)
    val good = (1L to 12L).map(i => i -> Seq.fill(8)(rnd.nextFloat()))
    val bad = Seq(90L -> Seq.fill(4)(0.1f),       // truncated
      91L -> Seq.empty[Float],                    // empty
      92L -> null.asInstanceOf[Seq[Float]])       // NULL
    val out = graft.ml.MlPipeline.pcaEmbed(fvecs((good ++ bad): _*),
      "vec_id", "embedding", k = 2)
    assert(out.select("vec_id").as[Long].collect().toSet === good.map(_._1).toSet)
  }
}
