package graft.dedup

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.text.TextStats

/** Deduplication operators for a training-data pipeline: exact
  * (fingerprint group-by), n-gram Jaccard, SimHash, MinHash+LSH, and
  * embedding-cosine near-dup. Extension scope beyond the reference
  * (SURVEY.md §7.1 step 8).
  *
  * Scale posture (every `localCheckpoint` here follows the stated
  * reliability-vs-speed posture in SCALE.md "Ground rules" — lineage
  * cuts and multi-consumer staging, with `checkpoint(reliable)` as
  * the cluster-mode escape hatch):
  *   - exact dedup is one hash shuffle on a 32-char fingerprint —
  *     linear, the canonical 100 TB dedup plan;
  *   - Jaccard pairs join on *shingle* (inverted-index join), never a
  *     cross join, so cost is Σ bucket² over shingle buckets;
  *   - MinHash/LSH reduces that to Σ bucket² over `bands` short
  *     signature buckets — the standard web-scale near-dup plan;
  *   - cluster assignment ([[duplicateClusters]]) checkpoints nothing:
  *     its propagation rounds are one co-partitioned RDD lineage cut
  *     by shuffle files, one job per round;
  *   - all hashing is md5-derived Column arithmetic (codegen'd, no
  *     UDFs) so signatures are deterministic and engine-independent.
  */
object Dedup {

  /** First 12 hex chars of md5 as a 48-bit non-negative long — a
    * deterministic, cross-engine-reproducible string hash (Spark's
    * hash()/xxhash64 seeds differ from other engines'). Implemented as
    * the native codegen'd [[graft.functions.Md5Hash48]] expression
    * (digest bytes → long, no 32-char hex intermediate); value-
    * identical to `conv(substring(md5(c), 1, 12), 16, 10)::long`,
    * which every DuckDB oracle mirrors.
    */
  def md5Hash48(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.Md5Hash48(expression(c)))
  }

  /** One row per (doc, distinct hashed shingle). Each token is
    * md5-hashed to [0, 2^31) once (a single linear pass per doc), then
    * shingle POSITIONS are exploded and each n-gram hash is combined
    * positionally with modular arithmetic in a plain codegen'd
    * projection. No shingle strings are ever built — profiling showed
    * interpreted concat_ws dominating the dedup path — and the
    * Generate (explode) boundary materializes the token-hash array, so
    * CollapseProject cannot inline the md5 pass into every element_at
    * (which is quadratic). Downstream joins/aggs run on longs.
    *
    * Hash collisions conflate shingles with probability
    * ~|shingles|²/2^32 (the standard MinHash-literature trade); the
    * formula is md5-derived so any engine reproduces it bit-for-bit —
    * the DuckDB oracle mirrors it exactly.
    */
  def hashedShingleRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val tokHash = docs
      .withColumn("__toks", TextStats.tokens(col(textCol)))
      .filter(size(col("__toks")) >= n)
      .select(col(idCol).as("doc"),
        transform(col("__toks"), t =>
          pmod(md5Hash48(t), lit(MersennePrime31))).as("th"))
    tokHash
      .select(col("doc"), col("th"),
        posexplode(sequence(lit(1), size(col("th")) - (n - 1))))
      .select(col("doc"),
        (0 until n).map(k => element_at(col("th"), col("col").cast("int") + k))
          .reduce((acc, h) => (acc * lit(ShingleMixer) + h) % lit(MersennePrime31))
          .as("s"))
      .distinct()
  }

  /** Positional mixer for hashed shingles: token hashes are < 2^31 and
    * the mixer < 2^21, so acc·C + h stays < 2^52 — no 64-bit overflow
    * in either Spark or the DuckDB oracle.
    */
  val ShingleMixer = 1048583L

  /** Exact duplicate grouping by normalized-text fingerprint: every doc
    * mapped to its group's canonical (min) id + group size. One
    * shuffle on the fingerprint; survivors = rows where
    * doc_id == canonical_id.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = docs.select(col(idCol), TextStats.fingerprint(col(textCol)).as("fp"))
    // ONE fp-partitioned window pass (r20; guide §2.4): the former
    // groupBy + join-back read `withFp` from two subtrees — the md5
    // fingerprint was computed twice per doc — and shuffled twice (agg
    // + join probe). A window partitioned by fp computes the identical
    // canonical/min and count per row in one exchange. The null-safety
    // the old <=> join existed for is free here: window partitioning
    // puts all NULL-fp docs (NULL text) in ONE partition, exactly like
    // groupBy did and exactly like the oracle's window-over-fp SQL —
    // the "every doc appears" contract holds with no join at all.
    // NULL-id groups: min ignores NULLs and an all-NULL group yields
    // canonical NULL → is_dup NULL, identical to the join form.
    val w = Window.partitionBy(col("fp"))
    withFp
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col(idCol), col("canonical_id"), col("group_size"),
        (col(idCol) =!= col("canonical_id")).cast("int").as("is_dup"))
  }

  /** Shared keying for the byte-identical collapse pair below: a doc is
    * `__collapsible` iff it has at least `minTokens` tokens — exactly
    * the [[hashedShingleRows]] gate, so a collapsible doc ALWAYS
    * contributes shingles and two byte-identical collapsible docs are
    * ALWAYS a jaccard-1.0 pair. Shorter/NULL docs never form pairs, so
    * collapsing them would wrongly merge rows the pairwise path passes
    * through individually — they bypass the collapse untouched. The key
    * is md5 of the RAW text, not [[graft.text.TextStats.fingerprint]]:
    * the fingerprint case/whitespace-normalizes, but shingle hashes are
    * over raw tokens, so fingerprint-equal docs are NOT necessarily
    * jaccard-1 — raw-byte equality is the strongest key whose merges
    * the pairwise path provably reproduces.
    */
  private def collapseKeyed(docs: DataFrame, textCol: String,
      minTokens: Int): DataFrame =
    docs
      .withColumn("__collapsible",
        coalesce(size(TextStats.tokens(col(textCol))) >= minTokens, lit(false)))
      .withColumn("__cfp", md5(col(textCol)))

  /** Collapse byte-identical shingle-able documents to their min-id
    * member (full row) before pairwise near-dup work; docs below the
    * shingle gate pass through untouched.
    *
    * WHY (the r12 duplicate-blast probe, SCALE.md): a real crawl is
    * boilerplate-heavy — the same page body replicated thousands to
    * millions of times — and every pairwise candidate generator does
    * Σ bucket² work, so a K-identical cluster costs O(K²) candidates
    * no matter how clever the banding (every copy lands in every
    * bucket together). Collapsing first removes the quadratic term
    * for one linear fingerprint shuffle (the dd01 plan shape).
    *
    * SEMANTICS-PRESERVING for canonical-keep pipelines (dd09/dd13/
    * dd14): byte-identical collapsible docs are a jaccard-1 pair under
    * any threshold ≤ 1, so the original clustering always puts an
    * exact group in one cluster whose canonical is the group's min id
    * (min-id rule directly; quality rule because identical text ⇒
    * identical quality ⇒ ties break to min id). Dropping non-min
    * members up front therefore drops exactly the rows the cluster
    * stage would drop — pinned by DedupSpec's equivalence battery
    * against the uncollapsed formulation on an adversarial corpus.
    */
  def collapseIdenticalTexts(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 3): DataFrame = {
    // Single scan, single hash-agg shuffle: collapsible rows key on the
    // text fingerprint, pass-through rows on their own (unique) id, so
    // one min_by aggregation keeps exactly the min-id rep per identical
    // group AND every pass-through row — no window sort, no second scan
    // for the union, and partial aggregation collapses a boilerplate
    // cluster on the MAP side, before its K copies ever hit the wire
    // (the window formulation this replaces shuffled all K).
    // EVERY pass-through row — short/NULL-text docs AND NULL-id docs —
    // keys on monotonically_increasing_id: per-row unique, so each row
    // keeps exactly itself. Keying non-collapsible rows on their id
    // (the formulation before ADVICE r12) silently merged two
    // pass-through rows that shared a duplicate non-NULL id, diverging
    // from the uncollapsed path, which keeps both; a corrupt shard
    // (the chaos-parity regime) is exactly where duplicate ids occur.
    // The key only needs per-row uniqueness, not stability, and the
    // result is checkpointed immediately, so the nondeterministic
    // column can never be re-evaluated to a different value. The key
    // is TWO grouping columns, not a string concat: a concat namespace
    // ("c"+fp vs "x"+rowid) can collide for adversarial text — two
    // columns make cross-kind collision structurally impossible.
    // The result is materialized (localCheckpoint, the jaccardPairs
    // precedent above): every caller feeds it to 2-3 subtrees (pair
    // generation + the docs side of canonical-keep), and exchange
    // reuse is not guaranteed under a nondeterministic key column, so
    // an unmaterialized plan re-runs the full tokenize+md5+agg pass
    // per subtree.
    val keyed = collapseKeyed(docs, textCol, minTokens)
    val outCols = docs.columns
    keyed
      .withColumn("__ckind",
        when(col("__collapsible") && col(idCol).isNotNull, lit("c"))
          .otherwise(lit("x")))
      .withColumn("__ckeyval",
        when(col("__ckind") === "c", col("__cfp"))
          .otherwise(monotonically_increasing_id().cast("string")))
      .groupBy(col("__ckind"), col("__ckeyval"))
      // ordering wrapped in a one-field struct: min_by IGNORES rows
      // whose ordering is NULL and returns NULL when all are — a
      // NULL-id pass-through group would yield an all-NULL phantom
      // row. A struct is never NULL even when its field is, and
      // collapsible groups carry only non-NULL ids, so the elected
      // rep is unchanged.
      .agg(min_by(struct(outCols.map(col): _*), struct(col(idCol))).as("__row"))
      .select(outCols.map(c => col(s"__row.$c").as(c)): _*)
      .localCheckpoint()
  }

  /** Incremental exact dedup: drop incoming docs whose normalized-text
    * fingerprint already exists in the corpus (anti-join on the
    * fingerprint), and dedup the survivors among themselves (keep the
    * min-id doc per fingerprint). The shape every continuously-fed
    * training pipeline needs: the corpus side reduces to a distinct
    * fingerprint set, so at 100 TB it is one shuffle of 32-char keys —
    * or zero shuffles when both sides are bucketed by fingerprint
    * (ops.Scale.writeBucketed).
    */
  def dedupAgainstCorpus(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val incFp = incoming.select(col(idCol), TextStats.fingerprint(col(textCol)).as("fp"))
    val corpusFps = corpus.select(TextStats.fingerprint(col(textCol)).as("fp")).distinct()
    val fresh = incFp.join(corpusFps, Seq("fp"), "left_anti")
    val canonical = fresh.groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    canonical.select(col(idCol))
  }

  /** Exact n-gram Jaccard near-dup pairs via inverted-index join:
    * explode distinct shingles, self-join on shingle, count common,
    * jaccard = common / (|A| + |B| − common). Pairs are (a < b).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame =
    // The inverted index feeds three subtrees (both self-join sides and
    // the per-doc size agg); only the self-join's exchange is reused
    // automatically, so materialize once — profiled ~25% off dd02 and
    // every caller that layers clustering on top (dd08/dd09).
    jaccardPairsFromShingles(
      hashedShingleRows(docs, idCol, textCol, n).localCheckpoint(), threshold)

  /** [[jaccardPairs]] from an ALREADY-materialized (doc, s) hashed-
    * shingle frame — the staging entry for callers that need the
    * inverted index for MORE than the pair join (r20: dd15 computed
    * the full tokenize+md5+shingle pass twice, once here and once for
    * its LSH candidate side; sharing one checkpointed index removes a
    * full corpus scan at any scale). Definitionally the jaccardPairs
    * body, so value-identical.
    */
  private[graft] def jaccardPairsFromShingles(inv: DataFrame,
      threshold: Double): DataFrame = {
    val common = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    jaccardChecked(common, "doc_a", "doc_b", inv, inv, threshold)
  }

  /** The exact-Jaccard check, the Spark mirror of `OracleSql.jaccard`/
    * `jaccardVerified`. `common` holds doc pairs in columns `a` and `b`
    * with their shared-shingle count `common`; each side joins its doc's
    * shingle count from its (doc, s) inverted index (`invA`, `invB`),
    * and a pair is kept iff common / (n_a + n_b − common) ≥ threshold.
    * Output: (a, b, jaccard).
    */
  private[graft] def jaccardChecked(common: DataFrame, a: String, b: String,
      invA: DataFrame, invB: DataFrame, threshold: Double): DataFrame = {
    def sizes(inv: DataFrame, id: String, n: String) =
      inv.groupBy(col("doc")).agg(count(lit(1)).as(n)).withColumnRenamed("doc", id)
    common
      .join(sizes(invA, a, "n_a"), a)
      .join(sizes(invB, b, "n_b"), b)
      .select(col(a), col(b),
        (col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash fingerprint (one long per doc): md5-hash each token, then
    * per bit take the sign of Σ±1 votes over token occurrences. Docs
    * whose simhashes differ in few bits are near-dups. `bits` ≤ 48.
    * One row per token through a typed vote-vector aggregator
    * (graft.functions.SimHashAggregator) — no bits× row explosion,
    * map-side combinable.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 48): DataFrame =
    docs.select(col(idCol), explode(TextStats.tokens(col(textCol))).as("t"))
      .select(col(idCol), md5Hash48(col("t")).as("h"))
      .groupBy(col(idCol))
      .agg(graft.functions.SimHashAgg.simhash(col("h"), bits).as("simhash"))

  /** SimHash near-dup pairs via banded indexing (pigeonhole: a pair
    * within `maxHamming` bit flips must share at least one of
    * `bands` equal-width bands when maxHamming < bands). Join on
    * (band, band bits) — Σ bucket² work — then exact hamming filter
    * with bit_count(xor). The scale path for simhash, vs comparing
    * all O(n²) fingerprint pairs.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 48, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < bands, "pigeonhole needs maxHamming < bands")
    val width = bits / bands
    val mask = (1L << width) - 1
    val sh = simHash(docs, idCol, textCol, bits)
      .select(col(idCol).as("doc"), col("simhash"))
    val banded = sh.select(col("doc"), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("simhash"), b * width).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_bits")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_bits") === col("b.band_bits") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** MinHash signature: k permutation-hashes h_i(x) = (a_i·x + b_i)
    * mod p over the doc's shingle hashes, taking the min per i.
    * Coefficients come from a fixed seed so signatures are
    * deterministic across runs and engines.
    */
  private val MersennePrime31 = 2147483647L // 2^31 − 1

  def minHashCoeffs(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((rnd.nextInt(Int.MaxValue - 1).toLong + 1L,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signatures for all docs, computed shuffle-parallel:
    * explode shingles (one row each), md5-hash once per row (codegen'd
    * projection), then k permutation minima as k plain `min`
    * aggregates in ONE hash agg — partial aggregation makes this a
    * single map-side-combined pass at any scale, with no interpreted
    * higher-order expressions in the hot path. Output: doc,
    * mh_0..mh_{k-1}.
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, seed: Long = 42L): DataFrame =
    signaturesFromShingles(hashedShingleRows(docs, idCol, textCol, n), k, seed)

  /** [[minHashSignatures]] from an ALREADY-built (doc, s) distinct
    * hashed-shingle frame — the staging entry for pipelines that need
    * the inverted index anyway ([[minHashCuratedCorpus]] feeds both
    * its candidate generation and its exact verification from ONE
    * materialized index; VERDICT r12 #4: the signature side was a
    * second full tokenize+md5+shingle pass over the corpus).
    */
  private[graft] def signaturesFromShingles(inv: DataFrame, k: Int,
      seed: Long): DataFrame = {
    val coeffs = minHashCoeffs(k, seed)
    val aggs = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("s") * lit(a) + lit(b), lit(MersennePrime31))).as(s"mh_$i")
    }
    inv.groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding over MinHash signatures: signature split into `bands`
    * groups of `rowsPerBand`; docs sharing any band bucket are
    * candidate pairs (then exact-verified by Jaccard on demand).
    * Probability a pair with Jaccard j collides: 1 − (1 − j^r)^b.
    * The pair join runs on (band, band_key) — Σ bucket² work, never a
    * cross join.
    */
  /** (doc, band, band_key) rows for LSH bucket joins. The band key is
    * the underscore-joined row minima — injective because '_' is not a
    * digit, so decimal components re-parse unambiguously (no
    * concatenation collisions).
    */
  def bandedSignatureKeys(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 4, seed: Long = 42L): DataFrame =
    bandKeysFromSignatures(
      minHashSignatures(docs, idCol, textCol, n, bands * rowsPerBand, seed),
      bands, rowsPerBand)

  private def bandKeysFromSignatures(sig: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      concat_ws("_", (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}")): _*)
    }
    sig.select(col("doc"), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
  }

  /** Candidate pairs from (doc, band, band_key) rows. `starCap` is the
    * NEAR-identical boilerplate guard (NearDupBlast probe, SCALE.md
    * r13): a crawl cluster of K same-page-different-session-id copies
    * defeats the byte-identical collapse (distinct md5s) yet shares
    * virtually every shingle, so all K land together in EVERY band
    * bucket and the self-join emits O(K²) candidates — measured 14.5 s
    * at K=1000 on the dd14 shape, ~K² beyond. Buckets larger than
    * `starCap` therefore emit only STAR candidates — (bucket-min doc,
    * member) — K−1 per bucket instead of K(K−1)/2. For the only
    * realistic way a minhash band bucket gets huge (a genuine near-dup
    * cluster) the star edges verify like any pair and the connected
    * component — hence the curated output — is unchanged; the
    * documented approximation is a GIANT bucket of mutually-dissimilar
    * docs (band-hash collision at adversarial scale), where non-star
    * true pairs inside the bucket are not generated — no longer
    * hypothetical: DedupSpec's giant-MIXED-bucket witness (r14)
    * constructs it via a searched dominator prefix that forces
    * identical 32-row signatures onto dissimilar docs, and pins the
    * exact loss (a planted non-star pair's member survives curation
    * that the exact path drops). For canonical-keep
    * pipelines the error is ONE-SIDED: star candidates ⊆ exact
    * candidates, fewer verified edges can only SPLIT components, and a
    * split part keeps its own minimum — so the capped path never drops
    * a doc the exact path keeps (DedupSpec's seeded sweep pins this);
    * the cap errs exclusively toward keeping, a bounded recall loss,
    * never a wrong drop. Default
    * Int.MaxValue short-circuits to the exact path — byte-identical
    * plans for every existing caller (the catalog's oracles mirror the
    * exact Σ bucket² candidate set).
    */
  /** The exact (uncapped) candidate self-join: the two subtrees are
    * plan-identical, so ReuseExchange computes the band rows once and
    * probes the same exchange twice — no staging needed.
    */
  private def exactPairsFromBandKeys(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()

  private def candidatePairsFromBandKeys(banded: DataFrame,
      starCap: Int = Int.MaxValue): DataFrame = {
    if (starCap == Int.MaxValue) {
      exactPairsFromBandKeys(banded)
    } else {
      require(starCap >= 2, s"starCap must be >= 2, got $starCap")
      // Materialize the band rows once: the capped arm reads `banded`
      // from multiple distinct subtrees (the size/min agg and the pair
      // arms), and each would re-run the full signature agg +
      // posexplode (the jaccardPairs staging precedent). The staging
      // itself is CHEAP — docs × bands rows, not shingles — the r14
      // "insurance premium" lived in the machinery below it.
      val b = banded.localCheckpoint()
      // one extra hash-agg on the band key (linear, map-side combined,
      // read from the staged rows), materialized — it is one row per
      // non-empty bucket and feeds both the fast-path test and the
      // capped arm's size join
      val stats = b.groupBy(col("band"), col("band_key"))
        .agg(count(lit(1)).as("__bsz"), min(col("doc")).as("__bmin"))
        .localCheckpoint()
      // Clean-data fast path (VERDICT r14 #3): if NO bucket exceeds
      // the cap — every clean shard, by construction — the capped arm
      // IS the exact arm, so self-join the staged rows directly and
      // skip the size join, the two filtered pair arms, and the union.
      // Measured at sf0.1 (ProfileQ, SCALE.md r15): this returns the
      // clean-data premium to ~0 (dd14b ≈ dd14 steady-state); a
      // first-cut variant that ran the stats agg from the UNSTAGED
      // rows to skip the staging entirely was measured ~30% WORSE —
      // the stats pass then re-runs the whole signature agg, which
      // dwarfs the staging it saves. The dirty path is r14's layout
      // unchanged (stats always came from the staged rows), so the
      // blast regime pays nothing for the fast path but the isEmpty
      // probe on the tiny stats frame.
      if (stats.filter(col("__bsz") > starCap).isEmpty) {
        return exactPairsFromBandKeys(b)
      }
      val sized = b.join(stats, Seq("band", "band_key"))
      val small = sized.filter(col("__bsz") <= starCap)
        .select(col("band"), col("band_key"), col("doc"))
      val fullPairs = small.as("a").join(small.as("b"),
          col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
            col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      // __bmin IS the bucket minimum, so (doc_a, doc_b) = (__bmin, doc)
      // keeps the a < b pair contract without a least/greatest swap
      val starPairs = sized.filter(col("__bsz") > starCap && col("doc") =!= col("__bmin"))
        .select(col("__bmin").as("doc_a"), col("doc").as("doc_b"))
      fullPairs.unionByName(starPairs).distinct()
    }
  }

  def minHashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 4, seed: Long = 42L,
      starCapBucketSize: Int = Int.MaxValue): DataFrame =
    candidatePairsFromBandKeys(
      bandedSignatureKeys(docs, idCol, textCol, n, bands, rowsPerBand, seed),
      starCapBucketSize)

  /** [[minHashCandidatePairs]] from an ALREADY-materialized (doc, s)
    * hashed-shingle frame (the signaturesFromShingles staging entry,
    * r20): definitionally the same chain, so value-identical — lets a
    * caller that also needs the inverted index (dd15's exact side)
    * tokenize the corpus once instead of twice.
    */
  private[graft] def minHashCandidatePairsFromShingles(inv: DataFrame,
      bands: Int = 8, rowsPerBand: Int = 4, seed: Long = 42L,
      starCapBucketSize: Int = Int.MaxValue): DataFrame =
    candidatePairsFromBandKeys(
      bandKeysFromSignatures(
        signaturesFromShingles(inv, bands * rowsPerBand, seed), bands, rowsPerBand),
      starCapBucketSize)

  /** Duplicate-cluster assignment from near-dup pairs: connected
    * components by iterative min-label propagation, the canonical
    * post-LSH step (pairs → clusters → keep one canonical doc per
    * cluster). Returns (doc_id, cluster_id, cluster_size) for every
    * doc that appears in at least one pair; docs with no edges are
    * trivially their own cluster and are left to the caller.
    *
    * Scale posture: the rounds run as one co-partitioned RDD lineage,
    * the shape of [[graft.ops.Graph.pageRank]]. Each node's neighbour
    * list is shuffled once into a `HashPartitioner` of
    * `spark.sql.shuffle.partitions` and cached; each round shuffles
    * only the map-side-combined neighbour minima into the same
    * partitioner and joins them narrowly onto the cached label state.
    * Rounds are cut by shuffle files, not `localCheckpoint`, and one
    * count of label decreases — one job — decides each round.
    * Convergence is O(component diameter) rounds — near-dup clusters
    * are shallow (stars around a canonical doc), so 1-2 rounds in
    * practice; `maxIter` bounds adversarial chains. A component deeper
    * than maxIter falls through to [[connectedComponentsStars]], the
    * O(log n) path.
    *
    * NULL ids follow SQL join equality: every NULL endpoint is one
    * node labelled min(its non-NULL neighbours), and no label crosses
    * it. Ids must be integral, string, date or timestamp; string
    * minima are Spark's (UTF-8 byte order).
    */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    // Symmetrize with one explode, not union(e0, e0.swapped) — the
    // union form evaluates the (expensive) upstream pairs plan twice.
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
    val node = edges.schema("src")
    require(graft.ops.Graph.jvmKeyed(node.dataType),
      s"Dedup.duplicateClusters: ids must be integral, string, date or timestamp, got ${node.dataType.sql}")
    val isString = node.dataType == StringType
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // v → neighbours, cached: every round reads it. Strings are keyed as
    // UTF8String so that minima compare in Spark's byte order.
    val nbrs: RDD[(Any, Array[Any])] = edges.rdd.map { r =>
      if (isString) (UTF8String.fromString(r.getString(0)), UTF8String.fromString(r.getString(1)))
      else (r.get(0), r.get(1))
    }.groupByKey(part).mapValues(_.toArray).cache()
    // state: v → (neighbours, label, decreased this round), partitioned
    // like nbrs. label₀(v) = min(v, min neighbour): star-shaped near-dup
    // clusters are converged before the first round, which confirms it.
    var state: RDD[(Any, (Array[Any], Any, Boolean))] = nbrs.mapPartitions(
      _.map { case (v, ns) => (v, (ns, ns.foldLeft(v)(minId), false)) },
      preservesPartitioning = true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // a NULL endpoint neither sends nor receives a label
      val nbrMin = state.flatMap { case (v, (ns, l, _)) =>
        if (v == null) Iterator.empty else ns.iterator.filter(_ != null).map(d => (d, l))
      }.reduceByKey(part, minId(_, _))
      val next = state.leftOuterJoin(nbrMin).mapValues { case ((ns, l, _), m) =>
        (ns, m.fold(l)(minId(l, _)), m.exists(lessId(_, l)))
      }.cache()
      converged = next.filter(_._2._3).count() == 0L
      state.unpersist(blocking = false)
      state = next
      iter += 1
    }
    // Min-propagation moves a label one hop per round, so a component
    // with diameter > maxIter won't converge. Instead of handing back
    // wrong cluster_ids, fall through to the O(log n) star algorithm —
    // immune to diameter.
    nbrs.unpersist(blocking = false)
    val labels = if (converged) {
      val rows = state.map { case (v, (_, l, _)) =>
        if (isString) Row(Option(v).map(_.toString).orNull, Option(l).map(_.toString).orNull)
        else Row(v, l)
      }
      spark.createDataFrame(rows, StructType(Seq(node.copy(name = "v"), node.copy(name = "label"))))
    } else {
      state.unpersist(blocking = false)
      // The stars see only non-NULL edges between distinct ids, so the
      // nodes they drop take this path's labels back: the NULL node
      // min(its non-NULL neighbours), a node whose only edges are
      // self-loops or NULL endpoints itself.
      val stars = connectedComponentsStars(pairs, aCol, bCol)
      edges.groupBy(col("src").as("v")).agg(min(col("dst")).as("m"))
        .join(stars, col("v") === stars("doc_id"), "left")
        .select(col("v"), when(col("v").isNull, col("m"))
          .otherwise(coalesce(col("cluster_id"), col("v"))).as("label"))
    }
    // cluster_size as a window count, not groupBy+join-back (r20): one
    // partitionBy(label) exchange; the oracle side uses exactly this
    // window formulation.
    labels
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("label"))))
      .select(col("v").as("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** SQL `least` on two ids of one type: NULL only if both are. */
  private def minId(a: Any, b: Any): Any =
    if (a == null) b else if (b == null || !lessId(b, a)) a else b

  private def lessId(a: Any, b: Any): Boolean =
    a != null && b != null && a.asInstanceOf[Comparable[Any]].compareTo(b) < 0

  /** [[duplicateClusters]] over the exact-Jaccard pair graph with the
    * byte-identical collapse applied first and the membership expanded
    * back after — same (doc_id, cluster_id, cluster_size) contract as
    * running [[jaccardPairs]] + [[duplicateClusters]] on the raw
    * corpus, but a K-identical boilerplate cluster costs K linear
    * membership rows instead of O(K²) pairwise candidates (the r12
    * duplicate-blast probe, SCALE.md). Equivalence per
    * [[collapseIdenticalTexts]]: an exact group is jaccard-1-complete,
    * so every member carries its rep's component label — or the rep
    * itself when a group of size ≥ 2 has no external near-dup — and
    * per-label member counts are unchanged. Pinned against the
    * uncollapsed formulation in DedupSpec.
    */
  def jaccardClustersExactFirst(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // One tokenize+md5 pass, materialized, shared by the collapse and
    // the membership mapping (the naive formulation ran collapseKeyed
    // twice). Only collapsible non-NULL-id rows matter here: docs
    // below the shingle gate can never form a pair, so they appear in
    // neither the uncollapsed cluster output nor the membership — an
    // exact restriction, not an approximation.
    val keyed = collapseKeyed(docs, textCol, minTokens = n)
      .filter(col("__collapsible") && col(idCol).isNotNull)
      .select(col(idCol), col(textCol), col("__cfp"))
      .localCheckpoint()
    val m = keyed.select(col(idCol),
      min(col(idCol)).over(Window.partitionBy(col("__cfp"))).as("rep"))
    val collapsed = keyed.groupBy(col("__cfp"))
      .agg(min_by(struct(col(idCol), col(textCol)), struct(col(idCol))).as("__row"))
      .select(col(s"__row.$idCol").as(idCol), col(s"__row.$textCol").as(textCol))
    val pairs = jaccardPairs(collapsed, idCol, textCol, n, threshold)
    val repClusters = duplicateClusters(pairs, "doc_a", "doc_b")
      .select(col("doc_id").as("rep"), col("cluster_id"))
    val selfClusters = m.groupBy(col("rep")).agg(count(lit(1)).as("g"))
      .filter(col("g") >= 2)
      .join(repClusters, Seq("rep"), "left_anti")
      .select(col("rep"), col("rep").as("cluster_id"))
    val memberLabel = m.join(repClusters.unionByName(selfClusters), Seq("rep"))
      .select(col(idCol).as("doc_id"), col("cluster_id"))
    // window count, not groupBy+join-back (r20, the duplicateClusters
    // note): the join form re-instantiated the whole memberLabel chain
    // for the sizes subtree; same values, one exchange
    memberLabel.withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Connected components by alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each round hooks every node to the minimum of its
    * neighborhood, halving component depth — O(log n) rounds
    * regardless of diameter, where plain min-label propagation
    * ([[duplicateClusters]]' fast path, fine for shallow near-dup
    * stars) needs O(diameter). Same join+agg primitives, ~2 shuffles
    * per round, edge set localCheckpoint'ed so lineage stays flat.
    * Output contract matches [[duplicateClusters]]:
    * (doc_id, cluster_id = component min, cluster_size).
    */
  def connectedComponentsStars(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    // canonical orientation big→small; self-loops dropped
    var e = pairs.select(
        greatest(col(aCol), col(bCol)).as("src"),
        least(col(aCol), col(bCol)).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    // Convergence = identical edge set two rounds running, detected by
    // (count, xor-of-row-hashes) — order/partitioning-invariant and one
    // tiny job per round (an exact set compare would be a full anti-join).
    var signature = (-1L, 0L)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: for every node u (over symmetric edges), connect
      // each strictly-larger neighbor to min(N(u) ∪ {u})
      val sym = e.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
      val lsMin = sym.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("m"))
      val ls = sym.join(lsMin, "src").filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")).distinct()
      // small-star: edges arrive oriented big→small; connect each
      // smaller neighbor (and u itself) to min(N(u))
      val ssMin = ls.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val ss = ls.join(ssMin, "src").filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(ssMin.select(col("src"), col("m").as("dst")))
        .distinct().localCheckpoint()
      val sig = ss.selectExpr("count(*) AS c",
        "coalesce(bit_xor(xxhash64(src, dst)), 0) AS h").first()
      val newSignature = (sig.getLong(0), sig.getLong(1))
      converged = newSignature == signature
      signature = newSignature
      e = ss
      iter += 1
    }
    require(converged,
      s"connectedComponentsStars did not converge in $maxIter rounds (needs ~log2(n))")
    // at convergence the edge set is stars: every non-root points
    // straight at its component minimum
    val labels = e.select(col("src").as("v"), col("dst").as("label"))
      .union(e.select(col("dst").as("v"), col("dst").as("label")))
      .distinct()
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("v").as("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** The final curation step: drop every clustered doc except its
    * cluster's canonical (min-id) member. Docs that never appeared in
    * a near-dup pair pass through untouched (left-anti against the
    * non-canonical set — one broadcast-able shuffle, since the
    * non-canonical set is |dups|, far smaller than the corpus).
    */
  def keepCanonical(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995 —
    * the classic record-linkage blocking method): records sharing a
    * blocking key are sorted by a comparison key, and only rows within
    * `window` positions of each other become candidates, scored here
    * by Levenshtein distance. Turns O(n²) linkage into
    * O(n log n + n·window); the trade is the window — matches sorted
    * further apart than `window` inside a block are missed, which is
    * why practical pipelines run several passes with different
    * blocking keys and union the candidates.
    *
    * Scale shape: one shuffle on the blocking key, a within-partition
    * sort for row_number, and an equi-join on (block, neighbor-rank) —
    * never a cross join. Pathological block sizes (everything in one
    * block) degrade to a single partition; profile with
    * ops.Scale.skewProfile and refine the key before running wide.
    *
    * Output: (id_a, id_b, name_a, name_b, dist), id_a sorted before
    * id_b in scan order (rn order, ties by id), dist ≤ maxDist.
    */
  def sortedNeighborhoodPairs(records: DataFrame, idCol: String, nameCol: String,
      blockExpr: Column, window: Int, maxDist: Int): DataFrame = {
    // blk is computed against the caller's schema BEFORE the id/name
    // normalization, so blockExpr can reference any input column
    val keyed = records.withColumn("blk", blockExpr)
      .select(col(idCol).as("id"), col(nameCol).as("name"), col("blk"))
    val w = Window.partitionBy(col("blk")).orderBy(col("name"), col("id"))
    val ranked = keyed.withColumn("rn", row_number().over(w))
    // The neighbor pairing is an EQUI-join on (blk, rn + offset), the
    // left side exploded over the `window` offsets — n·window join
    // rows, a hash join. The tempting alternative (join on blk alone
    // with `b.rn - a.rn BETWEEN 1 AND window` as a condition) makes
    // the range a post-join FILTER: every block degenerates to
    // block² candidate rows through the Levenshtein evaluation —
    // measured 40 s vs 0.5 s on 20k records with ~2k-row blocks.
    val left = ranked
      .withColumn("off", explode(expr(s"sequence(1, $window)")))
      .select(col("blk"), (col("rn") + col("off")).as("rn_b"),
        col("id").as("id_a"), col("name").as("name_a"))
    val right = ranked.select(col("blk"), col("rn").as("rn_b"),
      col("id").as("id_b"), col("name").as("name_b"))
    left.join(right, Seq("blk", "rn_b"))
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Embedding near-dup pairs: exact cosine over all (a < b) pairs via
    * a join with precomputed norms. Quadratic — the LSH variant in
    * graft.similarity.Ann is the scale path; this is the exact
    * baseline and oracle.
    */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.VectorExprs
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      // scoringNorm: NULL for NULL/NaN/±Inf elements → NULL cosine →
      // the pair fails the threshold, never a fabricated near-dup
      .withColumn("norm", VectorExprs.scoringNorm(col("v")))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        VectorExprs.cosineWithNorms(col("a.v"), col("b.v"),
          col("a.norm"), col("b.norm")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Ingest-time near-dup dedup against an existing corpus — dd07's
    * exact incremental check upgraded to MinHash: incoming docs band-
    * join the CORPUS signatures only (never all-pairs), candidates are
    * verified by exact Jaccard on the shingle inverted index, and an
    * incoming doc with any verified corpus near-dup is dropped. The
    * corpus side's signatures/shingles are exactly what a production
    * index persists between ingest batches.
    *
    * Returns the kept incoming rows (doc_id only, dd07's contract).
    *
    * `corpusBucketCap` (default off — exact candidates): the TWO-SIDED
    * face of the near-identical boilerplate wall (measured by the
    * retired IngestBlast probe: SCALE.md "Round-14, session 3"). The
    * candidate set is bIn ⋈ bC per (band, band_key), so K_in incoming
    * copies of a page whose K_c mutated copies sit in the store emit
    * K_in × K_c candidates. A curated store (families collapsed to
    * ~one survivor before entering) stays clear of that, but the corpus
    * argument here is ARBITRARY — a raw or seeded store re-opens the
    * quadratic. With the cap on, each
    * corpus band bucket contributes at most `corpusBucketCap` members
    * (the smallest c_doc ids — deterministic), bounding candidates at
    * K_in × bands × cap. The incoming side is never capped: every
    * incoming doc must receive its own verdict. Error is ONE-SIDED
    * toward KEEPING: capped candidates ⊆ exact candidates, so fewer
    * verified matches can only produce fewer DROPS — a kept duplicate
    * (bounded recall loss), never a wrongly-dropped novel doc. The
    * capped arm is lossless whenever an incoming doc with any
    * above-threshold match in a bucket also matches one of the cap
    * kept members — true for the only realistic giant-bucket class (a
    * genuine near-dup family, whose members verify near-equally); the
    * adversarial exception is the same giant-MIXED-bucket class as the
    * star cap above, with the same seed-knowledge requirement. The
    * per-bucket rank is a window sort — K_c·bands rows shuffled once,
    * the hot bucket sorts K_c rows in one task (linear-ish, vs the K²
    * join it replaces).
    */
  def minHashDedupAgainstCorpus(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, threshold: Double = 0.5, seed: Long = 42L,
      corpusBucketCap: Int = Int.MaxValue): DataFrame = {
    // ONE tokenize+md5+shingle pass per side, materialized (r19
    // optimization round — the minHashCuratedCorpus staging, VERDICT
    // r12 #4, finally applied to the incremental twin): each side's
    // index feeds THREE subtrees (band signatures, the verification
    // join, the per-doc size agg), and the unstaged form re-ran the
    // full tokenize pass for every one — six corpus/batch scans per
    // call, two after staging. Value-identical: bandedSignatureKeys
    // IS bandKeysFromSignatures∘signaturesFromShingles∘hashedShingleRows
    // by definition.
    val invIn = hashedShingleRows(incoming, idCol, textCol, n).localCheckpoint()
    val invC = hashedShingleRows(corpus, idCol, textCol, n).localCheckpoint()
    val bIn = bandKeysFromSignatures(
        signaturesFromShingles(invIn, bands * rowsPerBand, seed), bands, rowsPerBand)
      .toDF("in_doc", "band", "band_key")
    val bC0 = bandKeysFromSignatures(
        signaturesFromShingles(invC, bands * rowsPerBand, seed), bands, rowsPerBand)
      .toDF("c_doc", "band", "band_key")
    val bC =
      if (corpusBucketCap == Int.MaxValue) bC0
      else {
        require(corpusBucketCap >= 1, s"corpusBucketCap must be >= 1, got $corpusBucketCap")
        val w = Window.partitionBy(col("band"), col("band_key")).orderBy(col("c_doc"))
        bC0.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= corpusBucketCap).drop("__rk")
      }
    val cand = bIn.join(bC, Seq("band", "band_key"))
      .select(col("in_doc"), col("c_doc")).distinct()
    val common = cand
      .join(invIn.toDF("in_doc", "s"), "in_doc")
      .join(invC.toDF("c_doc", "s"), Seq("c_doc", "s"))
      .groupBy(col("in_doc"), col("c_doc")).agg(count(lit(1)).as("common"))
    val dups = jaccardChecked(common, "in_doc", "c_doc", invIn, invC, threshold)
      .select(col("in_doc").as(idCol)).distinct()
    incoming.join(dups, Seq(idCol), "left_anti")
      .select(col(idCol).as("doc_id"))
  }

  /** The WEB-SCALE near-dup curation composition (RefinedWeb/CCNet
    * shape): MinHash-LSH candidate generation → exact-Jaccard
    * verification ON CANDIDATES ONLY → connected-component clustering
    * → keep the canonical doc per cluster. dd09 verifies the same
    * semantics with the exact inverted-index pair generator; this is
    * the plan that survives 100 TB, where exact pair generation's
    * Σ bucket² is unaffordable but LSH candidates ≪ all pairs.
    *
    * Verification joins each candidate pair to the hashed-shingle
    * inverted index (cost: candidates × doc length, linear), so a
    * banding false positive can never drop a below-threshold doc —
    * LSH recall misses are the only approximation, and those are
    * governed by the bands/rowsPerBand knobs.
    *
    * Output: the curated corpus — (doc_id, n_chars), canonical and
    * unclustered docs only.
    */
  /** `starCapBucketSize` (default off — exact candidates, oracle-
    * mirrored): see [[minHashCandidatePairs]]. For THIS composition the
    * cap is especially safe: every candidate is exact-Jaccard-verified
    * against the threshold before clustering, so the star never adds a
    * false pair — it only risks missing non-star pairs inside a giant
    * MIXED bucket. A sub-threshold star center USUALLY cannot mask
    * them, because a true pair's members usually re-bucket together in
    * some other band — but not always (ADVICE r13): when the bucket
    * collision itself repeats across every band (members share their
    * full signature without sharing shingles), the same oversized
    * bucket recurs in all bands and the non-star pair is generated
    * nowhere. That degenerate class is CONSTRUCTIBLE — DedupSpec's
    * giant-MIXED-bucket witness builds mutually-dissimilar docs whose
    * 32-row signatures are forced identical by a searched dominator
    * prefix, plants a true pair off the bucket minimum, and pins the
    * exact loss: the capped run keeps the pair's non-canonical member
    * the exact run drops (recall loss), while remaining a superset of
    * the exact kept set (the one-sided guarantee is unconditional).
    * Note what the construction REQUIRES: the witness search
    * brute-forces row minima against the banding `seed`, so the
    * adversarial form of this class presumes a KNOWN seed — a
    * production run that rotates `seed` per corpus denies it — and the
    * organic form needs a many-way minhash collision repeating across
    * all bands simultaneously (never observed in any real shard here).
    * Measured on the NearDupBlast shard: identical curated output with
    * the K² term gone (SCALE.md r13).
    */
  def minHashCuratedCorpus(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 4, threshold: Double = 0.5,
      seed: Long = 42L, starCapBucketSize: Int = Int.MaxValue): DataFrame = {
    // ONE tokenize+md5+shingle pass, materialized (VERDICT r12 #4):
    // the index feeds FOUR subtrees — minhash signatures (candidate
    // generation), both sides of the verification join, and the
    // per-doc size agg. Measured NEUTRAL at sf0.1 (the retired
    // ProfileDd14 probe, SCALE.md "Round-13: steady-state": exchange
    // reuse was already deduplicating the distinct's shuffle across
    // the subtrees), but the single-pass property is now
    // structural rather than an optimizer artifact — ReuseExchange
    // depends on plan-fragment identity that a version bump or a
    // caller-side alias can silently break, and at 100 TB a second
    // full tokenize+md5 scan is a real pass over the corpus. Same
    // localCheckpoint precedent as jaccardPairs' inverted index.
    val inv = hashedShingleRows(docs, idCol, textCol, n) // (doc, s) distinct rows
      .localCheckpoint()
    val cand = candidatePairsFromBandKeys(bandKeysFromSignatures(
      signaturesFromShingles(inv, bands * rowsPerBand, seed), bands, rowsPerBand),
      starCapBucketSize)
    val common = cand
      .join(inv.toDF("doc_a", "s"), "doc_a")
      .join(inv.toDF("doc_b", "s"), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
    val verified = jaccardChecked(common, "doc_a", "doc_b", inv, inv, threshold)
      .select(col("doc_a"), col("doc_b"))
    val clusters = duplicateClusters(verified, "doc_a", "doc_b")
    keepCanonical(docs, idCol, clusters)
      .select(col(idCol).as("doc_id"),
        length(col(textCol)).cast("int").as("n_chars"))
  }

  /** Quality-aware canonical selection: given near-dup `pairs`
    * (doc_a, doc_b edges) and a per-doc quality expression, keep the
    * HIGHEST-quality member of every duplicate cluster instead of the
    * min-id member [[keepCanonical]] keeps — what a curation pipeline
    * actually wants when duplicates differ in cleanliness (the
    * canonical-selection step of CCNet/RefinedWeb-style dedup).
    *
    * Quality is rounded to 6 dp before ranking (ties then break on
    * doc_id) so the argmax is stable across engines, partitionings and
    * float summation orders.
    *
    * Scale shape: clustering touches only docs that appear in an edge
    * (≪ corpus); the argmax window sorts that small member set; the
    * untouched majority pass through via one left_anti join (AQE
    * broadcasts the small cluster side). No full-corpus window.
    *
    * Output: one row per kept doc — (doc_id, cluster_id, quality).
    */
  def curateByQuality(docs: DataFrame, pairs: DataFrame, idCol: String,
      quality: Column): DataFrame = {
    val qd = docs.select(col(idCol).as("doc_id"), round(quality, 6).as("quality"))
    val members = duplicateClusters(pairs, "doc_a", "doc_b")
      .select(col("doc_id"), col("cluster_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    val best = qd.join(members, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cluster_id"), col("quality"))
    val singles = qd.join(members.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"), col("quality"))
    best.union(singles)
  }

  /** Semantic (embedding-space) dedup, SemDeDup-shaped (Abbas et al.
    * 2023, arXiv:2303.09540): partition the corpus into cells by
    * nearest fixed centroid, then within each cell keep the leader of
    * every near-duplicate neighborhood and drop the rest.
    *
    * Rule (one pass, no iteration): rank cell members by
    * (distance-to-centroid asc, id asc); a row is DROPPED iff some
    * higher-priority member of the same cell has cosine ≥ threshold
    * with it. This greedy-leader criterion is deterministic and
    * expressible as a semi-join — unlike the transitive-closure
    * variant it never chains A~B~C into dropping C when cos(A,C) < τ
    * by proxy of an already-dropped B; the trade is that B's own
    * near-dups are judged against B even though B was dropped. (The
    * transitive variant is [[duplicateClusters]] over cosinePairs.)
    *
    * Scale shape: centroid assignment is literal arithmetic on the
    * scan (no shuffle); ranking + pairing shuffle once on cell id;
    * within-cell pairing is Σ cell² — bounded by centroid count, the
    * same knob as IVF's nLists, NOT a corpus cross join. The dropped
    * set is typically small → AQE broadcasts the anti-join build side.
    *
    * Output: kept rows only — (id, cell, cell_rank), ordered by id.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], threshold: Double): DataFrame = {
    import graft.functions.VectorExprs
    import graft.similarity.Ann
    // Shape/finiteness screen against the quantizer's own width (r12
    // chaos-parity drive): a +Inf element made cdist −Inf, so the
    // corrupt vector became its cell's RANK-1 CANONICAL and every
    // clean member was compared against it. Corrupt rows are
    // unclusterable — dropped from kept output like every index fit.
    // The width comes from the quantizer, so the quantizer must be
    // sound: a corrupt or ragged centroid set would silently screen
    // out the entire healthy corpus (review find) — fail NAMED, like
    // dominantDim's empty-corpus contract.
    VectorExprs.validateCentroids(centroids, "semanticDedup")
    val dim = centroids.head.size
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .filter(VectorExprs.isShapedVec(col("v"), dim))
      .withColumn("assigned", Ann.nearestCell(col("v"), centroids))
      .select(col("id"), col("v"),
        col("assigned.cell").as("cell"), col("assigned.dist").as("cdist"))
      .withColumn("norm", VectorExprs.scoringNorm(col("v")))
    val ranked = v.withColumn("cell_rank",
      row_number().over(Window.partitionBy(col("cell"))
        .orderBy(col("cdist"), col("id"))))
    val dropped = ranked.as("a")
      .join(ranked.as("b"),
        col("a.cell") === col("b.cell") && col("a.cell_rank") < col("b.cell_rank"))
      .filter(VectorExprs.cosineWithNorms(col("a.v"), col("b.v"),
        col("a.norm"), col("b.norm")) >= threshold)
      .select(col("b.id").as("id")).distinct()
    ranked.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cell"), col("cell_rank"))
  }
}
