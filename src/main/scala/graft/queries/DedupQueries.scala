package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import graft.text.{SpanDedup, TextStats}

/** Deduplication queries over the documents/embeddings tables: exact,
  * Jaccard, SimHash, MinHash-LSH, passage, chunk, prefix-filtered,
  * containment and semantic near-dup detection, their clusters and
  * curated corpora, plus sorted-neighborhood record linkage. All are
  * DuckDB-oracle-checkable: the hashing is md5-based Column arithmetic
  * reproducible in any engine, and the seeded MinHash permutation
  * family is interpolated into generated oracle SQL
  * ([[OracleSql.MinHashSig]]). MinHash recall is additionally asserted
  * against exact Jaccard in DedupSpec.
  */
object DedupQueries {

  /** Exact dedup via normalized-text fingerprint groups. */
  private def dd01Exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  private val dd01Sql =
    raw"""WITH fp AS (
      |  SELECT doc_id, ${OracleSql.fingerprint("text")} AS fp
      |  FROM documents
      |), g AS (
      |  SELECT fp, min(doc_id) AS canonical_id, count(*) AS group_size
      |  FROM fp GROUP BY fp
      |)
      |SELECT doc_id, canonical_id, group_size,
      |  CAST(doc_id != canonical_id AS INTEGER) AS is_dup
      |FROM fp JOIN g ON fp.fp IS NOT DISTINCT FROM g.fp
      |ORDER BY doc_id""".stripMargin

  /** Exact 3-gram Jaccard near-dup pairs at threshold 0.5. */
  private def dd02Jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text", n = 3, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  private val dd02Sql =
    s"""WITH ${OracleSql.Shingles}, inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b,
      |  round(${OracleSql.jaccard("na", "nb")}, 4) AS jaccard
      |FROM pairs
      |JOIN sizes na ON doc_a = na.doc_id
      |JOIN sizes nb ON doc_b = nb.doc_id
      |WHERE ${OracleSql.jaccard("na", "nb")} >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** 48-bit SimHash fingerprint per document. */
  private def dd03Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHash(Tables.documents(s, dir), "doc_id", "text", bits = 48)
      .orderBy(col("doc_id"))

  private val dd03Sql =
    raw"""WITH tok AS (
      |  SELECT doc_id, unnest(${TextStats.tokensSql("text")}) AS t
      |  FROM documents
      |), h AS (
      |  SELECT doc_id, ('0x' || substr(md5(t), 1, 12))::BIGINT AS h FROM tok
      |), b AS (
      |  SELECT doc_id, h, unnest(range(48)) AS bit FROM h
      |), v AS (
      |  SELECT doc_id, bit,
      |    sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM b GROUP BY doc_id, bit
      |)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
      |FROM v GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** MinHash+LSH candidate pairs (8 bands × 4 rows). The permutation
    * family is seeded, so the oracle SQL is GENERATED with the same
    * coefficients as literals (Dedup.minHashCoeffs keeps both sides in
    * sync); banding "docs sharing any band bucket" is expressed as a
    * UNION of per-band signature equi-joins — set-identical to the
    * band-key join because the "_"-concat of numeric keys is injective.
    */
  private def dd04MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashCandidatePairs(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_a"), col("doc_b"))

  // The MinHash oracles (dd04/dd14/dd15/dd16) share the MATERIALIZED
  // `sig` (OracleSql.MinHashSig) and write `inv` MATERIALIZED too where
  // more than `sig` reads it: DuckDB 1.0 inlines a plain CTE at every
  // read.
  private val dd04Sql: String = {
    val bandJoins = OracleSql.minHashBandJoins(
      "a.doc_id AS doc_a, b.doc_id AS doc_b", "a.doc_id < b.doc_id", "UNION")
    s"""WITH ${OracleSql.Shingles}, inv AS (SELECT doc_id, unnest(sh) AS h FROM sh),
       |${OracleSql.MinHashSig}, pairs AS (
       |$bandJoins
       |)
       |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Embedding-cosine near-dup pairs at threshold 0.35 (exact,
    * quadratic baseline; the LSH path is sim02).
    */
  private def dd05CosinePairs(s: SparkSession, dir: String): DataFrame =
    Dedup.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.35)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .orderBy(col("id_a"), col("id_b"))

  private val dd05Sql =
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleSql.EmbFinite} t)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(${OracleSql.cosPair("a.v", "b.v")}, 4) AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE ${OracleSql.cosPair("a.v", "b.v")} >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  /** SimHash near-dup pairs within hamming distance 3 via banded
    * indexing. The oracle uses the plain O(n²) formulation — the
    * pigeonhole banding provably returns the same set.
    */
  private def dd06SimhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))

  private val dd06Sql =
    raw"""WITH tok AS (
      |  SELECT doc_id, unnest(${TextStats.tokensSql("text")}) AS t
      |  FROM documents
      |), h AS (
      |  SELECT doc_id, ('0x' || substr(md5(t), 1, 12))::BIGINT AS h FROM tok
      |), b AS (
      |  SELECT doc_id, h, unnest(range(48)) AS bit FROM h
      |), v AS (
      |  SELECT doc_id, bit,
      |    sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM b GROUP BY doc_id, bit
      |), s AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM v GROUP BY doc_id
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Incremental dedup: docs 400+ arrive against the 0–399 corpus;
    * keep canonical fresh docs only.
    */
  private def dd07Incremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.dedupAgainstCorpus(
      docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
      "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  private val dd07Sql =
    raw"""WITH fp AS (
      |  SELECT doc_id, ${OracleSql.fingerprint("text")} AS fp
      |  FROM documents
      |), fresh AS (
      |  SELECT i.doc_id, i.fp FROM fp i
      |  WHERE i.doc_id >= 400
      |    AND NOT EXISTS (SELECT 1 FROM fp c WHERE c.doc_id < 400 AND c.fp = i.fp)
      |)
      |SELECT min(doc_id) AS doc_id FROM fresh GROUP BY fp
      |ORDER BY doc_id""".stripMargin

  /** Duplicate clusters: connected components over the exact-Jaccard
    * near-dup pairs (dd02's edges) via iterative min-label
    * propagation. The oracle computes the same min-reachable-id
    * labels with a recursive CTE over the symmetrized edge list.
    *
    * Byte-identical docs are collapsed before the pairwise stage and
    * the membership re-expanded after (r12 duplicate-blast probe,
    * SCALE.md): the output enumerates members, so it is linear in
    * cluster size either way, but the candidate generation inside
    * jaccardPairs was O(K²) for a K-identical boilerplate cluster.
    * Equivalence: an exact group is jaccard-1-complete, so its
    * members' component label is its rep's label (or the rep itself
    * when the group is a cluster on its own), and member counts per
    * label are unchanged. Pinned against the uncollapsed formulation
    * in DedupSpec.
    */
  private def dd08Clusters(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardClustersExactFirst(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5)
      .orderBy(col("doc_id"))

  private val dd08Sql =
    s"""WITH RECURSIVE ${OracleSql.Shingles},
       | inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       | sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
       | cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       | ), pairs AS (
       |  ${OracleSql.jaccardVerified("cand")}
       | ), ${OracleSql.Components}
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM labels
       |ORDER BY doc_id""".stripMargin

  /** End-to-end near-dup curation: cluster the exact-Jaccard pairs,
    * keep each cluster's canonical doc, pass untouched docs through —
    * the deduped-corpus view a training pipeline actually materializes
    * (the dedup analogue of tx07's quality curation).
    */
  private def dd09Curate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // collapse byte-identical docs first (r12 duplicate-blast probe):
    // a K-copy boilerplate cluster otherwise costs O(K²) candidates
    // inside jaccardPairs for an output this canonical-keep never
    // grows by. Semantics unchanged — see Dedup.collapseIdenticalTexts
    // and the DedupSpec equivalence battery.
    val collapsed = Dedup.collapseIdenticalTexts(docs, "doc_id", "text", minTokens = 3)
    val pairs = Dedup.jaccardPairs(collapsed, "doc_id", "text", n = 3, threshold = 0.5)
    Dedup.keepCanonical(collapsed, "doc_id",
        Dedup.duplicateClusters(pairs, "doc_a", "doc_b"))
      .select(col("doc_id"), length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  private val dd09Sql =
    s"""WITH RECURSIVE ${OracleSql.Shingles},
       | inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       | sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
       | cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       | ), pairs AS (
       |  ${OracleSql.jaccardVerified("cand")}
       | ), ${OracleSql.Components}
       |SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS n_chars
       |FROM documents d
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM labels l WHERE l.doc_id = d.doc_id AND l.cluster_id != d.doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** The composed web-scale dedup pipeline: MinHash-LSH candidates →
    * exact-Jaccard verification on candidates only → components →
    * canonical keep. Same semantics as dd09 whenever LSH recall is
    * complete; the oracle re-derives the ENTIRE chain (seeded
    * signature mins, band self-joins, candidate-restricted
    * verification, recursive components) so any recall miss would
    * surface as a hash mismatch.
    */
  /** The dd14 chain, shared VERBATIM by dd14 (exact candidates) and
    * dd14b (star cap engaged) — one body so "dd14b is dd14's exact
    * chain with the cap" is structural: retuning any knob here retunes
    * both keys together, preserving the shared-oracle justification.
    */
  private def dd14Chain(s: SparkSession, dir: String, starCap: Int): DataFrame =
    // byte-identical collapse before the LSH chain (r12): identical
    // docs share every band, so a K-copy cluster floods the band
    // buckets with O(K²) candidates; collapsed, the chain sees one
    // member per text and keepCanonical keeps the same min-id set.
    Dedup.minHashCuratedCorpus(
        Dedup.collapseIdenticalTexts(Tables.documents(s, dir), "doc_id", "text",
          minTokens = 3),
        "doc_id", "text", n = 3, bands = 8, rowsPerBand = 4, threshold = 0.5,
        starCapBucketSize = starCap)
      .orderBy(col("doc_id"))

  private def dd14MinhashCurated(s: SparkSession, dir: String): DataFrame =
    dd14Chain(s, dir, Int.MaxValue)

  /** dd14's exact chain with the star cap ENGAGED (starCapBucketSize =
    * 64) — the r13 scale feature under the driver's hash gate instead
    * of spec-only coverage (VERDICT r13 #1, the one judge-authorized
    * catalog addition; everything else stays frozen at the r11 set).
    *
    * Why the oracle is dd14's SQL UNCHANGED: the cap only changes
    * candidate GENERATION for band buckets larger than 64 members. On
    * clean shards no bucket approaches that regime (the sf0.01/sf0.1
    * corpora have no 64-member near-dup cluster), so the capped arm
    * emits the identical candidate set — and even where a bucket DOES
    * overflow, DedupSpec's blast test pins kept-set equality because
    * every star edge verifies and the component stays connected through
    * the bucket minimum. A hash mismatch here would mean the capped arm
    * regressed, which is exactly what this key exists to catch every
    * round — with one adjudication caveat for the future: if a
    * regenerated testdata shard ever DID grow a >64-member band bucket
    * of mutually-dissimilar docs (the giant-MIXED class DedupSpec's
    * witness constructs), dd14b keeping MORE docs than dd14 would be
    * the cap working as designed, not a regression — re-adjudicate
    * against DedupSpec's equality and one-sided pins before touching
    * the code.
    */
  /** dd14b's star cap — shared with DedupSpec's shard-premise tripwire
    * (the Dd16bCorpusCap pattern) so a retune here cannot desync from
    * the bound the tripwire asserts on the shipped shards.
    */
  private[graft] val Dd14bStarCap = 64

  private def dd14bMinhashStar(s: SparkSession, dir: String): DataFrame =
    dd14Chain(s, dir, starCap = Dd14bStarCap)

  private val dd14Sql: String = {
    // UNION ALL + outer DISTINCT, NOT a bare UNION chain: inside a
    // WITH RECURSIVE block DuckDB does not set-dedupe a multi-branch
    // UNION in a non-recursive CTE, so a pair matching in 2+ bands
    // came back duplicated — doubling its shared-shingle count and
    // zeroing the Jaccard denominator. Surfaced by the sf0.1 sweep
    // (pair 1237/4246 matched two bands); sf0.01 had no multi-band
    // pair, which is why the driver-scale gate alone missed it.
    val bandJoins = OracleSql.minHashBandJoins(
      "a.doc_id AS doc_a, b.doc_id AS doc_b", "a.doc_id < b.doc_id", "UNION ALL")
    s"""WITH RECURSIVE ${OracleSql.Shingles},
       | inv AS MATERIALIZED (SELECT doc_id, unnest(sh) AS h FROM sh),
       | sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
       | ${OracleSql.MinHashSig}, cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |$bandJoins
       |  )
       | ), common AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c
       |  JOIN inv a ON a.doc_id = c.doc_a
       |  JOIN inv b ON b.doc_id = c.doc_b AND b.h = a.h
       |  GROUP BY 1, 2
       | ), pairs AS (
       |  ${OracleSql.jaccardVerified("common")}
       | ), ${OracleSql.Components}
       |SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS n_chars
       |FROM documents d
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM labels l WHERE l.doc_id = d.doc_id AND l.cluster_id != d.doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Dedup-index evaluation harness (the q85 idea for MinHash): per
    * banding configuration, how many of the TRUE near-dup pairs (dd02's
    * exact inverted-index pairs at 0.5) the LSH candidates recover —
    * the recall measurement that justifies bands/rowsPerBand before a
    * 100 TB run. One summary row: true pairs, candidates, recovered,
    * recall.
    */
  private def dd15LshRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // ONE tokenize+md5+shingle pass shared by the exact side and the
    // LSH side (r20): the unstaged form ran hashedShingleRows twice —
    // once checkpointed inside jaccardPairs, once again inside the
    // minHashCandidatePairs chain — two full corpus scans for one
    // index. Both FromShingles entries are definitionally the same
    // chains over the same frame, so the output is value-identical.
    val inv = Dedup.hashedShingleRows(docs, "doc_id", "text", 3).localCheckpoint()
    val exact = Dedup.jaccardPairsFromShingles(inv, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    // NOT materialized (r19 optimization round, measured): `cand` feeds
    // two subtrees (the recall probe join and the candidate count), but
    // ReuseExchange already dedups the identical LSH chain under both —
    // an explicit localCheckpoint measured NEUTRAL-to-worse at sf0.1
    // (3.07 s vs 3.42 s steady, console A/B), so the plan stays as-is.
    val cand = Dedup.minHashCandidatePairsFromShingles(inv)
      .select(col("doc_a").as("ca"), col("doc_b").as("cb"))
    val hit = exact.join(cand,
      col("doc_a") === col("ca") && col("doc_b") === col("cb"), "left")
    hit.agg(
        count(lit(1)).as("true_pairs"),
        count(col("ca")).as("recovered"))
      .crossJoin(cand.agg(count(lit(1)).as("candidates")))
      .select(col("true_pairs"), col("candidates"), col("recovered"),
        round(col("recovered") / col("true_pairs"), 4).as("recall"))
  }

  private val dd15Sql: String = {
    val bandJoins = OracleSql.minHashBandJoins(
      "a.doc_id AS doc_a, b.doc_id AS doc_b", "a.doc_id < b.doc_id", "UNION ALL")
    s"""WITH ${OracleSql.Shingles},
       | inv AS MATERIALIZED (SELECT doc_id, unnest(sh) AS h FROM sh),
       | sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
       | co AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       | ), exact AS (
       |  ${OracleSql.jaccardVerified("co")}
       | ), ${OracleSql.MinHashSig}, cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |$bandJoins
       |  )
       | )
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM exact) AS true_pairs,
       |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS candidates,
       |  (SELECT CAST(count(*) AS BIGINT) FROM exact e
       |    JOIN cand c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b) AS recovered,
       |  round((SELECT count(*) FROM exact e
       |    JOIN cand c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b)
       |    / CAST((SELECT count(*) FROM exact) AS DOUBLE), 4) AS recall""".stripMargin
  }

  /** The dd16 chain, shared VERBATIM by dd16 (exact candidates) and
    * dd16b (corpus bucket cap engaged) — the dd14b/dd14Chain precedent
    * applied to the CROSS-STORE gate: one body so "dd16b is dd16's
    * exact chain with the cap" is structural, and retuning any knob
    * retunes both keys together, preserving the shared-oracle
    * justification.
    */
  private def dd16Chain(s: SparkSession, dir: String, corpusCap: Int): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.minHashDedupAgainstCorpus(
        docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
        "doc_id", "text", corpusBucketCap = corpusCap)
      .orderBy(col("doc_id"))
  }

  /** Incremental MinHash dedup: docs ≥ 400 arrive against the < 400
    * corpus (dd07's split, near-dup instead of exact). Banded
    * candidates cross-side only, exact-Jaccard verification, drop on
    * any verified corpus near-dup.
    */
  private def dd16IncrementalMinhash(s: SparkSession, dir: String): DataFrame =
    dd16Chain(s, dir, Int.MaxValue)

  /** dd16's exact chain with the corpus bucket cap ENGAGED
    * (corpusBucketCap = 8) — the r14 cross-store mitigation (the retired
    * IngestBlast probe, SCALE.md "Round-14, session 3") under the
    * driver's hash gate instead of spec-only coverage (VERDICT r14 #1,
    * the one judge-authorized catalog addition for r15; everything
    * else stays frozen).
    *
    * Why the oracle is dd16's SQL UNCHANGED: the cap only changes which
    * CORPUS members a band bucket contributes as candidates, and only
    * for buckets larger than 8. On clean shards no corpus bucket
    * approaches that regime (measured: the doc_id < 400 corpus side's
    * largest band bucket is 2 members at sf0.01 and 1 at sf0.1), so
    * the capped arm emits the identical candidate set — and even where a bucket DID overflow, a
    * genuine near-dup family's members verify near-equally, so any
    * above-threshold incoming doc still matches one of the kept 8
    * (DedupSpec's two-sided-flood pin: byte-identical kept set at
    * K=1000). A hash mismatch here means the capped arm regressed —
    * exactly what this key exists to catch every round — with the same
    * future-adjudication caveat as dd14b: if a regenerated shard ever
    * grew a giant MIXED corpus bucket, dd16b keeping MORE incoming docs
    * than dd16 would be the cap's documented one-sided recall loss
    * working as designed (never a wrong drop) — re-adjudicate against
    * DedupSpec's one-sided pins before touching the code.
    */
  /** dd16b's corpus bucket cap — shared with DedupSpec's shard-premise
    * tripwire so a retune here (FIXTURES.md §4's re-adjudication
    * branch) cannot desync from the bound the tripwire asserts.
    */
  private[graft] val Dd16bCorpusCap = 8

  private def dd16bIncrCapped(s: SparkSession, dir: String): DataFrame =
    dd16Chain(s, dir, corpusCap = Dd16bCorpusCap)

  private val dd16Sql: String = {
    val bandJoins = OracleSql.minHashBandJoins(
      "a.doc_id AS doc_c, b.doc_id AS doc_in", "a.doc_id < 400 AND b.doc_id >= 400", "UNION ALL")
    s"""WITH ${OracleSql.Shingles},
       | inv AS MATERIALIZED (SELECT doc_id, unnest(sh) AS h FROM sh),
       | sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
       | ${OracleSql.MinHashSig}, cand AS (
       |  SELECT DISTINCT doc_c, doc_in FROM (
       |$bandJoins
       |  )
       | ), common AS (
       |  SELECT c.doc_c, c.doc_in, count(*) AS common
       |  FROM cand c
       |  JOIN inv a ON a.doc_id = c.doc_c
       |  JOIN inv b ON b.doc_id = c.doc_in AND b.h = a.h
       |  GROUP BY 1, 2
       | ), dup AS (
       |  SELECT DISTINCT doc_in FROM common
       |  JOIN sizes nc ON doc_c = nc.doc_id
       |  JOIN sizes ni ON doc_in = ni.doc_id
       |  WHERE ${OracleSql.jaccard("nc", "ni")} >= 0.5
       | )
       |SELECT d.doc_id FROM documents d
       |WHERE d.doc_id >= 400
       |  AND NOT EXISTS (SELECT 1 FROM dup WHERE dup.doc_in = d.doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Quality-aware canonical selection: cluster the exact-Jaccard
    * near-dup pairs (dd02/dd08's edges), keep each cluster's
    * HIGHEST-quality member (tx02's score), pass singletons through.
    * dd09's min-id canonical rule upgraded to the one curation
    * pipelines really use.
    */
  private def dd13QualityCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // byte-identical collapse before pairing (r12): identical text ⇒
    // identical quality, so the quality-argmax canonical (ties to min
    // id) is preserved — an exact group's winner IS its min-id rep,
    // and a collapsed rep appearing as a singleton emits the same
    // (rep, rep, quality) row the uncollapsed best-of-cluster emits.
    val collapsed = Dedup.collapseIdenticalTexts(docs, "doc_id", "text", minTokens = 3)
    val pairs = Dedup.jaccardPairs(collapsed, "doc_id", "text", n = 3, threshold = 0.5)
    // quality over a staged token attribute (r19 optimization round,
    // TextStats FromTokens note): the text-input form re-tokenized
    // every doc 6× inside curateByQuality's quality projection
    Dedup.curateByQuality(
        collapsed.withColumn("__tk", graft.text.TextStats.tokens(col("text"))),
        pairs, "doc_id",
        graft.text.TextStats.qualityScoreFromTokens(col("__tk")))
      .orderBy(col("doc_id"))
  }

  /** Oracle: dd08's recursive-CTE components + tx02's quality formula,
    * window argmax per cluster, NOT EXISTS pass-through for
    * singletons.
    */
  private val dd13Sql =
    s"""WITH RECURSIVE ${OracleSql.Shingles},
       | inv AS (SELECT doc_id, unnest(sh) AS s FROM sh),
       | sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
       | cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       | ), pairs AS (
       |  ${OracleSql.jaccardVerified("cand")}
       | ), ${OracleSql.Components}, q AS (
       |  -- CASE mirrors TextStats.qualityScore's token-less guard:
       |  -- a doc with no tokens scores a defined 0.0 on both engines
       |  SELECT doc_id,
       |    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE) ELSE
       |      round(${OracleSql.quality("len(toks)", "len(list_distinct(toks))", OracleSql.stopHits("toks"))}, 6)
       |    END AS quality
       |  FROM (SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
       |        FROM documents)
       | ), best AS (
       |  SELECT doc_id, cluster_id, quality FROM (
       |    SELECT l.doc_id, l.cluster_id, q.quality,
       |      row_number() OVER (PARTITION BY l.cluster_id
       |        ORDER BY q.quality DESC, l.doc_id) AS rk
       |    FROM labels l JOIN q USING (doc_id))
       |  WHERE rk = 1
       | ), singles AS (
       |  SELECT q.doc_id, q.doc_id AS cluster_id, q.quality FROM q
       |  WHERE NOT EXISTS (SELECT 1 FROM labels l WHERE l.doc_id = q.doc_id)
       | )
       |SELECT doc_id, cluster_id, quality
       |FROM (SELECT * FROM best UNION ALL SELECT * FROM singles)
       |ORDER BY doc_id""".stripMargin

  /** Semantic dedup (SemDeDup-shaped): nearest-centroid cells over the
    * first 8 corpus vectors (deterministic quantizer both engines
    * re-derive from the table, the sim03 technique), greedy-leader
    * keep within each cell at cosine ≥ 0.35. Output is the kept set.
    */
  private def dd12SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids =
      graft.similarity.Ann.screenedSeedVectors(emb, "vec_id", "embedding", 8)
    Dedup.semanticDedup(emb, "vec_id", "embedding", centroids, threshold = 0.35)
      .orderBy(col("id"))
  }

  /** Oracle: same comparator chain as the sim03 oracle (assignment by
    * |c|² − 2·v·c with cell-index tie-break), then the greedy-leader
    * NOT EXISTS. list_cosine_similarity's double arithmetic matches
    * the VectorExprs kernel bit-for-bit (dd05-proven parity).
    */
  private val dd12Sql =
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleSql.EmbScreened} t),
      |-- cell ids are POSITIONAL over the screened seed set (the
      |-- engine zipWithIndex's its collected centroids), not raw
      |-- vec_ids: identical on clean data, but a screened-out seed
      |-- (the planted NaN at vec_id 5) shifts every later id
      |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
      |           AS cell0, v AS cv
      |         FROM e WHERE vec_id < 8),
      |assign AS (
      |  SELECT e.vec_id, e.v, c.cell0,
      |    list_dot_product(c.cv, c.cv) - 2.0::DOUBLE * list_dot_product(e.v, c.cv) AS dist,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_dot_product(c.cv, c.cv) - 2.0::DOUBLE * list_dot_product(e.v, c.cv),
      |      c.cell0) AS rn
      |  FROM e, cent c),
      |ranked AS (
      |  SELECT vec_id, v, cell0 AS cell,
      |    CAST(row_number() OVER (PARTITION BY cell0 ORDER BY dist, vec_id) AS INTEGER)
      |      AS cell_rank
      |  FROM assign WHERE rn = 1),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM ranked a JOIN ranked b
      |    ON a.cell = b.cell AND a.cell_rank < b.cell_rank
      |  WHERE ${OracleSql.cos("a.v", "b.v")} >= 0.35)
      |SELECT r.vec_id AS id, CAST(r.cell AS INTEGER) AS cell, r.cell_rank
      |FROM ranked r LEFT JOIN dropped d ON r.vec_id = d.vec_id
      |WHERE d.vec_id IS NULL
      |ORDER BY id""".stripMargin

  /** Winnowed duplicated-passage profile (MOSS fingerprints, k=8-gram
    * hashes winnowed over w=8 windows): alignment-free detection of
    * any ≥ 15-token passage shared between documents. Per-doc shared
    * fraction is the curation threshold score.
    */
  private def dd10PassageOverlap(s: SparkSession, dir: String): DataFrame =
    SpanDedup.passageOverlap(Tables.documents(s, dir), k = 8, w = 8)
      .orderBy(col("doc_id"))

  private val dd10Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, st AS pos,
      |    ('0x' || substr(md5(array_to_string(toks[st:st+7], ' ')), 1, 12))::BIGINT AS gfp
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS st
      |        FROM toks WHERE len(toks) >= 8)),
      |sel AS (
      |  SELECT DISTINCT doc_id, win_fp FROM (
      |    SELECT doc_id,
      |      count(*) OVER fr AS n_in,
      |      min(gfp) OVER fr AS win_fp
      |    FROM grams
      |    WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
      |                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING))
      |  WHERE n_in = 8),
      |shared AS (SELECT win_fp FROM sel GROUP BY win_fp HAVING count(DISTINCT doc_id) > 1),
      |flagged AS (
      |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_shared
      |  FROM sel WHERE win_fp IN (SELECT win_fp FROM shared) GROUP BY doc_id),
      |tot AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_fps FROM sel GROUP BY doc_id)
      |SELECT t.doc_id, t.n_fps, coalesce(f.n_shared, 0) AS n_shared,
      |  round(coalesce(f.n_shared, 0) / CAST(t.n_fps AS DOUBLE), 4) AS shared_frac
      |FROM tot t LEFT JOIN flagged f USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Sorted-neighborhood record-linkage candidates over part names:
    * block on the first name word, sort by (name, key), pair rows
    * within 2 neighborhood positions, keep Levenshtein ≤ 2.
    */
  private def q81SortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.sortedNeighborhoodPairs(
        Tables.part(s, dir), idCol = "p_partkey", nameCol = "p_name",
        blockExpr = expr("split_part(p_name, ' ', 1)"), window = 2, maxDist = 2)
      .orderBy(col("id_a"), col("id_b"))

  private val q81Sql =
    """WITH b AS (
      |  SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk,
      |    row_number() OVER (PARTITION BY split_part(p_name, ' ', 1)
      |                       ORDER BY p_name, p_partkey) AS rn
      |  FROM part)
      |SELECT a.p_partkey AS id_a, c.p_partkey AS id_b,
      |  a.p_name AS name_a, c.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, c.p_name) AS INTEGER) AS dist
      |FROM b a JOIN b c ON a.blk = c.blk AND c.rn - a.rn BETWEEN 1 AND 2
      |WHERE levenshtein(a.p_name, c.p_name) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** Passage-level duplicate clusters: documents sharing any winnowed
    * fingerprint become edges; connected components label the cluster.
    * The end-to-end composition (winnow → fingerprint join → min-label
    * propagation) a substring-dedup pipeline actually materializes —
    * each stage individually gated by dd10/dd08.
    */
  private def dd11PassageClusters(s: SparkSession, dir: String): DataFrame = {
    val sel = SpanDedup.winnowedFingerprints(Tables.documents(s, dir), k = 8, w = 8)
    val pairs = sel.as("a").join(sel.as("b"),
        col("a.win_fp") === col("b.win_fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    graft.dedup.Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
      .orderBy(col("doc_id"))
  }

  private val dd11Sql =
    raw"""WITH RECURSIVE toks AS (
      |  SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, st AS pos,
      |    ('0x' || substr(md5(array_to_string(toks[st:st+7], ' ')), 1, 12))::BIGINT AS gfp
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS st
      |        FROM toks WHERE len(toks) >= 8)),
      |sel AS (
      |  SELECT DISTINCT doc_id, win_fp FROM (
      |    SELECT doc_id,
      |      count(*) OVER fr AS n_in,
      |      min(gfp) OVER fr AS win_fp
      |    FROM grams
      |    WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
      |                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING))
      |  WHERE n_in = 8),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sel a JOIN sel b ON a.win_fp = b.win_fp AND a.doc_id < b.doc_id),
      |${OracleSql.Components}
      |SELECT doc_id, cluster_id,
      |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM labels
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- dd17

  /** CDC-chunk overlap near-dup detection — tx20's content-defined
    * chunker composed into the dedup family: documents are near-dups
    * when ≥ 40% of the smaller document's chunk fingerprints also
    * appear in the other. The pair generation is an inverted-index
    * join on the 48-bit chunk fingerprint (longs only — never text),
    * the same Σ bucket² containment as dd02/dd04.
    */
  private def dd17ChunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(graft.text.TextStats.tokens(col("text"))).as(Seq("pos", "tok")))
    val flagged = toks.withColumn("boundary",
      when(col("pos") === 0 ||
        graft.dedup.Dedup.md5Hash48(col("tok")) % 8 === 0, 1).otherwise(0))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val chunks = flagged
      .withColumn("chunk", sum(col("boundary")).over(wd))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(graft.dedup.Dedup.md5Hash48(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")))).as("fp"))
      .select(col("doc_id"), col("fp")).distinct().localCheckpoint()
    val sizes = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("nc"))
    val shared = chunks.as("a").join(chunks.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("nc", "nc_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("nc", "nc_b"), "doc_b")
      .withColumn("overlap",
        round(col("n_shared") / least(col("nc_a"), col("nc_b")).cast("double"), 4))
      .filter(col("overlap") >= 0.4)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("overlap"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val dd17Sql =
    raw"""WITH toks AS (
      |  SELECT doc_id, pos - 1 AS pos, t[pos] AS tok
      |  FROM (
      |    SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos
      |    FROM (
      |      SELECT doc_id,
      |        ${TextStats.tokensSql("text")} AS t
      |      FROM documents) d0) d1),
      |chunked AS (
      |  SELECT doc_id, tok, pos,
      |    sum(CASE WHEN pos = 0
      |      OR ('0x' || substr(md5(tok), 1, 12))::BIGINT % 8 = 0
      |      THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk
      |  FROM toks),
      |chunks AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 12))::BIGINT AS fp
      |  FROM chunked GROUP BY doc_id, chunk),
      |sizes AS (SELECT doc_id, count(*) AS nc FROM chunks GROUP BY 1),
      |shared AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |  FROM chunks a JOIN chunks b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT s.doc_a, s.doc_b, CAST(s.n_shared AS BIGINT) AS n_shared,
      |  round(s.n_shared / CAST(least(za.nc, zb.nc) AS DOUBLE), 4) AS overlap
      |FROM shared s
      |  JOIN sizes za ON za.doc_id = s.doc_a
      |  JOIN sizes zb ON zb.doc_id = s.doc_b
      |WHERE round(s.n_shared / CAST(least(za.nc, zb.nc) AS DOUBLE), 4) >= 0.4
      |ORDER BY s.doc_a, s.doc_b""".stripMargin

  /** Prefix-filtered set-similarity join — the
    * PPJoin/AllPairs candidate-reduction principle (Chaudhuri et al.
    * SSJoin, Xiao et al. PPJoin): a pair with token-set Jaccard ≥ t must
    * share at least one token among each side's (|s| − ⌈t·|s|⌉ + 1)
    * RAREST tokens, so the inverted index is built over those short
    * prefixes only — candidate volume collapses versus indexing every
    * token (dd02's full inverted index), and the exact verification runs
    * on candidates alone.
    *
    * Shingle-Jaccard ≥ 0.5 doc pairs via prefix filtering. Set
    * elements are 48-bit-hashed 3-gram shingles (unigram token sets
    * are useless here — the corpus's shared function-word vocabulary
    * puts ~92k doc pairs above 0.5 token-set Jaccard, vs 25 real
    * near-dup pairs by shingles). Global shingle frequency (the prefix
    * ordering) is a domain-bounded aggregate; the per-doc rank window
    * partitions by doc; the index join touches only prefix shingles —
    * and the rarest-first order makes those buckets the SMALLEST ones,
    * which is the entire PPJoin bet. Exact verification runs on
    * candidates only.
    */
  private def dd18PrefixFilter(s: SparkSession, dir: String): DataFrame = {
    val t = 0.5
    val toks = TextStats.wordGrams(Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.tokens(col("text")).as("toks")), 3, Seq("doc_id"))
      .select(col("doc_id"), graft.dedup.Dedup.md5Hash48(col("gram")).as("tok"))
      .distinct()
    // df, |s|, and the rarity rank all ride as WINDOWS over the one
    // postings frame instead of separate groupBy aggregates re-joined
    // back (r7 verdict item 3: this plan is DAG-depth-bound, not
    // data-bound). The df window exchanges by tok — the same hash the
    // candidate self-join needs anyway; the sz and pos windows share
    // one exchange by doc_id. No broadcast anywhere: shingle frequency
    // scales with corpus vocabulary at 100 TB.
    val base = toks
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      // every consumer (prefix postings ×2, sizes, verify tail ×2)
      // reads this one materialization — the q103 chained-stage lesson
      .localCheckpoint()
    // prefix length: |s| − ⌈t·|s|⌉ + 1 rarest tokens; keep pos and sz
    // so the candidate join can apply PPJoin's other two filters
    val ranked = base
      .filter(col("pos") <= col("sz") - ceil(col("sz") * t) + 1)
      .select(col("doc_id"), col("tok"), col("pos"), col("sz"))
    // Candidate join = prefix match + LENGTH filter (J ≥ t forces
    // min(|a|,|b|) ≥ t·max(|a|,|b|)) + POSITIONAL filter (a match at
    // prefix positions (pa, pb) bounds the overlap by 1 + min(|a|−pa,
    // |b|−pb); a true pair's FIRST common prefix token always passes,
    // so no true pair is lost — Xiao et al.'s ppjoin pruning). These
    // cut the profiled candidate volume ~400k → the filtered few
    // thousand that verification then touches, which is what makes the
    // verify tail cheap at any scale.
    val alpha = ceil((col("a.sz") + col("b.sz")) * lit(t) / lit(1 + t))
    val cands = ranked.as("a").join(ranked.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.sz"), col("b.sz")) >=
          lit(t) * greatest(col("a.sz"), col("b.sz")) &&
        lit(1) + least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos"))
          >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      // consumed three times (pair probe, candDocs, inter) — tiny
      .localCheckpoint()
    // exact verification on candidates only, and IN-ROW: fold each
    // candidate document's shingle set into one array (bounded by doc
    // length, so rows stay small), equi-join the pair list to the two
    // arrays, and compute |a∩b| per pair. This replaces the old
    // pairs×shingles expansion (profiled 6.5M-row two-join verify,
    // ~2 s steady) with two joins of |cands| rows and a per-row set
    // intersection — the verify cost now scales with the CANDIDATE
    // count, not candidates × doc length.
    //
    // r19 optimization round, two changes to the verify tail (guide
    // §1.2 per-task work + §2.4 duplicated subtrees), measured from the
    // 124,961-candidate reality at sf0.1 (the prefix buckets of this
    // templated corpus are far fatter than real-crawl rarest-shingle
    // buckets, so the verify pass dominates the query):
    //  1. the doc-set arrays are sorted ONCE per doc at build
    //     (sort_array, 4.8k docs) and |a∩b| runs as the codegen'd
    //     sorted-merge SortedIntersectCount — value-identical to
    //     size(array_intersect) on these distinct sorted arrays, but
    //     O(n+m) with no per-pair hash-set allocation. array_intersect
    //     built an OpenHashSet per evaluation, and the jaccard filter's
    //     pushdown into the join condition made that 2-3 evaluations
    //     per candidate: measured 1.3 s of pure CPU in the verify task.
    //  2. docSets is materialized once (localCheckpoint): it fed both
    //     join sides as two separate subtrees, so the collect_list
    //     aggregation (a full pass over the shingle index at any scale)
    //     ran twice.
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b"))).distinct()
    val docSets = base.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("tok"))).as("ts"), first(col("sz")).as("sz"))
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    cands
      .join(docSets.select(col("doc_id").as("doc_a"),
        col("ts").as("ts_a"), col("sz").as("sz_a")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"),
        col("ts").as("ts_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("inter",
        graft.functions.ArrayFns.sortedIntersectCount(col("ts_a"), col("ts_b")))
      .withColumn("jaccard", round(col("inter") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val dd18Sql =
    raw"""WITH t0 AS (
      |  SELECT doc_id,
      |    ${TextStats.tokensSql("text")} AS ts
      |  FROM documents),
      |toks AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(array_to_string(ts[i:i+2], ' ')), 1, 12))::BIGINT AS tok
      |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
      |        FROM t0 WHERE len(ts) >= 3)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
      |freq AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
      |ranked AS (
      |  SELECT t.doc_id, t.tok
      |  FROM (
      |    SELECT t0.doc_id, t0.tok, z.sz,
      |      row_number() OVER (PARTITION BY t0.doc_id ORDER BY f.df, t0.tok) AS pos
      |    FROM toks t0 JOIN freq f USING (tok) JOIN sizes z USING (doc_id)) t
      |  WHERE t.pos <= t.sz - ceil(t.sz * 0.5) + 1),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM ranked a JOIN ranked b
      |    ON a.tok = b.tok AND a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS inter
      |  FROM cands c
      |    JOIN toks ta ON ta.doc_id = c.doc_a
      |    JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      |  GROUP BY 1, 2)
      |SELECT i.doc_a, i.doc_b, CAST(i.inter AS BIGINT) AS inter,
      |  round(i.inter / CAST(za.sz + zb.sz - i.inter AS DOUBLE), 4) AS jaccard
      |FROM inter i
      |  JOIN sizes za ON za.doc_id = i.doc_a
      |  JOIN sizes zb ON zb.doc_id = i.doc_b
      |WHERE round(i.inter / CAST(za.sz + zb.sz - i.inter AS DOUBLE), 4) >= 0.5
      |ORDER BY i.doc_a, i.doc_b""".stripMargin

  // ---------------------------------------------------------------- dd19

  /** Shingle-set containment: pairs where ≥ 80% of the SMALLER
    * document's 3-gram shingles appear in the other document.
    * Jaccard on a 50-shingle doc inside a 500-shingle doc tops out at
    * 0.1 — below any dedup threshold — while containment reads 1.0;
    * this is the quote/excerpt/subset-duplicate detector. Same
    * inverted-index candidate generation as dd02/dd18 (48-bit hashed
    * shingles, equi-join, Σ bucket² containment), direction decided
    * per pair by which side is smaller.
    */
  private def dd19Containment(s: SparkSession, dir: String): DataFrame = {
    val sh = TextStats.wordGrams(Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.tokens(col("text")).as("toks")), 3, Seq("doc_id"))
      .select(col("doc_id"), graft.dedup.Dedup.md5Hash48(col("gram")).as("h"))
      .distinct().localCheckpoint()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("containment",
        round(col("inter") / least(col("sz_a"), col("sz_b")).cast("double"), 4))
      .withColumn("jaccard", round(col("inter") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4))
      .filter(col("containment") >= 0.8)
      .select(col("doc_a"), col("doc_b"),
        when(col("sz_a") <= col("sz_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_doc"),
        col("containment"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val dd19Sql =
    raw"""WITH t0 AS (
      |  SELECT doc_id,
      |    ${TextStats.tokensSql("text")} AS ts
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(array_to_string(ts[i:i+2], ' ')), 1, 12))::BIGINT AS h
      |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
      |        FROM t0 WHERE len(ts) >= 3)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i.doc_a, i.doc_b,
      |  CASE WHEN za.sz <= zb.sz THEN i.doc_a ELSE i.doc_b END AS contained_doc,
      |  round(i.inter / CAST(least(za.sz, zb.sz) AS DOUBLE), 4) AS containment,
      |  round(i.inter / CAST(za.sz + zb.sz - i.inter AS DOUBLE), 4) AS jaccard
      |FROM inter i
      |  JOIN sizes za ON za.doc_id = i.doc_a
      |  JOIN sizes zb ON zb.doc_id = i.doc_b
      |WHERE round(i.inter / CAST(least(za.sz, zb.sz) AS DOUBLE), 4) >= 0.8
      |ORDER BY i.doc_a, i.doc_b""".stripMargin

  val all: Seq[Q] = Seq(
    Q("dd01_exact_dedup", dd01Exact, Some(dd01Sql)),
    Q("dd02_jaccard_pairs", dd02Jaccard, Some(dd02Sql)),
    Q("dd03_simhash", dd03Simhash, Some(dd03Sql)),
    Q("dd04_minhash_lsh", dd04MinhashLsh, Some(dd04Sql)),
    Q("dd05_cosine_pairs", dd05CosinePairs, Some(dd05Sql)),
    Q("dd06_simhash_pairs", dd06SimhashPairs, Some(dd06Sql)),
    Q("dd07_incremental", dd07Incremental, Some(dd07Sql)),
    Q("dd08_dup_clusters", dd08Clusters, Some(dd08Sql)),
    Q("dd09_curated_corpus", dd09Curate, Some(dd09Sql)),
    Q("dd12_semantic_dedup", dd12SemanticDedup, Some(dd12Sql)),
    Q("dd13_quality_canonical", dd13QualityCanonical, Some(dd13Sql)),
    Q("dd14_minhash_curated", dd14MinhashCurated, Some(dd14Sql)),
    Q("dd14b_minhash_star", dd14bMinhashStar, Some(dd14Sql)),
    Q("dd15_lsh_recall", dd15LshRecall, Some(dd15Sql)),
    Q("dd16_incr_minhash", dd16IncrementalMinhash, Some(dd16Sql)),
    Q("dd16b_incr_capped", dd16bIncrCapped, Some(dd16Sql)),
    Q("dd10_passage_overlap", dd10PassageOverlap, Some(dd10Sql)),
    Q("q81_sorted_neighborhood", q81SortedNeighborhood, Some(q81Sql)),
    Q("dd11_passage_clusters", dd11PassageClusters, Some(dd11Sql)),
    Q("dd17_chunk_overlap", dd17ChunkOverlap, Some(dd17Sql)),
    Q("dd18_prefix_filter", dd18PrefixFilter, Some(dd18Sql)),
    Q("dd19_containment", dd19Containment, Some(dd19Sql)),
  )
}
