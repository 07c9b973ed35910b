package graft.tools

import org.apache.spark.sql.functions._
import graft.{Bench, SparkSpec, Tables}
import graft.dedup.Dedup
import graft.text.TextStats

/** Pins the r12 scale-probe regimes against drift (VERDICT r12 #5):
  * the [[Shards]] regimes dup / skew / giant / regex (first built by
  * the retired DupBlast / SkewBlast / GiantDocBlast / RegexBlast tools,
  * SCALE.md "Blast regimes") encoded that round's scale verdicts
  * (collapse kills the O(K²) boilerplate term, hot-key windows are
  * linear, giant docs are linear, the PII token gate changes no match
  * set) but nothing re-ran them — a future edit
  * to the collapse or the gate could silently regress the regime they
  * certified. One cheap smoke per probe, asserting the STRUCTURAL
  * property at the smallest blast size — never wall-time, which
  * belongs to the `graft.tools.Blast` probe.
  */
class ProbeSmokeSpec extends SparkSpec {
  import spark.implicits._

  private def inTempShard(prefix: String)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir) finally graft.SparkSpec.deleteRecursively(dir)
  }

  test("DupBlast regime: the byte-identical collapse absorbs exactly the K blast copies") {
    inTempShard("graft_smoke_dup_") { dir =>
      Shards.dup(spark, Sf0001, dir, k = 100)
      val blasted = Tables.documents(spark, dir)
      val base = Tables.documents(spark, Sf0001)
      assert(blasted.count() === base.count() + 100)
      // The property the dup regime certified: K identical copies collapse
      // into the replicated original's min-id rep BEFORE any pairwise
      // stage — so the collapsed shard has exactly the collapsed base's
      // row count, and no blast id (≥ 900000) survives as a rep.
      val collapsed = Dedup.collapseIdenticalTexts(blasted, "doc_id", "text", minTokens = 3)
      assert(collapsed.filter(col("doc_id") >= 900000L).count() === 0L)
      assert(collapsed.count() ===
        Dedup.collapseIdenticalTexts(base, "doc_id", "text", minTokens = 3).count())
    }
  }

  test("NearDupBlast regime: distinct-byte copies defeat the collapse; star cap keeps output") {
    inTempShard("graft_smoke_neardup_") { dir =>
      Shards.neardup(spark, Sf0001, dir, k = 100)
      val docs = Tables.documents(spark, dir)
      // The regime's premise: every blast copy has distinct bytes (one
      // unique session token), so the byte-identical collapse passes
      // ALL of them through — the quadratic candidate pressure the
      // probe measures is real, not absorbed upstream.
      val collapsed = Dedup.collapseIdenticalTexts(docs, "doc_id", "text", minTokens = 3)
      assert(collapsed.filter(col("doc_id") >= 900000L).count() === 100L)
      // And the star cap's contract on this shard: identical curated
      // output to the exact candidate set, from a strict subset of
      // candidates (the structural property behind the 297s -> 5.4s
      // K=4000 receipt in SCALE.md).
      def keptIds(cap: Int): Set[Long] =
        graft.dedup.Dedup.minHashCuratedCorpus(collapsed, "doc_id", "text",
            n = 3, bands = 8, rowsPerBand = 4, threshold = 0.5,
            starCapBucketSize = cap)
          .select("doc_id").as[Long].collect().toSet
      assert(keptIds(16) === keptIds(Int.MaxValue))
    }
  }

  test("IngestBlast regime: two-sided family candidates are quadratic; corpus cap keeps output") {
    // The r14 cross-store regime at smoke scale, on the retired
    // IngestBlast probe's shape (the real longest sf0.001 doc, K mutated
    // copies on BOTH sides): the band join's candidate law is
    // (K_in)·(K_c) for the family — the quadratic pressure is real —
    // and the corpus bucket cap must keep the verdicts identical (the
    // structural property behind the 29 s → 1.8 s K=1000 receipt,
    // SCALE.md "Round-14, session 3").
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    val body = docs.orderBy(length(col("text")).desc).limit(1)
      .select(col("text")).first().getString(0)
    val k = 40
    val corpus = docs.unionByName(
      spark.range(k.toLong).select((col("id") + 900000L).as("doc_id"),
        concat(lit(body + " sid"), col("id").cast("string")).as("text")))
    val incoming = spark.range(k.toLong)
      .select((col("id") + 800000L).as("doc_id"),
        concat(lit(body + " tid"), col("id").cast("string")).as("text"))
      .unionByName(spark.range(1).select(lit(810000L).as("doc_id"),
        lit("entirely novel content with no shared shingles anywhere here today").as("text")))
    val bIn = Dedup.bandedSignatureKeys(incoming, "doc_id", "text")
      .toDF("in_doc", "band", "band_key")
    val bC = Dedup.bandedSignatureKeys(corpus, "doc_id", "text")
      .toDF("c_doc", "band", "band_key")
    val exactCand = bIn.join(bC, Seq("band", "band_key"))
      .select(col("in_doc"), col("c_doc")).distinct().count()
    assert(exactCand >= k.toLong * k, s"quadratic law at smoke scale: $exactCand")
    def keptIds(cap: Int): Set[Long] =
      Dedup.minHashDedupAgainstCorpus(incoming, corpus, "doc_id", "text",
          corpusBucketCap = cap)
        .select("doc_id").as[Long].collect().toSet
    assert(keptIds(8) === keptIds(Int.MaxValue))
    assert(keptIds(8) === Set(810000L)) // only the novel doc survives
  }

  test("RegexBlast regime: the PII token gate changes no match set on adversarial text") {
    inTempShard("graft_smoke_regex_") { dir =>
      Shards.regex(spark, Sf0001, dir, n = 1000)
      val docs = Tables.documents(spark, dir)
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+1-555-[0-9]{4}"
      // Gate vs effectively-ungated (cap far above every token): the
      // gate exists ONLY to bound Java's O(len²) backtracking on class
      // runs — the match SET must be identical, because the PII classes
      // exclude whitespace and the adversarial `a@bbb…` token never
      // completes a match. At n=1000 the ungated arm is still cheap.
      val huge = 1 << 20
      val cap = graft.queries.TextQueries.MaxPiiTokenChars
      val diff = docs.select(col("doc_id"),
          TextStats.countMatchesTokenGated(col("text"), emailRe, cap).as("g_email"),
          TextStats.countMatchesTokenGated(col("text"), emailRe, huge).as("u_email"),
          TextStats.replaceTokenGated(col("text"),
            Seq(emailRe -> "<EMAIL>", phoneRe -> "<PHONE>"), cap).as("g_red"),
          TextStats.replaceTokenGated(col("text"),
            Seq(emailRe -> "<EMAIL>", phoneRe -> "<PHONE>"), huge).as("u_red"))
        .filter(!(col("g_email") <=> col("u_email")) || !(col("g_red") <=> col("u_red")))
      assert(diff.count() === 0L)
      // and the shipping query sees the blast row with its aug counts:
      // aug prepends user900000@example.com + (900000%3==0) admin@test.org
      // and one +1-555-0000 phone; the adversarial token contributes 0
      val row = graft.SparkEntry.queries("tx09_pii_redact")(spark, dir)
        .filter(col("doc_id") === 900000L).first()
      assert(row.getInt(row.fieldIndex("n_email")) === 2)
      assert(row.getInt(row.fieldIndex("n_phone")) === 1)
    }
  }

  test("SkewBlast regime: the blast stays inside the event span and on the hot user") {
    inTempShard("graft_smoke_skew_") { dir =>
      Shards.skew(spark, Sf0001, dir, k = 2000)
      val base = Tables.events(spark, Sf0001)
      val blasted = Tables.events(spark, dir)
      assert(blasted.count() === base.count() + 2000)
      // No spine growth: the probe's linearity verdicts for the
      // gap-fill family hold ONLY because synthetic timestamps are
      // jittered inside the existing global [min, max] span.
      val b = base.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).first()
      val s = blasted.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).first()
      assert(b.getTimestamp(0) === s.getTimestamp(0))
      assert(b.getTimestamp(1) === s.getTimestamp(1))
      // every synthetic row lands on ONE user (the hot-key shape)
      assert(blasted.filter(col("event_id") >= 900000L)
        .select(countDistinct(col("user_id"))).first().getLong(0) === 1L)
      // and the headline window query still runs over the skewed shard
      assert(graft.SparkEntry.queries("q62_sessionize")(spark, dir).count() > 0L)
    }
  }

  test("GiantDocBlast regime: the giant doc is token-exact and flows through per-doc stats") {
    inTempShard("graft_smoke_giant_") { dir =>
      // generator contract first: exactly T whitespace tokens, mostly
      // distinct (the "worst honest case for n-gram volume" claim)
      val txt = Shards.giantText(2000)
      val toks = Seq(txt).toDF("text")
        .select(TextStats.tokens(col("text")).as("t"))
        .select(size(col("t")).as("n"), size(array_distinct(col("t"))).as("d")).first()
      assert(toks.getInt(0) === 2000)
      assert(toks.getInt(1) > 1800) // ~100k vocab at T=2000 → few repeats
      Shards.giant(spark, Sf0001, dir, t = 2000)
      val giant = graft.SparkEntry.queries("tx01_token_stats")(spark, dir)
        .filter(col("doc_id") === 900000L).first()
      assert(giant.getInt(giant.fieldIndex("n_tokens")) === 2000)
      // streamed n-gram shape: the giant doc contributes at most T−2
      // hashed trigram shingles (distinct), and mostly-distinct vocab
      // keeps it near that ceiling — the linear-volume invariant
      val grams = Dedup.hashedShingleRows(
          Tables.documents(spark, dir).filter(col("doc_id") === 900000L),
          "doc_id", "text", n = 3).count()
      assert(grams <= 1998L && grams > 1700L)
    }
  }

  test("regimes derive from a Spark-written shard: every copied table keeps its rows") {
    // a dup-built shard's documents and embeddings are directories of
    // part files; each regime built on top of it copies every table it
    // does not rewrite, so a copy that drops the part files shows here
    inTempShard("graft_smoke_derive_") { base =>
      val dup = s"$base/dup"
      Shards.dup(spark, Sf0001, dup, k = 10)
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$dup/documents.parquet")))
      def rows(dir: String, t: String): Long = Shards.load(spark, dir, t).count()
      val builds = Seq[(String, String => Unit, Set[String])](
        ("skew", Shards.skew(spark, dup, _, 100), Set("events")),
        ("regex", Shards.regex(spark, dup, _, 100), Set("documents")),
        ("giant", Shards.giant(spark, dup, _, 100), Set("documents")),
        ("chaos", ChaosSmoke.build(spark, dup, _), Set("documents", "embeddings", "events")))
      for ((name, build, rewritten) <- builds) {
        val dir = s"$base/$name"
        build(dir)
        for (t <- Shards.tables.filterNot(rewritten))
          assert(rows(dir, t) === rows(dup, t), s"$name: copied table $t")
      }
    }
  }

  test("forced evaluation reports a throw in a pruned output column; count() does not") {
    // under ANSI the only output column divides by zero: count() prunes
    // the projection and succeeds, the forced hash must run it and fail
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    def frame = spark.range(3).select((col("id") / lit(0)).as("q"))
    assert(frame.count() === 3L)
    val (_, res) = Bench.force(frame)
    assert(res.isLeft && res.left.exists(_.contains("DIVIDE_BY_ZERO")), res)
  }
}
