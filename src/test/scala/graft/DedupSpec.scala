package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.LongType
import graft.dedup.Dedup
import graft.queries.Catalog

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE  quick   brown fox jumps over the lazy dog"), // exact dup of 1 modulo case/ws
    (3L, "the quick brown fox jumps over the lazy cat"),    // near dup of 1
    (4L, "completely different words in this one entirely distinct"),
  ).toDF("doc_id", "text")

  test("exactGroups: normalized dups share canonical id; distinct docs do not") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    assert(g(1L) === ((1L, 2L, 0)))
    assert(g(2L) === ((1L, 2L, 1))) // dup of 1
    assert(g(3L)._2 === 1L)
    assert(g(4L)._2 === 1L)
  }

  test("dedupAgainstCorpus drops corpus dups and self-dups, keeps fresh canonicals") {
    val corpus = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "ALPHA  beta gamma"),        // dup of corpus doc 1 → dropped
      (11L, "totally new content here"), // fresh
      (12L, "Totally NEW content here"), // self-dup of 11 → 11 kept
      (13L, "another fresh document"),
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstCorpus(incoming, corpus, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(11L, 13L))
  }

  test("shingles: count and content for 3-grams") {
    val sh = Dedup.withShingles(docs.filter($"doc_id" === 1), "doc_id", "text", 3)
      .select($"sh")
      .first().getSeq[String](0)
    assert(sh.length === 7) // 9 tokens → 7 shingles, all distinct here
    assert(sh.contains("the quick brown"))
    assert(sh.contains("the lazy dog"))
  }

  test("jaccardPairs: near-dup pair found, unrelated pair absent") {
    // shingling is case-sensitive by design — normalization (lower) is
    // the caller's composition step, as with fingerprint()
    val pairs = Dedup.jaccardPairs(docs.withColumn("text", lower($"text")),
      "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L))) // normalized-identical → jaccard 1.0...
    assert(keys.contains((1L, 3L)))
    assert(!keys.exists { case (a, b) => b == 4L || a == 4L })
    val j12 = pairs.find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(math.abs(j12 - 1.0) < 1e-9)
  }

  test("simHash: identical docs get identical hashes; near dups are close in hamming") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val h = Dedup.simHash(docs.withColumn("text", lower($"text")), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hamming(h(1L), h(3L)) < hamming(h(1L), h(4L)))
  }

  test("minhash LSH finds high-jaccard pairs at sf0.001 (recall vs exact)") {
    val real = Tables.documents(spark, Sf0001)
    val exact = Dedup.jaccardPairs(real, "doc_id", "text", n = 3, threshold = 0.8)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minHashCandidatePairs(real, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every ≥0.8-jaccard pair should be an LSH candidate (8 bands × 4
    // rows: P(collide | j=0.8) = 1-(1-0.8^4)^8 ≈ 0.98; empirical set is
    // tiny so require full recall)
    assert(exact.nonEmpty, "fixture has no high-jaccard pairs to test recall on")
    val missed = exact -- cand
    assert(missed.isEmpty, s"LSH missed: $missed")
  }

  test("duplicateClusters: min-label components over a hand-built pair graph") {
    // components: {1,2,3} (chain 1-2, 2-3), {7,9}, and a 3-hop chain
    // {10,11,12,13} that needs >1 propagation round to converge
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L),
      (10L, 11L), (11L, 12L), (12L, 13L)).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
    assert(out.schema.map(f => (f.name, f.dataType, f.nullable)) === Seq(
      ("doc_id", LongType, false), ("cluster_id", LongType, false), ("cluster_size", LongType, false)))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (9L, 7L, 2L),
      (10L, 10L, 4L), (11L, 10L, 4L), (12L, 10L, 4L), (13L, 10L, 4L)))
  }

  test("duplicateClusters: NULL ids label from their neighbours but never propagate") {
    // SQL join equality: a NULL id takes min(its non-NULL neighbours) as
    // its label, but no label crosses a NULL endpoint in either
    // direction, and every NULL endpoint is the same single node
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (None, Some(3L)),
      (None, Some(9L)), (Some(9L), None), (Some(7L), None), (None, None),
      (Some(10L), Some(11L))).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
    assert(out.schema.map(f => (f.name, f.dataType, f.nullable)) === Seq(
      ("doc_id", LongType, true), ("cluster_id", LongType, true), ("cluster_size", LongType, false)))
    val got = out.collect().map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(2))).toSet
    assert(got === Set[(Option[Any], Option[Any], Long)](
      (Some(1L), Some(1L), 3L), (Some(2L), Some(1L), 3L), (Some(3L), Some(1L), 3L),
      (None, Some(3L), 1L), (Some(9L), Some(9L), 1L), (Some(7L), Some(7L), 1L),
      (Some(10L), Some(10L), 2L), (Some(11L), Some(10L), 2L)))
    // a component of NULLs alone has a NULL label
    val nulls = Seq[(Option[Long], Option[Long])]((None, None)).toDF("doc_a", "doc_b")
    assert(Dedup.duplicateClusters(nulls, "doc_a", "doc_b").collect().toSeq
      .map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(2))) === Seq((None, None, 1L)))
  }

  test("duplicateClusters: string ids take the UTF-8 byte-order minimum") {
    // U+FFFF sorts before U+1F600 in UTF-8 bytes (EF.. < F0..) but after
    // it in UTF-16 code units (FFFF > D83D): Spark's min is the former
    val (bmp, astral) = ("\uFFFF", "\uD83D\uDE00")
    val pairs = Seq((astral, bmp), (astral, "\uD83D\uDE01")).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs, "doc_a", "doc_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((bmp, bmp, 3L), (astral, bmp, 3L), ("\uD83D\uDE01", bmp, 3L)))
  }

  test("duplicateClusters: a measured constant plus one Spark job per propagation round") {
    // a path 0-1-…-m is labelled one hop deep at label₀, so min-label
    // propagation needs m − 1 rounds of decreases and one confirming
    // round: m rounds, each decided by one count
    def jobsFor(m: Int): Int = {
      val path = (0L until m.toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      jobsDuring {
        val got = Dedup.duplicateClusters(path, "doc_a", "doc_b").collect()
        assert(got.length === m + 1 && got.forall(r => r.getLong(1) == 0L && r.getLong(2) == m + 1L))
      }
    }
    val counts = Seq(1, 3, 6).map(jobsFor)
    // 3 = the distinct-edges stage run by `.rdd`, then the output
    // window's exchange and result stages
    assert(counts === Seq(1, 3, 6).map(_ + 3), s"jobs for 1/3/6 rounds: $counts")
  }

  test("duplicateClusters: date, timestamp and widened mixed-width ids; other id types are rejected") {
    val d = Seq((java.sql.Date.valueOf("2024-01-02"), java.sql.Date.valueOf("2024-01-01")))
      .toDF("doc_a", "doc_b")
    assert(Dedup.duplicateClusters(d, "doc_a", "doc_b").collect()
      .map(r => (r.getDate(0).toString, r.getDate(1).toString)).toSet ===
      Set(("2024-01-01", "2024-01-01"), ("2024-01-02", "2024-01-01")))
    val t = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00.000002"),
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00.000001"))).toDF("doc_a", "doc_b")
    assert(Dedup.duplicateClusters(t, "doc_a", "doc_b").collect().map(_.getTimestamp(1)).toSet ===
      Set(java.sql.Timestamp.valueOf("2024-01-01 00:00:00.000001")))
    val mixed = Seq((3, 2L), (2, 1L)).toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(mixed, "doc_a", "doc_b")
    assert(out.schema("doc_id").dataType === LongType)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 1L), (2L, 1L), (3L, 1L)))
    Seq("double" -> lit(1.5), "binary" -> lit(Array[Byte](1))).foreach { case (name, v) =>
      val e = intercept[IllegalArgumentException](Dedup.duplicateClusters(
        spark.range(1).select(v.as("doc_a"), v.as("doc_b")), "doc_a", "doc_b"))
      assert(e.getMessage.toLowerCase.contains(name), e.getMessage)
    }
  }

  test("connectedComponentsStars: O(log n) rounds, agrees with propagation") {
    // same graph as the propagation test → identical output contract
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L),
      (10L, 11L), (11L, 12L), (12L, 13L)).toDF("doc_a", "doc_b")
    val stars = Dedup.connectedComponentsStars(pairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val prop = Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stars === prop)
  }

  test("stars and propagation agree on random graphs (seeded sweep)") {
    // randomized cross-validation of the two independent CC
    // implementations: any disagreement is a bug in one of them
    for (seed <- Seq(7, 21, 1042)) {
      val rnd = new scala.util.Random(seed)
      val n = 24
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("doc_a", "doc_b")
      val stars = Dedup.connectedComponentsStars(pairs, "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val prop = Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(stars === prop, s"seed $seed: stars and propagation disagree")
    }
  }

  test("duplicateClusters survives a component deeper than maxIter (star fallback)") {
    // a 61-node path has diameter 60: min-label moves one hop per
    // round, so the 25-round fast path cannot converge and must fall
    // through to large-star/small-star — which wraps it up in O(log n)
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(chain, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 61)
    assert(got.forall { case (_, cid, size) => cid == 0L && size == 61L })
  }

  test("duplicateClusters' star fallback keeps NULL endpoints and self-loop nodes") {
    // the 61-node chain forces the not-converged branch; the NULL
    // endpoint and the self-loop node beside it must come out exactly
    // as the converged path labels the same two edges on their own
    val extra = Seq[(Option[Long], Option[Long])]((Some(100L), None), (Some(200L), Some(200L)))
    val chain = (0L until 60L).map(i => (Option(i), Option(i + 1)))
    def rows(pairs: Seq[(Option[Long], Option[Long])]) =
      Dedup.duplicateClusters(pairs.toDF("doc_a", "doc_b"), "doc_a", "doc_b").collect()
        .map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(2))).toSet
    val alone = rows(extra)
    assert(alone === Set[(Option[Any], Option[Any], Long)](
      (Some(100L), Some(100L), 2L), (None, Some(100L), 2L), (Some(200L), Some(200L), 1L)))
    val both = rows(chain ++ extra)
    assert(both.filter(_._2 != Some(0L)) === alone)
    assert(both.count(r => r._2 == Some(0L) && r._3 == 61L) === 61)
  }

  test("keepCanonical drops non-canonical members, passes unclustered docs") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "z")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L, 2L), (2L, 1L, 2L)).toDF("doc_id", "cluster_id", "cluster_size")
    val kept = Dedup.keepCanonical(docs, "doc_id", clusters)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 9L))
  }

  test("cosinePairs threshold boundary behavior") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)),   // cos(1,2)=1
      (3L, Array(0.0f, 1.0f)),   // orthogonal
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.cosinePairs(emb, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((1L, 2L)))
  }

  test("minHashCuratedCorpus: exact dups collide and drop; sub-threshold near-dups survive") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      // identical token stream (extra whitespace only) → identical
      // shingles → identical signature → guaranteed band collision;
      // jaccard 1.0 passes verification → dropped as non-canonical
      (2L, "alpha  beta   gamma delta epsilon zeta"),
      // shares a prefix but mostly different: even if banding proposes
      // it, exact verification rejects below threshold 0.9 → kept
      (3L, "alpha beta gamma completely different tail words here"),
      (4L, "unrelated content with nothing shared at all okay"),
    ).toDF("doc_id", "text")
    val kept = Dedup.minHashCuratedCorpus(d, "doc_id", "text", threshold = 0.9)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 3L, 4L))
  }

  test("minHashDedupAgainstCorpus drops verified corpus near-dups, keeps fresh docs") {
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha  beta gamma delta epsilon zeta eta theta"), // identical tokens → dropped
      (11L, "totally different content with no shared shingles anywhere here"),
      (12L, "short"), // < 3 tokens: no shingles, can never be a dup → kept
    ).toDF("doc_id", "text")
    val kept = Dedup.minHashDedupAgainstCorpus(incoming, corpus, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(11L, 12L))
  }

  test("curateByQuality keeps the highest-quality cluster member, passes singletons") {
    val d = Seq(
      (1L, "short"),                                            // cluster {1,2}: low quality
      (2L, "the quick brown fox jumps over the lazy dog today"), // higher quality → kept
      (3L, "lone document with no duplicates at all"),           // singleton → kept
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val kept = Dedup.curateByQuality(d, pairs, "doc_id",
        graft.text.TextStats.qualityScore(col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(kept === Seq((2L, 1L), (3L, 3L))) // 2 kept under cluster-id 1 (min member id)
  }

  test("curateByQuality breaks exact quality ties on doc_id") {
    val d = Seq((5L, "same text here"), (6L, "same text here")).toDF("doc_id", "text")
    val pairs = Seq((5L, 6L)).toDF("doc_a", "doc_b")
    val kept = Dedup.curateByQuality(d, pairs, "doc_id",
        graft.text.TextStats.qualityScore(col("text")))
      .collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(5L))
  }

  test("semanticDedup: leader kept, near-dups dropped, cross-cell dups untouched") {
    // centroids at x-axis and y-axis → cells 0 and 1
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val emb = Seq(
      (1L, Array(10.0f, 0.1f)),  // cell 0, closest to centroid → leader
      (2L, Array(10.0f, 0.2f)),  // cell 0, cosine with 1 ≈ 1 → dropped
      (3L, Array(5.0f, 4.0f)),   // cell 0, cosine with 1 ≈ 0.78 < τ → kept
      (4L, Array(0.1f, 10.0f)),  // cell 1: same direction as 2 is irrelevant cross-cell
      (5L, Array(0.2f, 10.0f)),  // cell 1, near-dup of 4 → dropped
    ).toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding", cents, threshold = 0.9)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 3L, 4L))
  }

  test("semanticDedup is invariant under repartitioning") {
    val cents = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0))
    val rnd = new scala.util.Random(7)
    val emb = (0L until 60L).map { i =>
      (i, Array.fill(3)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val a = Dedup.semanticDedup(emb, "vec_id", "embedding", cents, 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
    val b = Dedup.semanticDedup(emb.repartition(13), "vec_id", "embedding", cents, 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
    assert(a === b)
    assert(a.nonEmpty && a.size < 60) // something kept, something dropped
  }

  /** Adversarial corpus for the r12 byte-identical collapse: every case
    * where a careless collapse would diverge from the pairwise path.
    */
  private val blastCorpus = Seq(
    // exact triple (byte-identical, shingle-able): the boilerplate case
    (1L, "alpha beta gamma delta epsilon common tail words"),
    (2L, "alpha beta gamma delta epsilon common tail words"),
    (3L, "alpha beta gamma delta epsilon common tail words"),
    // near-dup of the triple's text (distinct bytes, jaccard ≈ 0.86):
    // bridges into the cluster only through the pairwise path
    (4L, "alpha beta gamma delta epsilon common tail words extra"),
    // exact pair of a different text, no external near-dups: a cluster
    // purely by identity — must survive as (6 kept, 7 dropped)
    (6L, "zeta eta theta iota kappa lambda sentinel text"),
    (7L, "zeta eta theta iota kappa lambda sentinel text"),
    // unrelated singleton
    (8L, "completely unrelated content nothing shared here at all"),
    // identical SHORT docs — below the shingle gate: the pairwise path
    // never pairs them, so BOTH must pass through (collapsing them
    // would wrongly drop doc 10)
    (9L, "two tokens"), (10L, "two tokens"),
    // NULL and empty text: non-shingleable pass-throughs
    (11L, null.asInstanceOf[String]), (12L, ""),
    // case variants at jaccard 0 (single differing shingle): the
    // normalized fingerprint would merge these, raw-byte md5 must not —
    // both survive independently
    (13L, "red green blue"), (14L, "RED green blue"),
  ).toDF("doc_id", "text")

  test("collapseIdenticalTexts: reps + pass-throughs, never short/NULL docs") {
    val c = Dedup.collapseIdenticalTexts(blastCorpus, "doc_id", "text", minTokens = 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(c === Seq(1L, 4L, 6L, 8L, 9L, 10L, 11L, 12L, 13L, 14L))
  }

  test("exact-first keepCanonical ≡ uncollapsed formulation on the adversarial corpus") {
    def keepSet(input: org.apache.spark.sql.DataFrame): Set[Long] = {
      val pairs = Dedup.jaccardPairs(input, "doc_id", "text", n = 3, threshold = 0.5)
      Dedup.keepCanonical(input, "doc_id",
          Dedup.duplicateClusters(pairs, "doc_a", "doc_b"))
        .select("doc_id").as[Long].collect().toSet
    }
    val collapsed = keepSet(
      Dedup.collapseIdenticalTexts(blastCorpus, "doc_id", "text", minTokens = 3))
    val uncollapsed = keepSet(blastCorpus)
    assert(collapsed === uncollapsed)
    // and both match the hand-derived expectation: cluster {1,2,3,4}
    // keeps 1; identity cluster {6,7} keeps 6; everything else passes
    assert(collapsed === Set(1L, 6L, 8L, 9L, 10L, 11L, 12L, 13L, 14L))
  }

  test("exact-first curateByQuality ≡ uncollapsed formulation (rows incl. quality)") {
    // quality read boxed, not getDouble: NULL-text docs (11/12) carry a
    // NULL quality through both formulations, and set equality must
    // cover them rather than throw on the unbox
    def rowsBoxed(input: org.apache.spark.sql.DataFrame): Set[(Long, Long, Any)] = {
      val pairs = Dedup.jaccardPairs(input, "doc_id", "text", n = 3, threshold = 0.5)
      Dedup.curateByQuality(input, pairs, "doc_id",
          graft.text.TextStats.qualityScore(col("text")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet
    }
    val collapsed = rowsBoxed(
      Dedup.collapseIdenticalTexts(blastCorpus, "doc_id", "text", minTokens = 3))
    assert(collapsed === rowsBoxed(blastCorpus))
    // doc 4 wins cluster {1,2,3,4}: its extra token nudges the length
    // term (9/50 vs 8/50 → quality 0.472 vs 0.464) — the quality rule
    // genuinely diverges from dd09's min-id rule on this corpus, which
    // is exactly why the equivalence must hold PER RULE, not per set
    assert(collapsed.map(_._1) === Set(4L, 6L, 8L, 9L, 10L, 11L, 12L, 13L, 14L))
  }

  test("jaccardClustersExactFirst ≡ uncollapsed duplicateClusters (members + sizes)") {
    val direct = Dedup.duplicateClusters(
        Dedup.jaccardPairs(blastCorpus, "doc_id", "text", n = 3, threshold = 0.5),
        "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exactFirst = Dedup.jaccardClustersExactFirst(blastCorpus, "doc_id", "text",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exactFirst === direct)
    assert(exactFirst === Set(
      (1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L),
      (6L, 6L, 2L), (7L, 6L, 2L)))
  }

  test("collapse passes NULL-id rows through individually (join-dropped in the pairwise path)") {
    // In the uncollapsed path every id-keyed join/anti-join drops
    // NULL-id rows, so a NULL-id doc survives keepCanonical no matter
    // how many identical copies exist; the collapse must reproduce
    // that — never merge NULL-id rows, never elect one as rep.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("text", StringType, nullable = true)))
    val rows = java.util.Arrays.asList(
      Row(1L, "alpha beta gamma delta shared body"),
      Row(5L, "alpha beta gamma delta shared body"),
      Row(null, "alpha beta gamma delta shared body"),
      Row(null, "alpha beta gamma delta shared body"))
    val docs = spark.createDataFrame(rows, schema)
    val collapsed = Dedup.collapseIdenticalTexts(docs, "doc_id", "text", minTokens = 3)
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    // rep 1 for the {1,5} group; both NULL-id copies pass through
    assert(collapsed.sortBy(_.getOrElse(-1L)) === Seq(None, None, Some(1L)))
    // and no all-NULL phantom row: text survives on every output row
    assert(Dedup.collapseIdenticalTexts(docs, "doc_id", "text", minTokens = 3)
      .filter(col("text").isNull).count() === 0L)
  }

  test("collapse keeps BOTH pass-through rows sharing a duplicate non-NULL id (ADVICE r12)") {
    // The uncollapsed pairwise path never pairs sub-gate docs, so two
    // short docs that happen to share a (corrupt, duplicated) id both
    // survive it. Keying pass-throughs on their id would min_by-merge
    // them into one row; the rowid keying must keep both — including
    // when their TEXTS differ, where a merge would also pick an
    // arbitrary survivor text.
    val docs = Seq(
      (9L, "two tokens"), (9L, "other short"),
      (1L, "alpha beta gamma delta epsilon common tail words"),
      (2L, "alpha beta gamma delta epsilon common tail words"),
    ).toDF("doc_id", "text")
    val out = Dedup.collapseIdenticalTexts(docs, "doc_id", "text", minTokens = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(out === Seq((1L, "alpha beta gamma delta epsilon common tail words"),
      (9L, "other short"), (9L, "two tokens")))
  }

  test("star-capped LSH: subset candidates, same curated output on a near-dup blast") {
    // The NearDupBlast class (r13): K near-identical copies — same
    // body, one unique trailing session token — share virtually every
    // shingle, defeat the byte-identical collapse (distinct md5s), and
    // flood every band bucket, so exact candidate generation is O(K²).
    // The star cap must (1) only ever REMOVE candidates (star pairs are
    // a subset of the bucket's full pairs), and (2) keep the curated
    // output identical here, because every star edge verifies and the
    // component stays connected through the bucket minimum.
    val base = (1 to 12).map(i => s"word$i").mkString(" ")
    val corpus = ((0 until 30).map(i => (100L + i, s"$base sid$i")) ++ Seq(
      (500L, "totally different content about nothing shared with others"),
      (501L, "another unrelated standalone document sitting right here"))).toDF("doc_id", "text")
    val exact = Dedup.minHashCandidatePairs(corpus, "doc_id", "text")
    val capped = Dedup.minHashCandidatePairs(corpus, "doc_id", "text",
      starCapBucketSize = 4)
    assert(capped.exceptAll(exact).isEmpty, "capped candidates must be a subset")
    val exactN = exact.count()
    val cappedN = capped.count()
    // 30-copy cluster: full pairs ≈ 435; the star arm collapses every
    // oversized bucket to K−1 rows (observed 65 vs 432 — the cluster
    // splits across a few buckets per band when the sid token wins a
    // minhash min, and sub-cap buckets legitimately stay exact)
    assert(exactN > 400L && cappedN < exactN / 3, s"exact=$exactN capped=$cappedN")
    def kept(cap: Int): Set[Long] =
      Dedup.minHashCuratedCorpus(corpus, "doc_id", "text",
          starCapBucketSize = cap)
        .select("doc_id").as[Long].collect().toSet
    assert(kept(4) === kept(Int.MaxValue))
    assert(kept(4).contains(100L) && !kept(4).contains(129L)) // min survives the cluster
    assert(kept(4).contains(500L) && kept(4).contains(501L))
  }

  test("star cap one-sided error: never drops a doc the exact path keeps (seeded sweep)") {
    // The cap's provable safety direction: star candidates are a
    // SUBSET of exact candidates, fewer verified edges can only SPLIT
    // connected components, and a split part keeps its own minimum —
    // so any doc the capped path drops has a smaller verified near-dup
    // in its (larger) exact component and is dropped there too. The
    // cap errs exclusively toward KEEPING (a bounded recall loss in
    // dedup terms), never toward a wrong drop. Swept over seeded
    // random corpora that mix planted near-dup families (shared body,
    // per-member mutations at both ends), short pass-throughs, and
    // unrelated noise docs, with an aggressive cap so both star and
    // exact buckets occur.
    for (seed <- Seq(7L, 23L)) {
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 40).map(i => s"tok$i")
      def sentence(n: Int): String =
        Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val families = (0 until 6).flatMap { f =>
        val body = sentence(10 + rnd.nextInt(6))
        (0 until 3 + rnd.nextInt(6)).map { m =>
          val mutated =
            if (rnd.nextBoolean()) s"$body fam${f}m$m" else s"fam${f}m$m $body"
          (1000L * f + m, mutated)
        }
      }
      val noise = (0 until 25).map(i => (9000L + i, sentence(8 + rnd.nextInt(8))))
      val shorts = (0 until 5).map(i => (9900L + i, s"short $i"))
      // byte-identical groups alongside the near-identical families: a
      // real crawl carries BOTH pathologies at once, and the shipping
      // composition chains the exact-first collapse before the capped
      // LSH — the invariant must survive the full chain
      val exactDups = (0 until 3).flatMap { g =>
        val body = sentence(12)
        (0 until 4).map(m => (8000L + 10 * g + m, body))
      }
      val corpus = (families ++ noise ++ shorts ++ exactDups).toDF("doc_id", "text")
      val exactKept = Dedup.minHashCuratedCorpus(corpus, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      val cappedKept = Dedup.minHashCuratedCorpus(corpus, "doc_id", "text",
          starCapBucketSize = 3)
        .select("doc_id").as[Long].collect().toSet
      assert(exactKept.subsetOf(cappedKept),
        s"seed=$seed: capped path dropped exact-kept docs ${exactKept -- cappedKept}")
      // full shipping chain: collapse byte-identical first, then capped
      // LSH. Collapse only removes docs the exact path also drops
      // (jaccard-1 non-min members), and exact-on-collapsed ≡ exact-on-
      // raw is pinned above — so the composition inherits the same
      // one-sided guarantee.
      val chainKept = Dedup.minHashCuratedCorpus(
          Dedup.collapseIdenticalTexts(corpus, "doc_id", "text"),
          "doc_id", "text", starCapBucketSize = 3)
        .select("doc_id").as[Long].collect().toSet
      assert(exactKept.subsetOf(chainKept),
        s"seed=$seed: collapse+cap chain dropped exact-kept docs ${exactKept -- chainKept}")
    }
  }

  test("corpus bucket cap: two-sided flood keeps the exact set; default exact; degenerate reject") {
    // The IngestBlast regime (r14): a near-identical family on BOTH
    // sides of minHashDedupAgainstCorpus makes the band join emit
    // K_in × K_c candidates (measured: 1,001,000 at K=1000, 29 s exact
    // vs 1.8 s capped, byte-identical output — SCALE.md). The cap
    // bounds each corpus bucket at its smallest member ids; on a
    // genuine family every kept member verifies like any other, so the
    // kept incoming set is unchanged.
    val body = (1 to 12).map(i => s"word$i").mkString(" ")
    val corpus = ((0 until 30).map(i => (900L + i, s"$body sid$i")) :+
      ((950L, "some other store document holding its own content entirely"))).toDF("doc_id", "text")
    val incoming = ((0 until 20).map(i => (800L + i, s"$body tid$i")) :+
      ((850L, "entirely novel incoming words sharing nothing with the store"))).toDF("doc_id", "text")
    def kept(cap: Int): Set[Long] =
      Dedup.minHashDedupAgainstCorpus(incoming, corpus, "doc_id", "text",
          corpusBucketCap = cap)
        .select("doc_id").as[Long].collect().toSet
    assert(kept(Int.MaxValue) === Set(850L)) // the whole incoming family is store-dup
    assert(kept(4) === Set(850L))
    assert(kept(Int.MaxValue) === kept(4))
    intercept[IllegalArgumentException] { kept(0) }
  }

  test("corpus bucket cap one-sided: never drops an incoming doc the exact path keeps (seeded)") {
    // Same provable direction as the star cap: capped candidates ⊆
    // exact candidates, fewer verified matches → fewer DROPS, so the
    // capped kept set is a superset — a kept duplicate is the only
    // error class, never a wrongly-dropped novel doc. Swept over
    // seeded corpora that split planted near-dup families across the
    // store and the incoming batch, with an aggressive cap.
    for (seed <- Seq(11L, 29L)) {
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 40).map(i => s"tok$i")
      def sentence(n: Int): String =
        Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val fams = (0 until 6).map { f =>
        val body = sentence(10 + rnd.nextInt(6))
        val members = (0 until 4 + rnd.nextInt(5)).map { m =>
          val mutated =
            if (rnd.nextBoolean()) s"$body fam${f}m$m" else s"fam${f}m$m $body"
          (1000L * f + m, mutated)
        }
        // some families live only in the store, some only incoming,
        // some straddle the boundary
        members.splitAt(rnd.nextInt(members.size + 1))
      }
      val corpus = (fams.flatMap(_._1) ++
        (0 until 15).map(i => (8000L + i, sentence(8 + rnd.nextInt(8))))).toDF("doc_id", "text")
      val incoming = (fams.flatMap(_._2) ++
        (0 until 15).map(i => (9000L + i, sentence(8 + rnd.nextInt(8))))).toDF("doc_id", "text")
      def kept(cap: Int): Set[Long] =
        Dedup.minHashDedupAgainstCorpus(incoming, corpus, "doc_id", "text",
            corpusBucketCap = cap)
          .select("doc_id").as[Long].collect().toSet
      val exact = kept(Int.MaxValue)
      val capped = kept(2)
      assert(exact.subsetOf(capped),
        s"seed=$seed: capped corpus gate dropped exact-kept docs ${exact -- capped}")
    }
  }

  test("star cap default is the exact path; degenerate caps are rejected") {
    val docs = Seq((1L, "alpha beta gamma delta shared body"),
      (2L, "alpha beta gamma delta shared body extra")).toDF("doc_id", "text")
    val a = Dedup.minHashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.minHashCandidatePairs(docs, "doc_id", "text",
        starCapBucketSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
    intercept[IllegalArgumentException] {
      Dedup.minHashCandidatePairs(docs, "doc_id", "text", starCapBucketSize = 1)
        .count()
    }
  }

  // ── giant-MIXED-bucket witness machinery ──────────────────────────
  // Shared by the witness test below and its rotated-seed counterpart
  // (VERDICT r14 #4). Plain-Scala replica of the library's exact hash
  // chain (md5h48 → mod p → positional shingle fold → affine rows), so
  // the construction can't silently drift from the shipped arithmetic.
  private val WitP = 2147483647L
  private def witTokHash(t: String): Long =
    graft.functions.HashKernels.hash48(t.getBytes("UTF-8")) % WitP
  private def witShingleSet(toks: Seq[String]): Set[Long] = {
    val C = Dedup.ShingleMixer
    toks.map(witTokHash).sliding(3)
      .map(w => ((w(0) * C + w(1)) % WitP * C + w(2)) % WitP).toSet
  }
  private def witSignature(sh: Set[Long], seed: Long = 42L): Seq[Long] =
    Dedup.minHashCoeffs(32, seed).map { case (a, b) =>
      sh.iterator.map(s => (s * a + b) % WitP).min }

  /** The constructed giant-MIXED-bucket witness corpus: 12 mutually-
    * dissimilar docs forced onto ONE full 32-row signature (hence one
    * bucket in ALL 8 bands) by a searched dominator prefix, with a
    * planted true pair (105, 107) off the bucket minimum. Exploits
    * that a doc's signature is the per-row MIN over its shingle
    * hashes: a shared prefix whose shingles achieve an extremely
    * small affine value in every one of the 32 rows (under the
    * DEFAULT banding seed 42 — the rotated-seed test below is exactly
    * about this dependence) forces every doc containing it to the
    * same signature, while large private suffixes keep pairwise
    * Jaccard well below threshold. Lazy: the 4M-sample dominator
    * search (~1-2 s of long arithmetic, deterministic) runs once and
    * serves both tests. Construction validity is ASSERTED here — (a)
    * the dominator holds (no private shingle beat any row), (b) the
    * Jaccard structure is exactly one above-threshold pair, off the
    * minimum — so both consuming tests start from a checked fact.
    */
  private lazy val mixedBucketWitness
      : (Seq[Long], Map[Long, Seq[String]], Seq[Long], Seq[String]) = {
    val P = WitP
    val C = Dedup.ShingleMixer
    val coeffs = Dedup.minHashCoeffs(32).toArray
    // Search: 4M random token triples from a 20k pool; keep each row's
    // argmin triple. Expected per-row minimum ≈ p/4M ≈ 540, so the ~800
    // private shingles below beat a dominator row with probability
    // ≈ 32·800·540/2³¹ ≈ 0.6% — and the assertion underneath makes the
    // outcome a checked fact, not a probability.
    val rnd = new java.util.Random(20260815L)
    val pool = Array.tabulate(20000)(i => s"w$i")
    val poolH = pool.map(witTokHash)
    val bestVal = Array.fill(32)(Long.MaxValue)
    val bestTriple = Array.fill(32)(0)
    val samples = 4000000
    val sampleIdx = new Array[Int](3 * samples)
    java.util.Arrays.setAll(sampleIdx, (_: Int) => rnd.nextInt(pool.length))
    var i = 0
    while (i < samples) {
      val x = sampleIdx(3 * i); val y = sampleIdx(3 * i + 1); val z = sampleIdx(3 * i + 2)
      val s = ((poolH(x) * C + poolH(y)) % P * C + poolH(z)) % P
      var r = 0
      while (r < 32) {
        val v = (s * coeffs(r)._1 + coeffs(r)._2) % P
        if (v < bestVal(r)) { bestVal(r) = v; bestTriple(r) = i }
        r += 1
      }
      i += 1
    }
    val prefix: Seq[String] = bestTriple.distinct.toSeq.flatMap(i =>
      Seq(pool(sampleIdx(3 * i)), pool(sampleIdx(3 * i + 1)), pool(sampleIdx(3 * i + 2))))
    val domSig = witSignature(witShingleSet(prefix))

    // 12 docs (> cap 8), ids 100..111: shared dominator prefix + 70
    // private tokens each (disjoint per-doc vocabularies), so shared
    // prefix shingles / union stays well under the 0.5 threshold for
    // every pair — EXCEPT the planted true pair: doc 107 = doc 105
    // plus one trailing token (Jaccard ≈ n/(n+1)). Neither 105 nor 107
    // is the bucket minimum (100), so the pair is a NON-STAR candidate.
    val ids = (100L to 111L).toSeq
    def priv(j: Long): Seq[String] = (0 until 70).map(k => s"p${j}x$k")
    val toksOf: Map[Long, Seq[String]] = ids.map { j =>
      j -> (j match {
        case 107L => prefix ++ priv(105L) :+ "plantedextra"
        case _    => prefix ++ priv(j)
      })
    }.toMap

    toksOf.foreach { case (id, toks) =>
      assert(witSignature(witShingleSet(toks)) === domSig,
        s"doc $id: a private shingle beat a dominator row — widen the search")
    }
    def jac(a: Set[Long], b: Set[Long]): Double =
      a.intersect(b).size.toDouble / a.union(b).size
    for (a <- ids; b <- ids if a < b) {
      val j = jac(witShingleSet(toksOf(a)), witShingleSet(toksOf(b)))
      if ((a, b) == ((105L, 107L))) assert(j >= 0.9, s"planted pair j=$j")
      else assert(j < 0.45, s"pair ($a,$b) unexpectedly similar: j=$j")
    }
    (ids, toksOf, domSig, prefix)
  }

  test("giant MIXED bucket witness: the cap's one documented loss, constructed (VERDICT r13 #3)") {
    // The star cap's only approximation class — "a band bucket of
    // mutually-dissimilar docs where non-star true pairs are never
    // generated" — previously had no constructible witness. See
    // mixedBucketWitness above for the construction and its checked
    // validity; this test drives the SPARK side against it.
    val (ids, toksOf, domSig, _) = mixedBucketWitness
    val corpus = ids.map(j => (j, toksOf(j).mkString(" "))).toDF("doc_id", "text")
    // Spark agrees with the replica: one distinct signature across the
    // corpus, and it IS the dominator signature
    val sigRows = Dedup.minHashSignatures(corpus, "doc_id", "text")
      .drop("doc").distinct().collect()
    assert(sigRows.length === 1, "all docs must share one full signature")
    assert((0 until 32).map(k => sigRows.head.getLong(k)) === domSig)

    // capped candidates are stars only: (bucket min, member) — the
    // planted pair is generated by the exact arm but NOT the capped arm
    val capped = Dedup.minHashCandidatePairs(corpus, "doc_id", "text",
        starCapBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === ids.filter(_ != 100L).map(j => (100L, j)).toSet)
    val exact = Dedup.minHashCandidatePairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((105L, 107L)) && !capped.contains((105L, 107L)))

    // the quantified end-to-end loss: exact curation drops the planted
    // pair's non-canonical member; the capped run misses exactly that
    // one drop — and stays a superset (the one-sided guarantee holds
    // even on its own worst case)
    def kept(cap: Int): Set[Long] =
      Dedup.minHashCuratedCorpus(corpus, "doc_id", "text",
          starCapBucketSize = cap)
        .select("doc_id").as[Long].collect().toSet
    val exactKept = kept(Int.MaxValue)
    val cappedKept = kept(8)
    assert(exactKept === ids.toSet - 107L)
    assert(cappedKept === ids.toSet)
    assert(exactKept.subsetOf(cappedKept))
  }

  test("rotated banding seed denies the MIXED-bucket witness (VERDICT r14 #4)") {
    // The scaladoc's seed-knowledge claim, as a checked fact instead of
    // prose: the witness's dominator prefix was SEARCHED against the
    // default banding seed's 32 affine rows, so under any other seed
    // its shingles are no longer per-row minima and the whole
    // construction collapses. Re-run the SAME corpus under a rotated
    // seed and assert each leg of the collapse: (a) the dominator
    // property breaks — docs no longer share one signature (under a
    // fresh seed a private shingle wins some row of some doc with
    // overwhelming probability: P[all 32 rows of all 12 docs keep a
    // shared minimum] ≈ (94/958)³² — and the assertion makes it a fact
    // for THIS seed, not a probability); (b) the giant all-band bucket
    // is gone, so the planted pair's candidate reappears even WITH the
    // cap engaged (its Jaccard ≈ 0.99 re-buckets it together in ~all
    // bands, now of ordinary size); (c) capped curation equals exact
    // curation — the cap's one loss class needs the seed, rotating it
    // restores exactness on the adversarial corpus itself.
    val (ids, toksOf, _, prefix) = mixedBucketWitness
    val corpus = ids.map(j => (j, toksOf(j).mkString(" "))).toDF("doc_id", "text")
    val rot = 20260815L // any seed ≠ the searched-against default 42

    // sanity: the replica agrees the dominator fails under `rot` —
    // some doc's rotated signature differs from the prefix-only one
    // (prefix comes from the shared construction, not re-derived from
    // a token-naming convention — review r15)
    val rotPrefixSig = witSignature(witShingleSet(prefix), seed = rot)
    assert(ids.exists(id => witSignature(witShingleSet(toksOf(id)), seed = rot) != rotPrefixSig),
      "rotated seed: dominator unexpectedly survived in the replica")

    // (a) Spark: >1 distinct full signature across the corpus
    val distinctSigs = Dedup.minHashSignatures(corpus, "doc_id", "text", seed = rot)
      .drop("doc").distinct().count()
    assert(distinctSigs > 1L,
      "rotated seed: all docs still share one signature — the witness should be seed-bound")

    // (b) the planted pair is a candidate again, cap engaged
    val capped = Dedup.minHashCandidatePairs(corpus, "doc_id", "text",
        seed = rot, starCapBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((105L, 107L)),
      "rotated seed: planted pair still suppressed by the cap")

    // (c) capped kept set = exact kept set: both drop the planted
    // pair's non-canonical member (and nothing else — the other docs
    // are mutually dissimilar, any other candidate fails verification)
    def kept(cap: Int): Set[Long] =
      Dedup.minHashCuratedCorpus(corpus, "doc_id", "text",
          seed = rot, starCapBucketSize = cap)
        .select("doc_id").as[Long].collect().toSet
    val exactKept = kept(Int.MaxValue)
    assert(kept(8) === exactKept)
    assert(exactKept === ids.toSet - 107L)
  }

  test("dd16b shared-oracle premise tripwire: shipped shards' corpus band buckets never exceed the cap (ADVICE r15)") {
    // dd16b_incr_capped reuses dd16's oracle SQL UNCHANGED on a
    // measured data property: with corpusBucketCap = 8, the capped
    // candidate set is byte-identical to the exact one precisely when
    // no corpus-side (doc_id < 400) band bucket holds more than 8
    // members — measured largest is 2 at sf0.01 (the driver's gate
    // scale) and 1 at sf0.1 (the cross-scale closure). That premise
    // silently depends on the testdata GENERATOR: a regenerated shard
    // growing a giant corpus bucket would flip the driver's hash gate
    // red (or mask a cap-induced recall change) with nothing
    // attributing the failure. This pin makes the regeneration fail
    // HERE with a named cause instead. Same banding parameters as
    // DedupQueries.dd16Chain (defaults: n=3, bands=8, rowsPerBand=4,
    // seed=42). Adjudication rule on trip: the cap's error is
    // ONE-SIDED toward keeping (capped candidates ⊆ exact → fewer
    // drops, never a wrong drop) — see FIXTURES.md's dd16b section
    // before touching the code.
    val cap = queries.DedupQueries.Dd16bCorpusCap // one constant, no desync on retune
    for (dir <- Seq(Sf001, Sf01)) {
      val corpus = Tables.documents(spark, dir).filter($"doc_id" < 400)
      val maxBucket = Dedup.bandedSignatureKeys(corpus, "doc_id", "text")
        .groupBy($"band", $"band_key").count()
        .agg(max($"count")).as[Long].collect().head
      info(s"$dir: largest corpus-side band bucket = $maxBucket (cap $cap)")
      assert(maxBucket <= cap,
        s"$dir: largest dd16 corpus-side band bucket has $maxBucket members, over " +
          s"dd16b's cap of $cap — the shared-oracle premise is stale (testdata " +
          "regeneration?); re-adjudicate via FIXTURES.md's one-sided recall rule " +
          "before changing dd16b or its oracle")
    }
  }

  test("dd14b shared-oracle premise tripwire: shipped shards' collapsed band buckets never exceed the star cap") {
    // The dd16b tripwire's symmetric twin for the WITHIN-corpus cap:
    // dd14b_minhash_star reuses dd14's oracle SQL UNCHANGED because
    // with starCapBucketSize = 64, the capped candidate set equals the
    // exact one when no band bucket of the COLLAPSED corpus (dd14Chain
    // runs collapseIdenticalTexts first, so byte-identical families
    // are one member) holds more than 64 docs — the shipped shards'
    // largest is single digits. A testdata regeneration growing a
    // giant bucket would flip the driver's hash gate with nothing
    // attributing the failure; this pin names the cause. Same chain
    // parameters as DedupQueries.dd14Chain (collapse minTokens=3;
    // banding defaults n=3, bands=8, rowsPerBand=4, seed=42).
    // Adjudication on trip mirrors dd16b's FIXTURES.md rule, with
    // dd14's own extra margin: even an over-cap bucket keeps set
    // equality when its members are genuine near-dups (every star
    // edge verifies; the blast pin at K=4000) — only the adversarial
    // giant-MIXED class (requires the banding seed) diverges, and
    // one-sidedly toward keeping.
    val cap = queries.DedupQueries.Dd14bStarCap // one constant, no desync on retune
    for (dir <- Seq(Sf001, Sf01)) {
      val collapsed = Dedup.collapseIdenticalTexts(
        Tables.documents(spark, dir), "doc_id", "text", minTokens = 3)
      val maxBucket = Dedup.bandedSignatureKeys(collapsed, "doc_id", "text")
        .groupBy($"band", $"band_key").count()
        .agg(max($"count")).as[Long].collect().head
      info(s"$dir: largest collapsed band bucket = $maxBucket (cap $cap)")
      assert(maxBucket <= cap,
        s"$dir: largest collapsed band bucket has $maxBucket members, over dd14b's " +
          s"star cap of $cap — the shared-oracle premise is stale (testdata " +
          "regeneration?); re-adjudicate via FIXTURES.md's one-sided recall rule " +
          "before changing dd14b or its oracle")
    }
  }

  test("exact-first minHashCuratedCorpus ≡ uncollapsed on the adversarial corpus") {
    def keep(input: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup.minHashCuratedCorpus(input, "doc_id", "text",
          n = 3, bands = 8, rowsPerBand = 4, threshold = 0.5)
        .select("doc_id").as[Long].collect().toSet
    val collapsed = keep(
      Dedup.collapseIdenticalTexts(blastCorpus, "doc_id", "text", minTokens = 3))
    assert(collapsed === keep(blastCorpus))
    assert(collapsed.contains(1L) && !collapsed.contains(2L) && !collapsed.contains(7L))
  }

  test("sorted-neighborhood pairing is an equi-join, never a nested-loop over blocks") {
    import org.apache.spark.sql.functions.expr
    // the rank-window range condition MUST be folded into the join key
    // (blk, rn+offset): expressed as a post-join filter instead, every
    // block degenerates to block² Levenshtein evaluations — measured
    // 40 s vs 0.6 s at sf0.1 before this shape was pinned
    val loops = PlanTree.nestedLoops(graft.dedup.Dedup.sortedNeighborhoodPairs(
        Tables.part(spark, Sf0001), "p_partkey", "p_name",
        expr("split_part(p_name, ' ', 1)"), window = 2, maxDist = 2))
    assert(loops.isEmpty, s"neighborhood join must be hash/merge, not nested-loop: $loops")
  }

  test("semanticDedup: within-cell pairing is an equi-join on cell, never a cartesian") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val df = graft.dedup.Dedup
      .semanticDedup(emb, "vec_id", "embedding", centroids, 0.35)
    assert(PlanTree.nestedLoops(df).isEmpty, s"cell pairing must be a hash join on cell id")
    // centroid assignment is literal arithmetic on the scan — the
    // corpus is read once for the ranked side and once for its join
    // mirror, never per centroid
    val scans = PlanTree.scans(df).size
    assert(scans <= 3, s"expected <= 3 parquet scans, found $scans")
  }

  test("curateByQuality: argmax window sorts only cluster members, not the corpus") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, Sf0001)
    val pairs = graft.dedup.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val df = graft.dedup.Dedup.curateByQuality(docs, pairs, "doc_id",
      graft.text.TextStats.qualityScore(col("text")))
    // the Window operator must sit above the (small) cluster-member
    // join, not above a full documents scan: its child subtree joins
    // quality onto cluster labels first
    val windows = PlanTree.windows(df)
    assert(windows.nonEmpty, "expected a window for the per-cluster argmax")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty && w.find(_.isInstanceOf[BaseJoinExec]).isDefined,
        s"the argmax window must be per cluster, over the member join:\n$w")
    }
    assert(PlanTree.cartesians(df).isEmpty)
  }

  test("incremental minhash dedup: cross-side band join only, never a cartesian") {
    val docs = Tables.documents(spark, Sf0001)
    val loops = PlanTree.nestedLoops(graft.dedup.Dedup.minHashDedupAgainstCorpus(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 400),
        docs.filter(org.apache.spark.sql.functions.col("doc_id") < 400),
        "doc_id", "text"))
    assert(loops.isEmpty, s"incremental dedup must stay banded/hash-joined: $loops")
  }

  test("dd18 prefix filter: index and verify stages are equi-joins, no cartesian") {
    val loops = PlanTree.nestedLoops(Catalog.queries("dd18_prefix_filter")(spark, Sf0001))
    assert(loops.isEmpty,
      s"set-similarity must never degrade to all-pairs; candidate generation " +
        s"must stay an equi-join on the shingle key: $loops")
  }

  test("dd01 exact dedup: one fingerprint shuffle feeds one window") {
    // the canonical plan (Dedup.exactGroups): fingerprint projection,
    // one exchange on fp, one window computing the group's min id and
    // size per row — no join-back, no cartesian, no nested-loop
    val df = Catalog.queries("dd01_exact_dedup")(spark, Sf0001)
    assert(PlanTree.nestedLoops(df).isEmpty)
    val fpShuffles = PlanTree.exchangesOn(df, "fp")
    assert(fpShuffles.size == 1, s"expected exactly one fingerprint exchange: $fpShuffles")
    assert(PlanTree.windows(df).size == 1,
      s"expected exactly one Window node: ${PlanTree.windows(df)}")
  }
}
