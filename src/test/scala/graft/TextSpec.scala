package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalacheck.Gen
import graft.text.{SpanDedup, TextStats}
import graft.queries.{Catalog, TextQueries}

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount / distinct / ttr on a known sentence") {
    val df = Seq("the cat and the hat").toDF("text")
    val r = df.select(
      TextStats.tokenCount($"text").as("n"),
      TextStats.distinctTokenCount($"text").as("nd"),
      round(TextStats.typeTokenRatio($"text"), 4).as("ttr")).first()
    assert(r.getInt(0) === 5)
    assert(r.getInt(1) === 4)
    assert(r.getDouble(2) === 0.8)
  }

  test("tokenization collapses whitespace runs and drops edge empties") {
    val df = Seq("  a  b\t c \n").toDF("text")
    assert(df.select(TextStats.tokenCount($"text")).first().getInt(0) === 3)
  }

  test("stopword ratio counts occurrences, not distinct hits") {
    val df = Seq("the the the word").toDF("text")
    val r = df.select(round(TextStats.stopwordRatio($"text"), 4)).first().getDouble(0)
    assert(r === 0.75)
  }

  test("punctRatio on mixed text") {
    val df = Seq("ab.,cd").toDF("text") // 2 punct / 6 chars
    val r = df.select(round(TextStats.punctRatio($"text"), 4)).first().getDouble(0)
    assert(r === 0.3333)
  }

  test("langId picks marker-majority language, first-listed wins ties, und on none") {
    val df = Seq(
      ("d1", "der hund und die katze ist da"),
      ("d2", "el perro y la casa es grande"),
      ("d3", "xyzzy plugh"),
      ("d4", "the la"), // 1 en hit vs 1 fr hit → en listed first
    ).toDF("id", "text")
    val got = df.select($"id", TextStats.langId($"text").as("l"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("d1") === "de")
    assert(got("d2") === "es")
    assert(got("d3") === "und")
    assert(got("d4") === "en")
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    val df = Seq(
      ("a", "Hello   World"),
      ("b", "hello world"),
      ("c", "hello worlds")).toDF("id", "text")
    val fps = df.select($"id", TextStats.fingerprint($"text").as("fp"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fps("a") === fps("b"))
    assert(fps("a") !== fps("c"))
  }

  test("bpePieces segments words, digit runs, and marks separately") {
    val df = Seq(("a", "GPT-4 costs $0.03/1k tokens!")).toDF("id", "text")
    val pieces = df.select(TextStats.bpePieces($"text").as("p"))
      .first().getSeq[String](0)
    assert(pieces === Seq("GPT", "-", "4", "costs", "$", "0", ".", "03",
      "/", "1", "k", "tokens", "!"))
    val n = df.select(TextStats.bpePieceCount($"text")).first().getInt(0)
    assert(n === 13)
  }

  test("quality score is within [0,1] on real documents") {
    val docs = Tables.documents(spark, Sf0001)
    val mm = docs.select(
      min(TextStats.qualityScore($"text")).as("lo"),
      max(TextStats.qualityScore($"text")).as("hi")).first()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
  }

  test("gated match count: 0 for whitespace-only text, NULL for NULL text (ADVICE r12)") {
    // The degenerate-arm contract every gated-count ORACLE must mirror:
    // a non-NULL but token-less document counts ZERO matches (the
    // aggregate's 0 seed over an empty array), while NULL text
    // propagates to NULL — DuckDB's bare list_sum yields NULL for BOTH,
    // so tx09's oracle wraps it in a toks-conditional coalesce. This
    // pin keeps the engine side of that contract from drifting.
    val df = Seq(("ws", " \t \n "), ("none", null.asInstanceOf[String]),
      ("hit", "mail a@b.co now")).toDF("id", "text")
    val pat = "[A-Za-z]+@[A-Za-z.]+\\.[A-Za-z]{2,}"
    val r = df.select($"id",
        TextStats.countMatchesTokenGated($"text", pat, 320).as("n"))
      .collect().map(x => x.getString(0) -> (if (x.isNullAt(1)) None else Some(x.getInt(1))))
      .toMap
    assert(r("ws") === Some(0))
    assert(r("none") === None)
    assert(r("hit") === Some(1))
  }

  test("span dedup: no cartesian anywhere; reassembly and span streams shuffle on hash keys") {
    val loops = PlanTree.nestedLoops(graft.text.SpanDedup
      .dedupSpans(Tables.documents(spark, Sf0001), window = 8))
    assert(loops.isEmpty, s"span dedup must stay linear — fingerprint joins only: $loops")
  }

  test("source contamination: shingle pairing is an equi-join on the 5-gram") {
    assert(PlanTree.cartesians(Catalog.queries("tx18_source_contamination")(spark, Sf0001)).isEmpty,
      "source-pair overlap must come from the inverted-index equi-join")
  }

  test("bigramNll: unigram vocab broadcasts; bigram table joins by shuffle") {
    val docs = Tables.documents(spark, Sf0001)
    val df = graft.text.TextStats.bigramNll(docs, "doc_id", "text")
    val joins = PlanTree.joins(df)
    assert(joins.exists(_.isInstanceOf[BroadcastHashJoinExec]), "unigram vocab join must broadcast")
    assert(joins.size >= 2, s"bigram LM join present: $joins")
    assert(PlanTree.cartesians(df).isEmpty)
  }

  test("mx09 mega-pipeline: no cartesian anywhere in the composed DAG") {
    val df = Catalog.queries("mx09_megapipeline")(spark, Sf0001)
    assert(PlanTree.cartesians(df).isEmpty,
      "the composed dedup→mix→pack plan must stay equi-join/broadcast only")
    // the contamination probe and the mixing-rate table ride as
    // broadcasts, not shuffles
    assert(PlanTree.joins(df).exists(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  test("mx10 sharding: every data window is partitioned; only the 1024-bucket histogram is global") {
    val df = Catalog.queries("mx10_shard_manifest")(spark, Sf0001)
    // at most one window operator (the bucket-histogram CDF) has an
    // empty partition spec
    val windows = PlanTree.windows(df)
    val global = windows.count(_.partitionSpec.isEmpty)
    assert(windows.nonEmpty, "expected window operators in the plan")
    assert(global <= 1,
      s"only the bounded histogram window may be global, found $global of ${windows.size}")
    assert(PlanTree.cartesians(df).isEmpty)
  }

  test("pack assignment: a doc belongs to the pack where its first token lands") {
    val docs = Seq(
      ("s", 1L, 300), ("s", 2L, 300), // doc2 starts at 300 → pack 0
      ("s", 3L, 10)                   // starts at 600 → pack 1
    ).toDF("source", "doc_id", "n_tokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val packed = docs.withColumn("cum", sum($"n_tokens").over(w))
      .withColumn("pack_id", floor(($"cum" - $"n_tokens") / lit(512)))
      .select($"doc_id", $"pack_id").as[(Long, Long)].collect().toMap
    assert(packed === Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("repetition: duplicated-bigram fraction on a known string") {
    // "a b a b a" → bigrams [a b, b a, a b, b a]: 4 total, 2 distinct → 0.5
    val r = Seq((1L, "a b a b a")).toDF("doc_id", "text")
      .select($"doc_id", graft.text.TextStats.tokens($"text").as("toks"))
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', slice(toks, i, 2)))")).as("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), countDistinct($"bg").as("nd"))
      .select(round(lit(1) - $"nd" / $"n", 4)).as[Double].head()
    assert(r === 0.5)
  }

  test("contamination query flags only docs sharing a full 5-gram with the benchmark set") {
    // Catalog-level smoke on real testdata: every flagged doc is outside
    // the benchmark id range and fractions are in (0, 1].
    val out = Catalog.queries("tx08_contamination")(spark, Sf0001)
    val rows = out.select($"doc_id", $"contamination").as[(Long, Double)].collect()
    assert(rows.forall { case (id, f) => id >= 25 && f > 0.0 && f <= 1.0 })
  }

  test("tfidf: a term present in every document gets zero score") {
    // three docs all containing 'x'; 'y' only in doc 1 → y outranks x there
    val docs = Seq((1L, "x y"), (2L, "x"), (3L, "x")).toDF("doc_id", "text")
    val toks = docs.select($"doc_id", graft.text.TextStats.tokens($"text").as("toks"))
    val terms = toks.select($"doc_id", size($"toks").as("len"), explode($"toks").as("t"))
    val df_ = terms.select("doc_id", "t").distinct().groupBy("t").agg(count(lit(1)).as("df"))
    val n = toks.count()
    val scored = terms.groupBy($"doc_id", $"len", $"t").agg(count(lit(1)).as("cnt"))
      .join(df_, "t")
      .withColumn("tfidf", ($"cnt" / $"len") * log(lit(n) / $"df"))
      .select($"doc_id", $"t", round($"tfidf", 6).as("s"))
      .as[(Long, String, Double)].collect()
    assert(scored.filter(_._2 == "x").forall(_._3 === 0.0), "ubiquitous term: idf = ln(1) = 0")
    assert(scored.find(r => r._1 == 1L && r._2 == "y").exists(_._3 > 0.0))
  }

  test("chunking: a doc of exactly window size splits into full + overlap-tail chunks") {
    // 128 tokens, window 128 / stride 96 → chunks at 1 (128 tokens) and 97 (32 tokens)
    val text = (1 to 128).map(i => s"w$i").mkString(" ")
    val out = Seq((1L, text)).toDF("doc_id", "text")
      .select($"doc_id", graft.text.TextStats.tokens($"text").as("toks"))
      .select($"doc_id", explode(expr("sequence(1, size(toks), 96)")).as("st"),
        $"toks")
      .select($"st", expr("size(slice(toks, st, 128))").as("n"))
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 128), (97L, 32)))
  }

  test("unigram NLL is positive and rarer-token docs score higher") {
    val out = Catalog.queries("tx11_unigram_nll")(spark, Sf0001)
      .select($"avg_nll").as[Double].collect()
    assert(out.nonEmpty && out.forall(_ > 0.0))
  }

  test("PII scan is token-gated: matches in blob tokens are skipped, not scanned") {
    import graft.text.TextStats
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    // a well-formed email INSIDE a >cap blob token: the gate must skip
    // it entirely — reverting to a full-text (or ungated per-token)
    // scan redacts it and turns this red. This is the semantic half of
    // the O(len²)-backtracking fix (RegexBlast, SCALE.md r12 s4); the
    // performance half is the probe itself.
    val blob = "x" * 400 + "hidden@inside.com"
    val docs = Seq(
      (1L, "mail me a@b.co today"),
      (2L, s"prefix $blob suffix"),
      (3L, "tabs\tand\n newlines a@b.co")).toDF("id", "text")
    val out = docs.select($"id",
      TextStats.countMatchesTokenGated($"text", emailRe, 320).as("n"),
      TextStats.replaceTokenGated($"text", Seq(emailRe -> "<EMAIL>"), 320).as("red"))
      .as[(Long, Int, String)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 1, "mail me <EMAIL> today")))
    assert(out(1)._2 === 0 && out(1)._3 === s"prefix $blob suffix")
    // whitespace runs normalize to single spaces in the redacted rejoin
    assert(out(2) === ((3L, 1, "tabs and newlines <EMAIL>")))
  }

  test("mix: every source keeps at most ~min-source-count docs and the smallest keeps all") {
    val out = Catalog.queries("mx02_mix")(spark, Sf0001)
      .select($"source", $"n_total", $"n_kept").as[(String, Long, Long)].collect()
    val minTotal = out.map(_._2).min
    // hash sampling is approximate: kept counts hover around min_total
    assert(out.forall { case (_, _, kept) => kept <= (minTotal * 1.5).toLong })
    val smallest = out.minBy(_._2)
    assert(smallest._3 === smallest._2) // rate 10000/10000 keeps everything
  }

  private val w = "w1 w2 w3 w4 w5 w6 w7 w8" // one full 8-token span

  test("dedupSpans drops cross-doc duplicated spans from EVERY doc, keeps order") {
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 a6 a7 a8 $w"),   // span0 unique, span1 shared
      (2L, s"$w b1 b2 b3 b4 b5 b6 b7 b8"),   // span0 shared, span1 unique
      (3L, "c1 c2 c3")                        // single short span, unique
    ).toDF("doc_id", "text")
    val r = SpanDedup.dedupSpans(docs, window = 8)
      .orderBy("doc_id").collect()
    assert(r.map(x => (x.getLong(0), x.getInt(1), x.getInt(2))).toSeq ===
      Seq((1L, 2, 1), (2L, 2, 1), (3L, 1, 1)))
    // reassembly preserves original span order: doc2 keeps ITS OWN
    // second span, so its cleaned fp is md5 of the b-span, not the w-span
    val fp2 = r(1).getString(3)
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest("b1 b2 b3 b4 b5 b6 b7 b8".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(fp2 === exp)
  }

  test("a doc whose every span is boilerplate keeps md5 of empty string") {
    val docs = Seq((1L, w), (2L, w)).toDF("doc_id", "text")
    val r = SpanDedup.dedupSpans(docs, window = 8).orderBy("doc_id").collect()
    assert(r.forall(_.getInt(2) == 0))
    assert(r.forall(_.getString(3) == "d41d8cd98f00b204e9800998ecf8427e"))
  }

  test("within-doc repetition alone is NOT removed (cross-doc criterion)") {
    val docs = Seq((1L, s"$w $w")).toDF("doc_id", "text")
    val r = SpanDedup.dedupSpans(docs, window = 8).collect()(0)
    assert(r.getInt(1) === 2 && r.getInt(2) === 2)
  }

  test("winnowed passageOverlap detects a shared >= w+k-1 token passage at ANY alignment") {
    val shared = (1 to 15).map(i => s"s$i").mkString(" ") // exactly w+k-1 = 15
    val docs = Seq(
      (1L, s"$shared " + (1 to 9).map(i => s"x$i").mkString(" ")),
      // same passage at offset 3 — a strided scheme would miss this;
      // winnowing's content-defined selection cannot
      (2L, (1 to 3).map(i => s"y$i").mkString(" ") + s" $shared"),
      (3L, (1 to 32).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val r = SpanDedup.passageOverlap(docs, k = 8, w = 8)
      .orderBy("doc_id").collect()
    assert(r(0).getInt(2) > 0, "doc1 must flag shared fingerprints")
    assert(r(1).getInt(2) > 0, "doc2 must flag shared fingerprints despite offset 3")
    assert(r(2).getInt(2) === 0, "doc3 shares nothing")
  }

  test("passageOverlap drops docs with no full gram window") {
    val docs = Seq((1L, "a b c"), (2L, (1 to 16).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val r = SpanDedup.passageOverlap(docs, k = 8, w = 8)
    assert(r.select("doc_id").as[Long].collect().toSeq === Seq(2L))
  }

  test("winnowing selects every-alignment minima: shifting the whole doc never changes fps") {
    // content-defined selection: the fingerprint SET of a passage is
    // invariant under any prefix — append 5 junk tokens and the
    // passage's selected hashes must still all appear
    val body = (1 to 40).map(i => s"b$i").mkString(" ")
    val docs = Seq((1L, body), (2L, "j1 j2 j3 j4 j5 " + body)).toDF("doc_id", "text")
    val sel = SpanDedup.passageOverlap(docs, k = 8, w = 8).orderBy("doc_id").collect()
    // every doc1 fingerprint comes from body ⇒ shared with doc2
    assert(sel(0).getInt(1) === sel(0).getInt(2),
      "all of doc1's fingerprints must be found in shifted doc2")
  }

  test("spanNovelty: copier scores 0, originator keeps 1, within-doc repeats stay novel") {
    val eight = "a b c d e f g h"
    val other = "p q r s t u v w"
    val docs = Seq(
      (1L, s"$eight $other"),    // originator of both spans → novelty 1.0
      (2L, eight),               // copies doc 1's first span → novelty 0.0
      (3L, s"$eight $eight"),    // copies doc 1 twice → 0.0 (cross-doc, not self)
      (4L, "x y z only four"),   // unique partial span → 1.0
    ).toDF("doc_id", "text")
    val m = SpanDedup.spanNovelty(docs, window = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m(1L) === ((2L, 2L, 1.0)))
    assert(m(2L) === ((1L, 0L, 0.0)))
    assert(m(3L) === ((2L, 0L, 0.0)))
    assert(m(4L) === ((1L, 1L, 1.0)))
  }

  test("quality percentile: pct_le is the exact CDF of rounded scores") {
    val out = Catalog.queries("tx17_quality_percentile")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.nonEmpty)
    val n = out.length.toDouble
    // recompute the CDF directly from the returned qualities
    out.foreach { case (_, q, pct) =>
      val expected = out.count(_._2 <= q) / n
      assert(math.abs(pct - math.round(expected * 1e4) / 1e4) < 1e-9,
        s"pct_le($q) = $pct, expected $expected")
    }
    // top score must have pct_le 1.0
    assert(out.maxBy(_._2)._3 === 1.0)
  }

  test("source contamination: shared 5-grams counted once per source pair") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tx18_").toString
    val shared = "one two three four five"
    Seq((1L, s"$shared alpha", "web", 0L), (2L, s"$shared beta", "web", 0L),
        (3L, s"$shared gamma", "api", 0L), (4L, "wholly unrelated text body here", "book", 0L))
      .toDF("doc_id", "text", "source", "n_chars")
      .withColumn("lang", lit("en"))
      .write.parquet(s"$dir/documents.parquet")
    val rows = Catalog.queries("tx18_source_contamination")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // the only cross-source shared shingle is the 5-gram "one..five"
    // (api↔web); book shares nothing with anyone
    assert(rows.toSeq === Seq(("api", "web", 1L)))
  }

  test("temperature mix: alpha weights up-sample the small source, sums are 1") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mx07_").toString
    (Seq.fill(16)("big") ++ Seq.fill(4)("small")).zipWithIndex
      .map { case (src, i) => (i.toLong, s"text $i", src, 0L) }
      .toDF("doc_id", "text", "source", "n_chars")
      .withColumn("lang", lit("en"))
      .write.parquet(s"$dir/documents.parquet")
    val m = Catalog.queries("mx07_temperature_mix")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(m("big") === ((16L, 0.8, 0.6667)))  // sqrt(16)/(4+2) = 2/3 @ 4dp
    assert(m("small") === ((4L, 0.2, 0.3333))) // sqrt(4)/6 = 1/3 @ 4dp
    assert(math.abs(m.values.map(_._3).sum - 1.0) < 1e-3) // 4dp rounding slack
  }

  test("curation funnel is monotone and its final stage equals the curated corpus") {
    val funnel = Catalog.queries("mx06_curation_funnel")(spark, Sf0001).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(funnel.keySet === (1 to 6).toSet)
    assert((1 to 5).forall(i => funnel(i) >= funnel(i + 1)), s"not monotone: $funnel")
    val curated = Catalog.queries("mx05_curation_pipeline")(spark, Sf0001).count()
    assert(funnel(6) === curated)
  }

  test("bigramNll: hand-computed interpolated probabilities on a two-doc corpus") {
    // corpus tokens: doc1 = [a b a], doc2 = [b b]  → N=5, cu(a)=2, cu(b)=3
    // bigrams: (a,b) (b,a) (b,b); cctx(a)=1, cctx(b)=2
    val docs = Seq((1L, "a b a"), (2L, "b b")).toDF("doc_id", "text")
    val out = graft.text.TextStats.bigramNll(docs, "doc_id", "text", lambda = 0.7)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val (pA, pB) = (2.0 / 5, 3.0 / 5)
    // doc1: p(a)=pA, p(b|a)=0.7*1/1+0.3*pB, p(a|b)=0.7*1/2+0.3*pA
    val d1 = -(math.log(pA) + math.log(0.7 + 0.3 * pB) + math.log(0.35 + 0.3 * pA)) / 3
    // doc2: p(b)=pB, p(b|b)=0.7*1/2+0.3*pB
    val d2 = -(math.log(pB) + math.log(0.35 + 0.3 * pB)) / 2
    assert(out(1L)._1 === 3L)
    assert(out(1L)._2 === math.round(d1 * 1e4) / 1e4)
    assert(out(2L)._1 === 2L)
    assert(out(2L)._2 === math.round(d2 * 1e4) / 1e4)
  }

  test("mx08 spends at most the token budget and keeps the best quality first") {
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"),
        round(graft.text.TextStats.qualityScore(col("text")), 4).as("q"),
        graft.text.TextStats.tokenCount(col("text")).cast("long").as("nt"))
      .filter(col("nt") > 0)
    val budget = docs.agg(floor(sum(col("nt")) / 2).cast("long")).first().getLong(0)
    val sel = queries.Catalog.queries("mx08_token_budget")(spark, Sf0001)
    val spent = sel.agg(sum(col("n_tokens"))).first().getLong(0)
    assert(spent <= budget, s"spent $spent > budget $budget")
    // greedy by quality: every unselected doc's quality is <= every
    // selected doc's quality EXCEPT inside the single boundary bucket
    val minSel = sel.agg(min(col("quality"))).first().getDouble(0)
    val violated = docs.join(sel.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .filter(col("q") > minSel).count()
    assert(violated == 0, s"$violated unselected docs above the selection floor")
    // boundary-bucket selection is a doc_id-order PREFIX (running sum
    // is monotone in n_tokens > 0): the first unselected floor-quality
    // doc must out-number every selected floor-quality doc's id
    val selFloorMax = sel.filter(col("quality") === minSel)
      .agg(max(col("doc_id"))).first()
    val unselFloorMin = docs.join(sel.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .filter(col("q") === minSel).agg(min(col("doc_id"))).first()
    if (!selFloorMax.isNullAt(0) && !unselFloorMin.isNullAt(0))
      assert(unselFloorMin.getLong(0) > selFloorMax.getLong(0))
  }

  test("decontaminateSpans excises BOTH spans when a benchmark 5-gram straddles the tile boundary") {
    import spark.implicits._
    import graft.text.SpanDedup
    // 16 tokens = two 8-token spans; the benchmark 5-gram sits at
    // positions 7..11, overlapping span 0 (tokens 1-8) and span 1
    // (tokens 9-16) — naive within-span matching would miss it entirely
    val w = (1 to 16).map(i => s"w$i")
    val contaminated = w.take(6) ++ Seq("alpha", "beta", "gamma", "delta", "epsilon") ++ w.drop(11)
    val corpus = Seq(
      (100L, contaminated.mkString(" ")),
      (101L, w.mkString(" "))). // clean: all 16 tokens survive
      toDF("doc_id", "text")
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val r = SpanDedup.decontaminateSpans(corpus, bench, window = 8, n = 5)
      .orderBy($"doc_id").collect()
    assert(r.map(x => (x.getLong(0), x.getInt(1), x.getInt(2))).toSeq ===
      Seq((100L, 2, 0), (101L, 2, 2)))
    // the clean doc's reassembly is its own text's fingerprint; the
    // fully-excised doc keeps md5("")
    val cleanFp = r(1).getString(3)
    val expectedClean = spark.sql(s"SELECT md5('${w.mkString(" ")}')").first().getString(0)
    assert(cleanFp === expectedClean)
    assert(r(0).getString(3) ===
      spark.sql("SELECT md5('')").first().getString(0))
  }

  test("decontaminateSpans with an empty benchmark is the identity") {
    import spark.implicits._
    import graft.text.SpanDedup
    val corpus = Seq((1L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = SpanDedup.decontaminateSpans(corpus, bench, window = 8, n = 5).collect()(0)
    assert((r.getInt(1), r.getInt(2)) === (2, 2))
    // reassembly of untouched spans is the whitespace-normalized text
    val expected = spark.sql(
      "SELECT md5('one two three four five six seven eight nine ten')")
      .first().getString(0)
    assert(r.getString(3) === expected)
  }

  test("tx20 CDC chunks survive a front insertion (fixed-width spans would not)") {
    import spark.implicits._
    def chunkFps(text: String) = {
      val toks = Seq(text).toDF("text")
        .select(posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("boundary",
          when(col("pos") === 0 ||
            graft.dedup.Dedup.md5Hash48(col("tok")) % 8 === 0, 1).otherwise(0))
      val wd = Window.orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, 0)
      toks.withColumn("chunk", sum(col("boundary")).over(wd))
        .groupBy(col("chunk"))
        .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok"))).as("body"))
        .select(col("body")).as[String].collect().toSet
    }
    val base = (1 to 120).map(i => s"w$i").mkString(" ")
    val shifted = "inserted " + base
    val a = chunkFps(base)
    val b = chunkFps(shifted)
    // everything after the first boundary re-synchronizes: the shifted
    // doc shares the vast majority of its chunks with the original
    val shared = a.intersect(b).size
    assert(shared >= a.size - 2, s"only $shared of ${a.size} chunks survived")
  }

  test("mx09: funnel is monotone per source through every gate, and packing conserves tokens") {
    val rows = Catalog.queries("mx09_megapipeline")(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getString(2))
    bySource.foreach { case (src, rs) =>
      val byStage = rs.map(r => r.getInt(0) -> (r.getLong(3), r.getLong(4))).toMap
      // stages 1-6 filter docs: counts and token mass both non-increasing
      (1 until 6).foreach { i =>
        for ((d1, t1) <- byStage.get(i); (d2, t2) <- byStage.get(i + 1)) {
          assert(d2 <= d1, s"$src: stage ${i + 1} docs grew ($d2 > $d1)")
          assert(t2 <= t1, s"$src: stage ${i + 1} tokens grew")
        }
      }
      // mixing downsamples the curated corpus
      for ((d6, t6) <- byStage.get(6); (d7, t7) <- byStage.get(7)) {
        assert(d7 <= d6 && t7 <= t6, s"$src: mixing must not add docs")
      }
      // packing regroups the mixed corpus: token mass conserved exactly,
      // pack count bounded by doc count and by the 512-token budget
      for ((d7, t7) <- byStage.get(7); (d8, t8) <- byStage.get(8)) {
        assert(t8 == t7, s"$src: packing must conserve tokens ($t8 != $t7)")
        assert(d8 >= 1 && d8 <= d7, s"$src: pack count $d8 outside [1, $d7]")
        assert(d8 <= t7 / 512 + 1, s"$src: more packs than the budget allows")
      }
    }
    // mixing equalizes: every source's mixed count is within rounding
    // (10000-bucket quantization) of the smallest curated source
    val mixedCounts = rows.filter(_.getInt(0) == 7).map(_.getLong(3))
    val minCurated = rows.filter(_.getInt(0) == 6).map(_.getLong(3)).min
    mixedCounts.foreach { m =>
      assert(m <= minCurated * 2 + 10, s"mixed count $m far above target $minCurated")
    }
  }

  test("mx10: manifest reconciles with the gated corpus; ids dense in [0, 8)") {
    val docs = Tables.documents(spark, Sf0001)
    val out = TextQueries.shardManifest(docs).collect()
    assert(out.nonEmpty && out.length <= 8)
    val ids = out.map(_.getLong(0))
    assert(ids.min == 0 && ids.max == ids.length - 1, "shard ids must be dense from 0")
    val gated = docs
      .select(col("doc_id"), graft.text.TextStats.qualityScore(col("text")).as("q"),
        graft.text.TextStats.tokenCount(col("text")).cast("long").as("n"))
      .filter(col("n") > 0 && col("q") >= 0.5)
    val (nDocs, nTokens) = {
      val r = gated.agg(count(lit(1)), sum(col("n"))).head
      (r.getLong(0), r.getLong(1))
    }
    assert(out.map(_.getLong(1)).sum == nDocs, "manifest must cover every gated doc")
    assert(out.map(_.getLong(2)).sum == nTokens, "manifest must cover every gated token")
    // size-bounded: no shard exceeds budget + the largest straddling doc
    val budget = (nTokens + 7) / 8
    val maxDoc = gated.agg(max(col("n"))).head.getLong(0)
    out.foreach { r =>
      assert(r.getLong(2) < budget + maxDoc,
        s"shard ${r.getLong(0)} holds ${r.getLong(2)} tokens > bound ${budget + maxDoc}")
    }
  }

  test("mx09b: the doc-level pack detail reconciles with mx09's funnel rows") {
    val detail = Catalog.queries("mx09b_pack_detail")(spark, Sf0001).collect()
    val funnel = Catalog.queries("mx09_megapipeline")(spark, Sf0001).collect()
    assert(detail.nonEmpty)
    val bySource = detail.groupBy(_.getString(0))
    // stage 7 (mixed): doc count and token mass; stage 8: pack count
    funnel.filter(_.getInt(0) == 7).foreach { r =>
      val rs = bySource(r.getString(2))
      assert(rs.length.toLong == r.getLong(3), s"${r.getString(2)}: mixed doc count")
      assert(rs.map(_.getLong(2)).sum == r.getLong(4), s"${r.getString(2)}: token mass")
    }
    funnel.filter(_.getInt(0) == 8).foreach { r =>
      val packs = bySource(r.getString(2)).map(_.getLong(3)).distinct.length
      assert(packs.toLong == r.getLong(3), s"${r.getString(2)}: pack count")
    }
    // packing integrity: within a source, pack ids start at 0 and are
    // non-decreasing in doc order with no gaps
    bySource.foreach { case (src, rs) =>
      val ids = rs.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(ids.head == 0L, s"$src: first pack must be 0")
      ids.sliding(2).foreach { case Array(a, b) =>
        assert(b == a || b == a + 1 || (b > a && ids.contains(b - 1)) || b >= a,
          s"$src: pack sequence must be non-decreasing")
        assert(b >= a, s"$src: pack id decreased")
      }
    }
  }

  test("mx11: appending a batch never touches shipped shards; ids continue densely") {
    val rows = Catalog.queries("mx11_incremental_shards")(spark, Sf0001).collect()
    val (e0, e1) = rows.partition(_.getInt(0) == 0)
    assert(e0.nonEmpty && e1.nonEmpty)
    // epoch-0 rows are byte-identical to a standalone mx10 layout of
    // the base corpus — shipped shards are immutable under append
    val docs = Tables.documents(spark, Sf0001)
    val standalone = TextQueries
      .shardManifest(docs.filter(col("doc_id") < 400)).collect()
    assert(e0.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq ==
      standalone.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq,
      "epoch-0 manifest must not change when a batch is appended")
    // shard ids: dense in epoch 0, continuing without overlap in epoch 1
    val ids0 = e0.map(_.getLong(1)); val ids1 = e1.map(_.getLong(1))
    assert(ids0.max + 1 == ids1.min, "batch shards continue from the shipped max")
    assert((ids0 ++ ids1).distinct.length == rows.length, "no shard id reuse")
  }

  test("mx10: manifest is invariant to input partitioning and row order") {
    val docs = Tables.documents(spark, Sf0001)
    val base = TextQueries.shardManifest(docs).collect().toSeq
    val repart = TextQueries.shardManifest(docs.repartition(7)).collect().toSeq
    val shuffled = TextQueries
      .shardManifest(docs.orderBy(col("text"))).collect().toSeq
    assert(base == repart, "repartitioned input must yield an identical manifest")
    assert(base == shuffled, "row order must not change the manifest")
  }

  test("spanNovelty conserves: Σ n_novel ≥ distinct fingerprints; novelty ∈ [0,1]") {
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val docGen = Gen.listOfN(20, wordGen).map(_.mkString(" "))
    val docs = samples(docGen, 40, 42L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = graft.text.SpanDedup.spanNovelty(docs, window = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (nSpans, nNovel, nov) =>
      assert(nNovel >= 0 && nNovel <= nSpans)
      assert(nov >= 0.0 && nov <= 1.0)
    }
    // every distinct fingerprint is novel at least once (in its first
    // doc; more if that doc repeats the span internally)
    val distinctFps = graft.text.SpanDedup
      .spans(docs, 4).select($"span_fp").distinct().count()
    assert(out.map(_._2).sum >= distinctFps)
  }

  test("shardManifest covers every gated doc exactly and respects the token bound") {
    val doc = for {
      id <- Gen.chooseNum(0L, 100000L)
      words <- Gen.chooseNum(51, 80) // length-quality floor => gate passes
    } yield (id, Seq.fill(words)("the word alpha beta gamma").mkString(" "))
    samples(Gen.listOfN(30, doc), 4, 842L).foreach { docs0 =>
      val docs = docs0.distinctBy(_._1)
      val df = docs.toDF("doc_id", "text")
      val out = TextQueries.shardManifest(df).collect()
      val total = out.map(_.getLong(2)).sum
      val nDocs = out.map(_.getLong(1)).sum
      assert(nDocs == docs.size, s"covered $nDocs of ${docs.size}")
      val budget = (total + 7) / 8
      val maxDoc = docs.map(_._2.split("[ \\t\\n\\f\\r]+").count(_.nonEmpty).toLong).max
      out.foreach { r =>
        assert(r.getLong(2) < budget + maxDoc,
          s"shard ${r.getLong(0)} exceeds bound")
      }
      assert(out.map(_.getLong(0)).distinct.length == out.length)
    }
  }

  test("wordGrams: grams in position order; docs shorter than n and NULL text yield none") {
    val docs = Seq((1L, "a b c d"), (2L, "x y"), (3L, null)).toDF("doc_id", "text")
      .select($"doc_id", TextStats.tokens($"text").as("toks"))
    val grams = TextStats.wordGrams(docs, 3, Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._2).toSeq
    assert(grams === Seq((1L, 1, "a b c"), (1L, 2, "b c d")))
  }
}
