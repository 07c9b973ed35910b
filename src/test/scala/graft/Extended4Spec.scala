package graft

import org.apache.spark.sql.functions._
import graft.queries.{Catalog, EventQueries}

/** Edge semantics for the round-4 operators: sessionization gap
  * boundaries, funnel ordering, packing arithmetic, repetition and
  * contamination fractions, and mixing-rate invariants.
  */
class Extended4Spec extends SparkSpec {
  import spark.implicits._

  test("sessionize: gap exactly at the threshold stays in-session; one past splits") {
    // user 1: events at 0, 1800s (== gap), 3600s+1us (gap 1800s+1us → split)
    val e = Seq(
      (1L, 1L, 0L),
      (1L, 2L, 1800000000L),
      (1L, 3L, 3600000001L)).toDF("user_id", "event_id", "us")
    val out = EventQueries.sessionize(e, gapUs = 1800000000L)
      .select($"session_seq", $"n_events").as[(Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L), (2L, 1L)))
  }

  test("sessionize: simultaneous events tie-break on event_id and never split") {
    val e = Seq((7L, 10L, 500L), (7L, 11L, 500L), (7L, 12L, 500L))
      .toDF("user_id", "event_id", "us")
    val out = EventQueries.sessionize(e, gapUs = 1L)
      .select($"session_seq", $"n_events", $"span_sec").as[(Long, Long, Double)]
      .collect().toSeq
    assert(out === Seq((1L, 3L, 0.0)))
  }

  test("funnel: stages only count events strictly after the previous stage") {
    // q63 semantics distilled: a click BEFORE the first view must not convert.
    val e = Seq(
      (1L, "click", 10L), (1L, "view", 20L),                     // click too early
      (2L, "view", 10L), (2L, "click", 30L), (2L, "purchase", 40L),
      (3L, "view", 10L), (3L, "click", 10L)                      // same instant: not strictly after
    ).toDF("user_id", "event_type", "us")
    val v = e.filter($"event_type" === "view").groupBy("user_id").agg(min("us").as("v_us"))
    val c = e.filter($"event_type" === "click").join(v, "user_id")
      .filter($"us" > $"v_us").groupBy("user_id").agg(min("us").as("c_us"))
    val p = e.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"us" > $"c_us").groupBy("user_id").agg(min("us").as("p_us"))
    assert(v.count() === 3 && c.count() === 1 && p.count() === 1)
    assert(c.select("user_id").as[Long].head() === 2L)
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

  test("histogram: buckets cover 0..9, counts conserve, max value clamps into bucket 9") {
    val out = Catalog.queries("q66_histogram")(spark, Sf0001)
      .select($"bucket", $"n").as[(Int, Long)].collect()
    assert(out.map(_._1).forall(b => b >= 0 && b <= 9))
    val total = graft.Tables.lineitem(spark, Sf0001).count()
    assert(out.map(_._2).sum === total) // every row lands in exactly one bucket
  }

  test("islands: consecutive same-status runs collapse with the row_number difference") {
    import org.apache.spark.sql.expressions.Window
    // statuses A A B A → runs (A,2), (B,1), (A,1)
    val rows = Seq((1L, 1L, "A", 1), (1L, 2L, "A", 2), (1L, 3L, "B", 3), (1L, 4L, "A", 4))
      .toDF("cust", "key", "status", "d")
    val byC = Window.partitionBy("cust").orderBy($"d", $"key")
    val byCS = Window.partitionBy("cust", "status").orderBy($"d", $"key")
    val runs = rows.withColumn("grp", row_number().over(byC) - row_number().over(byCS))
      .groupBy($"cust", $"status", $"grp")
      .agg(min($"d").as("s"), count(lit(1)).as("n"))
      .select($"status", $"s", $"n").as[(String, Int, Long)].collect().sortBy(_._2)
    assert(runs.toSeq === Seq(("A", 1, 2L), ("B", 3, 1L), ("A", 4, 1L)))
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
}
