package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the pure parts of the bench driver contract: the printed
  * line's keys and width budget, its bounded name lists, the headline
  * composition, the shared lower median and the core-count parse.
  */
class BenchGuardSpec extends AnyFunSuite {

  test("per-query printed seconds saturate at 9999.999") {
    // the line budget certifies an 8-char slot per headline reading
    // (review r16: uncapped r3 could print 9+ chars and erode the
    // line-budget arithmetic by 1 char per pathological query)
    assert(Bench.r3q(123456.789) === 9999.999)
    assert(Bench.r3q(5.1784) === 5.178)
  }

  test("catalog names are printable in the bench line without escaping (ADVICE r14)") {
    // boundedNames and the queries map interpolate names into the one
    // JSON line the driver parses WITHOUT escaping — sound only while
    // every catalog key matches this pattern (Bench.main requires the
    // same predicate at startup; this is the build-time face of it).
    val bad = SparkEntry.queries.keys.filterNot(_.matches("[A-Za-z0-9_]+"))
    assert(bad.isEmpty, s"unprintable catalog names: ${bad.mkString(",")}")
  }

  test("headline composition is pinned: rotations must update this list deliberately (VERDICT r15 #2)") {
    // BENCH totals are only comparable round-over-round at equal
    // composition (SCALE.md). The r15 rotation (dd02/tx08 out) was
    // documented but nothing structural forced the NEXT one to be —
    // this pin does: changing the headline set fails here until the
    // expected list is updated, making every rotation diff-visible and
    // forcing the SCALE.md comparability note.
    val expected = Seq(
      "dd01_exact_dedup", "dd04_minhash_lsh", "dd07_incremental",
      "dd12_semantic_dedup", "dd14_minhash_curated",
      "imdb_pipeline_demo", "imdb_pipeline_synth",
      "ml03_gbt_eval", "ml05b_power_pca", "ml11_logreg", "ml20_depth2_tree",
      "mm01_media_features",
      "mx01_pack", "mx09_megapipeline",
      "q01_pricing_summary", "q04_join_inner", "q22_window_rank",
      "q30_sql_entry", "q38b_kmv_sketch", "q45b_dist_cdf",
      "q62_sessionize", "q74_pagerank", "q83_key_skew",
      "q91_bloom_filter", "q92_ewma",
      "sim01_brute_topk", "sim03_ivf_topk", "sim05_text_search",
      "sim07_ivfpq_topk", "sim09_rerank_topk",
      "tx07_curate", "tx12_span_dedup", "tx15_bpe_apply",
      "tx18_source_contamination", "tx20_cdc_chunks")
    assert(Bench.headline.sorted === expected,
      "headline set changed — update this pin AND note the composition change in SCALE.md")
    assert(Bench.headline.size === Bench.headline.distinct.size,
      "duplicate headline names would double-time a query")
  }

  test("printed line budget holds at worst-case width, and the line's keys are fixed") {
    // worstCaseLineLen formats the same Bench.line main prints, at
    // pathological widths — a headline addition that overflows the
    // driver's 2000-char tail fails HERE, not in the artifact
    assert(Bench.lineBudgetOk,
      s"worst-case printed line is ${Bench.worstCaseLineLen} chars, budget is 1800 " +
        "(measured r18: driver tail = 2000 chars, trailing sbt success line ≤ 80) — " +
        "rotate a redundant headline sibling out (r15 dd02/tx08, r16 mx05 precedents)")
    // the driver contract: exactly these top-level keys, in this order
    assert(Bench.line(12.5, 4, 1.25, Seq("q_a"), Seq("q01" -> 0.5), "/sf") ===
      """{"metric":"total","value":12.5,"unit":"sec","warmup":"v7-forced",""" +
      """"cpus":4,"spark_par":1.25,"n_failed":1,"failed":["q_a"],"memo_warn":[],""" +
      """"queries":{"q01":0.5},"sf":"/sf"}""")
  }

  test("SPARK_GRAFT_CPUS parse rejects non-integers and values outside [1, 999]") {
    assert(Bench.sparkCpus(" 8 ") === 8)
    assert(Bench.sparkCpus("999") === 999)
    Seq("", "four", "1.5", "0", "1000", "-2").foreach { raw =>
      intercept[IllegalArgumentException](Bench.sparkCpus(raw))
    }
  }

  test("memo_warn/failed name lists are bounded in the printed line") {
    // unbounded through r13: a mass failure could push the one line
    // the driver parses past its buffer exactly when it matters
    assert(Bench.boundedNames(Seq("a", "b"), 2) === """["a","b"]""")
    assert(Bench.boundedNames(Seq("a", "b", "c", "d"), 2) ===
      """["a","b","+2 more"]""")
    assert(Bench.boundedNames(Nil, 2) === "[]")
    assert(Bench.MaxFailedNames === 5,
      "printed-line bounds are part of the budget arithmetic")
    // memo_warn is a constant empty list whatever the failures
    val many = (1 to 50).map(i => s"q$i")
    val printed = Bench.line(1.0, 4, 1.0, many, Nil, "/sf")
    assert(printed.contains(""""failed":["q1","q2","q3","q4","q5","+45 more"],"memo_warn":[],"""),
      printed)
  }

  test("lowerMed is the shared lower-median used by every printed statistic") {
    assert(Bench.lowerMed(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.lowerMed(Seq(1.0, 4.0)) === 1.0) // even count → lower
    assert(Bench.lowerMed(Nil) === 1.0)
    assert(Bench.lowerMed(Nil, 0.0) === 0.0)
  }

}
