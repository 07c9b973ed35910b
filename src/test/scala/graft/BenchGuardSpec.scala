package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the memo-drift tripwire predicate (VERDICT r11 #1) — the one
  * remaining way the v6 median-of-3 bench regime could silently report
  * fiction is a query that memoizes through a mechanism
  * `Catalog.clearMemos` doesn't cover while absent from
  * `Bench.memoizedQueries`: its reps 2+ would time a map hit. The
  * predicate is pure, so the signature (fresh rep-1, >10× collapse) is
  * testable without a bench drive; the end-to-end path was red-tested
  * with the SPARK_GRAFT_MEMO_DRILL drill when the tripwire landed.
  */
class BenchGuardSpec extends AnyFunSuite {

  test("fires on an unlisted query whose reps collapse like a memo hit") {
    // rep-1 pays a real 2.7 s; reps 2-3 are ~90 ms map hits
    assert(Bench.memoDrift("some_new_query", Seq(2.69, 0.09, 0.08)))
  }

  test("silent for queries declared in memoizedQueries") {
    assert(!Bench.memoDrift("imdb_pipeline_demo", Seq(2.69, 0.09, 0.08)))
  }

  test("drill semantics: removing a memoized query from the declared set trips it") {
    // what SPARK_GRAFT_MEMO_DRILL simulates end-to-end: the same rep
    // pattern, but the query no longer declared — must fire
    assert(Bench.memoDrift("imdb_pipeline_demo", Seq(2.69, 0.09, 0.08),
      declared = Set("imdb_pipeline_synth", "ml03_gbt_eval")))
  }

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
    assert(Bench.line(12.5, 4, 1.25, Seq("q_a"), Seq("q_b"), Seq("q01" -> 0.5), "/sf") ===
      """{"metric":"total","value":12.5,"unit":"sec","warmup":"v6-median3",""" +
      """"cpus":4,"spark_par":1.25,"n_failed":1,"failed":["q_a"],"memo_warn":["q_b"],""" +
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
    // unbounded through r13: a mass tripwire firing could push the one
    // line the driver parses past its buffer exactly when it matters
    assert(Bench.boundedNames(Seq("a", "b"), 2) === """["a","b"]""")
    assert(Bench.boundedNames(Seq("a", "b", "c", "d"), 2) ===
      """["a","b","+2 more"]""")
    assert(Bench.boundedNames(Nil, 2) === "[]")
    assert(Bench.MaxWarnNames === 2 && Bench.MaxFailedNames === 5,
      "printed-line bounds are part of the budget arithmetic")
  }

  test("silent for genuine host-load spikes and sub-floor jitter") {
    // a spike on rep-1 of a real ~1 s query is noise, not a memo (3×)
    assert(!Bench.memoDrift("dd04_minhash_lsh", Seq(3.02, 1.0, 0.9)))
    // sub-second queries jitter across the 10× ratio without meaning
    assert(!Bench.memoDrift("q22_window_rank", Seq(0.4, 0.03, 0.03)))
    // single-shot (non-headline) entries never trip
    assert(!Bench.memoDrift("q35_json_extract", Seq(1.2)))
  }

  test("lowerMed is the shared lower-median used by every printed statistic") {
    assert(Bench.lowerMed(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.lowerMed(Seq(1.0, 4.0)) === 1.0) // even count → lower
    assert(Bench.lowerMed(Nil) === 1.0)
    assert(Bench.lowerMed(Nil, 0.0) === 0.0)
  }

}
