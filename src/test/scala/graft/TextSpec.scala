package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.text.TextStats
import graft.queries.Catalog

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
}
