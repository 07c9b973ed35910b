package graft

import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions
import org.scalacheck.Gen

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot is callable from SQL after registration and matches the Column API") {
    GraftExtensions.register(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    df.createOrReplaceTempView("v_vecs")
    val sqlVals = spark.sql("SELECT graft_dot(a, b) AS d FROM v_vecs")
      .collect().map(_.getDouble(0)).toSeq
    assert(sqlVals === Seq(32.0, 0.0))
    val colVals = df.select(graft.functions.VectorExprs.dot($"a", $"b"))
      .collect().map(_.getDouble(0)).toSeq
    assert(sqlVals === colVals)
  }

  test("graft_md5h48 equals the conv/substring/md5 formula on real text, incl. codegen") {
    GraftExtensions.register(spark)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = Tables.documents(spark, Sf0001)
        .select(explode(graft.text.TextStats.tokens($"text")).as("t"))
      val mismatches = docs.select(
          graft.dedup.Dedup.md5Hash48($"t").as("native"),
          expr("CAST(conv(substring(md5(t), 1, 12), 16, 10) AS BIGINT)").as("composed"))
        .filter($"native" =!= $"composed").count()
      assert(mismatches == 0)
      // SQL registration path too
      docs.createOrReplaceTempView("v_toks")
      val viaSql = spark.sql(
        "SELECT count(*) FROM v_toks WHERE graft_md5h48(t) != CAST(conv(substring(md5(t), 1, 12), 16, 10) AS BIGINT)")
        .first().getLong(0)
      assert(viaSql == 0)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("graft_md5h48 is null-safe and rejects non-string input") {
    GraftExtensions.register(spark)
    val r = Seq(Some("x"), None).toDF("s")
      .select(graft.dedup.Dedup.md5Hash48($"s").as("h")).collect()
    assert(!r(0).isNullAt(0) && r(1).isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("n").select(graft.dedup.Dedup.md5Hash48($"n")).collect()
    }
  }

  test("graft_dot compiles under forced codegen (fallback disabled)") {
    GraftExtensions.register(spark)
    // with fallback off, a broken doGenCode would throw instead of
    // silently degrading to interpreted evaluation
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val emb = Tables.embeddings(spark, Sf0001).limit(100)
      emb.createOrReplaceTempView("v_emb")
      val total = spark.sql("SELECT sum(graft_dot(embedding, embedding)) FROM v_emb")
        .first().getDouble(0)
      assert(total > 0.0)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("sortedIntersectCount equals size(array_intersect) on sorted real shingle sets, incl. codegen") {
    // the dd18 verify-tail contract (r19 optimization round): on
    // ascending-sorted arrays the merge-scan count is value-identical
    // to array_intersect's hash-set size — checked over every candidate
    // doc pair of the real sf0.001 corpus, under forced codegen
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val sets = graft.dedup.Dedup
        .hashedShingleRows(Tables.documents(spark, Sf0001), "doc_id", "text", 3)
        .groupBy($"doc").agg(sort_array(collect_list($"s")).as("ts"))
        .limit(200).localCheckpoint()
      val pairs = sets.toDF("a", "ts_a").crossJoin(sets.toDF("b", "ts_b"))
        .filter($"a" < $"b")
      val mismatches = pairs.select(
          graft.functions.ArrayFns.sortedIntersectCount($"ts_a", $"ts_b").as("merge"),
          size(array_intersect($"ts_a", $"ts_b")).cast("long").as("builtin"))
        .filter($"merge" =!= $"builtin").count()
      assert(mismatches == 0)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("sortedIntersectCount: duplicates collapse, null arrays, type rejection") {
    val df = Seq(
      (Some(Array(1L, 2L, 2L, 3L)), Some(Array(2L, 2L, 3L, 9L))), // dup runs → {2,3} = 2
      (Some(Array.empty[Long]), Some(Array(1L))),
      (None, Some(Array(1L)))).toDF("a", "b")
    val r = df.select(graft.functions.ArrayFns.sortedIntersectCount($"a", $"b").as("c"))
      .collect()
    assert(r(0).getLong(0) == 2L && r(1).getLong(0) == 0L && r(2).isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Array(1.0), Array(2.0))).toDF("a", "b")
        .select(graft.functions.ArrayFns.sortedIntersectCount($"a", $"b")).collect()
    }
  }

  // Each custom expression on the hot paths is computed three ways —
  // forced whole-stage codegen, interpreted eval, and a driver-side
  // reference — over generated inputs including empty arrays,
  // mismatched lengths, non-finite floats and multi-byte unicode, so a
  // doGenCode that diverges from nullSafeEval fails here before it can
  // corrupt a dedup fingerprint or an ANN score.

  /** Run `q` once under forced codegen and once fully interpreted. */
  private def bothModes[T](q: => Seq[T]): (Seq[T], Seq[T]) = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val gen = try q finally spark.conf.unset("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try q finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    (gen, interp)
  }

  private def sameDouble(a: Double, b: Double): Boolean =
    java.lang.Double.compare(a, b) == 0 || (a.isNaN && b.isNaN)

  test("DotProduct: codegen ≡ interpreted ≡ sequential reference on adversarial arrays") {
    val elem = Gen.frequency(
      7 -> Gen.chooseNum(-1e3f, 1e3f),
      1 -> Gen.oneOf(0.0f, -0.0f, Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity, Float.MinPositiveValue, 3.4e38f))
    val arr = Gen.chooseNum(0, 9).flatMap(n => Gen.listOfN(n, elem).map(_.toArray))
    val rows = samples(Gen.zip(arr, arr), 300, 7L)
      .zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
    // driver-side reference: min-length zip, strict left-to-right sum
    val expect = rows.map { case (id, a, b) =>
      var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      id -> s
    }.toMap
    val df = rows.toDF("id", "a", "b")
    df.createOrReplaceTempView("v_dot_prop")
    graft.plans.GraftExtensions.register(spark)
    def run: Seq[(Long, Double)] =
      spark.sql("SELECT id, graft_dot(a, b) FROM v_dot_prop")
        .as[(Long, Double)].collect().toSeq
    val (viaCodegen, viaInterp) = bothModes(run)
    assert(viaCodegen.size === rows.size)
    Seq("codegen" -> viaCodegen, "interpreted" -> viaInterp).foreach { case (mode, got) =>
      got.foreach { case (id, v) =>
        assert(sameDouble(v, expect(id)),
          s"$mode: row $id got $v expected ${expect(id)}")
      }
    }
  }

  test("Md5Hash48: codegen ≡ interpreted ≡ MessageDigest reference on unicode strings") {
    val str = Gen.frequency(
      6 -> Gen.listOf(Gen.alphaNumChar).map(_.mkString),
      2 -> Gen.listOf(Gen.oneOf("α", "β", "語", "🎲", "é", " ", "\t", ":", "|")).map(_.mkString),
      1 -> Gen.const(""),
      1 -> Gen.listOfN(500, Gen.alphaChar).map(_.mkString))
    val rows = samples(str, 300, 99L).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val mdRef = java.security.MessageDigest.getInstance("MD5")
    val expect = rows.map { case (id, s) =>
      val d = mdRef.digest(s.getBytes("UTF-8"))
      id -> (((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) | ((d(2) & 0xffL) << 24) |
        ((d(3) & 0xffL) << 16) | ((d(4) & 0xffL) << 8) | (d(5) & 0xffL))
    }.toMap
    rows.toDF("id", "s").createOrReplaceTempView("v_md5_prop")
    graft.plans.GraftExtensions.register(spark)
    def run: Seq[(Long, Long)] =
      spark.sql("SELECT id, graft_md5h48(s) FROM v_md5_prop")
        .as[(Long, Long)].collect().toSeq
    val (viaCodegen, viaInterp) = bothModes(run)
    assert(viaCodegen.size === rows.size)
    Seq("codegen" -> viaCodegen, "interpreted" -> viaInterp).foreach { case (mode, got) =>
      got.foreach { case (id, v) =>
        assert(v === expect(id), s"$mode: row $id mismatch")
      }
    }
  }
}
