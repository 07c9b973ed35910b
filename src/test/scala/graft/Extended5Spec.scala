package graft

import org.apache.spark.sql.functions._
import graft.ops.CountMin
import graft.queries.Catalog

class Extended5Spec extends SparkSpec {
  import spark.implicits._

  // --- CountMin -------------------------------------------------------------

  test("CMS estimate is never below the exact count, and is exact when no collision") {
    val items = Seq.fill(40)("alpha") ++ Seq.fill(7)("beta") ++ Seq("gamma")
    val df = items.toDF("item")
    val cells = CountMin.counters(df, d = 4, w = 64)
    val est = CountMin.estimate(df.distinct(), cells, d = 4, w = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("alpha") >= 40L && est("beta") >= 7L && est("gamma") >= 1L)
    // 3 distinct items in 64 buckets × 4 rows: at least one row must be
    // collision-free for each item, so the min is exact here
    assert(est === Map("alpha" -> 40L, "beta" -> 7L, "gamma" -> 1L))
  }

  test("CMS counter tables are mergeable: sum of shard sketches == whole-corpus sketch") {
    val all = (1 to 200).map(i => s"tok${i % 13}")
    val (h1, h2) = all.splitAt(97)
    def sketch(xs: Seq[String]) = CountMin.counters(xs.toDF("item"), d = 4, w = 64)
    val merged = sketch(h1).unionByName(sketch(h2))
      .groupBy("seed", "bucket").agg(sum("cnt").as("cnt"))
    val whole = sketch(all)
    assert(merged.except(whole).isEmpty && whole.except(merged).isEmpty)
  }

  // --- Ann.quantizedTopK ----------------------------------------------------

  private def embFixture = {
    val rnd = new scala.util.Random(7)
    (0L until 40L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  test("quantizedTopK is partitioning-invariant (integer ranking, no float ties)") {
    val emb = embFixture
    val q = emb.filter($"vec_id" < 5)
    val a = graft.similarity.Ann.quantizedTopK(emb, q, "vec_id", "embedding", k = 3).collect()
    val b = graft.similarity.Ann.quantizedTopK(emb.repartition(7), q, "vec_id", "embedding", k = 3)
      .collect()
    assert(a.sortBy(r => (r.getLong(0), r.getInt(1))).toSeq ===
      b.sortBy(r => (r.getLong(0), r.getInt(1))).toSeq)
  }

  // --- ops.Stats ------------------------------------------------------------

  test("zscoreOutliers flags exactly the far row, never NULL-z groups") {
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 10.0), ("a", 3L, 10.0), ("a", 4L, 10.0),
      ("a", 5L, 100.0),      // the outlier: z ≈ 1.9999... → rounds to 2.0
      ("b", 6L, 5.0)         // single-row group: sd NULL, never flagged
    ).toDF("g", "id", "v")
    val r = graft.ops.Stats.zscoreOutliers(df, "g", "v", zMin = 2.0)
    // n=5, one far point: its z = (100-28)/sd; sd=√(4·18²+72²)/2... the
    // invariant under test is membership, not the constant: only group a's
    // max can clear the threshold and group b must never appear
    val flagged = r.select("id").as[Long].collect().toSet
    assert(!flagged.contains(6L))
    assert(flagged.subsetOf(Set(5L)))
  }

  test("zscoreOutliers rounds before comparing (boundary z exactly at threshold)") {
    // 4 points symmetric: values -1,-1,1,1 → mean 0, sd_samp = 1.1547;
    // z = ±0.866 rounds to ±0.866 — with zMin 0.866 all four flag, with
    // 0.8661 none do: the compare sees the ROUNDED value
    val df = Seq(("g", 1L, -1.0), ("g", 2L, -1.0), ("g", 3L, 1.0), ("g", 4L, 1.0))
      .toDF("g", "id", "v")
    assert(graft.ops.Stats.zscoreOutliers(df, "g", "v", 0.866).count() === 4)
    assert(graft.ops.Stats.zscoreOutliers(df, "g", "v", 0.8661).count() === 0)
  }

  test("groupSample returns exactly n per group, stable under repartitioning") {
    val df = (1L to 100L).map(i => (s"g${i % 4}", i)).toDF("g", "k")
    val a = graft.ops.Stats.groupSample(df, "g", "k", n = 5)
    assert(a.groupBy("g").count().select("count").as[Long].collect().forall(_ == 5L))
    val b = graft.ops.Stats.groupSample(df.repartition(13), "g", "k", n = 5)
    assert(a.select("g", "k").except(b.select("g", "k")).isEmpty)
  }

  // --- Dedup.sortedNeighborhoodPairs ----------------------------------------

  test("sortedNeighborhood pairs only within block and window, scored by levenshtein") {
    val df = Seq(
      (1L, "alpha one"), (2L, "alpha onf"), (3L, "alpha zzz"),
      (4L, "beta one"),  // different block — never paired with alphas
      (5L, "alpha ong")
    ).toDF("id", "name")
    val r = graft.dedup.Dedup.sortedNeighborhoodPairs(
        df, "id", "name", org.apache.spark.sql.functions.expr("split_part(name, ' ', 1)"),
        window = 2, maxDist = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // sorted alphas: one(1) < onf(2) < ong(5) < zzz(3); window 2 pairs
    // with dist ≤ 1: (1,2),(2,5); (1,5) has dist 1 and rn-gap 2 → kept
    assert(r === Set((1L, 2L), (2L, 5L), (1L, 5L)))
    assert(!r.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("transition matrix: hand-computed first-order Markov estimate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q86_").toString
    // ts stored as raw NANOS (the driver data's TIMESTAMP(NANOS)
    // shape that Tables.events rebuilds from a long column)
    def t(m: Int): Long = (1767225600L + m * 60L) * 1000000000L
    // user 1: A→B→A; user 2: B→B — margins A:1, B:2
    Seq((1L, t(0), 1L, "A", 0.0, null.asInstanceOf[String]),
        (2L, t(1), 1L, "B", 0.0, null.asInstanceOf[String]),
        (3L, t(2), 1L, "A", 0.0, null.asInstanceOf[String]),
        (4L, t(0), 2L, "B", 0.0, null.asInstanceOf[String]),
        (5L, t(1), 2L, "B", 0.0, null.asInstanceOf[String]))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val m = Catalog.queries("q86_transition_matrix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(m === Map(("A", "B") -> ((1L, 1.0)), ("B", "A") -> ((1L, 0.5)),
      ("B", "B") -> ((1L, 0.5))))
  }

  test("keySkewProfile computes exact metrics on a known distribution") {
    // key 1 → 6 rows, keys 2..5 → 1 row each: n_keys=5, total=10, max=6
    val df = (Seq.fill(6)(1) ++ Seq(2, 3, 4, 5)).toDF("k")
    val m = graft.ops.Stats.keySkewProfile(df, "k")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("n_keys") === 5.0)
    assert(m("total_rows") === 10.0)
    assert(m("max_cnt") === 6.0)
    assert(m("avg_cnt") === 2.0)
    assert(m("skew_ratio") === 3.0)
    assert(m("top10_share") === 1.0) // only 5 keys — top-10 covers everything
    // ceil(0.99*5)=5 keys must be <= p99 count → the max, 6
    assert(m("p99_cnt") === 6.0)
  }

  test("quantizedTopK recall vs exact brute force is high at int8 precision") {
    val emb = embFixture
    val q = emb.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.similarity.Ann.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5))
    val quant = pairs(graft.similarity.Ann.quantizedTopK(emb, q, "vec_id", "embedding", k = 5))
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall too low: $recall")
  }
}
