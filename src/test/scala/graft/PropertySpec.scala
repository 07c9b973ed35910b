package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property tests from SURVEY.md §5: bucketing totality, one-hot row
  * sums, top-K ⊆ sorted prefix. ScalaCheck generators drive the
  * inputs (seeded — deterministic across runs); each property batches
  * all samples through one Spark evaluation to keep runtime sane.
  * (scalatestplus-scalacheck isn't on the offline classpath, so
  * sampling is explicit rather than via forAll.)
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def bucketExpr = when($"q" < 10, 0).when($"q" <= 25, 1)
    .when($"q" <= 40, 2).otherwise(3)

  test("bucketing is total over doubles (incl. boundaries, negatives, extremes)") {
    val gen = Gen.chooseNum(-1e9, 1e9,
      0.0, 9.999999, 10.0, 25.0, 25.000001, 40.0, Double.MinPositiveValue)
    val qs = samples(gen, 300, 42L)
    assert(qs.nonEmpty)
    val buckets = qs.toDF("q").select(bucketExpr.as("b")).collect().map(_.getInt(0))
    assert(buckets.length === qs.length)
    assert(buckets.forall(b => b >= 0 && b <= 3))
    // spot-check monotonicity: bucket of sorted inputs is non-decreasing
    val sortedBuckets = qs.sorted.toDF("q").select(bucketExpr.as("b"))
      .collect().map(_.getInt(0))
    assert(sortedBuckets.toSeq === sortedBuckets.sorted.toSeq)
  }

  test("one-hot columns sum to exactly 1 per row over a closed domain") {
    val statuses = Seq("F", "O", "P")
    val ss = samples(Gen.oneOf(statuses), 200, 42L)
    val sums = ss.toDF("s")
      .select(statuses.map(v => ($"s" === v).cast("int").as(s"is_$v")): _*)
      .select(statuses.map(v => col(s"is_$v")).reduce(_ + _).as("t"))
      .collect().map(_.getInt(0))
    assert(sums.length === ss.length)
    assert(sums.forall(_ == 1))
  }

  test("top-K via orderBy+limit equals the sorted prefix (many random lists)") {
    (0 until 5).foreach { round =>
      val xs = samples(Gen.chooseNum(Int.MinValue, Int.MaxValue), 80 + round * 17, 42L)
      val k = 10
      val got = xs.toDF("x").orderBy($"x".desc).limit(k)
        .collect().map(_.getInt(0)).toSeq
      assert(got === xs.sorted.reverse.take(k))
    }
  }

  test("sessionize partitions events exactly: counts conserve, spans fit gaps") {
    // random per-user event-time sets → sessions must (1) cover every
    // event exactly once, (2) have nonnegative spans, (3) number
    // sessions contiguously from 1 per user
    val gen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(1L, 5L), Gen.chooseNum(0L, 86400L)))
    val events = samples(gen, 6, 42L).flatten.zipWithIndex
      .map { case ((u, sec), i) => (u, i.toLong, sec * 1000000L) }
    val df = events.toDF("user_id", "event_id", "us")
    val out = graft.queries.EventQueries.sessionize(df, gapUs = 600L * 1000000L)
      .select($"user_id", $"session_seq", $"n_events", $"span_sec")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.map(_._3).sum === events.length.toLong)
    assert(out.forall(_._4 >= 0.0))
    out.groupBy(_._1).foreach { case (_, sess) =>
      val seqs = sess.map(_._2).sorted.toSeq
      assert(seqs === (1L to sess.length.toLong).toSeq)
    }
  }

  test("z-order codes are unique over distinct 16-bit coordinate pairs") {
    val gen = Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L))
    val pts = samples(gen, 400, 42L).distinct
    val codes = pts.toDF("x", "y")
      .select(graft.functions.ZOrder.zOrder2($"x", $"y").as("z"))
      .as[Long].collect()
    assert(codes.length === pts.length)
    assert(codes.distinct.length === pts.length, "interleave must be injective")
    assert(codes.forall(z => z >= 0L && z <= 0xFFFFFFFFL))
  }

  test("semanticDedup keeps every cell leader and output is a subset, any threshold") {
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-1.0f, 1.0f))
    val vecs = samples(vecGen, 50, 42L).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }
    val emb = vecs.toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0, 0, 0), Seq(0, 1.0, 0, 0), Seq(0, 0, 1.0, 0))
    for (tau <- Seq(0.5, 0.9, 0.99)) {
      val kept = graft.dedup.Dedup
        .semanticDedup(emb, "vec_id", "embedding", cents, tau)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      assert(kept.map(_._1).toSet.subsetOf(vecs.map(_._1).toSet))
      // rank-1 member of every populated cell survives at any threshold
      val leaders = kept.filter(_._3 == 1).map(_._2).toSet
      val cells = kept.map(_._2).toSet
      assert(cells === leaders, s"cells $cells missing a surviving leader at tau=$tau")
    }
  }

  test("mergeUpsert is idempotent and key-complete on random batches") {
    val gen = Gen.listOfN(30, Gen.zip(Gen.chooseNum(1L, 20L), Gen.chooseNum(0, 1000)))
    val tgtRows = samples(gen, 1, 42L).flatten.distinctBy(_._1)
    val updRows = samples(gen, 2, 42L).flatten.distinctBy(_._1)
    val tgt = tgtRows.toDF("k", "v")
    val upd = updRows.toDF("k", "v")
    val once = graft.ops.Merge.mergeUpsert(tgt, upd, "k")
    val twice = graft.ops.Merge.mergeUpsert(once, upd, "k")
    val a = once.as[(Long, Int)].collect().sortBy(_._1).toSeq
    val b = twice.as[(Long, Int)].collect().sortBy(_._1).toSeq
    assert(a === b, "re-applying the same batch must be a no-op")
    assert(a.map(_._1).toSet === (tgtRows.map(_._1) ++ updRows.map(_._1)).toSet)
    val updMap = updRows.toMap
    a.foreach { case (k, v) =>
      updMap.get(k).foreach(uv => assert(v === uv, s"update must win for key $k"))
    }
  }
}
