package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.queries.{QualityQueries, TextQueries}

/** Property pins for the round-8 operator math, Property2Spec-style
  * (seeded ScalaCheck generators): the depth-2 tree never classifies
  * worse than the best stump on ANY labeled sample, the shard
  * manifest always covers the corpus exactly within its token bound,
  * and the IQR fences always contain the inter-quartile mass.
  */
class Property3Spec extends SparkSpec {
  import spark.implicits._

  test("depth2Tree training accuracy dominates the best stump on arbitrary labeled data") {
    // max(a1,b1)+max(a2,b2) >= max(a1+a2,b1+b2): greedily splitting a
    // node can never lose majority-correct count — so the tree >= the
    // stump whose split it starts from, on ANY sample
    val row = for {
      l <- Gen.oneOf(0.0, 1.0)
      x <- Gen.chooseNum(0, 4).map(_.toDouble)
      y <- Gen.chooseNum(0, 4).map(_.toDouble)
    } yield (l, x, y)
    val sets = samples(Gen.listOfN(24, row), 6, 842L)
      // both labels and >=2 distinct values per feature in every
      // branch half can't be guaranteed, so keep samples where each
      // feature takes >=3 values (the generator makes this common)
      .filter(s => s.map(_._2).distinct.size >= 3 && s.map(_._3).distinct.size >= 3
        && s.map(_._1).distinct.size == 2)
    assert(sets.size >= 3, s"generator yielded only ${sets.size} usable samples")
    sets.foreach { rows =>
      val df = rows.toDF("label", "x", "y")
      val n = rows.length
      val stumpBest = graft.ml.MlPipeline.stumpSplits(df, "label", Seq("x", "y"))
        .collect().map(_.getDouble(2)).max
      val tree = graft.ml.MlPipeline.depth2Tree(df, "label", Seq("x", "y"))
        .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
      val treeCorrect = Seq("LL", "LR", "RL", "RR")
        .map { k => val (c, p) = tree(k); math.max(p, c - p) }.sum
      assert(treeCorrect.toDouble / n >= stumpBest - 1e-9,
        s"tree ${treeCorrect.toDouble / n} < stump $stumpBest on $rows")
    }
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

  test("IQR fences always contain at least half the mass; outliers only outside") {
    val gen = Gen.listOfN(60, Gen.chooseNum(0, 50000).map(_ / 100.0))
    samples(gen, 6, 842L).foreach { vs =>
      val df = vs.map(("g", _)).toDF("grp", "v")
      val r = QualityQueries.iqrOutliers(df, "grp", "v").collect()(0)
      val (q1, q3, lo, hi, nOut) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))
      assert(lo <= q1 && q1 <= q3 && q3 <= hi)
      // rank-based quartiles: at least half the points lie in [q1, q3]
      val inIqr = vs.count(v => v >= q1 - 1e-9 && v <= q3 + 1e-9)
      assert(inIqr * 2 >= vs.size, s"only $inIqr of ${vs.size} inside [q1, q3]")
      // the engine's outlier count matches a direct recount
      val direct = vs.count(v => {
        val c = math.floor(v * 100 + 0.5).toLong
        2 * c < math.round(lo * 200) || 2 * c > math.round(hi * 200)
      })
      assert(nOut == direct, s"engine $nOut vs recount $direct")
    }
  }
}
