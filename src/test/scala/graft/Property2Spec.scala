package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property pins for the round-7 operator math, PropertySpec-style
  * (seeded ScalaCheck generators, batched through one evaluation):
  * PSI is a divergence (non-negative, zero iff identical), KMV minima
  * merge exactly, the Bloom construction can never drop a member, and
  * containment dominates Jaccard on arbitrary sets.
  */
class Property2Spec extends SparkSpec {
  import spark.implicits._

  /** dq02's smoothing + Σ(p−q)ln(p/q) on a pair of count vectors. */
  private def psi(cr: Seq[Long], cp: Seq[Long]): Double = {
    val nb = cr.length
    val (nr, np) = (cr.sum, cp.sum)
    cr.zip(cp).map { case (a, b) =>
      val p = (a + 1).toDouble / (nr + nb)
      val q = (b + 1).toDouble / (np + nb)
      (p - q) * math.log(p / q)
    }.sum
  }

  test("PSI is non-negative on arbitrary histograms and zero on identity") {
    val gen = Gen.listOfN(6, Gen.chooseNum(0L, 1000L))
    val pairs = samples(gen.flatMap(a => gen.map(b => (a, b))), 100, 142L)
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      val v = psi(a, b)
      assert(v >= -1e-12, s"psi($a, $b) = $v negative")
      assert(math.abs(v - psi(b, a)) < 1e-12, "PSI is symmetric by construction")
    }
    pairs.foreach { case (a, _) => assert(psi(a, a) == 0.0) }
  }

  test("KMV union minima are exactly the element-wise min (mergeability)") {
    // q97's merge identity on arbitrary key sets, via the engine's hash
    val gen = Gen.listOfN(40, Gen.chooseNum(1L, 100000L))
    samples(gen.flatMap(a => gen.map(b => (a, b))), 5, 142L).foreach { case (a, b) =>
      def mins(keys: Seq[Long]): Seq[Long] = {
        val df = keys.toDF("k")
        val aggs = (0 until 8).map(i => min(graft.dedup.Dedup.md5Hash48(
          concat_ws(":", lit(i), $"k".cast("string")))).as(s"m$i"))
        val r = df.agg(aggs.head, aggs.tail: _*).first()
        (0 until 8).map(r.getLong)
      }
      val (ma, mb, mu) = (mins(a), mins(b), mins(a ++ b))
      assert(mu == ma.zip(mb).map { case (x, y) => math.min(x, y) })
    }
  }

  test("the Bloom construction never yields a false negative") {
    // q91's word/bit math on arbitrary member sets: every inserted key
    // passes all 4 seed probes by construction
    val gen = Gen.listOfN(60, Gen.chooseNum(1L, 1000000L))
    samples(gen, 3, 142L).foreach { keys =>
      def pos(seed: Int, k: Long): (Long, Long) = {
        val h = (new java.math.BigInteger(1,
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"$seed:$k".getBytes("UTF-8"))).shiftRight(128 - 48)
          .longValue()) % 65536
        (h / 32, 1L << (h % 32).toInt)
      }
      val words = scala.collection.mutable.Map.empty[Long, Long]
      for (k <- keys; s <- 0 until 4) {
        val (w, b) = pos(s, k)
        words(w) = words.getOrElse(w, 0L) | b
      }
      keys.foreach { k =>
        (0 until 4).foreach { s =>
          val (w, b) = pos(s, k)
          assert((words.getOrElse(w, 0L) & b) == b,
            s"member $k failed probe seed $s")
        }
      }
    }
  }

  test("containment dominates Jaccard on arbitrary set pairs") {
    val gen = Gen.listOfN(30, Gen.chooseNum(1, 200))
    samples(gen.flatMap(a => gen.map(b => (a.toSet, b.toSet))), 200, 142L)
      .foreach { case (a, b) =>
        val inter = a.intersect(b).size.toDouble
        if (inter > 0) {
          val cont = inter / math.min(a.size, b.size)
          val jac = inter / (a.size + b.size - inter)
          assert(cont >= jac - 1e-12)
          assert(cont <= 1.0 + 1e-12)
        }
      }
  }
}
