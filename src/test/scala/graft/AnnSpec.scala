package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.similarity.Ann

class AnnSpec extends SparkSpec {
  import spark.implicits._

  test("bruteForceTopK: exact neighbors on a handcrafted corpus") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(-1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val got = Ann.bruteForceTopK(corpus, corpus.filter($"vec_id" === 1), "vec_id", "embedding", 2)
      .orderBy($"rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq((1, 2L), (2, 3L))) // nearest 2, then orthogonal 3
  }

  test("hardNegatives: only other-label neighbors, ranked like the label-blind top-k") {
    val emb = Tables.embeddings(spark, Sf0001)
    val queries = emb.filter($"vec_id" < 5)
    val qLabels = queries.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hn = Ann.hardNegatives(emb, queries, "vec_id", "embedding", "label", 3).collect()
    assert(hn.length == 15)
    val labels = emb.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    hn.foreach { r =>
      val (q, n, negLabel) = (r.getLong(0), r.getLong(2), r.getInt(3))
      assert(negLabel != qLabels(q), s"query $q got a same-label 'negative' $n")
      assert(labels(n) == negLabel)
    }
    // the hard negatives are exactly the label-blind neighbors minus
    // same-label entries: filtering brute-force top-k down to k=3 per
    // query over other-label rows must agree
    val blind = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val expected = blind.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.sortBy(_._2).filter(t => labels(t._3) != qLabels(q)).take(3)
        .map(t => (q, t._3)).toSeq
    }.toSet
    assert(hn.map(r => (r.getLong(0), r.getLong(2))).toSet == expected)
  }

  test("sign-LSH recall@5 vs brute force is reasonable at sf0.001") {
    val emb = Tables.embeddings(spark, Sf0001)
    val queries = emb.filter($"vec_id" < 20)
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.signLshTopK(emb, queries, "vec_id", "embedding", 5, nBits = 4)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 4 hyperplanes → 16 buckets over 500 near-random vectors; the
    // deterministic fixture yields 0.17 — assert it stays in that band
    // (a real corpus with cluster structure scores far higher; the
    // knob is nBits, traded against candidate-set size).
    assert(recall >= 0.15, s"recall@5 = $recall")
  }

  test("IVF recall@5 beats LSH at comparable candidate budgets") {
    val emb = Tables.embeddings(spark, Sf0001)
    val queries = emb.filter($"vec_id" < 20)
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(emb, queries, "vec_id", "embedding", 5, nLists = 16, nProbe = 4)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // probing 4/16 cells scans ~25% of the corpus; the fixture's
    // near-random vectors are IVF's worst case and still score 0.47
    // (vs 0.17 for 4-bit sign-LSH); assert the deterministic band
    assert(recall >= 0.4, s"IVF recall@5 = $recall")
  }

  test("fixed-centroid IVF: deterministic assignment, sane recall vs brute force") {
    val emb = Tables.embeddings(spark, Sf0001)
    val queries = emb.filter($"vec_id" < 20)
    val centroids = emb.filter($"vec_id" < 16).orderBy($"vec_id")
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val run = Ann.ivfTopKFixed(emb, queries, "vec_id", "embedding", 5, centroids, nProbe = 4)
      .select($"query_id", $"rank", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    // same centroids → same cells → identical output, run to run
    val again = Ann.ivfTopKFixed(emb, queries, "vec_id", "embedding", 5, centroids, nProbe = 4)
      .select($"query_id", $"rank", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(run === again)
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & run.map(t => (t._1, t._3)).toSet).size.toDouble / exact.size
    // corpus-sample centroids are a weaker quantizer than trained
    // k-means; still a real coarse index (≥ ~25% corpus scanned)
    assert(recall >= 0.3, s"fixed-centroid IVF recall@5 = $recall")
  }

  test("hyperplanes rejects nBits outside the Int-packable range") {
    val e = intercept[IllegalArgumentException] { Ann.hyperplanes(32, 8) }
    assert(e.getMessage.contains("[1, 31]"))
    intercept[IllegalArgumentException] { Ann.hyperplanes(0, 8) }
    assert(Ann.hyperplanes(31, 4).size === 31) // boundary accepted
  }

  test("LSH candidate scoring never invents neighbors (subset of all pairs, correct cosines)") {
    val emb = Tables.embeddings(spark, Sf0001).limit(50)
    val q = emb.filter($"vec_id" < 3)
    val lsh = Ann.signLshTopK(emb, q, "vec_id", "embedding", 5, nBits = 2)
    // cosine values must match the brute-force computation for the same pairs
    val brute = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 50)
      .select($"query_id", $"neighbor_id", $"cosine".as("bc"))
    val joined = lsh.join(brute, Seq("query_id", "neighbor_id"))
      .filter(abs($"cosine" - $"bc") > 1e-12)
    assert(joined.count() === 0)
  }

  test("hammingTopK: sign-bit packing gives exact known distances in both words") {
    def vec(flips: Set[Int]): Array[Float] =
      (1 to 64).map(i => if (flips(i)) -1.0f else 1.0f).toArray
    val corpus = Seq(
      (1L, vec(Set.empty)),
      (2L, vec(Set(1, 2, 3))),        // 3 flips, all in word 1
      (3L, vec(Set(33, 64))),         // 2 flips, all in word 2
      (4L, vec((1 to 64).toSet)),     // every bit differs
    ).toDF("vec_id", "embedding")
    val got = Ann.hammingTopK(corpus, corpus.filter($"vec_id" === 1),
        "vec_id", "embedding", k = 3)
      .orderBy($"rank").collect().map(r => (r.getLong(2), r.getInt(3)))
    assert(got.toSeq === Seq((3L, 2), (2L, 3), (4L, 64)))
  }

  test("PQ: codebook-source vectors reconstruct exactly, so their scores are exact") {
    val emb = graft.Tables.embeddings(spark, Sf0001)
    val base = emb.filter($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val codebooks = (0 until 8).map(j => base.map(v => v.slice(j * 8, j * 8 + 8)))
    // k = full corpus so the top-k cut can't exclude the codebook ids
    val pq = Ann.pqTopK(emb, emb.filter($"vec_id" < 3), "vec_id", "embedding", 1000, codebooks)
      .filter($"neighbor_id" < 8) // neighbors that ARE codebook sources
      .select($"query_id", $"neighbor_id", $"score")
    val exact = Ann.bruteForceTopK(emb, emb.filter($"vec_id" < 3), "vec_id", "embedding", 1000)
      .select($"query_id", $"neighbor_id", $"cosine")
    // a codebook-source vector's encoding selects its own slices in every
    // subspace (distance 0), so recon == original and ADC score == cosine
    val drift = pq.join(exact, Seq("query_id", "neighbor_id"))
      .filter(abs($"score" - $"cosine") > 1e-9)
    assert(drift.count() === 0)
    assert(pq.count() > 0)
  }

  test("PQ top-k approximates exact ranking with bounded score error") {
    val emb = graft.Tables.embeddings(spark, Sf0001)
    val base = emb.filter($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val codebooks = (0 until 8).map(j => base.map(v => v.slice(j * 8, j * 8 + 8)))
    val q = emb.filter($"vec_id" < 10)
    val pq = Ann.pqTopK(emb, q, "vec_id", "embedding", 5, codebooks)
      .select($"query_id", $"neighbor_id", $"score")
    val exact = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 1000)
      .select($"query_id", $"neighbor_id", $"cosine")
    // approximate scores stay within quantization distance of the true
    // cosine for every reported neighbor (8 centroids/subspace on
    // near-uniform data is coarse — the bound is loose but must hold)
    val err = pq.join(exact, Seq("query_id", "neighbor_id"))
      .select(max(abs($"score" - $"cosine"))).first().getDouble(0)
    assert(err < 0.6, s"max |ADC - exact| = $err")
  }

  test("fixed-centroid IVF: corpus scanned once, probed queries broadcast") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, Sf0001)
    val centroids = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val df = graft.similarity.Ann
      .ivfTopKFixed(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 2, centroids, 2)
    assert(PlanTree.joins(df).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"query side should broadcast into the cell join: ${PlanTree.joins(df)}")
    // one scan for the corpus side, one for the (broadcast) query side —
    // the corpus must not be scanned per probe cell
    val scans = PlanTree.scans(df).size
    assert(scans == 2, s"expected 2 parquet scans, found $scans")
  }
}
