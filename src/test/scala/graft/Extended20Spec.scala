package graft

import org.apache.spark.sql.functions._
import graft.queries.{Catalog, TextQueries}

/** Round-8 wave: the mega-pipeline funnel and the deterministic
  * sharding contract. */
class Extended20Spec extends SparkSpec {

  test("mx09: funnel is monotone per source through every gate, and packing conserves tokens") {
    val rows = Catalog.queries("mx09_megapipeline")(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getString(2))
    bySource.foreach { case (src, rs) =>
      val byStage = rs.map(r => r.getInt(0) -> (r.getLong(3), r.getLong(4))).toMap
      // stages 1-6 filter docs: counts and token mass both non-increasing
      (1 until 6).foreach { i =>
        for ((d1, t1) <- byStage.get(i); (d2, t2) <- byStage.get(i + 1)) {
          assert(d2 <= d1, s"$src: stage ${i + 1} docs grew ($d2 > $d1)")
          assert(t2 <= t1, s"$src: stage ${i + 1} tokens grew")
        }
      }
      // mixing downsamples the curated corpus
      for ((d6, t6) <- byStage.get(6); (d7, t7) <- byStage.get(7)) {
        assert(d7 <= d6 && t7 <= t6, s"$src: mixing must not add docs")
      }
      // packing regroups the mixed corpus: token mass conserved exactly,
      // pack count bounded by doc count and by the 512-token budget
      for ((d7, t7) <- byStage.get(7); (d8, t8) <- byStage.get(8)) {
        assert(t8 == t7, s"$src: packing must conserve tokens ($t8 != $t7)")
        assert(d8 >= 1 && d8 <= d7, s"$src: pack count $d8 outside [1, $d7]")
        assert(d8 <= t7 / 512 + 1, s"$src: more packs than the budget allows")
      }
    }
    // mixing equalizes: every source's mixed count is within rounding
    // (10000-bucket quantization) of the smallest curated source
    val mixedCounts = rows.filter(_.getInt(0) == 7).map(_.getLong(3))
    val minCurated = rows.filter(_.getInt(0) == 6).map(_.getLong(3)).min
    mixedCounts.foreach { m =>
      assert(m <= minCurated * 2 + 10, s"mixed count $m far above target $minCurated")
    }
  }

  test("mx10: manifest reconciles with the gated corpus; ids dense in [0, 8)") {
    val docs = Tables.documents(spark, Sf0001)
    val out = TextQueries.shardManifest(docs).collect()
    assert(out.nonEmpty && out.length <= 8)
    val ids = out.map(_.getLong(0))
    assert(ids.min == 0 && ids.max == ids.length - 1, "shard ids must be dense from 0")
    val gated = docs
      .select(col("doc_id"), graft.text.TextStats.qualityScore(col("text")).as("q"),
        graft.text.TextStats.tokenCount(col("text")).cast("long").as("n"))
      .filter(col("n") > 0 && col("q") >= 0.5)
    val (nDocs, nTokens) = {
      val r = gated.agg(count(lit(1)), sum(col("n"))).head
      (r.getLong(0), r.getLong(1))
    }
    assert(out.map(_.getLong(1)).sum == nDocs, "manifest must cover every gated doc")
    assert(out.map(_.getLong(2)).sum == nTokens, "manifest must cover every gated token")
    // size-bounded: no shard exceeds budget + the largest straddling doc
    val budget = (nTokens + 7) / 8
    val maxDoc = gated.agg(max(col("n"))).head.getLong(0)
    out.foreach { r =>
      assert(r.getLong(2) < budget + maxDoc,
        s"shard ${r.getLong(0)} holds ${r.getLong(2)} tokens > bound ${budget + maxDoc}")
    }
  }

  test("mx09b: the doc-level pack detail reconciles with mx09's funnel rows") {
    val detail = Catalog.queries("mx09b_pack_detail")(spark, Sf0001).collect()
    val funnel = Catalog.queries("mx09_megapipeline")(spark, Sf0001).collect()
    assert(detail.nonEmpty)
    val bySource = detail.groupBy(_.getString(0))
    // stage 7 (mixed): doc count and token mass; stage 8: pack count
    funnel.filter(_.getInt(0) == 7).foreach { r =>
      val rs = bySource(r.getString(2))
      assert(rs.length.toLong == r.getLong(3), s"${r.getString(2)}: mixed doc count")
      assert(rs.map(_.getLong(2)).sum == r.getLong(4), s"${r.getString(2)}: token mass")
    }
    funnel.filter(_.getInt(0) == 8).foreach { r =>
      val packs = bySource(r.getString(2)).map(_.getLong(3)).distinct.length
      assert(packs.toLong == r.getLong(3), s"${r.getString(2)}: pack count")
    }
    // packing integrity: within a source, pack ids start at 0 and are
    // non-decreasing in doc order with no gaps
    bySource.foreach { case (src, rs) =>
      val ids = rs.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(ids.head == 0L, s"$src: first pack must be 0")
      ids.sliding(2).foreach { case Array(a, b) =>
        assert(b == a || b == a + 1 || (b > a && ids.contains(b - 1)) || b >= a,
          s"$src: pack sequence must be non-decreasing")
        assert(b >= a, s"$src: pack id decreased")
      }
    }
  }

  test("mx11: appending a batch never touches shipped shards; ids continue densely") {
    val rows = Catalog.queries("mx11_incremental_shards")(spark, Sf0001).collect()
    val (e0, e1) = rows.partition(_.getInt(0) == 0)
    assert(e0.nonEmpty && e1.nonEmpty)
    // epoch-0 rows are byte-identical to a standalone mx10 layout of
    // the base corpus — shipped shards are immutable under append
    val docs = Tables.documents(spark, Sf0001)
    val standalone = TextQueries
      .shardManifest(docs.filter(col("doc_id") < 400)).collect()
    assert(e0.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq ==
      standalone.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq,
      "epoch-0 manifest must not change when a batch is appended")
    // shard ids: dense in epoch 0, continuing without overlap in epoch 1
    val ids0 = e0.map(_.getLong(1)); val ids1 = e1.map(_.getLong(1))
    assert(ids0.max + 1 == ids1.min, "batch shards continue from the shipped max")
    assert((ids0 ++ ids1).distinct.length == rows.length, "no shard id reuse")
  }

  test("mx10: manifest is invariant to input partitioning and row order") {
    val docs = Tables.documents(spark, Sf0001)
    val base = TextQueries.shardManifest(docs).collect().toSeq
    val repart = TextQueries.shardManifest(docs.repartition(7)).collect().toSeq
    val shuffled = TextQueries
      .shardManifest(docs.orderBy(col("text"))).collect().toSeq
    assert(base == repart, "repartitioned input must yield an identical manifest")
    assert(base == shuffled, "row order must not change the manifest")
  }
}
