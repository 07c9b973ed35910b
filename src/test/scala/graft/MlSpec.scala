package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import graft.ml.MlPipeline
import graft.queries.Catalog

class MlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val feats = MlPipeline.orderFeatures(Tables.orders(spark, Sf0001))

  test("label threshold splits both ways") {
    val counts = feats.groupBy($"label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse(0, 0L) > 0 && counts.getOrElse(1, 0L) > 0)
  }

  test("stratified split keeps per-label test fraction within tolerance (M5)") {
    val (train, test) = MlPipeline.stratifiedSplit(feats, "label", "o_orderkey", 0.2)
    assert(train.count() + test.count() === feats.count())
    val byLabel = feats.groupBy($"label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val testByLabel = test.groupBy($"label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    byLabel.foreach { case (l, n) =>
      val frac = testByLabel.getOrElse(l, 0L).toDouble / n
      assert(frac > 0.1 && frac < 0.3, s"label $l test fraction $frac")
    }
  }

  test("stratifiedSplit starts no Spark job") {
    val f = feats
    assert(jobsDuring(MlPipeline.stratifiedSplit(f, "label", "o_orderkey", 0.2)) === 0)
  }

  test("deterministic md5-bucket split: disjoint, exhaustive, run-invariant") {
    val (train, test) = MlPipeline.deterministicSplit(feats, "o_orderkey", 0.2)
    assert(train.count() + test.count() === feats.count())
    assert(train.join(test, Seq("o_orderkey")).isEmpty)
    val frac = test.count().toDouble / feats.count()
    assert(frac > 0.1 && frac < 0.3, s"test fraction $frac")
    // run-to-run (and repartition-to-repartition) identical membership
    val again = MlPipeline.deterministicSplit(feats.repartition(7), "o_orderkey", 0.2)._2
    assert(test.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq ===
      again.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("GBT trains, scores, and beats the majority class on train data (M6/M7)") {
    val model = MlPipeline.trainGbt(feats, MlPipeline.OrderFeatureCols)
    val m = MlPipeline.evaluate(model, feats, MlPipeline.OrderFeatureCols).first()
    val n = m.getLong(0)
    val acc = m.getDouble(1)
    val majority = math.max(
      feats.filter($"label" === 1).count(), feats.filter($"label" === 0).count()).toDouble / n
    assert(n === feats.count())
    assert(acc >= majority - 0.01, s"train accuracy $acc below majority $majority")
    // confusion counts partition n
    assert(m.getLong(2) + m.getLong(3) + m.getLong(4) + m.getLong(5) === n)
  }

  test("feature importances are a distribution over the feature set (M8)") {
    val model = MlPipeline.trainGbt(feats, MlPipeline.OrderFeatureCols)
    val imp = MlPipeline.featureImportances(model, MlPipeline.OrderFeatureCols, spark)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(imp.keySet === MlPipeline.OrderFeatureCols.toSet)
    assert(math.abs(imp.values.sum - 1.0) < 0.05)
  }

  test("pcaEmbed reduces to k dims deterministically across calls (M2)") {
    val emb = Tables.embeddings(spark, Sf0001)
    val a = MlPipeline.pcaEmbed(emb, "vec_id", "embedding", 4)
    assert(a.columns.toSeq === Seq("vec_id", "emb_0", "emb_1", "emb_2", "emb_3"))
    val b = MlPipeline.pcaEmbed(emb, "vec_id", "embedding", 4)
    val diff = a.join(b.withColumnRenamed("emb_0", "b0"), "vec_id")
      .filter(abs($"emb_0" - $"b0") > 1e-9).count()
    assert(diff === 0)
  }

  test("power-iteration pc1 recovers a planted dominant direction") {
    import org.apache.spark.sql.functions.col
    // vectors along e1 with magnitude i and a tiny e2 component: the
    // Gram matrix's top eigenvector is ~e1, so projections must come
    // back monotone in i with a consistent sign (all-ones start)
    val rows = (1 to 20).map { i =>
      val v = new Array[Float](64)
      v(0) = i.toFloat; v(1) = 0.01f * i
      (i.toLong, v)
    }
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ml08_").toString
    emb.write.parquet(s"$dir/embeddings.parquet")
    val out = graft.queries.Catalog.queries("ml08_power_pc1")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    assert(out.length === 20)
    val projs = out.map(_._2)
    assert(projs.forall(_ > 0), s"sign must be consistent-positive: ${projs.toSeq}")
    assert(projs.sliding(2).forall { case Array(a, b) => b > a },
      s"projections must be monotone in the planted magnitude: ${projs.toSeq}")
  }

  test("ml05b power-PCA subspace captures >=85% of MLlib top-4 variance") {
    // the synthetic embeddings' spectrum is near-flat, so per-component
    // agreement with an exact eigensolver is ill-posed; the meaningful
    // invariant is subspace quality. Measured ratio 0.965 at sf0.001
    // (random 4-dim directions would score ~0.58).
    val power = graft.queries.Catalog.queries("ml05b_power_pca")(spark, Sf0001)
    val mllib = MlPipeline.pcaEmbed(Tables.embeddings(spark, Sf0001),
      "vec_id", "embedding", 4)
    def captured(df: org.apache.spark.sql.DataFrame, pfx: String): Double = {
      val cols = (0 until 4).map(c => var_samp(col(s"$pfx$c")))
      val r = df.agg(cols.head, cols.tail: _*).first()
      (0 until 4).map(r.getDouble).sum
    }
    val ratio = captured(power, "pc_") / captured(mllib, "emb_")
    assert(ratio >= 0.85, s"captured-variance ratio $ratio")
  }

  test("ml05b deflation yields four distinct high-variance directions") {
    // each deflated component must carry real variance of its own —
    // a broken deflation would re-find the same direction (perfectly
    // correlated projections) or collapse to noise (tiny variance)
    val power = graft.queries.Catalog.queries("ml05b_power_pca")(spark, Sf0001)
    val vars = {
      val cols = (0 until 4).map(c => var_samp(col(s"pc_$c")))
      val r = power.agg(cols.head, cols.tail: _*).first()
      (0 until 4).map(r.getDouble)
    }
    val mean = vars.sum / 4
    assert(vars.forall(v => v > 0.5 * mean), s"component variances: $vars")
    for (a <- 0 until 4; b <- a + 1 until 4) {
      val c = math.abs(power.agg(corr(col(s"pc_$a"), col(s"pc_$b"))).first().getDouble(0))
      assert(c < 0.3, s"|corr(pc_$a, pc_$b)| = $c — deflation failed to separate")
    }
  }

  test("stumpSplits finds the planted perfect split and the exact accuracy") {
    import org.apache.spark.sql.functions.col
    // label == (x > 3): threshold 3 with the ">" orientation is a
    // perfect separator; feature y is pure noise with a known best
    val df = Seq(
      (0.0, 1.0, 9.0), (0.0, 2.0, 8.0), (0.0, 3.0, 9.0),
      (1.0, 4.0, 8.0), (1.0, 5.0, 9.0), (1.0, 6.0, 8.0),
    ).toDF("label", "x", "y")
    val r = MlPipeline.stumpSplits(df, "label", Seq("x", "y"))
      .collect().map(row => row.getString(0) ->
        (row.getDouble(1), row.getDouble(2))).toMap
    assert(r("x") === ((3.0, 1.0)))
    // y: every threshold yields 3/6 or 4/6 right at best — brute-force
    // check the reported accuracy is the true maximum
    val rows = df.select(col("label"), col("y")).collect()
      .map(x => (x.getDouble(0), x.getDouble(1)))
    val best = rows.map(_._2).distinct.flatMap { t =>
      val above = rows.count { case (l, v) => (v > t) == (l == 1.0) } / 6.0
      Seq(above, 1.0 - above)
    }.max
    assert(r("y")._2 === math.round(best * 1e6) / 1e6) // query rounds acc to 6dp
  }

  test("stumpSplits takes feature names verbatim: backtick, space and quote") {
    // the melt is built from typed columns, so a name is never parsed
    // as SQL; the odd name must score exactly like a plain one
    val rows = Seq(
      (0.0, 1.0, 9.0), (0.0, 2.0, 8.0), (0.0, 3.0, 9.0),
      (1.0, 4.0, 8.0), (1.0, 5.0, 9.0), (1.0, 6.0, 8.0))
    val odd = "x `weird' col"
    def best(names: Seq[String]) = MlPipeline
      .stumpSplits(rows.toDF("label" +: names: _*), "label", names)
      .collect().map(row => (row.getString(0), row.getDouble(1), row.getDouble(2))).toSet
    assert(best(Seq(odd, "y")) ===
      best(Seq("x", "y")).map { case (f, t, a) => (if (f == "x") odd else f, t, a) })
  }

  test("boostedStumps nails a planted split in round 1 and is run-deterministic") {
    import org.apache.spark.sql.functions.col
    // label == (x > 3): round 1 must pick (x, 3.0); with F0 = 0.5 the
    // ν = 0.5 leaves are exactly ∓0.25, and accuracy is 1.0 from round
    // 1 onward (boosting never un-learns a perfect separator here)
    val df = Seq(
      (0.0, 1.0, 9.0), (0.0, 2.0, 8.0), (0.0, 3.0, 9.0),
      (1.0, 4.0, 8.0), (1.0, 5.0, 9.0), (1.0, 6.0, 8.0),
    ).toDF("label", "x", "y")
    val out = MlPipeline.boostedStumps(df, "label", Seq("x", "y"), 3).collect()
    assert(out.length === 4)
    val r1 = out(1)
    assert(r1.getString(1) === "x" && r1.getDouble(2) === 3.0)
    assert(r1.getDouble(3) === -0.25 && r1.getDouble(4) === 0.25)
    assert(out.drop(1).forall(_.getDouble(5) === 1.0), "acc from round 1 on")
    assert(out(0).getDouble(5) === 0.5, "base rate classifier accuracy")
    // leaf weights are exact multiples of the 1e-8 fixed-point unit
    for (r <- out; i <- Seq(3, 4)) {
      val v = r.getDouble(i) * 1e8
      assert(v === math.rint(v), s"non-fixed-point leaf $v")
    }
    val again = MlPipeline.boostedStumps(df, "label", Seq("x", "y"), 3).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("depth2Tree: XOR needs depth 2, counts reconcile, tree dominates the stump") {
    import org.apache.spark.sql.functions.col
    // label = XOR(x > 1, y > 1): NO single stump separates it, but the
    // depth-2 tree is perfect — root on either feature, children on
    // the other
    val df = Seq(
      (0.0, 1.0, 1.0), (0.0, 1.0, 1.0), (1.0, 1.0, 2.0), (1.0, 1.0, 2.0),
      (1.0, 2.0, 1.0), (1.0, 2.0, 1.0), (0.0, 2.0, 2.0), (0.0, 2.0, 2.0),
    ).toDF("label", "x", "y")
    val t = MlPipeline.depth2Tree(df, "label", Seq("x", "y")).collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getDouble(2), r.getLong(3), r.getLong(4), r.getInt(5))))
      .toMap
    assert(t.keySet === Set("root", "L", "R", "LL", "LR", "RL", "RR"))
    assert(t("root")._3 === 8L)
    // parent/child reconciliation on both counts
    for ((p, l, r) <- Seq(("root", "L", "R"), ("L", "LL", "LR"), ("R", "RL", "RR"))) {
      assert(t(l)._3 + t(r)._3 === t(p)._3, s"$p docs split")
      assert(t(l)._4 + t(r)._4 === t(p)._4, s"$p positives split")
    }
    // XOR: every leaf is PURE and the leaf predictions alternate
    val leafCorrect = Seq("LL", "LR", "RL", "RR").map { n =>
      val (_, _, cnt, pos, pred) = t(n)
      assert(pos === 0L || pos === cnt, s"$n impure: $pos of $cnt")
      assert(pred === (if (2 * pos > cnt) 1 else 0))
      math.max(pos, cnt - pos)
    }.sum
    assert(leafCorrect === 8L, "depth-2 tree classifies XOR perfectly")
    // while the best stump gets at most 6/8 (XOR is not linearly cut)
    val stumpBest = MlPipeline.stumpSplits(df, "label", Seq("x", "y"))
      .collect().map(_.getDouble(2)).max
    assert(stumpBest <= 0.75 + 1e-9)
    // determinism
    val again = MlPipeline.depth2Tree(df, "label", Seq("x", "y")).collect()
    assert(again.map(_.toString).sorted ===
      MlPipeline.depth2Tree(df, "label", Seq("x", "y")).collect().map(_.toString).sorted)
  }

  test("ml21 tree importances: a distribution over the used features, gains non-negative") {
    val rows = queries.Catalog.queries("ml21_tree_importances")(spark, Sf0001).collect()
    assert(rows.nonEmpty && rows.length <= 4)
    val allowed = Set("order_year", "order_month", "prio_urgent", "status_f")
    rows.foreach { r =>
      assert(allowed.contains(r.getString(0)))
      assert(r.getLong(1) >= 0, "greedy splitting never loses majority-correct count")
    }
    val total = rows.map(_.getDouble(2)).sum
    assert(math.abs(total - 1.0) < 1e-4 || rows.forall(_.getDouble(2) == 0.0),
      s"importances sum to $total")
  }

  test("hashingEmbed is deterministic and fixed-width (M1 stand-in)") {
    val docs = Tables.documents(spark, Sf0001)
    val e = MlPipeline.hashingEmbed(docs, "doc_id", "text", numFeatures = 64)
    assert(e.select(size($"embedding")).distinct().collect().map(_.getInt(0)).toSeq === Seq(64))
    val tot = e.select(sum(aggregate($"embedding", lit(0.0d), (a, x) => a + x))).first().getDouble(0)
    val tot2 = MlPipeline.hashingEmbed(docs, "doc_id", "text", 64)
      .select(sum(aggregate($"embedding", lit(0.0d), (a, x) => a + x))).first().getDouble(0)
    assert(tot === tot2)
  }

  test("pcaGate invariants hold at sf0.001 (the ml05c gate's raw quantities)") {
    // The ml05c catalog query turns these into oracle-pinned booleans
    // at the driver's sf0.01; pin the underlying quantities here at a
    // DIFFERENT scale so the envelope provably isn't tuned to one SF.
    val (ev, orthRes) = MlPipeline.pcaGate(Tables.embeddings(spark, Sf0001), "embedding", k = 4)
    assert(ev.length === 4)
    ev.indices.drop(1).foreach(i =>
      assert(ev(i) <= ev(i - 1) + 1e-9, s"fractions not descending: ${ev.toSeq}"))
    ev.foreach(f => assert(f > 0.0 && f < 1.0, s"fraction out of (0,1): $f"))
    assert(ev.sum >= 0.08 && ev.sum <= 0.5,
      s"top-4 explained-variance sum ${ev.sum} outside the [0.08, 0.5] envelope")
    assert(orthRes < 1e-8, s"loading matrix orthonormality residual $orthRes")
  }

  test("deterministicSplit is a pure scan-side filter: zero exchanges") {
    val feats = graft.ml.MlPipeline.orderFeatures(Tables.orders(spark, Sf0001))
    val (train, test) = graft.ml.MlPipeline.deterministicSplit(feats, "o_orderkey")
    Seq(train, test).foreach { side =>
      val exchanges = PlanTree.exchanges(side)
      assert(exchanges.isEmpty, s"md5-bucket split must not shuffle: $exchanges")
    }
  }

  test("ml17 kNN: the 20-row test side broadcasts; the corpus never does") {
    val df = Catalog.queries("ml17_knn")(spark, Sf0001)
    // the crossJoin must plan as a broadcast nested loop with the
    // BOUNDED side (test, vec_id < 20) built — never the corpus, which
    // scales with the data
    val loops = PlanTree.nestedLoops(df)
    val bnlj = loops.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.nonEmpty, "test×corpus scoring should broadcast the bounded test side")
    assert(PlanTree.cartesians(df).isEmpty,
      "an unhinted crossJoin at scale would shuffle the corpus")
    // the hinted test side is the LEFT input — the build side must be
    // left, i.e. the corpus (right) is streamed, never collected
    assert(bnlj.forall(_.buildSide == BuildLeft),
      s"the broadcast build side must be the bounded test set: $bnlj")
  }

  test("ml13/ml15 closed-form solvers are single-aggregate plans (no join of the data)") {
    Seq("ml13_ols", "ml15_ridge").foreach { q =>
      val df = Catalog.queries(q)(spark, Sf0001)
      // the moment matrix is one hash-aggregate over the scan; the
      // Cramer solve must not touch lineitem again
      val scans = PlanTree.scans(df).size
      assert(scans == 1, s"$q should scan (lineitem) exactly once, got $scans")
      assert(PlanTree.nodes(df).exists(_.isInstanceOf[HashAggregateExec]))
    }
  }

  test("ml14 scoring joins the likelihood table by hash, priors by broadcast") {
    assert(PlanTree.cartesians(Catalog.queries("ml14_naive_bayes")(spark, Sf0001)).isEmpty,
      "the class fan-out is a bounded broadcast, never a cartesian over data")
  }
}
