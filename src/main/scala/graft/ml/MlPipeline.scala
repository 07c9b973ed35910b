package graft.ml

import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.feature.{HashingTF, PCA, VectorAssembler}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's driver-local ML tail (SURVEY.md §2.9, scripts/
  * model_train_explain.py + embeddings_generation.py) kept *inside*
  * Spark as an MLlib pipeline, so it distributes instead of collecting
  * 100 TB to a driver:
  *
  *   - M4/P14 label bucketing → [[label]] (pure `when`, no UDF)
  *   - M5 stratified split    → [[stratifiedSplit]] (sampleBy + anti-join)
  *   - M6 GBT classifier      → [[trainGbt]] (GBTClassifier for
  *     xgboost.train, model_train_explain.py:86-111; parity is
  *     pipeline-level, not metric-identical — SURVEY.md §7.4 item 5)
  *   - M7 metrics             → [[evaluate]] (accuracy/F1/confusion)
  *   - M8 SHAP ranking        → [[featureImportances]]
  *     (model_train_explain.py:171-183 → impurity importances)
  *   - M1 sentence embeddings → [[hashingEmbed]] (HashingTF stand-in;
  *     embeddings_generation.py:24-25 needs torch, absent on JVM)
  *   - M2 UMAP reduction      → [[pcaEmbed]] (PCA stand-in;
  *     embeddings_generation.py:28-38)
  */
object MlPipeline {

  /** Binary label: value < threshold → 0 else 1 —
    * scripts/model_train_explain.py:25-58 as one codegen'd `when`.
    */
  def label(value: Column, threshold: Double): Column =
    when(value < threshold, 0).otherwise(1)

  /** Feature frame for the order-scoring model (the testdata recast of
    * the reference's wide feature table, FIXTURES.md §3).
    */
  def orderFeatures(orders: DataFrame, labelThreshold: Double = 100000.0): DataFrame =
    orders.select(
      col("o_orderkey"),
      label(col("o_totalprice"), labelThreshold).as("label"),
      year(col("o_orderdate")).cast("double").as("order_year"),
      month(col("o_orderdate")).cast("double").as("order_month"),
      (col("o_orderpriority") === "1-URGENT").cast("double").as("prio_urgent"),
      (col("o_orderpriority") === "2-HIGH").cast("double").as("prio_high"),
      (col("o_orderstatus") === "F").cast("double").as("status_f"),
      col("o_custkey").cast("double").as("custkey"))

  val OrderFeatureCols: Seq[String] =
    Seq("order_year", "order_month", "prio_urgent", "prio_high", "status_f", "custkey")

  /** Stratified train/test split — sklearn train_test_split(stratify=y)
    * (model_train_explain.py:77-81) via sampleBy per-label fractions
    * for train + anti-join on a unique key for test. Approximate
    * per-stratum ratios (Bernoulli sampling), asserted within
    * tolerance in MlSpec, per SURVEY.md §7.4 item 3.
    */
  def stratifiedSplit(df: DataFrame, labelCol: String, keyCol: String,
      testFraction: Double = 0.2, seed: Long = 42L): (DataFrame, DataFrame) = {
    val labels = df.select(labelCol).distinct().collect().map(_.get(0))
    val fractions = labels.map(l => l -> (1.0 - testFraction)).toMap
    val train = df.stat.sampleBy(labelCol, fractions, seed)
    val test = df.join(train.select(keyCol), Seq(keyCol), "left_anti")
    (train, test)
  }

  /** Deterministic split: membership = md5(key) bucket (the q58/mx02
    * idiom), identical on any engine, run, or partitioning — the
    * reproducible-training variant of [[stratifiedSplit]], whose
    * seeded sampleBy is partitioning-dependent. Like per-label
    * Bernoulli sampling, each label stratum hits testFraction in
    * expectation (the hash is label-independent); unlike it, re-runs
    * and engines agree row-for-row, which also makes it the ml02 gate
    * path. No shuffle at all — two filters over one scan.
    */
  def deterministicSplit(df: DataFrame, keyCol: String,
      testFraction: Double = 0.2): (DataFrame, DataFrame) = {
    val bucket = pmod(graft.dedup.Dedup.md5Hash48(col(keyCol).cast("string")),
      lit(10000))
    val th = math.round(10000.0 * (1.0 - testFraction))
    (df.filter(bucket < th), df.filter(bucket >= th))
  }

  /** Gradient-boosted trees binary classifier on the given feature
    * columns. Fixed seed; depth/iters deliberately modest — the
    * reference's depth-12 × 200-round XGBoost config would be a
    * different algorithm anyway (SURVEY.md §7.4 item 5).
    */
  def trainGbt(train: DataFrame, featureCols: Seq[String], labelCol: String = "label",
      maxIter: Int = 10, maxDepth: Int = 4, seed: Long = 42L): GBTClassificationModel = {
    // No persist here: GradientBoostedTrees caches its internal
    // RDD[Instance] for the boosting iterations itself; a DataFrame
    // persist on top is a pure extra materialization pass (measured
    // +80% on ml03 at sf0.1).
    //
    // Coalesce the training input: boosting runs ~maxIter × maxDepth
    // sequential jobs over the cached instances, so per-task overhead
    // multiplies — shuffle-partition-count parallelism (32) on a small
    // train set is pure scheduling cost. defaultParallelism/8 keeps
    // plenty of parallelism on a real cluster (coalesce never
    // *increases* partition count, so a large input is untouched).
    val gbtParts = math.max(1,
      train.sparkSession.sparkContext.defaultParallelism / 8)
    val assembled = assemble(train.coalesce(gbtParts), featureCols)
    new GBTClassifier()
      .setLabelCol(labelCol)
      .setFeaturesCol("features")
      .setMaxIter(maxIter)
      .setMaxDepth(maxDepth)
      .setStepSize(0.1)
      .setSeed(seed)
      .fit(assembled)
  }

  def assemble(df: DataFrame, featureCols: Seq[String]): DataFrame =
    new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      .transform(df)

  /** Accuracy / weighted F1 / confusion counts in one aggregation pass
    * over the scored frame — model_train_explain.py:113-169.
    */
  def evaluate(model: GBTClassificationModel, df: DataFrame,
      featureCols: Seq[String], labelCol: String = "label"): DataFrame = {
    // Persist the scored frame: the AUC evaluator and the metrics agg
    // are separate actions, and without a cache each re-runs the whole
    // upstream DAG (for a sampleBy/anti-join test split that is two
    // extra shuffles) plus per-row tree scoring.
    val transformed = model.transform(assemble(df, featureCols))
      .select(col(labelCol), col("rawPrediction"), col("prediction")).persist()
    val auc = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
      .setLabelCol(labelCol)
      .setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(transformed)
    val scored = transformed
      .select(col(labelCol).cast("int").as("label"), col("prediction").cast("int").as("pred"))
    val out = scored.agg(
      count(lit(1)).as("n"),
      round(avg((col("label") === col("pred")).cast("double")), 4).as("accuracy"),
      sum(when(col("label") === 1 && col("pred") === 1, 1).otherwise(0)).as("tp"),
      sum(when(col("label") === 0 && col("pred") === 1, 1).otherwise(0)).as("fp"),
      sum(when(col("label") === 1 && col("pred") === 0, 1).otherwise(0)).as("fn"),
      sum(when(col("label") === 0 && col("pred") === 0, 1).otherwise(0)).as("tn"))
      .withColumn("auc", round(lit(auc), 4))
      // single row: materialize eagerly so the cache can be dropped now
      .localCheckpoint(true)
    transformed.unpersist()
    out
  }

  /** Global feature-importance ranking (the public-API analogue of the
    * reference's SHAP summary, SURVEY.md §2.9 M8).
    */
  /** Exhaustive decision-stump search — the single tree-split
    * primitive GBT's internals apply recursively, done with exact
    * histogram arithmetic so it IS cross-engine verifiable (the
    * hash-green counterpart to the rows-only ml03/ml04 ensemble
    * gates). Per feature: every distinct value is a candidate
    * threshold; cumulative (count, positives) over the value
    * histogram give both orientations' training accuracies in one
    * pass; the best (accuracy desc, threshold asc) row survives.
    *
    * Scale shape: one groupBy per feature on its DOMAIN-BOUNDED value
    * histogram, a running sum over that tiny table, and a broadcast
    * totals row — the q45b/tx17 pattern applied to split search.
    * Features with unbounded domains should be bucketed first
    * (ml09's quantile bins are the natural feeder).
    */
  /** One melted (__feat, __v, keep…) view of `df`'s feature columns:
    * ONE pass and ONE exchange keyed by (feature, value) yield every
    * feature's histogram rows, where a union of F per-feature groupBy
    * subtrees costs F passes and F shuffles. The melt preserves values
    * and nulls verbatim and all downstream sums are exact longs, so
    * every candidate row — and therefore every argmax — is
    * bit-identical to the per-feature form. Built from typed columns,
    * an `inline(array(struct(name, value)…))` generator (explode plus
    * struct expansion), so no column name is parsed as SQL text.
    * Requires all feature columns to share one type (every caller
    * passes doubles): the array would otherwise widen them silently,
    * so fail named instead.
    */
  private def meltFeatures(df: DataFrame, features: Seq[String],
      keep: Seq[String]): DataFrame = {
    val types = features.map(f => df.schema(f).dataType).distinct
    require(types.size == 1,
      s"meltFeatures needs one shared feature type, got $types")
    def ref(c: String) = col("`" + c.replace("`", "``") + "`")
    df.select(inline(array(features.map(f =>
        struct(lit(f).as("__feat"), ref(f).as("__v"))): _*)) +: keep.map(ref): _*)
  }

  def stumpSplits(df: DataFrame, labelCol: String,
      features: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = df.agg(count(lit(1)).as("nn"),
      sum(col(labelCol).cast("long")).as("pp"))
    // all features' histograms in one melted pass (see meltFeatures);
    // the per-feature window is now PARTITIONED by feature — same
    // cumulative values, no single-partition WindowExec
    val hist = meltFeatures(df, features, Seq(labelCol))
      .groupBy(col("__feat"), col("__v"))
      .agg(count(lit(1)).as("n"), sum(col(labelCol).cast("long")).as("npos"))
    val w = Window.partitionBy(col("__feat")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = hist
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("cp", sum(col("npos")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("__feat").as("feature"), col("__v").as("threshold"),
        // orientation 1: predict positive when value > threshold
        // (TP = pp − cp, TN = cn − cp); orientation 2 is its complement
        round(greatest(
          (col("pp") - col("cp") + col("cn") - col("cp")) / col("nn"),
          (col("cp") + col("nn") - col("pp") - col("cn") + col("cp")) / col("nn")),
          6).as("acc"))
    val rk = Window.partitionBy(col("feature"))
      .orderBy(col("acc").desc, col("threshold"))
    all.withColumn("rk", row_number().over(rk))
      .filter(col("rk") === 1)
      .select(col("feature"), col("threshold"), col("acc"))
  }

  /** Boosted-stump training record: one row per boosting round. */
  final case class BoostRound(rnd: Int, feature: String, threshold: Double,
      lo: Long, hi: Long)

  /** Additive L2 boosting over the exact histogram stump search
    * (stumpSplits' cumulative-histogram primitive) — the hash-green
    * counterpart to ml03's rows-only MLlib GBT (reference
    * model_train_explain.py:86-111). Each round fits one stump to the
    * CURRENT residuals (label − F) by maximizing the SSE-reduction
    * surrogate S_l²/n_l + S_r²/n_r over every (feature, threshold)
    * candidate, then adds ν·mean(residual) per leaf with ν = 0.5.
    *
    * Determinism contract: all per-row state is FIXED-POINT LONGS
    * (1e-8 units — label ∈ {0, 10^8}, leaf weights floor-snapped to
    * integer units). Long sums are exactly associative, so Spark's
    * partial aggregation and DuckDB's single-pass sums agree
    * bit-for-bit with NO intermediate rounding; the gain doubles are
    * then computed from exact integers by the same IEEE expression on
    * both sides, making even the argmax tie-break reproducible.
    *
    * Scale shape: per round, one groupBy per feature over its
    * domain-bounded value histogram + a broadcast totals row — the
    * ml10 shape iterated; driver state is the model itself (5 numbers
    * per round). No per-row state materialization: F rides as a
    * codegen'd literal CASE expression over the persisted feature
    * frame.
    */
  def boostedStumps(df: DataFrame, labelCol: String,
      features: Seq[String], rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val Fp = 100000000L // 1e8: fixed-point unit
    val f = df.select((col(labelCol).cast("long") * lit(Fp)).as("_bs_y") +:
        features.map(col): _*).persist()
    try {
      val t0 = f.agg(count(lit(1)).as("nn"), sum(col("_bs_y")).as("sy")).first()
      val nn = t0.getLong(0)
      val f0 = math.floor(t0.getLong(1).toDouble / nn.toDouble + 0.5).toLong
      var model = Vector.empty[BoostRound]
      // F after the first k rounds as a literal expression — longs end
      // to end (k = model.size is "now"; earlier prefixes replay the
      // trajectory for the batched accuracy pass below)
      def fExprAt(k: Int): Column = model.take(k).foldLeft(lit(f0)) { (acc, st) =>
        acc + when(col(st.feature) <= st.threshold, lit(st.lo)).otherwise(lit(st.hi))
      }
      def fExpr: Column = fExprAt(model.size)
      for (m <- 1 to rounds) {
        val rdf = f.withColumn("_bs_r", col("_bs_y") - fExpr)
        val tot = rdf.agg(count(lit(1)).as("nn2"), sum(col("_bs_r")).as("st"))
        // every feature's residual histogram in one melted pass + one
        // exchange (meltFeatures note; the union-of-per-feature form
        // scanned the persisted frame F times per round), windows
        // PARTITIONED by feature — identical exact-long candidate rows
        val hist = meltFeatures(rdf, features, Seq("_bs_r"))
          .groupBy(col("__feat"), col("__v"))
          .agg(count(lit(1)).as("n"), sum(col("_bs_r")).as("sr"))
        // bounded frame: one row per distinct (feature, value)
        val w = Window.partitionBy(col("__feat")).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val cands = hist
          .withColumn("nl", sum(col("n")).over(w))
          .withColumn("sl", sum(col("sr")).over(w))
          .crossJoin(broadcast(tot))
          .filter(col("nn2") - col("nl") > 0)
          .select(col("__feat").as("feature"), col("__v").as("v"), col("sl"), col("nl"),
            (col("st") - col("sl")).as("sr2"),
            (col("nn2") - col("nl")).as("nr"),
            // same IEEE op order as the oracle: (sl·sl)/nl + (sr·sr)/nr
            (col("sl").cast("double") * col("sl").cast("double") /
              col("nl").cast("double") +
              (col("st") - col("sl")).cast("double") *
                (col("st") - col("sl")).cast("double") /
                (col("nn2") - col("nl")).cast("double")).as("gain"))
        val best = cands
          .orderBy(col("gain").desc, col("feature"), col("v")).limit(1).first()
        val (sl, nl) = (best.getLong(2), best.getLong(3))
        val (sr2, nr) = (best.getLong(4), best.getLong(5))
        val lo = math.floor(0.5 * sl / nl + 0.5).toLong
        val hi = math.floor(0.5 * sr2 / nr + 0.5).toLong
        model = model :+ BoostRound(m, best.getString(0), best.getDouble(1), lo, hi)
      }
      // Train accuracy of sign(F_k − 1/2) vs label for EVERY round in
      // ONE aggregation pass (r20: one accNow action per round was
      // pure per-job overhead — rounds+1 full-scan jobs for rounds+1
      // numbers). Each column is the same 0/1-indicator avg the
      // per-round form computed — sums of 0/1 doubles are exact at any
      // count < 2^53, so batching cannot change a value.
      val accCols = (0 to rounds).map { k =>
        avg(when((fExprAt(k) * 2 >= lit(Fp)) === (col("_bs_y") > 0), 1.0)
          .otherwise(0.0)).as(s"__acc_$k")
      }
      val accRow = f.agg(accCols.head, accCols.tail: _*).first()
      def accAt(k: Int): Double = math.round(accRow.getDouble(k) * 1e6) / 1e6
      val out =
        (0, "_base", -1.0, f0.toDouble / 1e8, f0.toDouble / 1e8, accAt(0)) +:
          model.map(st => (st.rnd, st.feature, st.threshold,
            st.lo.toDouble / 1e8, st.hi.toDouble / 1e8, accAt(st.rnd)))
      out.toDF("rnd", "feature", "threshold", "leaf_lo", "leaf_hi", "acc")
        .orderBy(col("rnd"))
    } finally f.unpersist()
  }

  /** Exact depth-2 classification tree over the ml10 histogram split
    * primitive — the recursive member of the hash-verified tree
    * family (ml10 one stump, ml19 boosted stumps, this a real tree).
    * The split criterion is PURELY INTEGER: a candidate (feature,
    * threshold) scores the number of training rows its two children
    * classify correctly under majority voting, greatest(cp, cn−cp) +
    * greatest(pp−cp, (nn−cn)−(pp−cp)); argmax ties break by (feature
    * asc, threshold asc). Integer scores mean the argmax is exactly
    * reproducible in any engine — no snapping needed. Each split
    * search is per-feature bounded histograms + windows, and the two
    * child searches share ONE level-wise pass (histograms keyed by
    * (side, feature, value) — the PLANET-style layout that searches a
    * whole tree level per scan); the chosen (feature, threshold)
    * pairs are the only driver-collected state (3 rows), and the
    * 7-node stat table comes from ONE conditional aggregate over the
    * data. Splitting never decreases the majority-
    * correct count (max(a1,b1)+max(a2,b2) ≥ max(a1+a2,b1+b2)), so the
    * tree's training accuracy dominates the best stump's — spec-
    * pinned. Requires ≥2 distinct values per branch (holds for the
    * order features at every test SF).
    */
  def depth2Tree(df: DataFrame, labelCol: String,
      features: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val d = df.select(col(labelCol).cast("long").as("_y") +: features.map(col): _*)
      .persist()
    try {
      def bestSplit(node: DataFrame): (String, Double) = {
        val tot = node.agg(count(lit(1)).as("nn"), sum(col("_y")).as("pp"))
        // one melted histogram pass over all features (meltFeatures
        // note), window partitioned by feature — identical integer
        // candidate rows, F× fewer input scans and exchanges
        val hist = meltFeatures(node, features, Seq("_y"))
          .groupBy(col("__feat"), col("__v"))
          .agg(count(lit(1)).as("n"), sum(col("_y")).as("npos"))
        val w = Window.partitionBy(col("__feat")).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cands = hist
          .withColumn("cn", sum(col("n")).over(w))
          .withColumn("cp", sum(col("npos")).over(w))
          .crossJoin(broadcast(tot))
          .filter(col("cn") < col("nn")) // right child must be non-empty
          .select(col("__feat").as("feature"), col("__v").as("v"),
            (greatest(col("cp"), col("cn") - col("cp")) +
              greatest(col("pp") - col("cp"),
                col("nn") - col("cn") - (col("pp") - col("cp")))).as("correct"))
        val best = cands.orderBy(col("correct").desc, col("feature"), col("v"))
          .limit(1).first()
        (best.getString(0), best.getDouble(1))
      }
      val (f0, t0) = bestSplit(d)
      // level-wise growth (the PLANET/XGBoost insight): BOTH children's
      // split searches ride in ONE pass — histograms keyed by (side,
      // feature, value), windows partitioned by side, one rank per
      // side. Depth k would search all 2^k frontier nodes per pass;
      // here it halves the level-2 scans vs per-child recursion.
      val sided = d.withColumn("_side", when(col(f0) <= t0, "L").otherwise("R"))
      val sideTot = sided.groupBy(col("_side"))
        .agg(count(lit(1)).as("nn"), sum(col("_y")).as("pp"))
      // melted like bestSplit: one (side, feature, value) histogram
      // pass instead of F per-feature subtrees
      val hist2 = meltFeatures(sided, features, Seq("_side", "_y"))
        .groupBy(col("_side"), col("__feat"), col("__v"))
        .agg(count(lit(1)).as("n"), sum(col("_y")).as("npos"))
      val w2 = Window.partitionBy(col("_side"), col("__feat")).orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cands2 = hist2
        .withColumn("cn", sum(col("n")).over(w2))
        .withColumn("cp", sum(col("npos")).over(w2))
        .join(broadcast(sideTot), "_side")
        .filter(col("cn") < col("nn"))
        .select(col("_side"), col("__feat").as("feature"), col("__v").as("v"),
          (greatest(col("cp"), col("cn") - col("cp")) +
            greatest(col("pp") - col("cp"),
              col("nn") - col("cn") - (col("pp") - col("cp")))).as("correct"))
      val rk = Window.partitionBy(col("_side"))
        .orderBy(col("correct").desc, col("feature"), col("v"))
      val bests = cands2.withColumn("rk", row_number().over(rk))
        .filter(col("rk") === 1).collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2)))).toMap
      val (fl, tl) = bests("L")
      val (fr, tr) = bests("R")
      // every node's (n, npos) in one conditional aggregate
      val left = col(f0) <= t0
      val lL = left && (col(fl) <= tl)
      val rL = !left && (col(fr) <= tr)
      def pair(c: Column, tag: String) = Seq(
        sum(when(c, 1L).otherwise(0L)).as(s"n_$tag"),
        sum(when(c, col("_y")).otherwise(0L)).as(s"p_$tag"))
      val aggs = Seq(count(lit(1)).as("n_root"), sum(col("_y")).as("p_root")) ++
        pair(left, "L") ++ pair(!left, "R") ++ pair(lL, "LL") ++
        pair(left && !(col(fl) <= tl), "LR") ++ pair(rL, "RL") ++
        pair(!left && !(col(fr) <= tr), "RR")
      val st = d.agg(aggs.head, aggs.tail: _*).first()
      def node(name: String, feat: String, th: Double) = {
        val n = st.getAs[Long](s"n_$name"); val p = st.getAs[Long](s"p_$name")
        (name, feat, th, n, p, if (2 * p > n) 1 else 0)
      }
      Seq(node("root", f0, t0), node("L", fl, tl), node("R", fr, tr),
        node("LL", "", -1.0), node("LR", "", -1.0),
        node("RL", "", -1.0), node("RR", "", -1.0))
        .toDF("node", "feature", "threshold", "n", "npos", "pred")
        .orderBy(col("node"))
    } finally d.unpersist()
  }

  def featureImportances(model: GBTClassificationModel,
      featureCols: Seq[String], spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    featureCols.zip(model.featureImportances.toArray)
      .toDF("feature", "importance")
      .select(col("feature"), round(col("importance"), 4).as("importance"))
  }

  /** PCA reduction of an array<float> embedding column to k dims —
    * UMAP stand-in (embeddings_generation.py:28-38). Output columns
    * `emb_0..emb_{k-1}` like the reference's title_emb_0..9.
    */
  def pcaEmbed(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    // fit-time screen: one NaN/Inf embedding poisons the whole Gram
    // and breeze's eigensolver throws NotConvergedException — a failed
    // decode in one shard must not abort the corpus-wide fit. Shape
    // too (r11): a truncated vector (half-written shard) makes
    // RowMatrix throw "Dimensions mismatch" — screen to the corpus's
    // dominant dim, not just finiteness.
    val dim = graft.functions.VectorExprs.dominantDim(emb, vecCol)
    val withVec = emb
      .filter(graft.functions.VectorExprs.isShapedVec(col(vecCol), dim))
      .select(col(idCol),
        array_to_vector(transform(col(vecCol), x => x.cast("double"))).as("vec"))
    val model = new PCA().setInputCol("vec").setOutputCol("pca").setK(k).fit(withVec)
    val arr = model.transform(withVec)
      .select(col(idCol), vector_to_array(col("pca")).as("a"))
    arr.select(col(idCol) +: (0 until k).map(i => col("a")(i).as(s"emb_$i")): _*)
  }

  /** Gate quantities for ml05c: fit the SAME MLlib PCA ml05 uses and
    * return (explained-variance fractions, max orthonormality residual
    * of the loading matrix |VᵀV − I|). The projections themselves are
    * sign/rotation-ambiguous (why ml05 is no-oracle by contract), but
    * these invariants of a CORRECT fit are not — ml05c pins them as
    * oracle-checkable booleans, q38c-style.
    */
  def pcaGate(emb: DataFrame, vecCol: String, k: Int): (Array[Double], Double) = {
    // same finite+shape screen as pcaEmbed — the gate fits the SAME corpus
    val dim = graft.functions.VectorExprs.dominantDim(emb, vecCol)
    val withVec = emb
      .filter(graft.functions.VectorExprs.isShapedVec(col(vecCol), dim))
      .select(
        array_to_vector(transform(col(vecCol), x => x.cast("double"))).as("vec"))
    val model = new PCA().setInputCol("vec").setOutputCol("pca").setK(k).fit(withVec)
    val pc = model.pc
    var res = 0.0
    for (a <- 0 until k; b <- 0 until k) {
      var dot = 0.0
      var i = 0
      while (i < pc.numRows) { dot += pc(i, a) * pc(i, b); i += 1 }
      res = math.max(res, math.abs(dot - (if (a == b) 1.0 else 0.0)))
    }
    (model.explainedVariance.toArray, res)
  }

  /** Token-hash embedding of a text column (HashingTF; murmur3 is
    * fixed-seed so this is deterministic) — the torch-free stand-in
    * for sentence embeddings (embeddings_generation.py:24-25).
    */
  def hashingEmbed(docs: DataFrame, idCol: String, textCol: String,
      numFeatures: Int = 64): DataFrame = {
    // NULL text keeps the NULL-propagation contract of TextStats.tokens
    // (NULL doc → NULL embedding, inert downstream like a NULL cosine) —
    // but HashingTF's Scala lambda NPEs on a null terms array, aborting
    // the whole job on one malformed doc (surfaced by the r11 chaos
    // sweep once it forced full evaluation). Hash an empty array
    // instead, then restore the NULL after the transform.
    val tokens = docs.select(col(idCol),
      col(textCol).isNull.as("__null_text"),
      coalesce(graft.text.TextStats.tokens(col(textCol)),
        array().cast("array<string>")).as("tokens"))
    new HashingTF().setInputCol("tokens").setOutputCol("tf")
      .setNumFeatures(numFeatures)
      .transform(tokens)
      .select(col(idCol),
        when(col("__null_text"), lit(null).cast("array<double>"))
          .otherwise(vector_to_array(col("tf"))).as("embedding"))
  }
}
