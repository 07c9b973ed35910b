package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.MlPipeline
import graft.text.TextStats

/** ML-surface queries (SURVEY.md §2.9). ml01 (feature assembly) is
  * pure relational and ml06 (hashing embed) gets a generated oracle
  * with the murmur3 vocabulary interpolated; MLlib's GBT and PCA
  * results are algorithm-specific (MLlib ≠ DuckDB-expressible) →
  * rows-only in the driver gate, with behavior asserted in MlSpec.
  *
  * Every other trainer here is cross-engine VERIFIED: GBT internals
  * are genuinely irreproducible in SQL (conceded, rows-only), but
  * logistic regression by batch GD, k-means by Lloyd iterations,
  * power-iteration PCA, stumps and depth-2 trees are pure join+agg
  * arithmetic, so a DuckDB oracle can replay them bit for bit when
  * per-iteration state is snapped to 8 dp (half-away-from-zero, both
  * engines; [[snap8]]). Closed-form OLS/ridge, Naive Bayes (counting +
  * logs, so no excuse for a rows-only gate), k-NN, calibration,
  * quantile binning and the decile lift table are exact aggregates.
  */
object MlQueries {

  /** Feature + label frame (P14 + feature engineering) — fully
    * SQL-expressible.
    */
  private def ml01Features(s: SparkSession, dir: String): DataFrame =
    MlPipeline.orderFeatures(Tables.orders(s, dir))
      .orderBy(col("o_orderkey"))

  private val ml01Sql =
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice < 100000.0 THEN 0 ELSE 1 END AS label,
      |  CAST(year(o_orderdate) AS DOUBLE) AS order_year,
      |  CAST(month(o_orderdate) AS DOUBLE) AS order_month,
      |  CAST(o_orderpriority = '1-URGENT' AS DOUBLE) AS prio_urgent,
      |  CAST(o_orderpriority = '2-HIGH' AS DOUBLE) AS prio_high,
      |  CAST(o_orderstatus = 'F' AS DOUBLE) AS status_f,
      |  CAST(o_custkey AS DOUBLE) AS custkey
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Split sizes per label (M5). The gate runs the deterministic
    * md5-bucket split (engine/run/partitioning-invariant → full
    * oracle); the reference-shaped seeded stratified split stays
    * ratio-tested in MlSpec and drives ml03/ml04 training.
    */
  private def ml02SplitCounts(s: SparkSession, dir: String): DataFrame = {
    val feats = MlPipeline.orderFeatures(Tables.orders(s, dir))
    val (train, test) = MlPipeline.deterministicSplit(feats, "o_orderkey")
    train.groupBy(col("label")).agg(count(lit(1)).as("n")).withColumn("split", lit("train"))
      .unionByName(
        test.groupBy(col("label")).agg(count(lit(1)).as("n")).withColumn("split", lit("test")))
      .orderBy(col("split"), col("label"))
  }

  private val ml02Sql =
    """WITH b AS (
      |  SELECT CASE WHEN o_totalprice < 100000.0 THEN 0 ELSE 1 END AS label,
      |    ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT % 10000 AS bucket
      |  FROM orders)
      |SELECT label, CAST(count(*) AS BIGINT) AS n, 'train' AS split
      |FROM b WHERE bucket < 8000 GROUP BY label
      |UNION ALL
      |SELECT label, CAST(count(*) AS BIGINT) AS n, 'test' AS split
      |FROM b WHERE bucket >= 8000 GROUP BY label
      |ORDER BY split, label""".stripMargin

  /** The GBT of ml03/ml04: the reference trains a single model and
    * then BOTH evaluates and explains it (model_train_explain.py).
    * Training is seeded (stratified split, fixed GBT seed), so each
    * query trains its own copy and both see the same model.
    */
  private def trainedModel(s: SparkSession, dir: String) = {
    val feats = MlPipeline.orderFeatures(Tables.orders(s, dir))
    val (train, _) = MlPipeline.stratifiedSplit(feats, "label", "o_orderkey")
    MlPipeline.trainGbt(train, MlPipeline.OrderFeatureCols)
  }

  /** GBT train + held-out evaluation: one row of metrics (M6+M7). */
  private def ml03GbtEval(s: SparkSession, dir: String): DataFrame = {
    val feats = MlPipeline.orderFeatures(Tables.orders(s, dir))
    val (_, test) = MlPipeline.stratifiedSplit(feats, "label", "o_orderkey")
    MlPipeline.evaluate(trainedModel(s, dir), test, MlPipeline.OrderFeatureCols)
  }

  /** Feature-importance ranking of the same trained model (M8). */
  private def ml04Importances(s: SparkSession, dir: String): DataFrame =
    MlPipeline.featureImportances(trainedModel(s, dir), MlPipeline.OrderFeatureCols, s)
      .orderBy(col("importance").desc, col("feature"))

  /** PCA embedding reduction to 4 dims (M2 stand-in). */
  private def ml05Pca(s: SparkSession, dir: String): DataFrame =
    MlPipeline.pcaEmbed(Tables.embeddings(s, dir), "vec_id", "embedding", k = 4)
      .select(col("vec_id"), round(col("emb_0"), 4).as("emb_0"),
        round(col("emb_1"), 4).as("emb_1"))
      .orderBy(col("vec_id"))

  /** Variance-explained bound gate for ml05 (VERDICT r9 #6) — the
    * q38c technique applied to MLlib PCA: the projection VALUES are
    * sign/rotation-ambiguous (no SQL engine reproduces an eigensolver,
    * hence ml05's contractual no-oracle), but the invariants of a
    * correct fit are exact-comparable. One row: exact counts both
    * engines compute (n_vectors, dims) plus booleans the oracle pins
    * TRUE — fractions sorted descending, each in (0,1), top-4 sum
    * inside an empirical envelope (the synthetic spectrum is near-flat:
    * top-4 ≈ 0.107, random-subspace floor 4/64 ≈ 0.0625, so [0.08,
    * 0.5] catches a broken solver without riding the data), and the
    * loading matrix orthonormal to 1e-8 (LAPACK residual is ~1e-15).
    * The PCA fit is the distributed path; only the 64×4 loading
    * matrix and 4 fractions reach the driver.
    */
  private def ml05cPcaVarianceGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val (ev, orthRes) = MlPipeline.pcaGate(emb, "embedding", k = 4)
    val stats = emb.agg(count(lit(1)).as("n"),
      min(size(col("embedding"))).as("mind"),
      max(size(col("embedding"))).as("maxd")).first()
    val desc = ev.indices.drop(1).forall(i => ev(i) <= ev(i - 1) + 1e-9)
    val valid = ev.forall(f => f > 0.0 && f < 1.0)
    val sumOk = ev.sum >= 0.08 && ev.sum <= 0.5
    Seq((stats.getLong(0), stats.getInt(2), stats.getInt(1) == stats.getInt(2),
        desc, valid, sumOk, orthRes < 1e-8))
      .toDF("n_vectors", "dims", "dims_uniform_ok", "ev_desc_ok",
        "ev_frac_valid_ok", "ev_frac_sum_ok", "orthonormal_ok")
  }

  // dims_uniform_ok computed honestly (r12 chaos-parity drive): the
  // constant-TRUE pin silently reported a shape-corrupt corpus
  // uniform; the eigen-gate booleans stay oracle-side pins (the
  // engine's solver invariants hold regardless of screened-out rows).
  private val ml05cSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
      |  CAST(max(len(embedding)) AS INTEGER) AS dims,
      |  min(len(embedding)) IS NOT DISTINCT FROM max(len(embedding))
      |    AS dims_uniform_ok,
      |  TRUE AS ev_desc_ok,
      |  TRUE AS ev_frac_valid_ok, TRUE AS ev_frac_sum_ok,
      |  TRUE AS orthonormal_ok
      |FROM embeddings""".stripMargin

  /** HashingTF token embedding (M1 stand-in): id + vector l1 norm +
    * non-zero count as a deterministic summary.
    */
  private def ml06HashEmbed(s: SparkSession, dir: String): DataFrame = {
    lastDir.put(s, dir)
    MlPipeline.hashingEmbed(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"),
        aggregate(col("embedding"), lit(0.0d), (acc, x) => acc + x).as("l1"),
        size(filter(col("embedding"), x => x > 0)).as("nnz"))
      .orderBy(col("doc_id"))
  }

  /** The sf dir each session last ran ml06 against — the oracle
    * generator reproduces that run's vocabulary (Verify executes the
    * query before dumping oracle_sql.json, so the entry is present).
    */
  private val lastDir = scala.collection.concurrent.TrieMap.empty[SparkSession, String]

  /** Generated oracle for ml06: murmur3 bucket assignment isn't
    * ANSI-SQL, but the corpus vocabulary is small — collect the
    * distinct tokens and interpolate each token's HashingTF.indexOf
    * bucket (the very hash the Spark run used) as a VALUES lookup.
    * l1 of a term-frequency vector is plain token count; nnz is
    * count(DISTINCT bucket) through the lookup.
    */
  private def ml06Sql(): String = {
    val s = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException("ml06 oracle needs a SparkSession"))
    val dir = lastDir.getOrElse(s, "/root/testdata/sf0.01")
    val vocab = Tables.documents(s, dir)
      .select(explode(graft.text.TextStats.tokens(col("text"))).as("tok"))
      .distinct().collect().map(_.getString(0)).sorted
    val htf = new org.apache.spark.ml.feature.HashingTF().setNumFeatures(64)
    val values = vocab.map(t =>
      s"('${t.replace("'", "''")}', ${htf.indexOf(t)})").mkString(",\n    ")
    s"""WITH vocab(tok, bucket) AS (VALUES
       |    $values),
       |toks AS (
       |  SELECT doc_id,
       |    unnest(${TextStats.tokensSql("text")}) AS tok
       |  FROM documents),
       |agg AS (
       |  SELECT t.doc_id,
       |    CAST(count(*) AS DOUBLE) AS l1,
       |    CAST(count(DISTINCT v.bucket) AS INTEGER) AS nnz
       |  FROM toks t JOIN vocab v USING (tok)
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |  -- NULL text → NULL embedding (the engine's deliberate
       |  -- NULL-restore contract, r11), NOT a zero vector: only a
       |  -- non-NULL token-less doc collapses to l1=0/nnz=0
       |  CASE WHEN d.text IS NULL THEN NULL
       |    ELSE coalesce(a.l1, 0.0::DOUBLE) END AS l1,
       |  CAST(CASE WHEN d.text IS NULL THEN NULL
       |    ELSE coalesce(a.nnz, 0) END AS INTEGER) AS nnz
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** 8-dp state snap with HALF-AWAY-FROM-ZERO ties, matching SQL
    * round(): Scala's math.round rounds half toward +infinity, which
    * would diverge from the DuckDB oracle on a negative iterate
    * landing exactly on a 1e-8 half-boundary. Rounding: `abs(x)·1e8`
    * rounded as a double, sign restored (`ops.Graph.snap8` rounds the
    * decimal form instead; the two can differ at a half-boundary).
    */
  private def snap8(x: Double): Double =
    math.signum(x) * math.round(math.abs(x) * 1e8) / 1e8

  /** Top principal direction by UNROLLED POWER ITERATION — the
    * oracle-checkable counterpart to ml05's MLlib PCA (whose internal
    * eigensolver no SQL engine reproduces). Eight fixed iterations of
    * v ← normalize(G·v) over the uncentered Gram matrix G = XᵀX,
    * starting from the all-ones vector: every step is plain join+agg
    * arithmetic both engines execute identically, sign and all.
    * Output: each vector's projection onto the estimated direction.
    *
    * Scale shape: G is built ONCE (one explode self-join shuffling
    * (i, j) cells — 64² rows regardless of corpus size; at 100 TB
    * this is the standard distributed Gram accumulation) and
    * localCheckpoint'd; each iteration is a 4096-row join — driver
    * never touches the data. MLlib's PCA stays the production path
    * (ml05); this gate proves the linear-algebra plumbing end-to-end.
    */
  /** Distributed 64×64 uncentered Gram accumulation (the treeAggregate
    * shape): each task folds its rows into a local array and emits 4096
    * partial cells — the explode-self-join formulation shuffled rows×64²
    * cells (9.7 s at sf0.1 vs ~1 s for this). G is APEX STATE —
    * corpus-size-independent — so collecting it to the driver is the
    * right altitude (same rationale as collected centroids/codebooks).
    */
  private def gram64(s: SparkSession, dir: String): Array[Array[Double]] = {
    import s.implicits._
    // fit-time screen (r11): the raw while-loop below indexes v(0..63),
    // so a truncated vector is an IndexOutOfBounds that kills the
    // whole accumulation task — screen shape AND finiteness like every
    // other fit (the 64 here is this query family's fixed contract,
    // asserted against the data by the filter rather than assumed)
    val g = Tables.embeddings(s, dir).select(col("embedding"))
      .filter(graft.functions.VectorExprs.isShapedVec(col("embedding"), 64))
      .as[Seq[Float]]
      .mapPartitions { it =>
        val acc = Array.ofDim[Double](64, 64)
        it.foreach { v =>
          var i = 0
          while (i < 64) {
            val vi = v(i).toDouble
            var j = 0
            while (j < 64) { acc(i)(j) += vi * v(j).toDouble; j += 1 }
            i += 1
          }
        }
        (for (i <- 0 until 64; j <- 0 until 64 if acc(i)(j) != 0.0)
          yield (i + 1, j + 1, acc(i)(j))).iterator
      }
      .toDF("i", "j", "pgv")
      .groupBy(col("i"), col("j")).agg(sum(col("pgv")).as("gv"))
    val gm = Array.ofDim[Double](64, 64)
    g.collect().foreach(r => gm(r.getInt(0) - 1)(r.getInt(1) - 1) = r.getDouble(2))
    gm
  }

  /** Column sums and row count of the embedding matrix — the rank-1
    * centering correction: G − s·sᵀ/n is (n−1)·covariance, whose
    * eigenvectors are the PCA directions MLlib finds (scaling doesn't
    * move eigenvectors). One extra scan-level agg job.
    */
  private def colSums64(s: SparkSession, dir: String): (Array[Double], Long) = {
    // SAME screen as gram64 — the centering correction G − s·sᵀ/n is
    // only meaningful if s, n and G are computed over the identical
    // row set, so the two jobs must exclude the same malformed rows
    // (and element_at(…, 33) on a truncated vector throws under ANSI)
    val emb = Tables.embeddings(s, dir)
      .filter(graft.functions.VectorExprs.isShapedVec(col("embedding"), 64))
    val sums = emb.agg(
      count(lit(1)).as("n"),
      (0 until 64).map(i =>
        sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i")): _*)
      .first()
    (Array.tabulate(64)(i => sums.getDouble(i + 1)), sums.getLong(0))
  }

  /** Eight snapped power-iteration rounds over a driver-side Gram:
    * returns the unit direction and the last pre-snap norm |G·v|
    * snapped to 6 dp — the eigenvalue estimate deflation uses.
    *
    * Per-iteration 8-decimal snap, exactly like Graph.pageRank: Gram
    * partial-sum order differs between engines, and unsnapped iterated
    * state lets that drift compound into the output rounding. Snapped,
    * both engines carry identical state.
    */
  private def powerIterate(g: Array[Array[Double]]): (Array[Double], Double) = {
    var vec = Array.fill(64)(1.0)
    var lastNrm = 0.0
    for (_ <- 1 to 8) {
      val w = Array.tabulate(64)(i =>
        (0 until 64).foldLeft(0.0)((acc, j) => acc + g(i)(j) * vec(j)))
      lastNrm = math.sqrt(w.map(x => x * x).sum)
      vec = w.map(x => snap8(x / lastNrm))
    }
    (vec, math.round(lastNrm * 1e6) / 1e6)
  }

  private def ml08PowerPc1(s: SparkSession, dir: String): DataFrame = {
    // one distributed job builds G, pure-Scala rounds replay the
    // recurrence, and the projection is a single codegen'd dot against
    // the final direction burned in as literals. The DataFrame-
    // iteration formulation cost 16 tiny scheduled jobs (2.4 s at
    // sf0.1); this shape is ~1 s and scan-bound.
    val (vec, _) = powerIterate(gram64(s, dir))
    // corrupt rows (shape/finiteness — the same screen the Gram
    // applied) project to NULL, keeping the row: a truncated vector's
    // prefix dot is a real-looking but wrong coordinate, and a NaN
    // element is NaN contagion downstream (r12 chaos-parity drive)
    Tables.embeddings(s, dir).select(col("vec_id"),
        when(graft.functions.VectorExprs.isShapedVec(col("embedding"), 64),
          round(graft.functions.VectorExprs.dot(col("embedding"),
            array(vec.map(lit).toIndexedSeq: _*)), 4)).as("pc1"))
      .orderBy(col("vec_id"))
  }

  /** Top-4 principal directions by DEFLATED power iteration — the
    * hash-green counterpart to ml05's MLlib PCA: after each component
    * converges, Hotelling deflation (G ← G − λ·v·vᵀ, λ = |G·v| snapped
    * to 6 dp) removes it and the next iteration finds the next
    * direction. Every quantity either engine carries — iterates,
    * eigenvalue estimates, the deflated matrix recurrence — is the
    * same snapped arithmetic, so the DuckDB oracle (4 components × 8
    * unrolled rounds + 3 deflations) reproduces the projections
    * exactly. The Gram is CENTERED first (G − s·sᵀ/n = (n−1)·cov) so
    * the directions are covariance eigenvectors like MLlib's;
    * projections stay raw-vector dots (MLlib's transform convention —
    * it does not re-center).
    *
    * MLlib's PCA (ml05) stays the production path. The synthetic
    * embeddings have a near-flat spectrum (top explained-variance
    * fractions 0.0289/0.0270/0.0259/0.0253), so per-component equality
    * with an exact eigensolver is ill-posed for ANY iterative method
    * at any iteration count; the truthful invariant — pinned in
    * MlSpec — is subspace quality: the 4 power directions capture
    * ≥ 93% of the variance MLlib's exact top-4 subspace captures
    * (random directions would capture ~58%).
    *
    * Scale shape: identical to ml08 — one distributed Gram job plus a
    * column-sum agg, 64×64 driver state, final projection is 4
    * codegen'd dots.
    */
  private def ml05bPowerPca(s: SparkSession, dir: String): DataFrame = {
    val g = gram64(s, dir)
    val (cs, n) = colSums64(s, dir)
    // center: G − s·sᵀ/n = (n−1)·cov — same eigenvectors as MLlib's
    // covariance PCA
    for (i <- 0 until 64; j <- 0 until 64) g(i)(j) -= cs(i) * cs(j) / n
    val dirs = (0 until 4).map { _ =>
      val (v, lam) = powerIterate(g)
      var i = 0
      while (i < 64) {
        var j = 0
        while (j < 64) { g(i)(j) -= lam * v(i) * v(j); j += 1 }
        i += 1
      }
      v
    }
    // corrupt rows project to NULL, keeping the row — ml08's contract
    Tables.embeddings(s, dir).select(col("vec_id") +:
        dirs.zipWithIndex.map { case (v, c) =>
          when(graft.functions.VectorExprs.isShapedVec(col("embedding"), 64),
            round(graft.functions.VectorExprs.dot(col("embedding"),
              array(v.map(lit).toIndexedSeq: _*)), 4)).as(s"pc_$c")
        }: _*)
      .orderBy(col("vec_id"))
  }

  private val ml05bSql: String = {
    // 4 components × 8 unrolled snapped iterations, with a Hotelling
    // deflation CTE between components — ml08's construction extended
    // by g{c+1} = g{c} − λ·v·vᵀ (λ = round(|G·v|, 6) from the last
    // iteration's norm CTE, v = that component's v8).
    // Every CTE is MATERIALIZED: each w is referenced twice (norm +
    // normalize) and each deflated g feeds 8 more rounds, so DuckDB's
    // default inlining would expand the plan (and its parquet scans)
    // exponentially — the first sf0.01 run died on "too many open
    // files" before the hint.
    def comp(c: Int, gSrc: String): String = {
      val iters = (1 to 8).map { t =>
        val prev = s"c${c}_v${t - 1}"
        s"""c${c}_w$t AS MATERIALIZED (
           |  SELECT g.i, sum(g.gv * p.vval) AS w
           |  FROM $gSrc g JOIN $prev p ON g.j = p.i GROUP BY 1),
           |c${c}_n$t AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS nrm FROM c${c}_w$t),
           |c${c}_v$t AS MATERIALIZED (SELECT i, round(w / nrm, 8) AS vval FROM c${c}_w$t, c${c}_n$t)""".stripMargin
      }.mkString(",\n")
      s"""c${c}_v0 AS MATERIALIZED (SELECT unnest(range(1, 65)) AS i, 1.0::DOUBLE AS vval),
         |$iters,
         |c${c}_lam AS MATERIALIZED (SELECT round(nrm, 6) AS lam FROM c${c}_n8)""".stripMargin
    }
    def deflate(c: Int, gSrc: String): String =
      s"""g${c + 1} AS MATERIALIZED (
         |  SELECT g.i, g.j, g.gv - l.lam * a.vval * b.vval AS gv
         |  FROM $gSrc g JOIN c${c}_v8 a ON g.i = a.i JOIN c${c}_v8 b ON g.j = b.i
         |  CROSS JOIN c${c}_lam l)""".stripMargin
    val body = (0 until 4).map { c =>
      val gSrc = s"g$c"
      if (c < 3) comp(c, gSrc) + ",\n" + deflate(c, gSrc)
      else comp(c, gSrc)
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleSql.EmbScreened} t),
       |x AS MATERIALIZED (
       |  SELECT vec_id, i, v[i] AS xi
       |  FROM (SELECT vec_id, v, unnest(range(1, 65)) AS i FROM e)),
       |g AS MATERIALIZED (
       |  SELECT a.i, b.i AS j, sum(a.xi * b.xi) AS gv
       |  FROM x a JOIN x b USING (vec_id)
       |  GROUP BY 1, 2),
       |sums AS MATERIALIZED (SELECT i, sum(xi) AS si FROM x GROUP BY 1),
       |nr AS MATERIALIZED (SELECT count(*) AS n FROM e),
       |g0 AS MATERIALIZED (
       |  SELECT g.i, g.j, g.gv - sa.si * sb.si / nr.n AS gv
       |  FROM g JOIN sums sa ON g.i = sa.i JOIN sums sb ON g.j = sb.i
       |  CROSS JOIN nr),
       |$body,
       |proj AS (
       |  SELECT x.vec_id,
       |    round(sum(x.xi * d0.vval), 4) AS pc_0,
       |    round(sum(x.xi * d1.vval), 4) AS pc_1,
       |    round(sum(x.xi * d2.vval), 4) AS pc_2,
       |    round(sum(x.xi * d3.vval), 4) AS pc_3
       |  FROM x
       |  JOIN c0_v8 d0 ON x.i = d0.i
       |  JOIN c1_v8 d1 ON x.i = d1.i
       |  JOIN c2_v8 d2 ON x.i = d2.i
       |  JOIN c3_v8 d3 ON x.i = d3.i
       |  GROUP BY x.vec_id)
       |SELECT a.vec_id, p.pc_0, p.pc_1, p.pc_2, p.pc_3
       |FROM embeddings a LEFT JOIN proj p USING (vec_id)
       |ORDER BY a.vec_id""".stripMargin
  }

  private val ml08Sql: String = {
    // x, g and every w/n/v are MATERIALIZED, as in ml05b: each v reads
    // its w directly and again through its norm, so DuckDB's default
    // inlining doubles the plan per iteration (2^8), and x and g are
    // read several times each
    val iters = (1 to 8).map { t =>
      val prev = s"v${t - 1}"
      s"""w$t AS MATERIALIZED (
         |  SELECT g.i, sum(g.gv * $prev.vval) AS w
         |  FROM g JOIN $prev ON g.j = $prev.i GROUP BY 1),
         |n$t AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS nrm FROM w$t),
         |v$t AS MATERIALIZED (SELECT i, round(w / nrm, 8) AS vval FROM w$t, n$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleSql.EmbScreened} t),
       |x AS MATERIALIZED (
       |  SELECT vec_id, i, v[i] AS xi
       |  FROM (SELECT vec_id, v, unnest(range(1, 65)) AS i FROM e)),
       |g AS MATERIALIZED (
       |  SELECT a.i, b.i AS j, sum(a.xi * b.xi) AS gv
       |  FROM x a JOIN x b USING (vec_id)
       |  GROUP BY 1, 2),
       |v0 AS (SELECT unnest(range(1, 65)) AS i, 1.0::DOUBLE AS vval),
       |$iters,
       |proj AS (
       |  SELECT x.vec_id, round(sum(x.xi * v8.vval), 4) AS pc1
       |  FROM x JOIN v8 ON x.i = v8.i
       |  GROUP BY x.vec_id)
       |SELECT a.vec_id, p.pc1
       |FROM embeddings a LEFT JOIN proj p USING (vec_id)
       |ORDER BY a.vec_id""".stripMargin
  }

  /** Decision-stump split search over the order features — the
    * hash-green tree-split primitive (MlPipeline.stumpSplits) next to
    * the rows-only MLlib ensemble gates. Bounded-domain features only;
    * custkey would go through ml09-style binning first.
    */
  private def ml10StumpSplits(s: SparkSession, dir: String): DataFrame =
    MlPipeline.stumpSplits(
        MlPipeline.orderFeatures(Tables.orders(s, dir)), "label",
        Seq("order_year", "order_month", "prio_urgent", "status_f"))
      .orderBy(col("feature"))

  private val ml10Sql: String = {
    val feature = Map(
      "order_year" -> "CAST(year(o_orderdate) AS DOUBLE)",
      "order_month" -> "CAST(month(o_orderdate) AS DOUBLE)",
      "prio_urgent" -> "CAST(o_orderpriority = '1-URGENT' AS DOUBLE)",
      "status_f" -> "CAST(o_orderstatus = 'F' AS DOUBLE)")
    val branches = feature.toSeq.sortBy(_._1).map { case (name, expr) =>
      s"""  SELECT '$name' AS feature, v AS threshold,
         |    round(greatest(
         |      (t.pp - c.cp + c.cn - c.cp) / CAST(t.nn AS DOUBLE),
         |      (c.cp + t.nn - t.pp - c.cn + c.cp) / CAST(t.nn AS DOUBLE)), 6) AS acc
         |  FROM (
         |    SELECT v, sum(n) OVER w AS cn, sum(npos) OVER w AS cp
         |    FROM (SELECT $expr AS v, count(*) AS n,
         |            sum(CASE WHEN o_totalprice >= 100000.0 THEN 1 ELSE 0 END) AS npos
         |          FROM orders GROUP BY 1)
         |    WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  ) c CROSS JOIN tot t""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH tot AS (
       |  SELECT count(*) AS nn,
       |    sum(CASE WHEN o_totalprice >= 100000.0 THEN 1 ELSE 0 END) AS pp
       |  FROM orders),
       |cand AS (
       |$branches),
       |ranked AS (
       |  SELECT feature, threshold, acc,
       |    row_number() OVER (PARTITION BY feature
       |      ORDER BY acc DESC, threshold) AS rk
       |  FROM cand)
       |SELECT feature, threshold, acc FROM ranked WHERE rk = 1
       |ORDER BY feature""".stripMargin
  }

  /** Additive L2 boosting over ml10's exact stump search — the
    * hash-green GBT-family gate (MlPipeline.boostedStumps has the
    * determinism contract: fixed-point long state, exactly-associative
    * sums, floor-snapped leaf weights). 3 rounds over the bounded-
    * domain order features; output = the model itself (one stump per
    * round) plus per-round train accuracy, so the hash covers every
    * split decision AND every per-row prediction flip.
    */
  private def ml19BoostedStumps(s: SparkSession, dir: String): DataFrame =
    MlPipeline.boostedStumps(
      MlPipeline.orderFeatures(Tables.orders(s, dir)), "label",
      Seq("order_year", "order_month", "prio_urgent", "status_f"), 3)

  private val ml19Sql: String = {
    // Fully-unrolled 3-round boosting recurrence: per round, a residual
    // CTE, per-feature cumulative histograms (the ml10 window shape),
    // the argmax stump, and the updated per-row score. All state is
    // fixed-point BIGINT (1e-8 units) so every sum is exactly
    // associative; gains are computed from those exact integers by the
    // SAME IEEE expression as the Spark side, making the argmax
    // reproducible bit-for-bit. MATERIALIZED per the ml05b lesson.
    val feats = Seq(
      "order_year" -> "CAST(year(o_orderdate) AS DOUBLE)",
      "order_month" -> "CAST(month(o_orderdate) AS DOUBLE)",
      "prio_urgent" -> "CAST(o_orderpriority = '1-URGENT' AS DOUBLE)",
      "status_f" -> "CAST(o_orderstatus = 'F' AS DOUBLE)")
    def rnd(m: Int): String = {
      val branches = feats.map { case (name, _) =>
        s"""    SELECT '$name' AS feature, $name AS v, count(*) AS n, sum(r) AS sr
           |    FROM r$m GROUP BY 2""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""r$m AS MATERIALIZED (SELECT *, y - fi AS r FROM p${m - 1}),
         |h$m AS MATERIALIZED (
         |  SELECT feature, v, sum(n) OVER w AS nl, sum(sr) OVER w AS sl
         |  FROM (
         |$branches)
         |  WINDOW w AS (PARTITION BY feature ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |g$m AS MATERIALIZED (
         |  SELECT h.feature, h.v, h.sl, h.nl,
         |    rt.st - h.sl AS sr2, rt.nn - h.nl AS nr,
         |    CAST(h.sl AS DOUBLE) * CAST(h.sl AS DOUBLE) / CAST(h.nl AS DOUBLE)
         |      + CAST(rt.st - h.sl AS DOUBLE) * CAST(rt.st - h.sl AS DOUBLE)
         |        / CAST(rt.nn - h.nl AS DOUBLE) AS gain
         |  FROM h$m h CROSS JOIN (SELECT count(*) AS nn, sum(r) AS st FROM r$m) rt
         |  WHERE rt.nn - h.nl > 0),
         |b$m AS MATERIALIZED (
         |  SELECT feature, v AS thr,
         |    CAST(floor(0.5 * sl / nl + 0.5) AS BIGINT) AS lo,
         |    CAST(floor(0.5 * sr2 / nr + 0.5) AS BIGINT) AS hi
         |  FROM g$m ORDER BY gain DESC, feature, v LIMIT 1),
         |p$m AS MATERIALIZED (
         |  SELECT r.k, r.y, r.order_year, r.order_month, r.prio_urgent, r.status_f,
         |    r.fi + CASE WHEN (CASE b.feature
         |        WHEN 'order_year' THEN r.order_year
         |        WHEN 'order_month' THEN r.order_month
         |        WHEN 'prio_urgent' THEN r.prio_urgent
         |        ELSE r.status_f END) <= b.thr THEN b.lo ELSE b.hi END AS fi
         |  FROM r$m r CROSS JOIN b$m b),
         |a$m AS (SELECT round(avg(CASE WHEN (2 * fi >= 100000000) = (y > 0)
         |  THEN 1.0 ELSE 0.0 END), 6) AS acc FROM p$m)""".stripMargin
    }
    val rounds = (1 to 3).map(rnd).mkString(",\n")
    s"""WITH f AS MATERIALIZED (
       |  SELECT o_orderkey AS k,
       |    CAST(CASE WHEN o_totalprice >= 100000.0 THEN 100000000 ELSE 0 END AS BIGINT) AS y,
       |    ${feats.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")}
       |  FROM orders),
       |t AS (SELECT count(*) AS nn, sum(y) AS sy FROM f),
       |b0 AS (SELECT CAST(floor(sy / nn + 0.5) AS BIGINT) AS f0 FROM t),
       |p0 AS MATERIALIZED (SELECT f.*, b0.f0 AS fi FROM f CROSS JOIN b0),
       |a0 AS (SELECT round(avg(CASE WHEN (2 * fi >= 100000000) = (y > 0)
       |  THEN 1.0 ELSE 0.0 END), 6) AS acc FROM p0),
       |$rounds
       |SELECT * FROM (
       |  SELECT 0 AS rnd, '_base' AS feature, -1.0 AS threshold,
       |    b0.f0 / 100000000.0 AS leaf_lo, b0.f0 / 100000000.0 AS leaf_hi,
       |    a0.acc FROM b0 CROSS JOIN a0
       |  UNION ALL SELECT 1, b1.feature, b1.thr, b1.lo / 100000000.0,
       |    b1.hi / 100000000.0, a1.acc FROM b1 CROSS JOIN a1
       |  UNION ALL SELECT 2, b2.feature, b2.thr, b2.lo / 100000000.0,
       |    b2.hi / 100000000.0, a2.acc FROM b2 CROSS JOIN a2
       |  UNION ALL SELECT 3, b3.feature, b3.thr, b3.lo / 100000000.0,
       |    b3.hi / 100000000.0, a3.acc FROM b3 CROSS JOIN a3)
       |ORDER BY rnd""".stripMargin
  }

  private def ml20Depth2Tree(s: SparkSession, dir: String): DataFrame =
    MlPipeline.depth2Tree(
      MlPipeline.orderFeatures(Tables.orders(s, dir)), "label",
      Seq("order_year", "order_month", "prio_urgent", "status_f"))

  // The depth-2 recursion unrolled: root argmax over per-feature
  // cumulative histograms, branch data filtered through the chosen
  // (feature, threshold) via a CASE dispatch, the same argmax per
  // branch, and a 7-node stat table. The split score is an INTEGER
  // (majority-correct count), so the argmax — ORDER BY correct
  // DESC, feature, v — is reproducible exactly, no snapping.
  private val ml20Feats = Seq(
    "order_month" -> "CAST(month(o_orderdate) AS DOUBLE)",
    "order_year" -> "CAST(year(o_orderdate) AS DOUBLE)",
    "prio_urgent" -> "CAST(o_orderpriority = '1-URGENT' AS DOUBLE)",
    "status_f" -> "CAST(o_orderstatus = 'F' AS DOUBLE)")

  private def ml20Dispatch(alias: String, src: String) =
    s"""(CASE $alias.feature WHEN 'order_month' THEN $src.order_month
       |    WHEN 'order_year' THEN $src.order_year
       |    WHEN 'prio_urgent' THEN $src.prio_urgent
       |    ELSE $src.status_f END)""".stripMargin

  private def ml20Search(node: String, out: String): String = {
    val branches = ml20Feats.map { case (name, _) =>
      s"""    SELECT '$name' AS feature, $name AS v, count(*) AS n, sum(y) AS npos
         |    FROM $node GROUP BY 2""".stripMargin
    }.mkString("\n    UNION ALL\n")
    s"""h_$out AS MATERIALIZED (
       |  SELECT feature, v, sum(n) OVER w AS cn, sum(npos) OVER w AS cp
       |  FROM (
       |$branches)
       |  WINDOW w AS (PARTITION BY feature ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |t_$out AS (SELECT count(*) AS nn, sum(y) AS pp FROM $node),
       |$out AS MATERIALIZED (
       |  SELECT feature, v AS threshold
       |  FROM h_$out CROSS JOIN t_$out
       |  WHERE cn < nn
       |  ORDER BY greatest(cp, cn - cp)
       |    + greatest(pp - cp, (nn - cn) - (pp - cp)) DESC, feature, v
       |  LIMIT 1)""".stripMargin
  }

  private val ml20Sql: String = {
    ml20Ctes(ml20Feats, ml20Dispatch, ml20Search) +
      s"""
       |SELECT node, feature, threshold, CAST(n AS BIGINT) AS n,
       |  CAST(npos AS BIGINT) AS npos,
       |  CAST(CASE WHEN 2 * npos > n THEN 1 ELSE 0 END AS INTEGER) AS pred
       |FROM stats
       |ORDER BY node""".stripMargin
  }

  /** The shared ml20 oracle chain (data → root/child argmaxes → the
    * 7-node stats CTE), reused by ml21's importance arithmetic. */
  private def ml20Ctes(feats: Seq[(String, String)],
      dispatch: (String, String) => String,
      search: (String, String) => String): String =
    s"""WITH d AS MATERIALIZED (
       |  SELECT CASE WHEN o_totalprice >= 100000.0 THEN 1 ELSE 0 END AS y,
       |    ${feats.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")}
       |  FROM orders),
       |${search("d", "s_root")},
       |dl AS MATERIALIZED (
       |  SELECT d.* FROM d CROSS JOIN s_root r
       |  WHERE ${dispatch("r", "d")} <= r.threshold),
       |dr AS MATERIALIZED (
       |  SELECT d.* FROM d CROSS JOIN s_root r
       |  WHERE ${dispatch("r", "d")} > r.threshold),
       |${search("dl", "s_l")},
       |${search("dr", "s_r")},
       |stats AS (
       |  SELECT 'root' AS node, (SELECT feature FROM s_root) AS feature,
       |    (SELECT threshold FROM s_root) AS threshold, count(*) AS n, sum(y) AS npos FROM d
       |  UNION ALL SELECT 'L', (SELECT feature FROM s_l),
       |    (SELECT threshold FROM s_l), count(*), sum(y) FROM dl
       |  UNION ALL SELECT 'R', (SELECT feature FROM s_r),
       |    (SELECT threshold FROM s_r), count(*), sum(y) FROM dr
       |  UNION ALL SELECT 'LL', '', -1.0, count(*), sum(y)
       |    FROM dl CROSS JOIN s_l b WHERE ${dispatch("b", "dl")} <= b.threshold
       |  UNION ALL SELECT 'LR', '', -1.0, count(*), sum(y)
       |    FROM dl CROSS JOIN s_l b WHERE ${dispatch("b", "dl")} > b.threshold
       |  UNION ALL SELECT 'RL', '', -1.0, count(*), sum(y)
       |    FROM dr CROSS JOIN s_r b WHERE ${dispatch("b", "dr")} <= b.threshold
       |  UNION ALL SELECT 'RR', '', -1.0, count(*), sum(y)
       |    FROM dr CROSS JOIN s_r b WHERE ${dispatch("b", "dr")} > b.threshold)""".stripMargin

  /** Hash-verified feature importances — the ml04 twin: majority-
    * correct GAIN per internal node of ml20's tree, summed per
    * feature and normalized. gain(node) = corr(L) + corr(R) −
    * corr(node) with corr = max(npos, n − npos): pure INTEGER
    * arithmetic over the 7-row node table, so the only double is the
    * final normalized share. ml04 stays the MLlib-wrapper gate
    * (rows-only by contract); this verifies the importance math next
    * door, the same posture as ml19 for GBT training.
    */
  private def ml21TreeImportances(s: SparkSession, dir: String): DataFrame = {
    val t = MlPipeline.depth2Tree(
      MlPipeline.orderFeatures(Tables.orders(s, dir)), "label",
      Seq("order_year", "order_month", "prio_urgent", "status_f"))
    val maj = t.select(col("node"), col("feature"),
      greatest(col("npos"), col("n") - col("npos")).as("corr"))
    val spark = s
    import spark.implicits._
    val edges = Seq(("root", "L", "R"), ("L", "LL", "LR"), ("R", "RL", "RR"))
      .toDF("parent", "cl", "cr")
    val gains = edges
      .join(maj.toDF("parent", "feature", "p_corr"), "parent")
      .join(maj.select(col("node").as("cl"), col("corr").as("l_corr")), "cl")
      .join(maj.select(col("node").as("cr"), col("corr").as("r_corr")), "cr")
      .groupBy(col("feature"))
      .agg(sum(col("l_corr") + col("r_corr") - col("p_corr")).as("gain"))
    val tot = gains.agg(sum(col("gain")).as("tg"))
    gains.crossJoin(broadcast(tot))
      .select(col("feature"), col("gain"),
        when(col("tg") === 0, lit(0.0))
          .otherwise(round(col("gain") / col("tg"), 6)).as("importance"))
      .orderBy(col("feature"))
  }

  private val ml21Sql: String =
    ml20Ctes(ml20Feats, ml20Dispatch, ml20Search) +
      s""",
       |maj AS (
       |  SELECT node, feature, greatest(npos, n - npos) AS corr FROM stats),
       |edges(parent, cl, cr) AS (
       |  VALUES ('root', 'L', 'R'), ('L', 'LL', 'LR'), ('R', 'RL', 'RR')),
       |gains AS (
       |  SELECT p.feature, sum(l.corr + r.corr - p.corr) AS gain
       |  FROM edges e
       |  JOIN maj p ON p.node = e.parent
       |  JOIN maj l ON l.node = e.cl
       |  JOIN maj r ON r.node = e.cr
       |  GROUP BY 1),
       |tot AS (SELECT sum(gain) AS tg FROM gains)
       |SELECT feature, CAST(gain AS BIGINT) AS gain,
       |  CASE WHEN tg = 0 THEN 0.0
       |       ELSE round(gain / CAST(tg AS DOUBLE), 6) END AS importance
       |FROM gains CROSS JOIN tot
       |ORDER BY feature""".stripMargin

  /** Signed-hash bag-of-words embedding (feature hashing with a ±1
    * sign hash — Weinberger et al.'s unbiased variant), md5-derived so
    * any engine reproduces it bit-for-bit, unlike HashingTF's
    * murmur3 (ml06 stays rows-only for that reason). Sparse output
    * (doc, dim, weight) — the layout a 100 TB embedding table wants
    * anyway (dense arrays waste 98% of storage at this sparsity).
    */
  private def ml07Md5Embed(s: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(s, dir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .withColumn("h",
        pmod(graft.dedup.Dedup.md5Hash48(col("t")), lit(1048576)))
    terms
      .select(col("doc_id"), (col("h") % 64).cast("int").as("dim"),
        (((col("h") / 64).cast("long") % 2) * 2 - 1).as("sign"))
      .groupBy("doc_id", "dim").agg(sum(col("sign")).as("weight"))
      .filter(col("weight") =!= 0)
      .orderBy(col("doc_id"), col("dim"))
  }

  private val ml07Sql =
    raw"""WITH terms AS (
      |  SELECT doc_id, unnest(toks) AS t
      |  FROM (SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |        FROM documents WHERE doc_id < 100)
      |  WHERE len(toks) > 0),
      |h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(t), 1, 12))::BIGINT % 1048576 AS h
      |  FROM terms)
      |SELECT doc_id, CAST(h % 64 AS INTEGER) AS dim,
      |  CAST(sum((h // 64) % 2 * 2 - 1) AS BIGINT) AS weight
      |FROM h
      |GROUP BY doc_id, dim
      |HAVING sum((h // 64) % 2 * 2 - 1) != 0
      |ORDER BY doc_id, dim""".stripMargin

  /** Quantile feature binning (the discretization step of feature
    * engineering): per returnflag, price quartile-bins assigned by the
    * value-histogram CDF — the q45b technique applied per group, with
    * the per-bin summary (count, bucket range) as the gate output.
    * Row-level assignment is the same join the summary uses (join
    * `bins` back on (flag, bucket)); every op is histogram-level.
    */
  private def ml09QuantileBins(s: SparkSession, dir: String): DataFrame = {
    val pr = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        floor(col("l_extendedprice")).cast("long").as("b"))
    val hist = pr.groupBy(col("flag"), col("b")).agg(count(lit(1)).as("nb"))
    val wc = Window.partitionBy(col("flag")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum(col("nb")).over(wc))
    val tot = pr.groupBy(col("flag")).agg(count(lit(1)).as("n"))
    cum.join(tot, "flag")
      .select(col("flag"), col("b"), col("nb"),
        ceil(col("cum") * 4 / col("n")).cast("int").as("bin"))
      .groupBy(col("flag"), col("bin"))
      .agg(sum(col("nb")).as("n"), min(col("b")).as("lo"), max(col("b")).as("hi"))
      .select(col("flag").as("l_returnflag"), col("bin"), col("n"),
        col("lo"), col("hi"))
      .orderBy(col("l_returnflag"), col("bin"))
  }

  private val ml09Sql =
    """WITH pr AS (
      |  SELECT l_returnflag AS flag, CAST(floor(l_extendedprice) AS BIGINT) AS b
      |  FROM lineitem),
      |hist AS (SELECT flag, b, count(*) AS nb FROM pr GROUP BY 1, 2),
      |cum AS (
      |  SELECT flag, b, nb,
      |    sum(nb) OVER (PARTITION BY flag ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |tot AS (SELECT flag, count(*) AS n FROM pr GROUP BY 1),
      |binned AS (
      |  SELECT c.flag, c.b, c.nb,
      |    CAST(ceil(c.cum * 4 / CAST(t.n AS DOUBLE)) AS INTEGER) AS bin
      |  FROM cum c JOIN tot t USING (flag))
      |SELECT flag AS l_returnflag, bin, CAST(sum(nb) AS BIGINT) AS n,
      |  min(b) AS lo, max(b) AS hi
      |FROM binned
      |GROUP BY 1, 2
      |ORDER BY l_returnflag, bin""".stripMargin

  // ---------------------------------------------------------------- ml11

  /** Logistic regression trained by 5 unrolled batch-gradient-descent
    * steps, every weight update snapped to 8 dp in BOTH engines — the
    * first fully hash-verified model TRAINING gate (ml03's GBT is
    * rows-only by necessity; this one has no excuse and gets none).
    * Task: predict l_returnflag='R' from (quantity, discount, tax),
    * unit-scaled, intercept included, lr=1.
    *
    * Scale shape: each step is ONE map-side-combined average over the
    * feature frame (4 conditional sums) — the classic distributed
    * mini-batch GD shape with bounded (4-double) driver state; the
    * projected feature frame is persisted once and scanned 6× (5 steps
    * + metrics). No per-row state, no global sort, nothing driver-side
    * beyond the weight vector itself.
    */
  /** The ml11 feature frame — shared with ml16's calibration gate. */
  private[queries] def logregFeatures(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"),
      (col("l_quantity") / 50.0).as("x1"),
      (col("l_discount") * 10.0).as("x2"),
      (col("l_tax") * 10.0).as("x3"))

  /** The 5 snapped GD steps over an (already persisted) feature frame —
    * shared with ml16 so calibration scores the identical model.
    */
  private[queries] def logregWeights(f: DataFrame): Array[Double] = {
    var w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to 5) {
      val z = lit(w(0)) + lit(w(1)) * col("x1") +
        lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
      val e = lit(1.0) / (lit(1.0) + exp(-z)) - col("y")
      val g = f.agg(avg(e).as("g0"), avg(e * col("x1")).as("g1"),
        avg(e * col("x2")).as("g2"), avg(e * col("x3")).as("g3")).first()
      w = Array.tabulate(4)(j => snap8(w(j) - g.getDouble(j)))
    }
    w
  }

  private def ml11Logreg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val f = logregFeatures(s, dir).persist()
    try {
      val w = logregWeights(f)
      // final-model quality metrics: p>=0.5 ⟺ z>=0 (no float sigmoid in
      // the decision), log-loss clamped away from 0/1 by the sigmoid
      // itself (|z| is small); rounded 4 dp — partial-agg order drift
      // is ~1e-12, far below the rounding step
      val z = lit(w(0)) + lit(w(1)) * col("x1") +
        lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      val m = f.agg(
        avg(when((z >= 0) === (col("y") === 1.0), 1.0).otherwise(0.0)).as("acc"),
        avg(-(col("y") * log(p) + (lit(1.0) - col("y")) * log(lit(1.0) - p)))
          .as("ll")).first()
      Seq(
        ("accuracy", math.round(m.getDouble(0) * 1e4) / 1e4),
        ("logloss", math.round(m.getDouble(1) * 1e4) / 1e4),
        ("w_disc", w(2)), ("w_intercept", w(0)), ("w_qty", w(1)),
        ("w_tax", w(3))).toDF("name", "value").orderBy(col("name"))
    } finally f.unpersist()
  }

  /** WITH-prefix shared by ml11's and ml16's oracles: the feature CTE
    * plus the 5 GD-step CTEs ending at w5.
    */
  private[queries] val logregPrefixSql: String = {
    // one CTE per GD step; MATERIALIZED so DuckDB doesn't inline the
    // recurrence exponentially (the ml05b lesson)
    def step(k: Int) =
      s"""w$k AS MATERIALIZED (
         |  SELECT round(min(pw0) - avg(e), 8) AS w0,
         |    round(min(pw1) - avg(e * x1), 8) AS w1,
         |    round(min(pw2) - avg(e * x2), 8) AS w2,
         |    round(min(pw3) - avg(e * x3), 8) AS w3
         |  FROM (
         |    SELECT f.*, w.w0 AS pw0, w.w1 AS pw1, w.w2 AS pw2, w.w3 AS pw3,
         |      1.0 / (1.0 + exp(-(w.w0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3))) - f.y AS e
         |    FROM f CROSS JOIN w${k - 1} w))""".stripMargin
    val steps = (1 to 5).map(step).mkString(",\n")
    """WITH f AS MATERIALIZED (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
      |    l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2, l_tax * 10.0 AS x3
      |  FROM lineitem),
      |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
      |""".stripMargin + steps
  }

  private val ml11Sql = {
    logregPrefixSql + """,
      |m AS (
      |  SELECT
      |    round(avg(CASE WHEN (z >= 0) = (y = 1.0) THEN 1.0 ELSE 0.0 END), 4) AS acc,
      |    round(avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))), 4) AS ll
      |  FROM (
      |    SELECT f.y, w.w0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 AS z,
      |      1.0 / (1.0 + exp(-(w.w0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3))) AS p
      |    FROM f CROSS JOIN w5 w))
      |SELECT name, value FROM (
      |  SELECT 'accuracy' AS name, acc AS value FROM m
      |  UNION ALL SELECT 'logloss', ll FROM m
      |  UNION ALL SELECT 'w_intercept', w0 FROM w5
      |  UNION ALL SELECT 'w_qty', w1 FROM w5
      |  UNION ALL SELECT 'w_disc', w2 FROM w5
      |  UNION ALL SELECT 'w_tax', w3 FROM w5)
      |ORDER BY name""".stripMargin
  }

  // ---------------------------------------------------------------- ml12

  /** K-means (k=4, 2-d) by 3 unrolled Lloyd iterations with snapped
    * centroids — hash-verified clustering the same way ml11 verifies
    * GD. Points are (l_quantity, l_extendedprice/10000); fixed literal
    * init; assignment breaks distance ties toward the lower cluster id
    * via the same `<=` CASE chain in both engines; an empty cluster
    * keeps its previous centroid (coalesce).
    *
    * Scale shape: each iteration is ONE conditional-aggregate pass (8
    * avgs, map-side combined) with k×d = 8 doubles of driver state —
    * exactly how MLlib's own KMeans distributes (runs + treeAggregate),
    * minus the unverifiable parts.
    */
  private def ml12Kmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = Tables.lineitem(s, dir).select(
      col("l_quantity").cast("double").as("x"),
      (col("l_extendedprice") / 10000.0).as("yv")).persist()
    var cx = Array(10.0, 20.0, 30.0, 40.0)
    var cy = Array(1.0, 3.0, 5.0, 7.0)
    def assignExpr = {
      val d = (0 until 4).map(j =>
        (col("x") - lit(cx(j))) * (col("x") - lit(cx(j))) +
          (col("yv") - lit(cy(j))) * (col("yv") - lit(cy(j))))
      when(d(0) <= d(1) && d(0) <= d(2) && d(0) <= d(3), 0)
        .when(d(1) <= d(2) && d(1) <= d(3), 1)
        .when(d(2) <= d(3), 2).otherwise(3)
    }
    try {
      for (_ <- 1 to 3) {
        val cl = assignExpr
        val aggs = (0 until 4).map(j => avg(when(cl === j, col("x"))).as(s"cx$j")) ++
          (0 until 4).map(j => avg(when(cl === j, col("yv"))).as(s"cy$j"))
        val r = pts.agg(aggs.head, aggs.tail: _*).first()
        cx = Array.tabulate(4)(j =>
          if (r.isNullAt(j)) cx(j) else snap8(r.getDouble(j)))
        cy = Array.tabulate(4)(j =>
          if (r.isNullAt(4 + j)) cy(j) else snap8(r.getDouble(4 + j)))
      }
      val cl = assignExpr
      val d = (0 until 4).map(j =>
        (col("x") - lit(cx(j))) * (col("x") - lit(cx(j))) +
          (col("yv") - lit(cy(j))) * (col("yv") - lit(cy(j))))
      val dist = sqrt((0 until 4).foldLeft(lit(Double.MaxValue))((acc, j) =>
        when(cl === j, d(j)).otherwise(acc)))
      pts.select(cl.as("cluster"), col("x"), col("yv"), dist.as("dist"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), round(avg(col("dist")), 4).as("avg_dist"))
        .join(
          (0 until 4).map(j => (j, cx(j), cy(j))).toDF("cluster", "cx", "cy"),
          Seq("cluster"), "right")
        .select(col("cluster"), coalesce(col("n"), lit(0L)).as("n"),
          col("cx"), col("cy"), col("avg_dist"))
        .orderBy(col("cluster"))
    } finally pts.unpersist()
  }

  private val ml12Sql = {
    def assign(prev: String) =
      s"""SELECT p.x, p.yv,
         |      CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
         |           WHEN d1 <= d2 AND d1 <= d3 THEN 1
         |           WHEN d2 <= d3 THEN 2 ELSE 3 END AS cl,
         |      d0, d1, d2, d3
         |    FROM (
         |      SELECT p0.x, p0.yv,
         |        (p0.x-c.cx0)*(p0.x-c.cx0) + (p0.yv-c.cy0)*(p0.yv-c.cy0) AS d0,
         |        (p0.x-c.cx1)*(p0.x-c.cx1) + (p0.yv-c.cy1)*(p0.yv-c.cy1) AS d1,
         |        (p0.x-c.cx2)*(p0.x-c.cx2) + (p0.yv-c.cy2)*(p0.yv-c.cy2) AS d2,
         |        (p0.x-c.cx3)*(p0.x-c.cx3) + (p0.yv-c.cy3)*(p0.yv-c.cy3) AS d3
         |      FROM pts p0 CROSS JOIN $prev c) p""".stripMargin
    def step(k: Int) =
      s"""c$k AS MATERIALIZED (
         |  SELECT
         |    round(coalesce(avg(CASE WHEN cl = 0 THEN x END), min(pcx0)), 8) AS cx0,
         |    round(coalesce(avg(CASE WHEN cl = 1 THEN x END), min(pcx1)), 8) AS cx1,
         |    round(coalesce(avg(CASE WHEN cl = 2 THEN x END), min(pcx2)), 8) AS cx2,
         |    round(coalesce(avg(CASE WHEN cl = 3 THEN x END), min(pcx3)), 8) AS cx3,
         |    round(coalesce(avg(CASE WHEN cl = 0 THEN yv END), min(pcy0)), 8) AS cy0,
         |    round(coalesce(avg(CASE WHEN cl = 1 THEN yv END), min(pcy1)), 8) AS cy1,
         |    round(coalesce(avg(CASE WHEN cl = 2 THEN yv END), min(pcy2)), 8) AS cy2,
         |    round(coalesce(avg(CASE WHEN cl = 3 THEN yv END), min(pcy3)), 8) AS cy3
         |  FROM (
         |    SELECT q.*, c.cx0 AS pcx0, c.cx1 AS pcx1, c.cx2 AS pcx2, c.cx3 AS pcx3,
         |      c.cy0 AS pcy0, c.cy1 AS pcy1, c.cy2 AS pcy2, c.cy3 AS pcy3
         |    FROM (
         |    ${assign(s"c${k - 1}")}) q CROSS JOIN c${k - 1} c))""".stripMargin
    """WITH pts AS MATERIALIZED (
      |  SELECT CAST(l_quantity AS DOUBLE) AS x, l_extendedprice / 10000.0 AS yv
      |  FROM lineitem),
      |c0 AS (SELECT 10.0 AS cx0, 20.0 AS cx1, 30.0 AS cx2, 40.0 AS cx3,
      |              1.0 AS cy0, 3.0 AS cy1, 5.0 AS cy2, 7.0 AS cy3),
      |""".stripMargin +
      (1 to 3).map(step).mkString(",\n") + s""",
      |assigned AS (
      |  SELECT cl,
      |    sqrt(CASE cl WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2 ELSE d3 END)
      |      AS dist
      |  FROM (
      |    ${assign("c3")}) a),
      |agg AS (
      |  SELECT cl AS cluster, count(*) AS n, round(avg(dist), 4) AS avg_dist
      |  FROM assigned GROUP BY 1),
      |cents AS (
      |  SELECT 0 AS cluster, cx0 AS cx, cy0 AS cy FROM c3
      |  UNION ALL SELECT 1, cx1, cy1 FROM c3
      |  UNION ALL SELECT 2, cx2, cy2 FROM c3
      |  UNION ALL SELECT 3, cx3, cy3 FROM c3)
      |SELECT c.cluster, CAST(coalesce(a.n, 0) AS BIGINT) AS n, c.cx, c.cy,
      |  a.avg_dist
      |FROM cents c LEFT JOIN agg a USING (cluster)
      |ORDER BY c.cluster""".stripMargin
  }

  // ---------------------------------------------------------------- q94

  /** Decile lift / gains table — the model-evaluation report every
    * scored population gets, computed WITHOUT a global score sort:
    * deciles come from the value-histogram CDF (floor(price/1000)
    * buckets — domain-bounded), exactly the q45b/tx17 technique.
    * Response = order status 'F'; decile 1 = highest scores.
    * cum_capture is the gains curve: fraction of all responders
    * captured at or above each decile.
    */
  private def q94DecileLift(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      floor(col("o_totalprice") / 1000).cast("long").as("b"),
      when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
    val hist = o.groupBy(col("b"))
      .agg(count(lit(1)).as("nb"), sum(col("y")).as("yb"))
    val wc = Window.orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = o.agg(count(lit(1)).as("n"), sum(col("y")).as("ny"))
    val cum = hist.withColumn("cum", sum(col("nb")).over(wc))
    val dec = cum.crossJoin(broadcast(tot))
      .select(col("b"), col("nb"), col("yb"), col("n"), col("ny"),
        least(ceil(col("cum") * 10 / col("n")), lit(10)).cast("long").as("decile"))
      .groupBy(col("decile"))
      .agg(sum(col("nb")).as("n_orders"), sum(col("yb")).as("n_resp"),
        min(col("n")).as("n"), min(col("ny")).as("ny"))
    val wd = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dec
      .withColumn("cum_resp", sum(col("n_resp")).over(wd))
      .select(col("decile"), col("n_orders"), col("n_resp"),
        round(col("n_resp") / col("n_orders").cast("double"), 4).as("resp_rate"),
        round((col("n_resp") / col("n_orders").cast("double")) /
          (col("ny") / col("n").cast("double")), 4).as("lift"),
        round(col("cum_resp") / col("ny").cast("double"), 4).as("cum_capture"))
      .orderBy(col("decile"))
  }

  private val q94Sql =
    """WITH o AS (
      |  SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS b,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |hist AS (SELECT b, count(*) AS nb, sum(y) AS yb FROM o GROUP BY 1),
      |tot AS (SELECT count(*) AS n, sum(y) AS ny FROM o),
      |cum AS (
      |  SELECT b, nb, yb,
      |    sum(nb) OVER (ORDER BY b DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |dec AS (
      |  SELECT least(CAST(ceil(c.cum * 10 / CAST(t.n AS DOUBLE)) AS BIGINT), 10)
      |      AS decile,
      |    sum(c.nb) AS n_orders, sum(c.yb) AS n_resp, min(t.n) AS n, min(t.ny) AS ny
      |  FROM cum c CROSS JOIN tot t
      |  GROUP BY 1)
      |SELECT decile, CAST(n_orders AS BIGINT) AS n_orders,
      |  CAST(n_resp AS BIGINT) AS n_resp,
      |  round(n_resp / CAST(n_orders AS DOUBLE), 4) AS resp_rate,
      |  round((n_resp / CAST(n_orders AS DOUBLE))
      |    / (ny / CAST(n AS DOUBLE)), 4) AS lift,
      |  round(sum(n_resp) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    / CAST(min(ny) OVER () AS DOUBLE), 4) AS cum_capture
      |FROM dec
      |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------- ml13

  /** Ordinary least squares solved in CLOSED FORM — distributed moment
    * accumulation + Cramer's rule, with a KNOWN-ANSWER target: the
    * synthetic star schema draws its numeric columns independently
    * (corr(quantity, price) ≈ −0.01, so any natural regression here is
    * noise), so the gate regresses the exact linear blend
    * y = 100·x1 − x2 (gross minus discount basis points over rounded
    * dollars) and must recover β = (0, 100, −1), R² = 1 — the
    * fixed-centroid-gate technique applied to a trainer. Swap y for
    * any numeric column in production; the machinery is unchanged.
    *
    * The moment matrix XᵀX and XᵀY are accumulated as EXACT integer
    * sums (rounded dollars × basis points stay well inside long/
    * HUGEINT) — order-independent, so no snapping is needed anywhere —
    * and the 3×3 normal equations are solved by Cramer's rule in
    * double arithmetic over those exact scalars: both engines execute
    * the identical expression tree on identical inputs, so every
    * coefficient matches bit-for-bit.
    *
    * Scale shape: ONE map-side-combined aggregate over the data (9
    * integer sums); the solve is O(1) scalar arithmetic in-plan. This
    * is the textbook distributed OLS — at 100 TB the moment matrix is
    * still 9 numbers.
    */
  private def ml13Ols(s: SparkSession, dir: String): DataFrame = {
    val f = Tables.lineitem(s, dir)
      .select(round(col("l_extendedprice"), 0).cast("long").as("q"),
        round(col("l_discount") * 100, 0).cast("long").as("d100"))
      .select(col("q"), (col("q") * col("d100")).as("d"))
      .select(col("q"), col("d"), (col("q") * 100 - col("d")).as("y"))
    val sums = f.agg(
      count(lit(1)).as("n"), sum(col("q")).as("sq"), sum(col("d")).as("sd"),
      sum(col("q") * col("q")).as("sqq"), sum(col("q") * col("d")).as("sqd"),
      sum(col("d") * col("d")).as("sdd"), sum(col("y")).as("sy"),
      sum(col("q") * col("y")).as("sqy"), sum(col("d") * col("y")).as("sdy"),
      // the only non-integer sum; drift is ~1e-14 relative, harmless
      // against SSE magnitudes (analysis in Extended9Spec)
      sum(col("y").cast("double") * col("y").cast("double")).as("syy"))
    // Cramer's rule over the symmetric moment matrix
    //   [ n   sq  sd  ] [b0]   [ sy  ]
    //   [ sq  sqq sqd ] [b1] = [ sqy ]
    //   [ sd  sqd sdd ] [b2]   [ sdy ]
    // IDENTICAL expression order in the DuckDB oracle — double products
    // of the same exact integers are deterministic in both engines.
    val solved = sums.selectExpr(
      "CAST(n AS DOUBLE) AS nd", "CAST(sq AS DOUBLE) AS a12",
      "CAST(sd AS DOUBLE) AS a13", "CAST(sqq AS DOUBLE) AS a22",
      "CAST(sqd AS DOUBLE) AS a23", "CAST(sdd AS DOUBLE) AS a33",
      "CAST(sy AS DOUBLE) AS r1", "CAST(sqy AS DOUBLE) AS r2",
      "CAST(sdy AS DOUBLE) AS r3", "syy", "n")
      .selectExpr("*",
        "nd*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) + a13*(a12*a23 - a22*a13) AS det")
      .selectExpr("*",
        "(r1*(a22*a33 - a23*a23) - a12*(r2*a33 - a23*r3) + a13*(r2*a23 - a22*r3)) / det AS b0",
        "(nd*(r2*a33 - a23*r3) - r1*(a12*a33 - a23*a13) + a13*(a12*r3 - r2*a13)) / det AS b1",
        "(nd*(a22*r3 - r2*a23) - a12*(a12*r3 - r2*a13) + r1*(a12*a23 - a22*a13)) / det AS b2")
      .selectExpr("*",
        "syy - (b0*r1 + b1*r2 + b2*r3) AS sse",
        "syy - r1*r1/nd AS sst")
    solved.selectExpr(
      "floor(b0 * 1e6 + 0.5) / 1e6 AS beta0",
      "floor(b1 * 1e6 + 0.5) / 1e6 AS beta_x1",
      "floor(b2 * 1e6 + 0.5) / 1e6 AS beta_x2",
      "floor((1.0 - sse/sst) * 1e6 + 0.5) / 1e6 AS r2",
      "n")
  }

  private val ml13Sql =
    """WITH f0 AS (
      |  SELECT CAST(round(l_extendedprice, 0) AS BIGINT) AS q,
      |    CAST(round(l_discount * 100, 0) AS BIGINT) AS d100
      |  FROM lineitem),
      |f AS (
      |  SELECT q, q * d100 AS d, q * 100 - q * d100 AS y FROM f0),
      |sums AS (
      |  SELECT count(*) AS n, sum(q) AS sq, sum(d) AS sd,
      |    sum(q * q) AS sqq, sum(q * d) AS sqd, sum(d * d) AS sdd,
      |    sum(y) AS sy, sum(q * y) AS sqy, sum(d * y) AS sdy,
      |    sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS syy
      |  FROM f),
      |c AS (
      |  SELECT CAST(n AS DOUBLE) AS nd, CAST(sq AS DOUBLE) AS a12,
      |    CAST(sd AS DOUBLE) AS a13, CAST(sqq AS DOUBLE) AS a22,
      |    CAST(sqd AS DOUBLE) AS a23, CAST(sdd AS DOUBLE) AS a33,
      |    CAST(sy AS DOUBLE) AS r1, CAST(sqy AS DOUBLE) AS r2,
      |    CAST(sdy AS DOUBLE) AS r3, syy, n
      |  FROM sums),
      |d1 AS (
      |  SELECT *,
      |    nd*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) + a13*(a12*a23 - a22*a13) AS det
      |  FROM c),
      |b AS (
      |  SELECT *,
      |    (r1*(a22*a33 - a23*a23) - a12*(r2*a33 - a23*r3) + a13*(r2*a23 - a22*r3)) / det AS b0,
      |    (nd*(r2*a33 - a23*r3) - r1*(a12*a33 - a23*a13) + a13*(a12*r3 - r2*a13)) / det AS b1,
      |    (nd*(a22*r3 - r2*a23) - a12*(a12*r3 - r2*a13) + r1*(a12*a23 - a22*a13)) / det AS b2
      |  FROM d1),
      |e AS (
      |  SELECT *, syy - (b0*r1 + b1*r2 + b2*r3) AS sse, syy - r1*r1/nd AS sst
      |  FROM b)
      |SELECT floor(b0 * 1e6 + 0.5) / 1e6 AS beta0,
      |  floor(b1 * 1e6 + 0.5) / 1e6 AS beta_x1,
      |  floor(b2 * 1e6 + 0.5) / 1e6 AS beta_x2,
      |  floor((1.0 - sse/sst) * 1e6 + 0.5) / 1e6 AS r2,
      |  n
      |FROM e""".stripMargin

  // ---------------------------------------------------------------- ml14

  /** Multinomial Naive Bayes source classifier, trained and evaluated
    * in one plan: docs with doc_id % 5 != 0 train token counts per
    * source (Laplace-smoothed), the rest are scored with
    * log P(c) + Σ log P(tok|c) and classified by rounded-score argmax
    * (1e-6 snap, source-name tie-break — cross-engine stable). The
    * gate output is the confusion matrix plus per-class accuracy.
    *
    * Everything is exact integer counting except the log-sum, whose
    * per-doc aggregation drift (~1e-13) sits far below the 1e-6
    * decision snap. Scale shape: train = one groupBy over train
    * tokens; score = test tokens × |classes| joined to the broadcast
    * (vocab × class) table — linear fan-out, no all-pairs anything.
    */
  /** The trained-and-scored per-doc predictions (doc_id, actual, pred)
    * — shared by ml14's confusion matrix and ml18's per-class PRF so
    * both gates evaluate the identical model.
    */
  private[queries] def nbPreds(s: SparkSession, dir: String): DataFrame = {
    // md5-bucket split (the ml02 technique): doc_id and source are
    // CORRELATED in the synthetic corpus (doc_id ≡ source mod 20), so a
    // modulus split would put four sources entirely in test with zero
    // training examples — the hash decorrelates
    // Materialized once (r19 optimization round, guide §2.4): the
    // tokenized frame feeds FIVE separate subtrees (train token
    // explode ×2 via counts/classTotals, priors, nTrain, test tokens),
    // and each re-ran the interpreted tokenize pass over the corpus —
    // five full scans at any scale, one after staging.
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), TextStats.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("bucket",
        graft.dedup.Dedup.md5Hash48(col("doc_id").cast("string")) % 5)
      .localCheckpoint()
    val train = docs.filter(col("bucket") =!= 0)
    val test = docs.filter(col("bucket") === 0)
    val toksTrain = train.select(col("source"), explode(col("toks")).as("tok"))
    val counts = toksTrain.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("ctc")).localCheckpoint()
    // nc = Σ ctc per class, read from the checkpointed counts (r20):
    // the explode form re-ran the train-token explode over the corpus
    // for a number counts already carries — exact integer identity
    val classTotals = counts.groupBy(col("source"))
      .agg(sum(col("ctc")).as("nc"))
    val vocab = counts.select(col("tok")).distinct()
      .agg(count(lit(1)).as("v"))
    val priors = train.groupBy(col("source")).agg(count(lit(1)).as("ndc"))
    val nTrain = train.agg(count(lit(1)).as("nd"))
    // per-class log-likelihood tables: ln((ctc + 1) / (nc + V))
    val model = counts.join(classTotals, "source").crossJoin(broadcast(vocab))
      .select(col("source").as("cls"), col("tok"),
        log((col("ctc") + 1) / (col("nc") + col("v")).cast("double")).as("ll"),
        log(lit(1.0) / (col("nc") + col("v"))).as("ll_unseen"))
    val classInfo = classTotals.join(priors, "source").crossJoin(broadcast(nTrain))
      .crossJoin(broadcast(vocab))
      .select(col("source").as("cls"),
        log(col("ndc") / col("nd").cast("double")).as("lprior"),
        log(lit(1.0) / (col("nc") + col("v"))).as("ll_unseen"))
    // per-doc TERM FREQUENCIES, not raw occurrences (r20): the class
    // fan-out below multiplies every row by |classes|, so collapsing
    // repeated tokens first shrinks the scored join by the corpus's
    // within-doc repetition factor. Σ ll over occurrences = tf·ll, but
    // not bit-for-bit, so the oracle (nbPredsSqlPrefix's ttoks) sums
    // the same tf·ll terms: a 6-dp score boundary must not flip an
    // argmax between the two engines.
    val testToks = test.select(col("doc_id"), col("source"),
        explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("source"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // every test (doc, distinct token) × every class; unseen tokens
    // take the class's smoothed floor
    val scored = testToks
      .crossJoin(broadcast(classInfo.select(col("cls"), col("ll_unseen"))))
      .join(model.select(col("cls"), col("tok"), col("ll")),
        Seq("cls", "tok"), "left")
      .select(col("doc_id"), col("source"), col("cls"),
        (col("tf") * coalesce(col("ll"), col("ll_unseen"))).as("contrib"))
      .groupBy(col("doc_id"), col("source"), col("cls"))
      .agg(sum(col("contrib")).as("sum_ll"))
      .join(broadcast(classInfo.select(col("cls"), col("lprior"))), "cls")
      .select(col("doc_id"), col("source"), col("cls"),
        round(col("lprior") + col("sum_ll"), 6).as("score"))
    val wr = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cls"))
    scored.withColumn("rk", row_number().over(wr))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("source").as("actual"), col("cls").as("pred"))
  }

  private def ml14NaiveBayes(s: SparkSession, dir: String): DataFrame =
    nbPreds(s, dir).groupBy(col("actual"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("actual"), col("pred"))

  /** WITH-prefix through the preds CTE — shared with ml18's oracle. */
  private[queries] val nbPredsSqlPrefix: String =
    raw"""WITH docs AS (
      |  SELECT doc_id, source,
      |    ${TextStats.tokensSql("text")} AS toks
      |  FROM documents),
      |nz AS (
      |  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 5
      |    AS bucket
      |  FROM docs WHERE len(toks) > 0),
      |train AS (SELECT * FROM nz WHERE bucket != 0),
      |test AS (SELECT * FROM nz WHERE bucket = 0),
      |tt AS (SELECT source, unnest(toks) AS tok FROM train),
      |counts AS (SELECT source, tok, count(*) AS ctc FROM tt GROUP BY 1, 2),
      |ct AS (SELECT source, count(*) AS nc FROM tt GROUP BY 1),
      |vocab AS (SELECT count(DISTINCT tok) AS v FROM counts),
      |priors AS (SELECT source, count(*) AS ndc FROM train GROUP BY 1),
      |nt AS (SELECT count(*) AS nd FROM train),
      |model AS (
      |  SELECT c.source AS cls, c.tok,
      |    ln((c.ctc + 1) / CAST(t.nc + v.v AS DOUBLE)) AS ll
      |  FROM counts c JOIN ct t USING (source) CROSS JOIN vocab v),
      |cinfo AS (
      |  SELECT t.source AS cls,
      |    ln(p.ndc / CAST(n.nd AS DOUBLE)) AS lprior,
      |    ln(1.0 / (t.nc + v.v)) AS ll_unseen
      |  FROM ct t JOIN priors p USING (source)
      |    CROSS JOIN nt n CROSS JOIN vocab v),
      |ttoks AS (
      |  SELECT doc_id, source, tok, count(*) AS tf
      |  FROM (SELECT doc_id, source, unnest(toks) AS tok FROM test)
      |  GROUP BY doc_id, source, tok),
      |scored AS (
      |  SELECT s.doc_id, s.source, s.cls,
      |    round(min(ci.lprior) + sum(s.contrib), 6) AS score
      |  FROM (
      |    SELECT tk.doc_id, tk.source, ci.cls,
      |      tk.tf * coalesce(m.ll, ci.ll_unseen) AS contrib
      |    FROM ttoks tk CROSS JOIN cinfo ci
      |      LEFT JOIN model m ON m.cls = ci.cls AND m.tok = tk.tok) s
      |  JOIN cinfo ci USING (cls)
      |  GROUP BY 1, 2, 3),
      |preds AS (
      |  SELECT doc_id, source AS actual, cls AS pred
      |  FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY doc_id ORDER BY score DESC, cls) AS rk
      |    FROM scored)
      |  WHERE rk = 1)""".stripMargin

  private val ml14Sql = nbPredsSqlPrefix + """
      |SELECT actual, pred, count(*) AS n
      |FROM preds GROUP BY 1, 2
      |ORDER BY actual, pred""".stripMargin

  /** Ridge regression — the regularized counterpart
    * to ml13's closed-form OLS. Identical distributed moment
    * accumulation; the solve adds λ to the non-intercept diagonal of
    * XᵀX (standard practice: the intercept is not penalized), so the
    * same exact-integer-sums + in-plan-Cramer machinery verifies the
    * regularization path, and the known-answer target makes shrinkage
    * itself checkable: λ=0 recovers β exactly; λ>0 shrinks |β| and
    * leaves R² just under 1.
    *
    * Two solves in one output row pair: λ = 0 (must equal ml13) and
    * λ = 1e6 (visible shrinkage against the ~1e9-scale moment
    * diagonal). One aggregate scan total — the sums feed both solves.
    */
  private def ml15Ridge(s: SparkSession, dir: String): DataFrame = {
    val f = Tables.lineitem(s, dir)
      .select(round(col("l_extendedprice"), 0).cast("long").as("q"),
        round(col("l_discount") * 100, 0).cast("long").as("d100"))
      .select(col("q"), (col("q") * col("d100")).as("d"))
      .select(col("q"), col("d"), (col("q") * 100 - col("d")).as("y"))
    val sums = f.agg(
      count(lit(1)).as("n"), sum(col("q")).as("sq"), sum(col("d")).as("sd"),
      sum(col("q") * col("q")).as("sqq"), sum(col("q") * col("d")).as("sqd"),
      sum(col("d") * col("d")).as("sdd"), sum(col("y")).as("sy"),
      sum(col("q") * col("y")).as("sqy"), sum(col("d") * col("y")).as("sdy"),
      sum(col("y").cast("double") * col("y").cast("double")).as("syy"))
    val base = sums.selectExpr(
      "CAST(n AS DOUBLE) AS nd", "CAST(sq AS DOUBLE) AS a12",
      "CAST(sd AS DOUBLE) AS a13", "CAST(sqq AS DOUBLE) AS a22",
      "CAST(sqd AS DOUBLE) AS a23", "CAST(sdd AS DOUBLE) AS a33",
      "CAST(sy AS DOUBLE) AS r1", "CAST(sqy AS DOUBLE) AS r2",
      "CAST(sdy AS DOUBLE) AS r3", "syy")
    // both λs ride ONE scan: cross join the 1-row moments with the
    // 2-row λ table instead of unioning two copies of the aggregate
    // subtree (which would scan lineitem twice — MlSpec's "ml13/ml15
    // closed-form solvers are single-aggregate plans" pins this)
    import s.implicits._
    val lams = Seq(("0", 0.0), ("1e6", 1e6)).toDF("lam", "lam_v")
    base.crossJoin(broadcast(lams))
      .selectExpr("*", "a22 + lam_v AS b22", "a33 + lam_v AS b33")
      .selectExpr("*",
        "nd*(b22*b33 - a23*a23) - a12*(a12*b33 - a23*a13) + a13*(a12*a23 - b22*a13) AS det")
      .selectExpr("*",
        "(r1*(b22*b33 - a23*a23) - a12*(r2*b33 - a23*r3) + a13*(r2*a23 - b22*r3)) / det AS b0",
        "(nd*(r2*b33 - a23*r3) - r1*(a12*b33 - a23*a13) + a13*(a12*r3 - r2*a13)) / det AS b1",
        "(nd*(b22*r3 - r2*a23) - a12*(a12*r3 - r2*a13) + r1*(a12*a23 - b22*a13)) / det AS b2")
      .selectExpr("lam",
        "floor(b0 * 1e6 + 0.5) / 1e6 AS beta0",
        "floor(b1 * 1e6 + 0.5) / 1e6 AS beta_x1",
        "floor(b2 * 1e6 + 0.5) / 1e6 AS beta_x2",
        "floor((1.0 - (syy - (b0*r1 + b1*r2 + b2*r3)) / (syy - r1*r1/nd)) * 1e6 + 0.5) / 1e6 AS r2")
      .orderBy(col("lam"))
  }

  private val ml15Sql = {
    def solve(lam: String, tag: String) =
      s"""SELECT '$tag' AS lam,
         |  floor(b0 * 1e6 + 0.5) / 1e6 AS beta0,
         |  floor(b1 * 1e6 + 0.5) / 1e6 AS beta_x1,
         |  floor(b2 * 1e6 + 0.5) / 1e6 AS beta_x2,
         |  floor((1.0 - (syy - (b0*r1 + b1*r2 + b2*r3)) / (syy - r1*r1/nd)) * 1e6 + 0.5) / 1e6 AS r2
         |FROM (
         |  SELECT *,
         |    (r1*(b22*b33 - a23*a23) - a12*(r2*b33 - a23*r3) + a13*(r2*a23 - b22*r3)) / det AS b0,
         |    (nd*(r2*b33 - a23*r3) - r1*(a12*b33 - a23*a13) + a13*(a12*r3 - r2*a13)) / det AS b1,
         |    (nd*(b22*r3 - r2*a23) - a12*(a12*r3 - r2*a13) + r1*(a12*a23 - b22*a13)) / det AS b2
         |  FROM (
         |    SELECT *,
         |      nd*(b22*b33 - a23*a23) - a12*(a12*b33 - a23*a13) + a13*(a12*a23 - b22*a13) AS det
         |    FROM (SELECT *, a22 + $lam AS b22, a33 + $lam AS b33 FROM c) c1) c2)""".stripMargin
    """WITH f0 AS (
      |  SELECT CAST(round(l_extendedprice, 0) AS BIGINT) AS q,
      |    CAST(round(l_discount * 100, 0) AS BIGINT) AS d100
      |  FROM lineitem),
      |f AS (SELECT q, q * d100 AS d, q * 100 - q * d100 AS y FROM f0),
      |sums AS (
      |  SELECT count(*) AS n, sum(q) AS sq, sum(d) AS sd,
      |    sum(q * q) AS sqq, sum(q * d) AS sqd, sum(d * d) AS sdd,
      |    sum(y) AS sy, sum(q * y) AS sqy, sum(d * y) AS sdy,
      |    sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS syy
      |  FROM f),
      |c AS (
      |  SELECT CAST(n AS DOUBLE) AS nd, CAST(sq AS DOUBLE) AS a12,
      |    CAST(sd AS DOUBLE) AS a13, CAST(sqq AS DOUBLE) AS a22,
      |    CAST(sqd AS DOUBLE) AS a23, CAST(sdd AS DOUBLE) AS a33,
      |    CAST(sy AS DOUBLE) AS r1, CAST(sqy AS DOUBLE) AS r2,
      |    CAST(sdy AS DOUBLE) AS r3, syy
      |  FROM sums)
      |""".stripMargin +
      solve("0.0", "0") + "\nUNION ALL\n" + solve("1000000.0", "1e6") +
      "\nORDER BY lam"
  }

  // ---------------------------------------------------------------- ml16

  /** Calibration (reliability) table for ml11's logistic model — the
    * third leg of the evaluation family (ml03/ml14 confusion, q94
    * lift, ml16 calibration): per predicted-probability decile bin,
    * average predicted probability vs observed positive rate and
    * their gap. Scores the IDENTICAL trained model (shared
    * [[logregWeights]] 5-step snapped GD), so the
    * oracle replays the same CTE chain ml11 verified and bins from
    * w5. One extra aggregate pass over the feature frame.
    */
  private def ml16Calibration(s: SparkSession, dir: String): DataFrame = {
    val f = logregFeatures(s, dir).persist()
    try {
      val w = logregWeights(f)
      val z = lit(w(0)) + lit(w(1)) * col("x1") +
        lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      f.select(col("y"), p.as("p"))
        .select(col("y"), col("p"),
          least(floor(col("p") * 10), lit(9)).cast("int").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), round(avg(col("p")), 4).as("avg_pred"),
          round(avg(col("y")), 4).as("obs_rate"))
        .withColumn("gap", round(abs(col("avg_pred") - col("obs_rate")), 4))
        .orderBy(col("bin"))
    } finally f.unpersist()
  }

  private val ml16Sql =
    logregPrefixSql + """,
      |scored AS (
      |  SELECT f.y,
      |    1.0 / (1.0 + exp(-(w.w0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3))) AS p
      |  FROM f CROSS JOIN w5 w)
      |SELECT CAST(least(floor(p * 10), 9) AS INTEGER) AS bin, count(*) AS n,
      |  round(avg(p), 4) AS avg_pred, round(avg(y), 4) AS obs_rate,
      |  round(abs(round(avg(p), 4) - round(avg(y), 4)), 4) AS gap
      |FROM scored GROUP BY 1 ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- ml17

  /** k-NN majority-vote classifier over the embedding table: vectors
    * with vec_id < 20 are test queries, the rest vote with their 5
    * nearest cosine neighbors (rounded-cosine rank, neighbor-id
    * tie-break — cross-engine stable); majority label with lowest-
    * label tie-break. Output: per-query prediction plus the vote
    * count. The non-parametric member of the trainer family — no
    * training pass at all, the "model" IS the corpus.
    */
  private def ml17Knn(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // norms (and with them the scoringNorm corruption screen — an
    // interpreted per-element pass) are staged PER ROW before the
    // crossJoin, the Ann/cosinePairs staging discipline: inside the
    // post-join projection they would evaluate once per PAIR
    val test = emb.filter(col("vec_id") < 20)
      .withColumn("qn", graft.functions.VectorExprs.scoringNorm(col("embedding")))
    val corpus = emb.filter(col("vec_id") >= 20)
      .withColumn("cn", graft.functions.VectorExprs.scoringNorm(col("embedding")))
    // the bounded side is ALWAYS the test set (20 rows) — broadcast it
    // explicitly rather than trusting the planner's size estimate;
    // the corpus side must never be broadcast (it scales with data).
    // MlSpec's "ml17 kNN: the 20-row test side broadcasts; the corpus
    // never does" pins both directions.
    val pairs = broadcast(test.as("q")).crossJoin(corpus.as("c"))
      .select(col("q.vec_id").as("query_id"), col("q.label").as("actual"),
        col("c.vec_id").as("neighbor_id"), col("c.label").as("vote"),
        // cosineWithNorms' full inert-NULL contract: zero-magnitude →
        // NULL (not an ANSI DIVIDE_BY_ZERO abort), NaN/NULL element →
        // NULL (via the staged scoringNorm), length-mismatched →
        // NULL (a truncated vector's silent prefix cosine could crack
        // the vote — the r12 chaos-parity class)
        round(graft.functions.VectorExprs.cosineWithNorms(
          col("q.embedding"), col("c.embedding"),
          col("q.qn"), col("c.cn")), 6).as("cos"))
      // unscoreable pairs are dropped, not ranked (Ann tail contract)
      .filter(col("cos").isNotNull)
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val top5 = pairs.withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= 5)
    val votes = top5.groupBy(col("query_id"), col("actual"), col("vote"))
      .agg(count(lit(1)).as("n_votes"))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("vote"))
    votes.withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
      .select(col("query_id"), col("actual"), col("vote").as("pred"),
        col("n_votes"), (col("vote") === col("actual")).as("correct"))
      .orderBy(col("query_id"))
  }

  private val ml17Sql =
    s"""WITH e AS (SELECT vec_id, label, v FROM ${OracleSql.EmbFinite} t),
      |test AS (SELECT * FROM e WHERE vec_id < 20),
      |corpus AS (SELECT * FROM e WHERE vec_id >= 20),
      |pairs AS (
      |  SELECT q.vec_id AS query_id, q.label AS actual,
      |    c.vec_id AS neighbor_id, c.label AS vote,
      |    round(${OracleSql.cosPair("q.v", "c.v")}, 6) AS cos
      |  FROM test q CROSS JOIN corpus c),
      |top5 AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      |    FROM pairs WHERE cos IS NOT NULL)
      |  WHERE rk <= 5),
      |votes AS (
      |  SELECT query_id, actual, vote, count(*) AS n_votes
      |  FROM top5 GROUP BY 1, 2, 3)
      |SELECT query_id, actual, vote AS pred, CAST(n_votes AS BIGINT) AS n_votes,
      |  vote = actual AS correct
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY n_votes DESC, vote) AS vr
      |  FROM votes)
      |WHERE vr = 1
      |ORDER BY query_id""".stripMargin

  // ---------------------------------------------------------------- ml18

  /** Per-class precision/recall/F1 for the Naive Bayes classifier —
    * derived from the SAME predictions ml14's confusion matrix
    * aggregates ([[nbPreds]]), so the two gates are
    * two views of one verified model. A class never predicted gets
    * precision 0 by convention (not NULL — the report is a metric
    * table, not a join artifact); F1 is 0 when P+R = 0.
    */
  private def ml18NbPrf(s: SparkSession, dir: String): DataFrame = {
    val conf = nbPreds(s, dir)
      .groupBy(col("actual"), col("pred")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val byActual = conf.groupBy(col("actual").as("cls"))
      .agg(sum(col("n")).as("na"),
        sum(when(col("pred") === col("actual"), col("n")).otherwise(0L)).as("tp"))
    val byPred = conf.groupBy(col("pred").as("cls"))
      .agg(sum(col("n")).as("np"))
    byActual.join(byPred, Seq("cls"), "left")
      .select(col("cls"), col("tp"), col("na"),
        coalesce(col("np"), lit(0L)).as("np"))
      .withColumn("precision",
        round(when(col("np") === 0, 0.0)
          .otherwise(col("tp") / col("np").cast("double")), 4))
      .withColumn("recall", round(col("tp") / col("na").cast("double"), 4))
      .withColumn("f1",
        round(when(col("precision") + col("recall") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))), 4))
      .select(col("cls"), col("tp"), col("na"), col("np"),
        col("precision"), col("recall"), col("f1"))
      .orderBy(col("cls"))
  }

  private val ml18Sql =
    nbPredsSqlPrefix + """,
      |conf AS (
      |  SELECT actual, pred, count(*) AS n FROM preds GROUP BY 1, 2),
      |by_actual AS (
      |  SELECT actual AS cls, sum(n) AS na,
      |    sum(CASE WHEN pred = actual THEN n ELSE 0 END) AS tp
      |  FROM conf GROUP BY 1),
      |by_pred AS (SELECT pred AS cls, sum(n) AS np FROM conf GROUP BY 1),
      |j AS (
      |  SELECT a.cls, CAST(a.tp AS BIGINT) AS tp, CAST(a.na AS BIGINT) AS na,
      |    CAST(coalesce(p.np, 0) AS BIGINT) AS np
      |  FROM by_actual a LEFT JOIN by_pred p USING (cls)),
      |m AS (
      |  SELECT cls, tp, na, np,
      |    round(CASE WHEN np = 0 THEN 0.0 ELSE tp / CAST(np AS DOUBLE) END, 4)
      |      AS precision,
      |    round(tp / CAST(na AS DOUBLE), 4) AS recall
      |  FROM j)
      |SELECT cls, tp, na, np, precision, recall,
      |  round(CASE WHEN precision + recall = 0.0 THEN 0.0
      |    ELSE 2 * precision * recall / (precision + recall) END, 4) AS f1
      |FROM m
      |ORDER BY cls""".stripMargin

  val all: Seq[Q] = Seq(
    Q("ml01_features", ml01Features, Some(ml01Sql)),
    Q("ml02_split_counts", ml02SplitCounts, Some(ml02Sql)),
    Q("ml03_gbt_eval", ml03GbtEval, None),
    Q("ml04_importances", ml04Importances, None),
    Q("ml05_pca", ml05Pca, None),
    Q("ml05b_power_pca", ml05bPowerPca, Some(ml05bSql)),
    Q("ml05c_pca_variance_gate", ml05cPcaVarianceGate, Some(ml05cSql)),
    Q("ml06_hash_embed", ml06HashEmbed, None, Some(() => ml06Sql())),
    Q("ml08_power_pc1", ml08PowerPc1, Some(ml08Sql)),
    Q("ml10_stump_splits", ml10StumpSplits, Some(ml10Sql)),
    Q("ml19_boosted_stumps", ml19BoostedStumps, Some(ml19Sql)),
    Q("ml20_depth2_tree", ml20Depth2Tree, Some(ml20Sql)),
    Q("ml21_tree_importances", ml21TreeImportances, Some(ml21Sql)),
    Q("ml07_md5_embed", ml07Md5Embed, Some(ml07Sql)),
    Q("ml09_quantile_bins", ml09QuantileBins, Some(ml09Sql)),
    Q("ml11_logreg", ml11Logreg, Some(ml11Sql)),
    Q("ml12_kmeans", ml12Kmeans, Some(ml12Sql)),
    Q("q94_decile_lift", q94DecileLift, Some(q94Sql)),
    Q("ml13_ols", ml13Ols, Some(ml13Sql)),
    Q("ml14_naive_bayes", ml14NaiveBayes, Some(ml14Sql)),
    Q("ml15_ridge", ml15Ridge, Some(ml15Sql)),
    Q("ml16_calibration", ml16Calibration, Some(ml16Sql)),
    Q("ml17_knn", ml17Knn, Some(ml17Sql)),
    Q("ml18_nb_prf", ml18NbPrf, Some(ml18Sql)),
  )
}
