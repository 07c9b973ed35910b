package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.MlPipeline

/** ML-surface queries (SURVEY.md §2.9). ml01 (feature assembly) is
  * pure relational and ml06 (hashing embed) gets a generated oracle
  * with the murmur3 vocabulary interpolated; training/scoring/PCA
  * results are algorithm-specific (MLlib ≠ DuckDB-expressible) →
  * rows-only in the driver gate, with behavior asserted in MlSpec.
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
    * oracle); the reference-shaped seeded sampleBy path stays
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

  /** One GBT per dataset, memoized: the reference trains a single
    * model and then BOTH evaluates and explains it
    * (model_train_explain.py) — ml03/ml04 share that model rather than
    * each training their own. Training is deterministic (seeded
    * stratified split, fixed GBT seed), so memoization is purely a
    * cost optimization; the split itself is cheap and recomputed per
    * call.
    */
  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), org.apache.spark.ml.classification.GBTClassificationModel]

  /** Drop the memoized model so the next ml03/ml04 call retrains.
    * Bench-only (Catalog.clearMemos) — training is deterministic
    * (seeded split + fixed GBT seed), so a retrain reproduces the same
    * model and correctness is unaffected; only the timing regime
    * changes from map-lookup to real training cost.
    */
  private[queries] def clearMemo(): Unit = modelCache.clear()

  private def trainedModel(s: SparkSession, dir: String) =
    modelCache.getOrElseUpdate((s, dir), {
      val feats = MlPipeline.orderFeatures(Tables.orders(s, dir))
      val (train, _) = MlPipeline.stratifiedSplit(feats, "label", "o_orderkey")
      MlPipeline.trainGbt(train, MlPipeline.OrderFeatureCols)
    })

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
       |    unnest(list_filter(regexp_split_to_array(text, '${graft.text.TextStats.WsClass}+'), z -> z != '')) AS tok
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
    * landing exactly on a 1e-8 half-boundary.
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
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleVec.EmbScreened} t),
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
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleVec.EmbScreened} t),
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
  )
}
