package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextStats

/** Round-7 sixth wave: a hash-verified generative classifier (Naive
  * Bayes — counting + logs, so unlike GBT there is NO excuse for a
  * rows-only gate), the MIPS→cosine norm-augmentation reduction, and
  * a scale-safe skyline (Pareto frontier) operator.
  */
object Extended10Queries {

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
    """WITH docs AS (
      |  SELECT doc_id, source,
      |    list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'), z -> z != '') AS toks
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

  // ---------------------------------------------------------------- sim10

  /** Maximum-inner-product search via the norm-augmentation reduction
    * (Shrivastava & Li / Bachrach et al.): append
    * sqrt(M² − ‖x‖²) to every corpus vector (M = max corpus norm, a
    * broadcast in-plan scalar — no driver round-trip) and a 0 to every
    * query; cosine order on the augmented space IS dot-product order
    * on the original. The gate emits both rankings side by side so the
    * oracle verifies the reduction, not just one score: rank comes
    * from the raw dot, aug_cos must be monotone within each query.
    */
  private def sim10Mips(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // Shape/finiteness screen on both sides (r12 chaos-parity drive):
    // this ranking is on the RAW dot, which has no zero-norm NULL fold
    // — one NaN embedding took rank 1 in EVERY query (Spark orders NaN
    // above all numbers in desc), a +Inf one took rank 2, and the max
    // self-dot scalar m2 went NaN, so every aug_cos was NaN. Corrupt
    // rows are unscoreable, same contract as the cosine tails.
    val dim = graft.functions.VectorExprs.dominantDim(emb, "embedding")
    val shaped = emb.filter(
      graft.functions.VectorExprs.isShapedVec(col("embedding"), dim))
    val corpus = shaped.filter(col("vec_id") >= 5)
    val queries = shaped.filter(col("vec_id") < 5)
    val m2 = corpus
      .agg(max(graft.functions.VectorExprs.dot(col("embedding"), col("embedding")))
        .as("m2"))
    val pairs = queries.as("q")
      .crossJoin(corpus.as("c"))
      .crossJoin(broadcast(m2))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        graft.functions.VectorExprs.dot(col("q.embedding"), col("c.embedding"))
          .as("dp"),
        graft.functions.VectorExprs.dot(col("c.embedding"), col("c.embedding"))
          .as("cn2"),
        graft.functions.VectorExprs.dot(col("q.embedding"), col("q.embedding"))
          .as("qn2"),
        col("m2"))
      // augmented corpus vector has norm M exactly; query keeps its
      // norm. nullif: a zero-magnitude query (shaped + finite, so the
      // screen keeps it) would make this 0/0 — an ANSI DIVIDE_BY_ZERO
      // job abort — instead of the inert NULL every other scoring
      // path degrades to.
      .select(col("query_id"), col("neighbor_id"), col("dp"),
        (col("dp") / nullif(sqrt(col("m2")) * sqrt(col("qn2")), lit(0.0)))
          .as("aug_cos"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(round(col("dp"), 6).desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), round(col("dp"), 4).as("dot"),
        round(col("aug_cos"), 6).as("aug_cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val sim10Sql =
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleVec.EmbScreened} t),
      |corpus AS (SELECT * FROM e WHERE vec_id >= 5),
      |queries AS (SELECT * FROM e WHERE vec_id < 5),
      |m AS (
      |  SELECT max(list_dot_product(v, v)) AS m2
      |  FROM corpus),
      |pairs AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_dot_product(q.v, c.v) AS dp,
      |    list_dot_product(q.v, q.v) AS qn2,
      |    m.m2
      |  FROM queries q CROSS JOIN corpus c CROSS JOIN m),
      |ranked AS (
      |  SELECT query_id, neighbor_id, dp,
      |    CASE WHEN m2 * qn2 = 0 THEN NULL
      |      ELSE dp / (sqrt(m2) * sqrt(qn2)) END AS aug_cos,
      |    row_number() OVER (
      |      PARTITION BY query_id ORDER BY round(dp, 6) DESC, neighbor_id) AS rank
      |  FROM pairs)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
      |  round(dp, 4) AS dot, round(aug_cos, 6) AS aug_cos
      |FROM ranked WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q96

  /** Skyline / Pareto frontier (min price, max size) with a
    * histogram-prefilter: bucket prices by dollar, compute each
    * bucket's max size, and keep only parts whose size reaches the
    * running max of all STRICTLY cheaper buckets (any such part is
    * provably dominated otherwise — a cheaper bucket's witness has
    * strictly lower price). Survivors are few, so the exact dominance
    * refinement is a self-join over candidates only — never the full
    * table. Every skyline point survives the prefilter (nothing
    * cheaper can have a larger size), so refinement against
    * candidates alone is exact: any dominator chain tops out at a
    * skyline point, which is itself a candidate.
    */
  private def q96Skyline(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val hist = p.groupBy(floor(col("p_retailprice")).as("b"))
      .agg(max(col("p_size")).as("bmax"))
    val wb = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val runmax = hist.withColumn("prevmax", max(col("bmax")).over(wb))
    val cand = p
      .join(broadcast(runmax.select(col("b"), col("prevmax"))),
        floor(col("p_retailprice")) === col("b"))
      .filter(col("prevmax").isNull || col("p_size") >= col("prevmax"))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .localCheckpoint()
    val dominated = cand.as("a").join(cand.as("b"),
      col("b.p_retailprice") <= col("a.p_retailprice") &&
        col("b.p_size") >= col("a.p_size") &&
        (col("b.p_retailprice") < col("a.p_retailprice") ||
          col("b.p_size") > col("a.p_size")))
      .select(col("a.p_partkey")).distinct()
    cand.join(dominated, Seq("p_partkey"), "left_anti")
      .orderBy(col("p_partkey"))
  }

  private val q96Sql =
    """SELECT p_partkey, p_retailprice, p_size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part o
      |  WHERE o.p_retailprice <= p.p_retailprice AND o.p_size >= p.p_size
      |    AND (o.p_retailprice < p.p_retailprice OR o.p_size > p.p_size))
      |ORDER BY p_partkey""".stripMargin

  val all: Seq[Q] = Seq(
    Q("ml14_naive_bayes", ml14NaiveBayes, Some(ml14Sql)),
    Q("sim10_mips", sim10Mips, Some(sim10Sql)),
    Q("q96_skyline", q96Skyline, Some(q96Sql)),
  )
}
