package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.similarity.Ann
import graft.text.TextStats

/** Similarity search over the embeddings table — exact, sign-LSH,
  * IVF, PQ, quantized, Hamming, reranked and MIPS top-k, recall
  * measurement, label centroids and hard-negative mining — plus the
  * blocked edit-distance fuzzy join. sim01 (exact brute force) and
  * sim02 (sign-LSH, seeded hyperplanes interpolated into generated
  * SQL) are DuckDB-oracle-checked; sim03's k-means quantizer is
  * recall-tested against sim01 in AnnSpec.
  */
object SimilarityQueries {

  /** Exact cosine top-5 for the first 10 vectors as queries. */
  private def sim01BruteTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val sim01Sql =
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleSql.EmbFinite} t),
      |pairs AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ${OracleSql.cosPair("q.v", "c.v")} AS cosine
      |  FROM e q JOIN e c ON q.vec_id != c.vec_id
      |  WHERE q.vec_id < 10)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
      |  round(cosine, 4) AS cosine
      |FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    row_number() OVER (
      |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM pairs WHERE cosine IS NOT NULL
      |)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Sign-LSH bucketed top-5 for the same queries (the 100 TB path). */
  private def sim02LshTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Ann.signLshTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nBits = 8)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Generated DuckDB oracle for sim02: the seeded hyperplane family
    * is burned into the SQL as double literals (same Ann.hyperplanes
    * call, so bit-for-bit the same planes), bucket = Σ 2^i over planes
    * with v·h_i > 0, then same-bucket cosine top-5. Dot-product parity
    * holds because both engines fold element-wise in index order over
    * exact float→double widenings (the same parity sim01 relies on).
    * The testdata embedding dim (64) is fixed here; the Spark side
    * reads it dynamically.
    */
  private val sim02Sql: String = {
    val planes = Ann.hyperplanes(nBits = 8, dim = 64)
    val sigExpr = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $arr) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n      + ")
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleSql.EmbScreened} t),
       |sig AS (
       |  SELECT vec_id, v,
       |    $sigExpr AS bucket
       |  FROM e),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${OracleSql.cos("q.v", "c.v")} AS cosine
       |  FROM sig q JOIN sig c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
       |  WHERE q.vec_id < 10),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM pairs WHERE cosine IS NOT NULL)
       |SELECT query_id, rank, neighbor_id, round(cosine, 4) AS cosine
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** IVF (coarse cells, nProbe nearest centroids) top-5 — the second
    * ANN scale path. The gate runs the fixed-centroid variant: the
    * quantizer is the first 16 corpus vectors (a deterministic seed
    * pick both engines can derive from the table itself), so cell
    * assignment and probing are literal arithmetic and fully
    * oracle-checked. The KMeans-trained quantizer (Ann.ivfTopK) stays
    * recall-tested against sim01 in AnnSpec — KMeans.fit is the one
    * piece no SQL oracle can reproduce.
    */
  private def sim03IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = Ann.screenedSeedVectors(emb, "vec_id", "embedding", 16)
    Ann.ivfTopKFixed(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, centroids = centroids, nProbe = 4)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Static oracle: centroids re-derived from the table (vec_id < 16),
    * assignment/probing by |c|² − 2·v·c with cell-index tie-break —
    * the exact comparator Ann.centroidDists builds.
    */
  private val sim03Sql: String =
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleSql.EmbScreened} t),
      |cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 16),
      |assign AS (
      |  SELECT e.vec_id, e.v, c.cell,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_dot_product(c.cv, c.cv) - 2.0::DOUBLE * list_dot_product(e.v, c.cv),
      |      c.cell) AS rn
      |  FROM e, cent c),
      |cells AS (SELECT vec_id, v, cell FROM assign WHERE rn = 1),
      |probes AS (
      |  SELECT e.vec_id AS query_id, e.v AS qv, c.cell,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_dot_product(c.cv, c.cv) - 2.0::DOUBLE * list_dot_product(e.v, c.cv),
      |      c.cell) AS rn
      |  FROM e, cent c WHERE e.vec_id < 10),
      |pairs AS (
      |  SELECT q.query_id, s.vec_id AS neighbor_id,
      |    ${OracleSql.cos("q.qv", "s.v")} AS cosine
      |  FROM (SELECT query_id, qv, cell FROM probes WHERE rn <= 4) q
      |  JOIN cells s ON q.cell = s.cell AND q.query_id != s.vec_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(row_number() OVER (
      |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      |  FROM pairs WHERE cosine IS NOT NULL)
      |SELECT query_id, rank, neighbor_id, round(cosine, 4) AS cosine
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** End-to-end TEXT semantic search: documents → deterministic
    * signed-hash sparse embedding (ml07's md5 scheme folded to 16
    * dims) → sparse-dot cosine top-3 for the first 5 docs as queries.
    * The whole text→embed→search pipeline in one plan, and — because
    * weights are exact integers — reproducible bit-for-bit in SQL,
    * unlike any float-model embedding.
    *
    * Scale shape: the dot products come from an inverted-index join on
    * dim (the classic sparse-retrieval plan — postings per dimension),
    * with the tiny query side broadcast; norms are one per-doc agg.
    * Nothing is quadratic in the corpus.
    */
  private def sim05TextSearch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val terms = docs
      .select(col("doc_id"), explode(graft.text.TextStats.tokens(col("text"))).as("t"))
      .withColumn("h",
        pmod(graft.dedup.Dedup.md5Hash48(col("t")), lit(1048576)))
    val w = terms
      .select(col("doc_id"), (col("h") % 16).cast("int").as("dim"),
        (((col("h") / 16).cast("long") % 2) * 2 - 1).as("sgn"))
      .groupBy(col("doc_id"), col("dim")).agg(sum(col("sgn")).as("w"))
      .filter(col("w") =!= 0)
    val norms = w.groupBy(col("doc_id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val q = w.filter(col("doc_id") < 5).toDF("qid", "dim", "qw")
    val dots = w.toDF("nid", "dim", "nw").join(broadcast(q), Seq("dim"))
      .filter(col("qid") =!= col("nid"))
      .groupBy(col("qid"), col("nid")).agg(sum(col("qw") * col("nw")).as("dot"))
    val scored = dots
      .join(norms.toDF("qid", "qn"), "qid")
      .join(norms.toDF("nid", "nn"), "nid")
      .withColumn("cosine", col("dot") / (col("qn") * col("nn")))
    val rankW = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
    scored.withColumn("rank", row_number().over(rankW)).filter(col("rank") <= 3)
      .select(col("qid").as("query_id"), col("rank"),
        col("nid").as("neighbor_id"), round(col("cosine"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val sim05Sql =
    raw"""WITH terms AS (
      |  SELECT doc_id, unnest(toks) AS t
      |  FROM (SELECT doc_id, ${TextStats.tokensSql("text")} AS toks
      |        FROM documents)),
      |h AS (
      |  SELECT doc_id, ('0x' || substr(md5(t), 1, 12))::BIGINT % 1048576 AS h
      |  FROM terms),
      |w AS (
      |  SELECT doc_id, CAST(h % 16 AS INTEGER) AS dim,
      |    sum((h // 16) % 2 * 2 - 1) AS w
      |  FROM h GROUP BY 1, 2
      |  HAVING sum((h // 16) % 2 * 2 - 1) != 0),
      |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
      |dots AS (
      |  SELECT q.doc_id AS qid, c.doc_id AS nid, sum(q.w * c.w) AS dot
      |  FROM w q JOIN w c ON q.dim = c.dim AND q.doc_id != c.doc_id
      |  WHERE q.doc_id < 5
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT qid, nid, dot / (a.nrm * b.nrm) AS cosine
      |  FROM dots
      |  JOIN norms a ON a.doc_id = qid
      |  JOIN norms b ON b.doc_id = nid),
      |ranked AS (
      |  SELECT qid, nid, cosine,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid)
      |      AS INTEGER) AS rank
      |  FROM scored)
      |SELECT qid AS query_id, rank, nid AS neighbor_id, round(cosine, 4) AS cosine
      |FROM ranked WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** Product-quantization top-5: 8 subspaces × 8 dims, codebooks from
    * the first 8 corpus vectors' slices (the sim03 deterministic-
    * quantizer technique applied per subspace). Encoding, CASE-literal
    * reconstruction, and ADC scoring are all literal arithmetic → full
    * oracle.
    */
  private def sim06PqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val base = Ann.screenedSeedVectors(emb, "vec_id", "embedding", 8)
    // the 8×8 codebook layout assumes the 64-dim fixture; a corpus
    // electing another width must fail NAMED here, not mis-slice
    require(base.forall(_.size == 64),
      s"sim06 codebooks assume the 64-dim fixture, got widths ${base.map(_.size).distinct.mkString(",")}")
    val codebooks = (0 until 8).map(j => base.map(v => v.slice(j * 8, j * 8 + 8)))
    Ann.pqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, codebooks = codebooks)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 4).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Generated oracle: per-subspace assignment via the |c|² − 2·v·c
    * comparator on slices, reconstruction by joining each chosen
    * centroid's slice, flatten → ADC cosine.
    */
  private val sim06Sql: String = {
    val m = 8; val sub = 8
    val assigns = (0 until m).map { j =>
      val lo = j * sub + 1; val hi = (j + 1) * sub
      s"""a$j AS (
         |  SELECT e.vec_id, c.ci,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_dot_product(c.v[$lo:$hi], c.v[$lo:$hi])
         |        - 2.0::DOUBLE * list_dot_product(e.v[$lo:$hi], c.v[$lo:$hi]),
         |      c.ci) AS rn
         |  FROM e, cent c),
         |c$j AS (SELECT vec_id, ci AS code FROM a$j WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val joins = (0 until m)
      .map(j => s"JOIN c$j ON c$j.vec_id = e.vec_id JOIN cent k$j ON k$j.ci = c$j.code")
      .mkString("\n  ")
    val slices = (0 until m).map(j => s"k$j.v[${j * sub + 1}:${(j + 1) * sub}]")
      .mkString(", ")
    // e and cent are read by every sub-quantizer's assignment:
    // MATERIALIZED, or DuckDB 1.0 re-derives them at each read
    s"""WITH e AS MATERIALIZED (SELECT vec_id, v FROM ${OracleSql.EmbScreened} t),
       |cent AS MATERIALIZED (SELECT vec_id AS ci, v FROM e WHERE vec_id < 8),
       |$assigns,
       |recon AS (
       |  SELECT e.vec_id, flatten([$slices]) AS rv
       |  FROM e
       |  $joins),
       |scored AS (
       |  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
       |    CASE WHEN list_dot_product(q.v, q.v) = 0 OR list_dot_product(r.rv, r.rv) = 0
       |      THEN NULL
       |      ELSE list_dot_product(q.v, r.rv)
       |        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(r.rv, r.rv)))
       |      END AS score
       |  FROM e q JOIN recon r ON q.vec_id < 10 AND q.vec_id != r.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
       |      AS INTEGER) AS rank
       |  FROM scored WHERE score IS NOT NULL)
       |SELECT query_id, rank, neighbor_id, round(score, 4) AS score
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** IVF + PQ composed (FAISS IVFADC shape): coarse cells bound the
    * scan (nProbe=3 of 8 cells), PQ codes bound storage/scoring. Both
    * quantizers from the first 8 corpus vectors → fully generated
    * oracle combining the sim03 and sim06 chains.
    */
  private def sim07IvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val base = Ann.screenedSeedVectors(emb, "vec_id", "embedding", 8)
    require(base.forall(_.size == 64),
      s"sim07 codebooks assume the 64-dim fixture, got widths ${base.map(_.size).distinct.mkString(",")}")
    val codebooks = (0 until 8).map(j => base.map(v => v.slice(j * 8, j * 8 + 8)))
    Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, coarse = base, codebooks = codebooks, nProbe = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 4).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val sim07Sql: String = {
    val m = 8; val sub = 8
    val assigns = (0 until m).map { j =>
      val lo = j * sub + 1; val hi = (j + 1) * sub
      s"""a$j AS (
         |  SELECT e.vec_id, c.ci,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_dot_product(c.v[$lo:$hi], c.v[$lo:$hi])
         |        - 2.0::DOUBLE * list_dot_product(e.v[$lo:$hi], c.v[$lo:$hi]),
         |      c.ci) AS rn
         |  FROM e, cent c),
         |c$j AS (SELECT vec_id, ci AS code FROM a$j WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val joins = (0 until m)
      .map(j => s"JOIN c$j ON c$j.vec_id = e.vec_id JOIN cent k$j ON k$j.ci = c$j.code")
      .mkString("\n  ")
    val slices = (0 until m).map(j => s"k$j.v[${j * sub + 1}:${(j + 1) * sub}]")
      .mkString(", ")
    // e and cent are read by every sub-quantizer's assignment:
    // MATERIALIZED, or DuckDB 1.0 re-derives them at each read
    s"""WITH e AS MATERIALIZED (SELECT vec_id, v FROM ${OracleSql.EmbScreened} t),
       |cent AS MATERIALIZED (SELECT vec_id AS ci, v FROM e WHERE vec_id < 8),
       |coarse AS MATERIALIZED (
       |  SELECT e.vec_id, c.ci,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_dot_product(c.v, c.v) - 2.0::DOUBLE * list_dot_product(e.v, c.v),
       |      c.ci) AS rn
       |  FROM e, cent c),
       |cellof AS (SELECT vec_id, ci AS cell FROM coarse WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, ci AS cell FROM coarse
       |  WHERE rn <= 3 AND vec_id < 10),
       |$assigns,
       |recon AS (
       |  SELECT e.vec_id, flatten([$slices]) AS rv
       |  FROM e
       |  $joins),
       |scored AS (
       |  SELECT p.query_id, r.vec_id AS neighbor_id,
       |    CASE WHEN list_dot_product(q.v, q.v) = 0 OR list_dot_product(r.rv, r.rv) = 0
       |      THEN NULL
       |      ELSE list_dot_product(q.v, r.rv)
       |        / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(r.rv, r.rv)))
       |      END AS score
       |  FROM probes p
       |  JOIN e q ON q.vec_id = p.query_id
       |  JOIN cellof cf ON cf.cell = p.cell
       |  JOIN recon r ON r.vec_id = cf.vec_id
       |  WHERE p.query_id != r.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
       |      AS INTEGER) AS rank
       |  FROM scored WHERE score IS NOT NULL)
       |SELECT query_id, rank, neighbor_id, round(score, 4) AS score
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Binary sign-bit search: 64-dim embeddings → two 32-bit words,
    * Hamming top-5 via xor+popcount — integer-exact, so a plain SQL
    * oracle reproduces the ranking bit-for-bit.
    */
  private def sim08HammingTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Ann.hammingTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  private val sim08Sql =
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleSql.EmbScreened} t),
      |sig AS (
      |  SELECT vec_id,
      |    bit_or(CASE WHEN i <= 32 AND v[i] > 0 THEN 1::BIGINT << (i - 1)
      |      ELSE 0::BIGINT END) AS h1,
      |    bit_or(CASE WHEN i > 32 AND v[i] > 0 THEN 1::BIGINT << (i - 33)
      |      ELSE 0::BIGINT END) AS h2
      |  FROM (SELECT vec_id, v, unnest(range(1, 65)) AS i FROM e)
      |  GROUP BY vec_id),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(bit_count(xor(q.h1, c.h1)) + bit_count(xor(q.h2, c.h2)) AS INTEGER)
      |      AS hamming
      |  FROM sig q JOIN sig c ON q.vec_id < 10 AND q.vec_id != c.vec_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, hamming,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id)
      |      AS INTEGER) AS rank
      |  FROM scored)
      |SELECT query_id, rank, neighbor_id, hamming
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Two-stage cascade: Hamming pre-rank to 50 candidates, exact
    * cosine re-rank to top-5 — integer stage-1 cut keeps the whole
    * composition oracle-reproducible.
    */
  private def sim09RerankTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Ann.rerankTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, preK = 50)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val sim09Sql =
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleSql.EmbScreened} t),
      |sig AS (
      |  SELECT vec_id,
      |    bit_or(CASE WHEN i <= 32 AND v[i] > 0 THEN 1::BIGINT << (i - 1)
      |      ELSE 0::BIGINT END) AS h1,
      |    bit_or(CASE WHEN i > 32 AND v[i] > 0 THEN 1::BIGINT << (i - 33)
      |      ELSE 0::BIGINT END) AS h2
      |  FROM (SELECT vec_id, v, unnest(range(1, 65)) AS i FROM e)
      |  GROUP BY vec_id),
      |pre AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        bit_count(xor(q.h1, c.h1)) + bit_count(xor(q.h2, c.h2)), c.vec_id)
      |        AS rnk
      |    FROM sig q JOIN sig c ON q.vec_id < 10 AND q.vec_id != c.vec_id)
      |  WHERE rnk <= 50),
      |scored AS (
      |  SELECT p.query_id, p.neighbor_id,
      |    ${OracleSql.cos("q.v", "c.v")} AS cosine
      |  FROM pre p
      |  JOIN e q ON q.vec_id = p.query_id
      |  JOIN e c ON c.vec_id = p.neighbor_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
      |      AS INTEGER) AS rank
      |  FROM scored WHERE cosine IS NOT NULL)
      |SELECT query_id, rank, neighbor_id, round(cosine, 4) AS cosine
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Per-label embedding centroids (first 8 dims) — the cluster-profile
    * aggregate an embedding-quality dashboard reads: one narrow
    * explode + one groupBy on (label, dim), all vector arithmetic in
    * the aggregate. */
  private def q84LabelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .filter(col("dim") < 8)
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v")), 4).as("mean_v"), count(lit(1)).as("n"))
      .orderBy(col("label"), col("dim"))

  private val q84Sql =
    """SELECT label, CAST(dim - 1 AS INTEGER) AS dim, round(avg(v), 4) AS mean_v,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT label, unnest(embedding) AS v,
      |        generate_subscripts(embedding, 1) AS dim
      |      FROM embeddings)
      |WHERE dim <= 8
      |GROUP BY 1, 2
      |ORDER BY label, dim""".stripMargin

  /** ANN evaluation harness as a query: recall@5 of the sign-LSH path
    * against exact brute force, per query — the measurement a pipeline
    * runs before trusting an index. Both sides are oracle-checked
    * queries already; the oracle composes their SQL as CTEs, so this
    * gate also cross-checks that composition reproduces.
    *
    * On the synthetic near-uniform embeddings this measures ~0.02 —
    * correct and instructive: a SINGLE 8-bit table leaves ~2 docs per
    * bucket, and sign-LSH needs OR-amplification (multiple tables) or
    * multi-probe for recall on weakly-clustered data. AnnSpec's
    * recall assertions run coarser buckets (nBits=4 → wider candidate
    * pools); this query pins the honest number at sim02's production
    * bucketing.
    */
  private def q85AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = sim01BruteTopK(s, dir).select(col("query_id"), col("neighbor_id"))
    val lsh = sim02LshTopK(s, dir)
      .select(col("query_id").as("ql"), col("neighbor_id").as("nl"))
    exact.join(lsh,
        col("query_id") === col("ql") && col("neighbor_id") === col("nl"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("nl")).as("n_overlap"),
        round(count(col("nl")) / 5.0, 4).as("recall"))
      .orderBy(col("query_id"))
  }

  // built by concatenation, NOT an outer stripMargin: the interpolated
  // member SQL may contain line-initial || operators that a second
  // stripMargin pass would corrupt (the BpeTrainer.applyOracleSql pin)
  private def q85Sql: String =
    "WITH exact AS (\n" + sim01Sql + "\n), lsh AS (\n" + sim02Sql + "\n)\n" +
      "SELECT e.query_id, CAST(count(l.neighbor_id) AS BIGINT) AS n_overlap,\n" +
      "  round(count(l.neighbor_id) / 5.0, 4) AS recall\n" +
      "FROM exact e LEFT JOIN lsh l\n" +
      "  ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id\n" +
      "GROUP BY e.query_id\nORDER BY e.query_id"

  /** Int8-quantized top-5 for the first 10 vectors: global symmetric
    * scale, explicit half-up rounding, integer dot ranking (ties by
    * neighbor_id) — exactly reproducible cross-engine, unlike float
    * cosine near a top-k cut.
    */
  private def sim04QuantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.similarity.Ann.quantizedTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  private val sim04Sql =
    s"""WITH e AS (SELECT vec_id, embedding FROM ${OracleSql.EmbScreened} t),
      |s AS (
      |  SELECT 127.0 / CAST(max(list_max(list_transform(embedding, x -> abs(x)))) AS DOUBLE) AS scale
      |  FROM e),
      |qz AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * scale + 0.5)) AS qv
      |  FROM e, s),
      |pairs AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS qdot
      |  FROM qz q JOIN qz c ON q.vec_id != c.vec_id
      |  WHERE q.vec_id < 10),
      |ranked AS (
      |  SELECT query_id, neighbor_id, qdot,
      |    CAST(row_number() OVER (
      |      PARTITION BY query_id ORDER BY qdot DESC, neighbor_id) AS INTEGER) AS rank
      |  FROM pairs)
      |SELECT query_id, rank, neighbor_id, qdot
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Hard-negative mining (contrastive-training batch construction):
    * for each of the first 10 vectors, the 3 nearest neighbors whose
    * label differs — [[graft.similarity.Ann.hardNegatives]].
    */
  private def q87HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.similarity.Ann.hardNegatives(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("neg_label"), round(col("cosine"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val q87Sql =
    s"""WITH e AS (SELECT vec_id, label, v FROM ${OracleSql.EmbFinite} t),
      |pairs AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    c.label AS neg_label,
      |    ${OracleSql.cosPair("q.v", "c.v")} AS cosine
      |  FROM e q JOIN e c
      |    ON q.vec_id != c.vec_id AND q.label != c.label
      |  WHERE q.vec_id < 10)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, neg_label,
      |  round(cosine, 4) AS cosine
      |FROM (
      |  SELECT query_id, neighbor_id, neg_label, cosine,
      |    row_number() OVER (
      |      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM pairs WHERE cosine IS NOT NULL
      |)
      |WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q95

  /** Blocked edit-distance fuzzy join (entity resolution): near-match
    * pairs of distinct part names within Levenshtein distance 3,
    * blocked on the head noun (last token) so no all-pairs comparison
    * ever happens — the block key bounds candidate fan-out to
    * Σ block², the same containment argument as the LSH band joins.
    * Matching runs on the DISTINCT name vocabulary (entity resolution
    * always does), so row count is irrelevant to the match cost.
    */
  private def q95EditJoin(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir)
      .select(col("p_name")).distinct()
      .select(col("p_name"), element_at(split(col("p_name"), " "), -1).as("blk"))
      .localCheckpoint()
    names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name"))
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        levenshtein(col("a.p_name"), col("b.p_name")).as("dist"))
      .filter(col("dist") <= 3)
      .orderBy(col("name_a"), col("name_b"))
  }

  private val q95Sql =
    """WITH names AS (
      |  SELECT DISTINCT p_name,
      |    list_extract(regexp_split_to_array(p_name, ' '), -1) AS blk
      |  FROM part)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      |FROM names a JOIN names b
      |  ON a.blk = b.blk AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY name_a, name_b""".stripMargin

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
    s"""WITH e AS (SELECT vec_id, v FROM ${OracleSql.EmbScreened} t),
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

  val all: Seq[Q] = Seq(
    Q("sim01_brute_topk", sim01BruteTopK, Some(sim01Sql)),
    Q("sim02_lsh_topk", sim02LshTopK, Some(sim02Sql)),
    Q("sim03_ivf_topk", sim03IvfTopK, Some(sim03Sql)),
    Q("sim05_text_search", sim05TextSearch, Some(sim05Sql)),
    Q("sim06_pq_topk", sim06PqTopK, Some(sim06Sql)),
    Q("sim07_ivfpq_topk", sim07IvfPqTopK, Some(sim07Sql)),
    Q("sim08_hamming_topk", sim08HammingTopK, Some(sim08Sql)),
    Q("sim09_rerank_topk", sim09RerankTopK, Some(sim09Sql)),
    Q("q84_label_centroids", q84LabelCentroids, Some(q84Sql)),
    Q("q85_ann_recall", q85AnnRecall, Some(q85Sql)),
    Q("sim04_quantized_topk", sim04QuantizedTopK, Some(sim04Sql)),
    Q("q87_hard_negatives", q87HardNegatives, Some(q87Sql)),
    Q("q95_edit_join", q95EditJoin, Some(q95Sql)),
    Q("sim10_mips", sim10Mips, Some(sim10Sql)),
  )
}
