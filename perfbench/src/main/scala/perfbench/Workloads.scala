package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.dedup.Dedup
import graft.imdb.{ImdbAnalysis, ImdbPipeline, ImdbReader}
import graft.ml.MlPipeline
import graft.queries.Catalog
import graft.similarity.Ann
import graft.text.{SpanDedup, TextStats}

/** One timed call into a layer: its wall time, output digest, the job
  * group its Spark jobs ran under, and any values it noted.
  */
final case class OpResult(layer: String, name: String, seconds: Double, digest: String,
    group: String, notes: Map[String, Double])

/** The context of one pass: runs operations in order, timing each one
  * and, when traced, recording a span around it.
  */
final class Pass(val spark: SparkSession, val runId: String, tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[OpResult]
  private var notes = mutable.LinkedHashMap.empty[String, Double]

  def op[T](layer: String, name: String)(body: => (T, String)): T = {
    val group = s"$runId:$layer.$name"
    val sc = spark.sparkContext
    sc.setJobGroup(group, s"$layer.$name")
    notes = mutable.LinkedHashMap.empty
    val t0 = System.nanoTime
    val (v, digest) =
      try tracer.fold(body)(_.span(s"$layer.$name", runId, Some(group))(body))
      finally sc.clearJobGroup()
    ops += OpResult(layer, name, (System.nanoTime - t0) / 1e9, digest, group, notes.toMap)
    v
  }

  /** A timed step inside the current operation, noted as `<name>_s`. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime
    val v = tracer.fold(body)(_.span(name, runId, None)(body))
    note(s"${name}_s", (System.nanoTime - t0) / 1e9)
    v
  }

  def note(key: String, value: Double): Unit = notes(key) = value
}

trait Workload {
  def name: String
  /** Writes the seeded inputs under `dir`; returns rows per input table. */
  def generate(spark: SparkSession, seed: Long, dir: File): Map[String, Long]
  def pass(p: Pass, seed: Long, dir: File): Unit
}

object Workloads {
  val all: Seq[Workload] = Seq(EtlCuration, OlapMix)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** The two batch pipelines, one after the other in each pass: the
  * reference's main.py path over a seeded IMDb dump, then the
  * corpus-cleaning chain over a seeded near-duplicate corpus.
  */
object EtlCuration extends Workload {
  val name = "etl_curation"

  def generate(spark: SparkSession, seed: Long, dir: File): Map[String, Long] =
    ImdbEtl.generate(seed, dir) ++ Curation.generate(spark, seed, dir)

  def pass(p: Pass, seed: Long, dir: File): Unit = {
    ImdbEtl.pass(p, dir)
    Curation.pass(p, dir)
  }
}

/** The reference's main.py path over a seeded IMDb TSV dump. */
object ImdbEtl {
  val Titles = 10000
  val People = 2500

  def generate(seed: Long, dir: File): Map[String, Long] =
    Gen.imdbDump(seed, new File(dir, "dump"), Titles, People)

  def pass(p: Pass, dir: File): Unit = {
    val spark = p.spark
    val t = p.op("imdb", "load") {
      val t = ImdbReader.loadTables(spark, new File(dir, "dump").getPath)
      val counts = Seq(t.nameBasics, t.titleAkas, t.titleBasics, t.titleCrew,
        t.titlePrincipals, t.titleRatings).map(_.count())
      p.note("rows", counts.sum.toDouble)
      (t, counts.mkString(","))
    }
    // the dataset alone is checked: which of several equally scored people
    // fill the last places of a top-N list differs from run to run
    val ds = p.op("imdb", "etl") {
      val ds = ImdbPipeline.generateDatasetWithTops(t)._1
      val (n, d) = Digest.of(ds)
      p.note("rows", n.toDouble)
      (ds, d)
    }
    val out = new File(dir, "dataset.parquet").getPath
    p.op("imdb", "save") {
      ImdbReader.saveParquet(ds, out, SaveMode.Overwrite)
      ((), "")
    }
    val back = p.op("imdb", "readback") {
      val back = spark.read.parquet(out)
      (back, Digest.of(back)._2)
    }
    val features = back.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] && f.name != "averageRating" => f.name
    }.toSeq
    val (train, test) = p.op("ml", "split") {
      // sampleBy draws per partition in row order, and the order of a
      // parquet read-back is not fixed: one sorted partition makes the
      // split the same in every pass
      val cols = col("primaryTitle") +: col("label") +: features.map(col)
      val labeled = back
        .withColumn("label", MlPipeline.label(col("averageRating"), 6.0))
        .na.fill(0.0, features)
        .select(cols: _*)
        .repartition(1).sortWithinPartitions(cols: _*)
      val (tr, te) = MlPipeline.stratifiedSplit(labeled, "label", "primaryTitle")
      val (trc, tec) = (tr.localCheckpoint(), te.localCheckpoint())
      ((trc, tec), Digest.of(trc)._2 + "|" + Digest.of(tec)._2)
    }
    val model = p.op("ml", "train") {
      val m = MlPipeline.trainGbt(train, features, maxIter = 5, maxDepth = 4)
      (m, s"${m.getNumTrees}:${m.totalNumNodes}")
    }
    p.op("ml", "eval") {
      val ev = MlPipeline.evaluate(model, test, features)
      p.note("accuracy", ev.head().getAs[Double]("accuracy"))
      (ev, Digest.of(ev)._2)
    }
    p.op("imdb", "trends") {
      val tr = ImdbAnalysis.trendsDataFrame(t.titleBasics, t.titleRatings)
      (tr, Digest.of(tr)._2)
    }
  }
}

/** The corpus-cleaning chain over a seeded near-duplicate corpus. */
object Curation {
  val BaseDocs = 500
  val K = 10
  val QueryEvery = 15

  def generate(spark: SparkSession, seed: Long, dir: File): Map[String, Long] =
    Gen.corpus(spark, seed, dir, BaseDocs, QueryEvery, K)

  def pass(p: Pass, dir: File): Unit = {
    val spark = p.spark
    val docs = spark.read.parquet(new File(dir, "documents.parquet").getPath)
    val emb = spark.read.parquet(new File(dir, "embeddings.parquet").getPath)
    p.op("text", "quality") {
      val q = TextStats.withLangId(
        docs.withColumn("quality", TextStats.qualityScore(col("text"))), "text")
        .select("doc_id", "quality", "lang_pred")
      (q, Digest.of(q)._2)
    }
    p.op("dedup", "exact") {
      val g = Dedup.exactGroups(docs, "doc_id", "text")
      (g, Digest.of(g)._2)
    }
    val cand = p.op("dedup", "candidates") {
      val c = Dedup.minHashCandidatePairs(docs, "doc_id", "text").localCheckpoint()
      val (n, d) = Digest.of(c)
      p.note("pairs", n.toDouble)
      (c, d)
    }
    // exact Jaccard check of each candidate pair on the shingle sets
    val verified = p.op("dedup", "verify") {
      val inv = Dedup.hashedShingleRows(docs, "doc_id", "text", 3).localCheckpoint()
      val sizes = inv.groupBy(col("doc")).agg(count(lit(1)).as("n"))
      val common = cand
        .join(inv.toDF("doc_a", "s"), "doc_a")
        .join(inv.toDF("doc_b", "s"), Seq("doc_b", "s"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
      val v = common
        .join(sizes.toDF("doc_a", "n_a"), "doc_a")
        .join(sizes.toDF("doc_b", "n_b"), "doc_b")
        .filter(col("common") / (col("n_a") + col("n_b") - col("common")) >= 0.5)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      val (n, d) = Digest.of(v)
      p.note("pairs", n.toDouble)
      (v, d)
    }
    val clusters = p.op("dedup", "clusters") {
      val cl = Dedup.duplicateClusters(verified, "doc_a", "doc_b").localCheckpoint()
      (cl, Digest.of(cl)._2)
    }
    p.op("dedup", "canonical") {
      val kept = Dedup.keepCanonical(docs, "doc_id", clusters).select("doc_id")
      val (n, d) = Digest.of(kept)
      p.note("rows", n.toDouble)
      (kept, d)
    }
    p.op("text", "span_dedup") {
      val s = SpanDedup.dedupSpans(docs, 16)
      (s, Digest.of(s)._2)
    }
    p.op("similarity", "topk") {
      val r = Ann.ivfTopK(emb, queries(emb), "vec_id", "embedding", K).localCheckpoint()
      val keys = Seq("query_id", "neighbor_id")
      val exact = spark.read.parquet(new File(dir, "exact_topk.parquet").getPath)
      val hits = exact.select(keys.map(col): _*).join(r.select(keys.map(col): _*), keys).count()
      val n = exact.count()
      p.note("recall", if (n == 0) 0.0 else hits.toDouble / n)
      (r, Digest.of(r.select("query_id", "rank", "neighbor_id"))._2)
    }
  }

  private def queries(emb: DataFrame) = emb.filter(col("vec_id") % QueryEvery === 0)
}

/** A fixed list of catalog queries in a seed-chosen order over a seeded
  * star schema.
  */
object OlapMix extends Workload {
  val name = "olap_mix"
  val Sf = 0.005
  val Queries = Seq("q01", "q22", "q25", "q31", "q36b", "q59", "q62", "q74")

  def generate(spark: SparkSession, seed: Long, dir: File): Map[String, Long] =
    Gen.starSchema(spark, seed, dir, Sf)

  private lazy val catalog: Seq[(String, (SparkSession, String) => DataFrame)] =
    Queries.map { id =>
      val hits = Catalog.queries.filter(_._1.startsWith(id + "_"))
      require(hits.size == 1, s"catalog query $id: ${hits.keys.mkString(",")}")
      id -> hits.head._2
    }

  def pass(p: Pass, seed: Long, dir: File): Unit =
    new scala.util.Random(seed).shuffle(catalog).foreach { case (id, fn) =>
      p.op("queries", id) {
        val df = p.phase("plan") {
          val df = fn(p.spark, dir.getPath)
          df.queryExecution.executedPlan
          df
        }
        val rows = p.phase("exec")(df.collect())
        (rows, Digest.rows(rows))
      }
    }
}
