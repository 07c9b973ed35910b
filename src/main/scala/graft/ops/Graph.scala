package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iterative graph centrality — the corpus-quality propagation step of
  * web-scale data curation (link-graph authority scores feeding
  * document quality weights).
  *
  * Scale posture: the rounds run as ONE lazy, co-partitioned RDD
  * lineage — the Pregel/MapReduce PageRank shape. Every node's
  * out-neighbour list is shuffled once into a `HashPartitioner` of
  * `spark.sql.shuffle.partitions`; each round joins it with the round's
  * contributions (a narrow join, both sides share that partitioner) and
  * shuffles only the map-side-combined contribution sums, keyed by
  * destination into the same partitioner. The loop is planned once, adds
  * no job and no generated class per round, and runs inside the jobs of
  * the caller's action. Rounds are cut by shuffle files, not by
  * `localCheckpoint`: a lost executor re-runs its map tasks instead of
  * failing the query, and round i reads only the (cached) adjacency
  * and round i − 1's shuffle output, so a round's work does not grow
  * with its index.
  */
object Graph {

  /** Simplified (non-normalized) PageRank: rank₀ = 1, then
    * rankᵢ(v) = round((1 − d) + d · Σ_{(u,v)∈E} rankᵢ₋₁(u) / outdeg(u), 8)
    * for a FIXED iteration count — deterministic, so an engine-
    * independent oracle can replay it (unrolled per-iteration SQL).
    * Edges are distinct; dangling nodes contribute nothing (their mass
    * is not redistributed), matching the common simplified formulation.
    * NULL ids follow SQL join equality: an edge with a NULL source
    * contributes nothing, an edge (x, NULL) counts in x's out-degree but
    * its contribution reaches no node, and a NULL node ranks
    * round(1 − d, 8).
    *
    * The per-iteration 8-decimal snap (Spark's `round`: HALF_UP on the
    * double's decimal form) makes the ITERATED state
    * engine-reproducible: summation order shifts the contribution sums
    * by ~1e-15 per round, and unsnapped that drift compounds until a
    * 4-decimal output rounding can flip (observed at sf0.001: five
    * ranks off by the last printed digit vs the oracle). Snapping far
    * above the drift and far below the output precision pins both
    * engines to identical state every round.
    *
    * Ids are grouped by JVM equality, which agrees with Spark's join
    * equality only for integral, string, date and timestamp columns;
    * any other id type is rejected.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    // the union widens src and dst to one node type, as the output carries
    val nodeField = e.select(col("src").as("node")).union(e.select(col("dst"))).schema.head
    require(jvmKeyed(nodeField.dataType),
      s"Graph.pageRank: node ids must be integral, string, date or timestamp, got ${nodeField.dataType.sql}")
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // node → out-neighbours (a NULL dst still counts in the out-degree);
    // every endpoint is a node, dangling ones with no out-neighbours.
    // Cached because every round reads it: a partition that is not
    // cached (evicted, or lost with its executor) is recomputed from
    // its lineage, and Spark drops the blocks once the result is
    // garbage-collected.
    val graph: RDD[(Any, Array[Any])] = e
      .select(col("src").cast(nodeField.dataType), col("dst").cast(nodeField.dataType))
      .rdd.flatMap { r =>
        val (s, d) = (r.get(0), r.get(1))
        val out = if (s == null) (s, None) else (s, Some(d))
        if (d == null) Iterator(out) else Iterator(out, (d, None))
      }
      .groupByKey(part)
      .mapValues(_.flatten.toArray)
      .cache()
    val base = 1.0 - damping
    // each round's state is graph ⟕ that round's sums (narrow), so a
    // round reads only the graph and the previous round's shuffle output
    var ranks: RDD[(Any, (Array[Any], Double))] = graph.mapValues(out => (out, 1.0))
    for (_ <- 1 to iters) {
      val contribs = ranks.values.flatMap { case (out, r) =>
        val c = r / out.length
        out.iterator.filter(_ != null).map(d => (d, c))
      }.reduceByKey(part, _ + _)
      ranks = graph.leftOuterJoin(contribs).mapValues { case (out, in) =>
        (out, snap8(base + damping * in.getOrElse(0.0)))
      }
    }
    spark.createDataFrame(ranks.map { case (n, (_, r)) => Row(n, r) },
      StructType(Seq(nodeField, StructField("rank", DoubleType))))
  }

  /** Types whose JVM equality (and, for the non-string ones, ordering)
    * agrees with Spark's on the external row values. */
  private[graft] def jvmKeyed(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | StringType
        | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Spark's `round(x, 8)` on a double, bit for bit. */
  private def snap8(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(8, java.math.RoundingMode.HALF_UP).doubleValue
}
