package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, WindowFrame, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one per suite (lazy), small shuffle
  * parallelism, UTC, AQE left at Spark defaults.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse") // keep saveAsTable out of the repo dir
    .getOrCreate()

  val Sf0001 = "/root/testdata/sf0.001"
  // The larger driver-gate shards: sf0.01 is the correctness-gate
  // scale, sf0.1 the bench/cross-scale-closure scale (TESTDATA.md).
  // Most specs stay on Sf0001; only the shard-premise tripwires read
  // these (no key list here — it went stale once already, ADVICE r16).
  val Sf001 = "/root/testdata/sf0.01"
  val Sf01 = "/root/testdata/sf0.1"

  /** Spark jobs started while `body` runs, counted by a listener after
    * draining the bus on both sides so no other work's events leak in.
    */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerDrain(sc)
    sc.addSparkListener(counter)
    try { body; ListenerDrain(sc); jobs.get } finally sc.removeSparkListener(counter)
  }

  /** `n` seeded ScalaCheck draws, the i-th from `Seed(seed + i)`, so a
    * property's inputs are the same on every run (scalatestplus is not
    * on the offline classpath, so sampling is explicit, not `forAll`).
    */
  def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))
}

/** Plan-shape reads for the gates: walks the physical plan tree of
  * `df.queryExecution.executedPlan` instead of its rendered explain
  * text. The walk goes through `AdaptiveSparkPlanExec` (its current
  * plan before execution, the final plan's query stages after) and
  * into subqueries, as formatted explain does; a reused exchange is a
  * leaf, as it is there. The readers return plan nodes, so a gate reads
  * typed fields (partitioning, build side, required schema, pushed
  * filters, window frames) rather than matching strings.
  */
object PlanTree extends AdaptiveSparkPlanHelper {
  def nodes(df: DataFrame): Seq[SparkPlan] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }

  /** Shuffle and broadcast exchanges. */
  def exchanges(df: DataFrame): Seq[Exchange] = nodes(df).collect { case e: Exchange => e }

  /** Shuffles hash-partitioned on a column named `column`. */
  def exchangesOn(df: DataFrame, column: String): Seq[ShuffleExchangeLike] =
    nodes(df).collect {
      case e: ShuffleExchangeLike if (e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists {
          case a: AttributeReference => a.name == column
          case _ => false
        }
        case _ => false
      }) => e
    }

  def joins(df: DataFrame): Seq[BaseJoinExec] = nodes(df).collect { case j: BaseJoinExec => j }

  /** Joins that pair rows without an equi-key: cartesian products and
    * broadcast nested-loop joins.
    */
  def nestedLoops(df: DataFrame): Seq[BaseJoinExec] = joins(df).filter {
    case _: CartesianProductExec | _: BroadcastNestedLoopJoinExec => true
    case _ => false
  }

  def cartesians(df: DataFrame): Seq[CartesianProductExec] =
    nodes(df).collect { case c: CartesianProductExec => c }

  /** Parquet and other file scans; `requiredSchema` is the read schema
    * and `dataFilters` the predicates pushed to the reader.
    */
  def scans(df: DataFrame): Seq[FileSourceScanExec] =
    nodes(df).collect { case s: FileSourceScanExec => s }

  def windows(df: DataFrame): Seq[WindowExec] = nodes(df).collect { case w: WindowExec => w }

  /** The frame of every window expression `w` computes. */
  def frames(w: WindowExec): Seq[WindowFrame] =
    w.windowExpression.flatMap(_.collect { case s: WindowSpecDefinition => s.frameSpecification })
}

object SparkSpec {
  /** Recursive delete for test temp dirs — the one shared copy (was
    * hand-rolled in three suites with slight variation). Closes the
    * walk stream (an unclosed Files.walk leaks a directory fd per
    * call); missing path is a no-op.
    */
  def deleteRecursively(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally walk.close()
    }
  }
}
