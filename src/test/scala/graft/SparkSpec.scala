package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
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
