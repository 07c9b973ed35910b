package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Task-level counters summed over the jobs of one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskRunMs, gcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L

  def toJson: Json.Obj = Json.Obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_cpu_s" -> taskCpuNs / 1e9, "task_run_s" -> taskRunMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
    "shuffle_read_mb" -> shuffleReadBytes / 1048576.0, "spill_mb" -> spillBytes / 1048576.0)
}

/** Spark listener that attributes jobs, stages and task metrics to the
  * job group that was set when each job started. Registered only for
  * traced runs.
  */
final class GroupLedger extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val c = counters(g)
        c.jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach { g =>
      val c = counters(g)
      c.stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(g)
      c.tasks += 1
      c.taskCpuNs += m.executorCpuTime
      c.taskRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def group(g: String): Counters = synchronized(byGroup.getOrElse(g, new Counters))
}

/** Whole-JVM code generation counters: number of compiled classes and
  * nanoseconds spent compiling them.
  */
object Codegen {
  def snapshot(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}

/** A traced interval. Spans of one pass share `runId`; `parent` is the
  * enclosing span's id, or -1 for a pass span.
  */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    startNs: Long, endNs: Long, group: Option[String])

/** Keeps spans in memory; they are written out once, at the end. */
final class Tracer(origin: Long) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String, runId: String, group: Option[String])(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    val t0 = System.nanoTime
    try body finally {
      open.pop()
      spans += Span(id, parent, name, runId, t0 - origin, System.nanoTime - origin, group)
    }
  }

  def all: Seq[Span] = spans.toSeq
}
