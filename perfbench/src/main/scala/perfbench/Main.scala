package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.io.Source

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes a JSON report of raw
  * measurements; `run.py` turns the report into metrics and checks it.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *             --work DIR --out FILE --spans FILE
  *        Main --workload W --cores C --work DIR --out FILE --record SEED,SEED,...
  *
  * A run generates the inputs (three times, to time set-up), runs one
  * cold pass, then passes back to back until S seconds have gone, at
  * least two have run and at least 24 operations have been timed. With
  * --trace 1 the timed passes come in blocks of traced, untraced, traced,
  * so the tracing overhead is measured in the same run. With --record it
  * instead runs one pass per listed seed and reports only the digests.
  */
object Main {
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName(args("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${args("workload")}"))
    val cores = args("cores").toInt
    val work = new File(args("work"))
    val dataDir = new File(work, "data")
    work.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "tmp").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val report = try {
      args.get("record") match {
        case Some(seeds) => record(spark, w, seeds.split(",").map(_.toLong).toSeq, dataDir)
        case None => measure(spark, w, args("seed").toLong, args("seconds").toDouble,
          args("trace") == "1", cores, new File(args("spans")), dataDir, sessionS)
      }
    } finally spark.stop()
    val out = new PrintWriter(args("out"))
    try out.println(Json.render(report)) finally out.close()
  }

  private def record(spark: SparkSession, w: Workload, seeds: Seq[Long], dataDir: File): Json.Obj =
    Json.Obj("workload" -> w.name, "record" -> seeds.map { seed =>
      w.generate(spark, seed, dataDir)
      val p = new Pass(spark, s"record-$seed", None)
      w.pass(p, seed, dataDir)
      seed.toString -> Json.Obj(
        "digests" -> p.ops.map(o => s"${o.layer}.${o.name}" -> o.digest).toMap,
        "notes" -> p.ops.map(o => s"${o.layer}.${o.name}" -> o.notes).toMap)
    }.toMap)

  /** Fewest operation times a run measures: two passes of `etl_curation`,
    * three of `olap_mix`.
    */
  private val MinTimedOps = 24

  private def measure(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
      traced: Boolean, cores: Int, spansFile: File, dataDir: File, sessionS: Double): Json.Obj = {
    val sc = spark.sparkContext
    // set-up: input generation, timed three times; the last copy is used
    val gens = (1 to 3).map { _ =>
      val t0 = System.nanoTime
      val rows = w.generate(spark, seed, dataDir)
      ((System.nanoTime - t0) / 1e9, rows)
    }
    val inputRows = gens.last._2

    val origin = System.nanoTime
    val tracer = new Tracer(origin)
    val ledger = new GroupLedger
    var nPass = 0
    var timedOps = 0

    def runPass(kind: String, trace: Boolean): Json.Obj = {
      val runId = s"${w.name}-$seed-p$nPass"
      nPass += 1
      if (trace) sc.addSparkListener(ledger)
      val p = new Pass(spark, runId, if (trace) Some(tracer) else None)
      val (c0, ct0) = Codegen.snapshot()
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime
      if (trace) tracer.span("pass", runId, None)(w.pass(p, seed, dataDir))
      else w.pass(p, seed, dataDir)
      val wall = (System.nanoTime - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val (c1, ct1) = Codegen.snapshot()
      if (kind != "cold") timedOps += p.ops.size
      if (trace) { ListenerDrain(sc); sc.removeSparkListener(ledger) }
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      Json.Obj("kind" -> kind, "run_id" -> runId, "traced" -> trace, "wall_s" -> wall,
        "cpu_s" -> cpu, "compiles" -> (c1 - c0), "compile_s" -> (ct1 - ct0) / 1e9,
        "ops" -> p.ops.map { o =>
          Json.Obj("layer" -> o.layer, "name" -> o.name, "s" -> o.seconds,
            "digest" -> o.digest, "notes" -> o.notes,
            "counters" -> (if (trace) Some(ledger.group(o.group).toJson) else None))
        })
    }

    val passes = Seq.newBuilder[Json.Obj]
    passes += runPass("cold", false)
    val start = System.nanoTime
    var nTimed = 0
    def elapsed = (System.nanoTime - start) / 1e9
    if (traced) {
      // traced, untraced, traced: the JIT still warming up over the run
      // shifts the two traced passes in opposite directions, so their mean
      // against the untraced pass measures the tracing overhead
      while (nTimed == 0 || elapsed < seconds) {
        for (on <- Seq(true, false, true))
          passes += runPass(if (on) "traced" else "untraced", on)
        nTimed += 3
      }
    } else {
      // at least two passes, so that no run's figures rest on the first
      // warm pass alone, and enough operations for the operation-time
      // percentiles
      while (nTimed < 2 || timedOps < MinTimedOps || elapsed < seconds) {
        passes += runPass("timed", false)
        nTimed += 1
      }
    }

    val sp = new PrintWriter(spansFile)
    try sp.println(Json.render(tracer.all.map(s => Json.Obj("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "run_id" -> s.runId, "start_s" -> s.startNs / 1e9,
      "end_s" -> s.endNs / 1e9, "counters" -> s.group.map(ledger.group(_).toJson)))))
    finally sp.close()

    Json.Obj("workload" -> w.name, "seed" -> seed, "cores" -> cores, "trace" -> traced,
      "session_s" -> sessionS, "gen_s" -> gens.map(_._1),
      "query_ids" -> OlapMix.Queries,
      "input_rows" -> inputRows, "peak_mem_mb" -> peakRssMb(),
      "spans_file" -> spansFile.getPath, "passes" -> passes.result())
  }
}
