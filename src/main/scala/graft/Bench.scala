package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark entry point (driver contract, BASELINE.md).
  *
  * Times every catalog query on `SPARK_GRAFT_SF_DIR` and prints ONE
  * compact JSON line. Round 1 lesson: the driver only keeps a tail of
  * stdout when parsing this line, and a per-query map over the full
  * 67-query catalog at full double precision overflowed that buffer
  * (BENCH_r01.json came back `"parsed": null`). So the printed line
  * carries the total plus a fixed HEADLINE subset rounded to
  * milliseconds; the full per-query breakdown goes to
  * `target/bench_detail.json` for local inspection.
  */
object Bench {
  /** Representative subset, ONE OR TWO members per query family (the
    * r6 list had grown to 46 entries and was two rounds from the
    * printed-line budget — see lineBudgetOk). Full per-query timings always
    * land in target/bench_detail.json — the headline only has to keep
    * every family's round-over-round trend visible, not every query.
    * Membership rotates: when adding a family, drop a redundant
    * sibling elsewhere. `lineBudgetOk` below fails the run loudly if
    * this list ever grows past the buffer again.
    */
  private[graft] val headline = Seq(
    // relational / window / sql entry
    "q01_pricing_summary", "q04_join_inner", "q22_window_rank", "q30_sql_entry",
    // events / graph / diagnostics
    "q62_sessionize", "q74_pagerank", "q83_key_skew",
    // dedup: exact, minhash-lsh, incremental, semantic, composed
    // (dd02_jaccard_pairs rotated out in r15 for line width, SCALE.md
    // "Round-15" — its inverted-index pair join is the same physical
    // family dd04/dd14 keep visible; still timed in bench_detail)
    "dd01_exact_dedup", "dd04_minhash_lsh",
    "dd07_incremental", "dd12_semantic_dedup", "dd14_minhash_curated",
    // similarity: brute, ivf, text, ivf+pq, cascade
    "sim01_brute_topk", "sim03_ivf_topk", "sim05_text_search",
    "sim07_ivfpq_topk", "sim09_rerank_topk",
    // text: curation, span dedup, bpe, source-contamination matrix
    // (tx08_contamination rotated out in r15, same funding: tx18 is
    // the same n-gram-contamination family at strictly larger shape)
    "tx07_curate", "tx12_span_dedup",
    "tx15_bpe_apply", "tx18_source_contamination",
    // mixing / funnels (mx09 = the composed mega-pipeline, round 8;
    // mx05_curation_pipeline rotated out in r16 for line width, SCALE.md
    // "Round-16" — mx09 composes the same curation chain at strictly
    // larger shape, the tx08→tx18 funding rationale; still timed in
    // bench_detail)
    "mx01_pack", "mx09_megapipeline",
    // ml / multimodal / flagship pipelines (ml20 rotated in for ml08:
    // same power-iteration family as ml05b, tree family was uncovered)
    "ml03_gbt_eval", "ml20_depth2_tree", "ml05b_power_pca",
    "mm01_media_features", "imdb_pipeline_demo", "imdb_pipeline_synth",
    // round-7 scale-safe twins
    "q38b_kmv_sketch", "q45b_dist_cdf",
    // round-7 wave 2+: verified trainers, CDC chunking, runtime filter,
    // time-series band join
    "ml11_logreg", "tx20_cdc_chunks", "q91_bloom_filter", "q92_ewma")

  /** The one printed bench line. `main` prints it and
    * [[worstCaseLineLen]] formats it with worst-case values, so the
    * certified width and the real line cannot drift apart. Per-query
    * readings and spark_par print through the width-capped [[r3q]];
    * failed through [[boundedNames]]. `memo_warn` always prints `[]`:
    * no catalog query memoizes across calls any more, but the driver
    * parses the line by its 11 keys in this order, so the key stays.
    */
  private[graft] def line(total: Double, cpus: Int, sparkPar: Double,
      failed: Seq[String], queries: Seq[(String, Double)], sf: String): String = {
    val qs = queries.map { case (k, v) => s"\"" + k + "\":" + r3q(v) }.mkString("{", ",", "}")
    // "warmup" tags the timing regime so round-over-round totals aren't
    // compared across different warmup regimes (ADVICE r2). v4 =
    // xor-prescan: the v3 sum() prescan ANSI-overflowed and silently
    // warmed nothing in r3-r5. v5 adds the sacrificial first-query run
    // (r10): dd01's timing was absorbing post-prescan JIT residue.
    // v6 (r11) times headline queries median-of-3 — a host-load spike
    // now costs one rep, not the round's reading. v7 times each run
    // through [[force]] instead of count(), which let Catalyst prune
    // output projections and so timed a smaller plan than the query.
    s"""{"metric":"total","value":$total,"unit":"sec","warmup":"v7-forced","cpus":$cpus,"spark_par":${r3q(sparkPar)},"n_failed":${failed.size},"failed":${boundedNames(failed, MaxFailedNames)},"memo_warn":[],"queries":$qs,"sf":"$sf"}"""
  }

  /** Worst-case printed-line length: [[line]] formatted at pathological
    * widths — a five-digit total, cpus at its validated 3-digit bound,
    * spark_par and every headline reading at the r3q cap. Keeps the
    * headline list honest at build time instead of discovering a
    * truncated BENCH_r{N}.json.
    *
    * Budget re-based r18 on a MEASURED mechanism instead of the r1-era
    * "~1500" estimate: every shipped BENCH_r*.json artifact carries a
    * 2000-char stdout TAIL, and the only output after the printed line
    * inside that tail is one sbt "[success] Total time: ..." line
    * (measured 73–80 chars across r12–r17 artifacts). The line
    * therefore parses iff len(line) + ~80 ≤ 2000; certifying 1800
    * keeps 200 chars of slack — 2.5× the measured trailing output —
    * for a longer completion string or a stray warning line.
    */
  private[graft] def lineBudgetOk: Boolean = worstCaseLineLen < 1800
  private[graft] def worstCaseLineLen: Int = {
    // The certified class is the rc=0 line — the r1 failure mode was a
    // HEALTHY run coming back parsed:null. failed non-empty implies
    // rc=1 (bounded too via boundedNames, but a red line is diagnostic,
    // not a baseline, and is not certified here). The sf path gets a
    // 40-char allowance — the env var is caller-controlled, not fixed
    // to the driver's default.
    line(99999.999, 999, 9999.999, Nil, headline.map(_ -> 9999.999), "x" * 40).length
  }

  /** Bounded JSON name-list for the printed line: the first `bound`
    * names plus a "+N more" marker when truncated. failed was
    * unbounded through r13 — a mass failure could push the one line
    * the driver parses past its buffer, truncating the artifact
    * exactly when it matters most. The true count stays in-artifact
    * (n_failed; the marker's N), and the full list goes to stderr.
    */
  private[graft] val MaxFailedNames = 5
  private[graft] def boundedNames(names: Seq[String], bound: Int): String = {
    val shown = names.take(bound) ++
      (if (names.size > bound) Seq(s"+${names.size - bound} more") else Nil)
    shown.map("\"" + _ + "\"").mkString("[", ",", "]")
  }

  /** The LOWER median ((size-1)/2 of the sorted values) of a headline
    * query's successful reps — the seconds the line prints. Lower, not
    * upper: identical for the odd full-rep case (3 reps → index 1), but
    * with exactly one failed rep the two survivors would otherwise
    * report their MAX, biasing the reading toward the worst rep
    * precisely when reps are scarcest.
    */
  private[graft] def lowerMed(rs: Seq[Double], default: Double = 1.0): Double =
    if (rs.isEmpty) default else { val s = rs.sorted; s((s.size - 1) / 2) }

  private def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
  // Per-headline-query printed seconds (review r16): the line budget
  // certifies an 8-char value slot per query, so the printed reading
  // saturates at 9999.999 — a single query holding a ~3-minute bench
  // for 2.8+ hours carries no signal past "pathological", and an
  // uncapped 5-digit reading would make the real line 1 char/query
  // longer than the certified worst case. bench_detail's per-query
  // "seconds" stays uncapped r3 — the drill-down keeps the true value.
  private[graft] def r3q(v: Double): Double = math.min(r3(v), 9999.999)

  /** The session's core count: `SPARK_GRAFT_CPUS` (default 4), read
    * once and validated (review r15) — a bare toInt at each use site
    * would die in an unexplained NumberFormatException before any
    * descriptive require fires, and the ≤ 999 bound is what the
    * printed line's certified `cpus` width allows. Shared with Verify
    * and `graft.tools` so all run at the same validated parallelism.
    */
  private[graft] def sparkCpus(raw: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): Int = {
    val n = scala.util.Try(raw.trim.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be an integer, got '$raw'"))
    require(n >= 1 && n <= 999,
      s"SPARK_GRAFT_CPUS must be in [1, 999] (the printed line's certified width), got $n")
    n
  }

  def main(args: Array[String]): Unit = {
    // Fail loudly if the hand-maintained headline list drifts from the
    // catalog — a renamed query must not silently vanish from the JSON.
    val missing = headline.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"headline names not in catalog: ${missing.mkString(",")}")
    // boundedNames interpolates catalog names into the printed JSON
    // unescaped (ADVICE r14): safe only while names are [A-Za-z0-9_]+ —
    // a name with a quote or backslash would corrupt the one line the
    // driver parses. Enforce the precondition instead of escaping
    // (BenchGuardSpec pins the same pattern over the full catalog).
    val unprintable = SparkEntry.queries.keys.filterNot(_.matches("[A-Za-z0-9_]+"))
    require(unprintable.isEmpty,
      s"catalog names must match [A-Za-z0-9_]+ (the printed JSON interpolates them " +
        s"unescaped): ${unprintable.mkString(",")}")
    require(lineBudgetOk,
      s"headline list too long: worst-case JSON line exceeds the certified budget " +
        s"(${worstCaseLineLen} chars vs the measured 2000-char driver tail minus slack)")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nCpus = sparkCpus()
    val spark = session()
    // Queries run in sorted name order for round-over-round
    // comparability, after the untimed warmup.
    warmup(spark, sfDir)
    // Sacrificial untimed run of the alphabetically-first timed query:
    // the xor-prescan warms scans/codegen generically, but across r7-r9
    // dd01 still reported 2.8/18.0/7.4 s against a ProfileQ isolated
    // steady-state of ~2 s — whatever JIT/compilation residue survives
    // the prescan lands entirely on whichever query is timed first.
    // Running that exact query once untimed (result discarded, cache
    // dropped after) moves the residue out of the measurement without
    // touching any query code.
    SparkEntry.queries.toSeq.sortBy(_._1).headOption.foreach { case (n, fn) =>
      force(fn(spark, sfDir))._2.left.foreach { e =>
        System.err.println(s"[bench-warmup] sacrificial $n failed: $e")
      }
      try { spark.catalog.clearCache(); System.gc() }
      catch { case _: Throwable => () }
    }
    // Spark-effective-parallelism probe (r20, VERDICT r19 #4): a fixed
    // CPU-bound Spark job — 512M rows × 8 chained xxhash64 rounds over
    // defaultParallelism partitions, ~8 s of single-core CPU — wall-
    // clock timed once, UNTIMED relative to every query (it runs
    // between warmup and the timed loop and its seconds are printed
    // separately, never added to "value"). Fixed total work means wall
    // ∝ 1/effective-cores, so a c8-vs-c32 drive pair's spark_par ratio
    // reads ~3.5-4 on a healthy session — direct evidence the session
    // honors $SPARK_GRAFT_CPUS even when the catalog's per-query times
    // are overhead-bound and scale flat (the r19 suspect_cpus_ignored
    // false positive). A first cut at 64M single hashes measured
    // c8 0.18 s vs c32 0.30 s — ~0.1 s of CPU is itself overhead-bound,
    // which is exactly the blindness the probe exists to escape.
    // -1 = probe failed; the drive remains a valid measurement.
    val sparkParSec = {
      val chained = (1 to 8).foldLeft("id")((e, _) => s"xxhash64($e)")
      val t0 = System.nanoTime()
      try { spark.range(512L * 1000 * 1000).selectExpr(s"bit_xor($chained)").collect()
        (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    }
    // Per-query outcome: a swallowed failure must never masquerade as a
    // timing (r4 lesson: an aborted job was absorbed as `-1L` and dd01
    // reported 61 s with rc 0 — the round's numbers were unusable). Any
    // failure is carried into the printed JSON line as `"failed":[...]`
    // so the driver-parsed artifact itself is visibly red.
    //
    // Headline queries are timed HeadlineReps times and report the
    // MEDIAN (VERDICT r10 #1): four consecutive rounds chased phantom
    // regressions because single-shot timing hands a host-load spike to
    // whichever query it lands on (dd01 r7-r9; synth's 24.5 s in r10 vs
    // a 10.3 s judge replay). Every query is a pure function of its
    // inputs (no cross-call memo), so every rep pays the real cost.
    final case class Outcome(seconds: Double, ok: Boolean, error: Option[String],
        reps: Seq[Double])
    val HeadlineReps = 3
    def isolate(): Unit = {
      // Untimed isolation between timings: drop SQL cache and nudge the
      // ContextCleaner (localCheckpoint/persist blocks are freed on GC)
      // so one run's leftover blocks don't tax the next one's timing.
      // Profiled: heavy queries ran 3-7x slower inside the sequential
      // bench than in isolation before this (r2: q21 6.8s vs 0.4s).
      try { spark.catalog.clearCache(); System.gc() }
      catch { case _: Throwable => () }
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): (Double, Option[String]) = {
        val (dt, res) = force(fn(spark, sfDir))
        (dt, res.left.toOption)
      }
      val outcome = if (headline.contains(name)) {
        val reps = (0 until HeadlineReps).map { _ => isolate(); once() }
        val times = reps.map(_._1)
        val errs = reps.flatMap(_._2)
        // Median over SUCCESSFUL reps only (ADVICE r11): a failing rep
        // fast-fails, and blending its duration into the median would
        // mix regimes. The round is already red via ok=false + exit 1;
        // if every rep failed, the all-rep median stands (the number is
        // diagnostic only at that point, and the reps array has it all).
        val good = reps.collect { case (t, None) => t }
        val medianOf = if (good.nonEmpty) good else times
        Outcome(lowerMed(medianOf), errs.isEmpty, errs.headOption, times)
      } else {
        // Single-shot for the long tail: these only feed the detail file.
        isolate()
        val (dt, err) = once()
        Outcome(dt, err.isEmpty, err, Seq(dt))
      }
      name -> outcome
    }
    val failed = results.collect { case (k, o) if !o.ok => k }
    val total = r3(results.map(_._2.seconds).sum)
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => " "
                  case c if c < ' ' => " "; case c => c.toString }
    val detail = results.map { case (k, o) =>
      val err = o.error.map(e => s""","error":"${esc(e)}"""").getOrElse("")
      // reps = every timing (median is what "seconds" reports)
      val reps =
        if (o.reps.size > 1) s""","reps":[${o.reps.map(r3).mkString(",")}]""" else ""
      s"\"" + k + s"\":{\"seconds\":${r3(o.seconds)},\"ok\":${o.ok}$reps$err}"
    }.mkString("{", ",", "}")
    try {
      val p = java.nio.file.Paths.get("target/bench_detail.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, detail.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    if (failed.size > MaxFailedNames)
      System.err.println(s"[bench] failed (full list): ${failed.mkString(",")}")
    println(line(total, nCpus, sparkParSec, failed,
      results.collect { case (k, o) if headline.contains(k) => k -> o.seconds }, sfDir))
    spark.stop()
    // A bench with any failed query is not a measurement — make the
    // process exit status itself red so no downstream consumer can
    // mistake a contaminated run for a baseline.
    if (failed.nonEmpty) sys.exit(1)
  }

  /** A local session on `SPARK_GRAFT_CPUS` cores — the one every driver
    * entry point (Bench, Verify, SchemaProbe, `graft.tools`) runs on.
    * UTC is part of the contract: the events loader interprets NTZ
    * wall-clocks in the session zone, so a non-UTC host would shift
    * session/window boundaries and drift row counts between runs on
    * different machines. WindowExec's "No Partition Defined" WARN fires
    * per plan instantiation on every histogram-CDF window and flooded
    * the stdout tail the driver captures (VERDICT r19 #5); every
    * unpartitioned window left in the catalog runs over a provably
    * bounded frame, pinned by BoundedWindowSpec — the gate that keeps
    * this suppression honest.
    */
  private[graft] def session(): SparkSession = {
    val nCpus = sparkCpus()
    val spark = SparkSession.builder().master(s"local[$nCpus]")
      .config("spark.sql.shuffle.partitions", nCpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    spark
  }

  /** Runs `query` to completion and returns its wall seconds with either
    * (rows, bit_xor(xxhash64(struct(*)))) or the root cause of the
    * throw. The hash, NOT count(): under count() Catalyst prunes every
    * deterministic output projection, so a per-row expression that
    * throws on a degenerate value (an unguarded ANSI 0/0 in a final
    * SELECT) never runs, and a timing covers a smaller plan than the
    * query (found in r11 when a deliberately reverted guard stayed
    * green in the chaos sweep). Hashing a struct of every output column
    * keeps the whole plan live, which is exactly what a downstream sink
    * does at scale. Building the frame is timed too: some queries run
    * eager jobs while they plan.
    */
  def force(query: => DataFrame): (Double, Either[String, (Long, Long)]) = {
    val t0 = System.nanoTime()
    val res =
      try {
        val r = query.selectExpr("count(*)", "coalesce(bit_xor(xxhash64(struct(*))), 0)")
          .collect()(0)
        Right((r.getLong(0), r.getLong(1)))
      } catch { case t: Throwable =>
        var c = t
        while (c.getCause != null && c.getCause != c) c = c.getCause
        Left(s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("").linesIterator.take(1).mkString.take(160)}")
      }
    ((System.nanoTime() - t0) / 1e9, res)
  }

  /** Untimed warmup of JIT/codegen, shuffle, window, hash/regex
    * expression and full-scan paths, so the first timed query doesn't
    * absorb session start-up — profiled at ~3 s of cold scan + codegen
    * on dd01 otherwise vs 0.7 s steady-state (SCALE.md "r7 dd01/dd02/
    * sim01/sim07/sim09 regressions root cause").
    */
  private[graft] def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.range(100000L).selectExpr("id % 32 AS k", "id")
      .groupBy("k").count().collect()
    spark.range(10000L).selectExpr("id % 8 AS k", "id")
      .selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
      .filter("rn <= 3").collect()
    spark.range(10000L)
      .selectExpr("md5(regexp_replace(cast(id AS string), '0+', ' ')) AS f",
        "filter(split(cast(id AS string), '1'), x -> length(x) > 0) AS t")
      .selectExpr("count(distinct f)", "sum(size(t))").collect()
    // count() is metadata-only (reads no column chunks); hash every
    // column so the parquet readers, decompression, and string-heavy
    // codegen paths are warm — profiled: the alphabetically-first
    // query (dd01, full-text md5) absorbed ~2.5 s of cold column reads
    // under the count()-based prescan. bit_xor, NOT sum: under Spark 4
    // default ANSI, summing random 64-bit hashes overflows almost
    // surely, and through r5 that aborted every prescan job silently —
    // the recurring mid-bench "aborting job" ERROR and the cold-read
    // noise on dd01 both trace to this.
    (Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .map(t => () => Tables.load(spark, sfDir, t)) :+
      (() => Tables.events(spark, sfDir))).foreach { mk =>
      try mk().selectExpr("bit_xor(xxhash64(struct(*)))").collect()
      catch { case e: Throwable =>
        // Best-effort — a failure here is tolerable but must not be
        // invisible: an aborted warmup job's ERROR lines in the driver
        // log looked like a timed-query failure in r4/r5.
        System.err.println(s"[bench-warmup] prescan failed: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
  }
}
