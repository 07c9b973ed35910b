package graft
import org.apache.spark.sql.SparkSession

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
    // (dd02_jaccard_pairs rotated out in r15 to fund host_cal_par's
    // line width — its inverted-index pair join is the same physical
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
    // mx05_curation_pipeline rotated out in r16 to fund rep1_infl's
    // line width — mx09 composes the same curation chain at strictly
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

  /** Worst-case printed-line estimate: fixed frame (incl. the
    * memo_warn field, assumed empty — a non-empty tripwire is already
    * an adjudication case, not a baseline) + per-entry
    * name+quotes+colon+comma+8 digit chars. Keeps the list honest at
    * build time instead of discovering a truncated BENCH_r{N}.json.
    *
    * The fixed overhead is DERIVED from a worst-case-formatted frame
    * instead of a hand-counted constant (ADVICE r13: the old 255
    * assumed single-digit host_cal seconds — a ≥10 s calibration
    * reading on a pathologically slow host widens the real line past
    * the estimate). Pathological widths throughout: five-digit total,
    * double-digit cal readings, a rep_spread hi map FULL at its cap
    * with the longest headline names at three-digit ratios.
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
    // HEALTHY run coming back parsed:null. memo_warn can be non-empty
    // at rc=0 (it is a warning, not a failure), so the frame carries it
    // at its printed bound with the longest headline names; failed
    // non-empty implies rc=1 (bounded too via boundedNames, but a red
    // line is diagnostic, not a baseline, and is not certified here).
    // The sf path gets a 40-char allowance — the env var is
    // caller-controlled, not fixed to the driver's default.
    val longest = headline.maxBy(_.length)
    val worstHi = Seq.fill(RepSpreadHiCap)(longest -> 999.99)
    // 999 names, not MaxWarnNames+1 (ADVICE r14): memoWarn can span the
    // whole catalog, so the truncation marker the frame certifies must
    // be the 3-digit "+997 more", not the 1-digit "+1 more".
    val worstMemo = boundedNames(Seq.fill(999)(longest), MaxWarnNames)
    // host_cal_par at a pathological width: a 32×-oversubscribed host
    // can stretch the parallel kernel past 100 s, and threads is
    // caller-controlled (3 digits allowed).
    // band fields (VERDICT r17 #1/#2) at pathological width: the
    // longest verdict literal, a profile name at sanitizeProfileName's
    // 16-char cap, and a sign + 2-digit n_inflated (the count is
    // bounded by the headline size; −1 = unavailable)
    // tail_s at its r3q-saturated 8-char worst case (VERDICT r18 #2)
    // steal_pct at the r2 cap's 6-char worst case (r19; the true value
    // is a percentage ≤ 100, but the frame certifies the formatter's
    // cap, not the semantics)
    // cpus at its validated 3-digit bound and spark_par at the r3q
    // 8-char cap (r20, VERDICT r19 #4: the Spark-effective-parallelism
    // probe printed so the driver's core-scaling heuristic has signal)
    val frame = s"""{"metric":"total","value":99999.999,"unit":"sec","warmup":"v6-median3","cpus":999,"spark_par":9999.999,"host_cal":{"pre":99.999,"post":99.999},"host_cal_par":{"pre":999.999,"post":999.999,"threads":999},"rep_spread":${repSpreadJson(worstHi)},"rep1_infl":{"med":999.99,"max":999.99},"tail_s":9999.999,"steal_pct":999.99,"band_verdict":"mid-drive-transient","band_profile":"${"x" * 16}","n_inflated":-99,"n_failed":0,"failed":[],"memo_warn":$worstMemo,"queries":{},"sf":"${"x" * 40}"}"""
    // per-headline allowance: `"name":9999.999,` = name + 4 chars of
    // JSON punctuation + an 8-char value slot — TRUE by construction,
    // not assumption, because per-query readings print through the
    // width-capped r3q (review r16: they printed uncapped r3, so a
    // pathological 5-digit-seconds query would have made the real line
    // 1 char/query longer than this certified worst case)
    frame.length + headline.map(_.length + 12).sum
  }

  /** Bounded JSON name-list for the printed line: the first `bound`
    * names plus a "+N more" marker when truncated. memo_warn and
    * failed were unbounded through r13 — a mass tripwire firing (or a
    * mass failure) could push the one line the driver parses past its
    * buffer, truncating the artifact exactly when it matters most. The
    * true counts stay in-artifact (n_failed; the marker's N), and the
    * full lists go to stderr at the call sites.
    */
  private[graft] val MaxWarnNames = 2
  private[graft] val MaxFailedNames = 5
  private[graft] def boundedNames(names: Seq[String], bound: Int): String = {
    val shown = names.take(bound) ++
      (if (names.size > bound) Seq(s"+${names.size - bound} more") else Nil)
    shown.map("\"" + _ + "\"").mkString("[", ",", "]")
  }

  /** Per-headline rep-scatter statistic (VERDICT r13 #2): host_cal's
    * kernel is SINGLE-threaded, so it catches the CPU-frequency/steal
    * class of host slowness but not multi-core scheduler contention —
    * whose artifact signature is broad rep scatter across UNRELATED
    * queries (builder ledger, r13: synth read 7.56 s under a flat
    * 0.89 s cal while its same-HEAD siblings read 5.25-5.58). The
    * statistic is max(reps)/median(reps) per headline query, over ALL
    * fresh reps (a failed rep's duration is diagnostic scatter too);
    * the same lower-median convention as the reported seconds. Queries
    * whose median sits below 1 ms report 1.0 — a ratio over scheduler
    * jitter at that scale is noise, not contention signal.
    */
  private[graft] def repRatio(reps: Seq[Double]): Double = {
    if (reps.isEmpty) return 1.0
    val med = lowerMed(reps)
    if (med < 0.001) 1.0 else reps.max / med
  }

  /** The LOWER median ((size-1)/2 of the sorted values) used by every
    * summary statistic on the printed line — one shared definition so
    * the medians the band classifier reads are byte-identical to the
    * ones the rep_spread/rep1_infl fields print (review r18: each
    * call site computed its own copy).
    */
  private[graft] def lowerMed(rs: Seq[Double], default: Double = 1.0): Double =
    if (rs.isEmpty) default else { val s = rs.sorted; s((s.size - 1) / 2) }

  private[graft] val RepSpreadHiCap = 3
  private[graft] val RepSpreadHiThreshold = 1.5

  /** The printed `"rep_spread"` field: median and max of the per-query
    * ratios plus the top offenders at ≥ [[RepSpreadHiThreshold]],
    * bounded at [[RepSpreadHiCap]] entries (descending, ties broken by
    * name for a deterministic line) so the line budget holds even
    * under total contention. CALIBRATED reading (r14 quiet-host drive,
    * SCALE.md): a quiet drive reads med ≈ 1.2–1.4, NOT 1.0 — rep-1
    * pays per-query codegen/JIT that reps 2–3 reuse from the janino
    * cache, so every query carries a structural rep-1 premium, and
    * sub-second queries add scheduler jitter on top (the r14 receipt's
    * hi names were 0.2 s queries at ratio ~2.3 on a drive whose
    * multi-second queries all sat in band). The contention signature
    * is med ≳ 1.7 across the board WITH multi-second queries in hi —
    * scatter that codegen cannot explain — adjudicable from the
    * artifact alone, without target/bench_detail.json (which the
    * driver never ships).
    */
  private[graft] def repSpreadJson(ratios: Seq[(String, Double)]): String = {
    // printed ratios capped at 999.99 via the shared r2 (defined with
    // the other width caps next to r3c/r3s)
    val rs = ratios.map(_._2)
    val med = lowerMed(rs)
    val mx = if (rs.isEmpty) 1.0 else rs.max
    val hi = ratios.filter(_._2 >= RepSpreadHiThreshold)
      .sortBy { case (n, v) => (-v, n) }.take(RepSpreadHiCap)
      .map { case (n, v) => s""""$n":${r2(v)}""" }.mkString("{", ",", "}")
    s"""{"med":${r2(med)},"max":${r2(mx)},"hi":$hi}"""
  }

  /** The printed `"rep1_infl"` field (VERDICT r15 #1): median and max
    * of rep-1 over lower-median, restricted to the MULTI-SECOND
    * headline queries (lower-median ≥ [[Rep1InflFloorSec]]). Why it
    * exists: BENCH_r15 drive 5 read +7–16% over quiet drives while
    * host_cal, host_cal_par, AND rep_spread's median ALL read quiet —
    * a transient that arrived and left BETWEEN the endpoint kernels.
    * Its artifact signature was rep-1 spikes on the multi-second
    * queries (ml03 reps 12.4/7.8/6.8, synth 8.7/6.2/6.3), visible only
    * in target/bench_detail.json, which the driver never ships. This
    * field is that evidence compressed to two numbers on the one line
    * the driver parses.
    *
    * Restricting to multi-second queries is what separates the signal
    * from rep_spread's: EVERY query pays a structural rep-1
    * codegen/JIT premium (the r14 calibration: quiet med ≈ 1.2–1.4,
    * dominated by sub-second queries), but on a multi-second query
    * that premium is proportionally small — a rep-1 ≫ median there is
    * host load, not codegen. Reading: quiet drives should sit near the
    * band SCALE.md seeds from r15's drive data; med ≳ 1.5 with max ≳ 2
    * on multi-second queries means a mid-drive transient inflated the
    * total — scale the round-over-round comparison before blaming
    * code. The floor is FROZEN (same comparability contract as the
    * cal kernels' iteration counts).
    */
  private[graft] val Rep1InflFloorSec = 1.0
  private[graft] def rep1Ratio(reps: Seq[Double]): Option[Double] = {
    // needs a fresh rep-1 AND a median to compare against; single-shot
    // or empty rep arrays carry no rep-1-vs-steady-state signal
    if (reps.size < 2) return None
    val med = lowerMed(reps) // the one shared definition (ADVICE r18)
    // sub-floor queries are rep_spread's territory (codegen premium
    // dominates); only multi-second medians qualify
    if (med < Rep1InflFloorSec) None else Some(reps.head / med)
  }
  private[graft] def rep1InflJson(repsByQuery: Seq[Seq[Double]]): String = {
    // same shared 999.99 width cap (r2) as repSpreadJson — the
    // certified frame allows two 6-char values here
    val rs = repsByQuery.flatMap(rep1Ratio)
    val med = lowerMed(rs)
    val mx = if (rs.isEmpty) 1.0 else rs.max
    s"""{"med":${r2(med)},"max":${r2(mx)}}"""
  }

  /** Per-query steady-contention counter (VERDICT r17 #2): uniform
    * whole-drive inflation — every family up 1.4–2.6× with the
    * endpoint kernels quiet, the BENCH_r17-artifact class — is
    * invisible to scalar kernels by construction. Once a profile has
    * per-query quiet MEDIANS recorded in BANDS.json
    * (`headline_quiet_median_s`), the drive counts how many headline
    * medians run above [[NInflatedFactor]]× their quiet median and
    * prints it as `"n_inflated"` (−1 = no matched profile or no
    * medians recorded for it). Only queries whose quiet median clears
    * [[NInflatedFloorSec]] participate: below it, scheduler jitter
    * crosses 1.5× without meaning (the same reasoning as rep1_infl's
    * floor). Both constants are FROZEN — the comparability contract —
    * and the classifier's threshold (`n_inflated_contention_min`)
    * lives in BANDS.json with the other bands.
    */
  private[graft] val NInflatedFactor = 1.5
  private[graft] val NInflatedFloorSec = 0.3
  private[graft] def nInflatedCount(medians: Map[String, Double],
      readings: Seq[(String, Double)]): Int =
    readings.count { case (k, v) =>
      medians.get(k).exists(m => m >= NInflatedFloorSec && v > NInflatedFactor * m) }

  /** Printed profile names come from BANDS.json (external input to
    * the certified line): strip to the name charset and bound the
    * width the frame certifies.
    */
  private[graft] def sanitizeProfileName(s: String): String = {
    val cleaned = s.filter(c => c.isLetterOrDigit || c == '_' || c == '-').take(16)
    if (cleaned.isEmpty) "unknown" else cleaned
  }

  /** Queries served from a session memo after their first execution:
    * their memo-hit cost is ALSO recorded (one extra timed run without
    * clearing) so fresh-vs-steady adjudication is answerable from the
    * bench artifact alone (VERDICT r10 #4), not from a manual replay.
    */
  private[graft] val memoizedQueries =
    Set("imdb_pipeline_demo", "imdb_pipeline_synth", "ml03_gbt_eval")

  /** Memo-drift tripwire (VERDICT r11 #1): the median-of-3 regime
    * assumes `isolate(dropMemos=true)` makes every rep pay full cost.
    * If a future query memoizes through a mechanism
    * `Catalog.clearMemos` doesn't cover and isn't listed in
    * [[memoizedQueries]], reps 2+ would time a cache hit and the
    * median would be fiction — silently, with rc=0. This flags exactly
    * that signature: a fresh-looking rep-1 followed by a >10×
    * collapse. The 0.5 s floor keeps sub-second jitter (JIT, page
    * cache) from tripping it; a real memo hit is a ~millisecond map
    * lookup, far below any real query's tenth-speed. Carried into the
    * printed JSON as `"memo_warn"` — a warning field, not a failure.
    */
  private[graft] def memoDrift(name: String, reps: Seq[Double],
      declared: Set[String] = memoizedQueries): Boolean =
    reps.size > 1 && !declared.contains(name) &&
      reps.head >= 0.5 && reps.head > 10.0 * reps.tail.min

  /** Memo producer→consumer pairs in the catalog (ADVICE r11): ml04
    * contractually reuses the GBT model ml03 leaves memoized. Headline
    * reps clear ALL memos, so if any headline name sorted strictly
    * between a producer and its consumer, the consumer would silently
    * flip from memo-hit to full-retrain timing. Asserted at startup.
    */
  private val memoPairs = Seq(("ml03_gbt_eval", "ml04_importances"))

  private def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
  // Width-capped variant for the parallel-cal fields (review r15): the
  // certified frame allows 999.999, so an absurd reading on a
  // pathologically oversubscribed host must saturate there rather than
  // erode the line-budget arithmetic (the repSpreadJson precedent).
  private[graft] def r3c(v: Double): Double = math.min(r3(v), 999.999)
  // The single-kernel host_cal slots are certified at 99.999 in the
  // frame (ADVICE r15: they printed through uncapped r3 while only the
  // parallel slots were capped — a pathological ≥100 s single-kernel
  // reading would erode the certified line-budget arithmetic).
  private[graft] def r3s(v: Double): Double = math.min(r3(v), 99.999)
  // The shared 2-decimal ratio width cap for rep_spread and rep1_infl
  // (review r16: each defined a local copy — a retune of one would
  // silently print the two fields at different certified widths).
  // Ratios beyond 999.99 carry no adjudication signal past
  // "pathological", and an uncapped one (a 10 s rep over a
  // just-above-floor median prints 7+ chars) would erode the
  // line-budget arithmetic the guard certifies.
  private[graft] def r2(v: Double): Double = math.min(math.round(v * 100.0) / 100.0, 999.99)
  // Per-headline-query printed seconds (review r16): the line-budget
  // allowance certifies an 8-char value slot per query, so the printed
  // reading saturates at 9999.999 — a single query holding a ~3-minute
  // bench for 2.8+ hours carries no signal past "pathological", and an
  // uncapped 5-digit reading would make the real line 1 char/query
  // longer than the certified worst case. bench_detail's per-query
  // "seconds" stays uncapped r3 — the drill-down keeps the true value.
  private[graft] def r3q(v: Double): Double = math.min(r3(v), 9999.999)

  /** Host-calibration kernel (VERDICT r12 #1): a fixed, pure-JVM,
    * single-threaded splitmix64 loop — no Spark, no allocation, no
    * I/O — timed once before the warmup and once after the last
    * query, carried in the printed JSON as `"host_cal":{pre,post}`.
    * Purpose: BENCH_r12 read +22% on untouched queries and the
    * adjudication took SCALE.md archaeology plus four re-drives; a
    * proportionally-slow calibration reading makes "the host was
    * slow" answerable from the artifact alone. The iteration count is
    * FROZEN — changing it breaks round-over-round comparability of
    * the field (same contract as the warmup regime tag). A short
    * untimed pass first so the timed pass measures steady-state JIT,
    * not compilation. Returns (seconds, finalHash); the hash is the
    * dead-code-elimination sink AND a determinism pin (BenchGuardSpec
    * fixes its value, so a silent change to the loop body or count is
    * loud).
    */
  private[graft] val CalIters = 200000000L
  private def calRun(n: Long): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < n) {
      h += 0x9E3779B97F4A7C15L
      var z = h
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      h ^= z ^ (z >>> 31)
      i += 1
    }
    h
  }
  private[graft] def hostCal(iters: Long = CalIters): (Double, Long) = {
    calRun(iters / 16) // JIT warm pass, untimed
    val t0 = System.nanoTime()
    val h = calRun(iters)
    ((System.nanoTime() - t0) / 1e9, h)
  }

  /** PARALLEL host-calibration kernel (VERDICT r14 #2): the SAME frozen
    * splitmix64 loop run on `threads` JVM threads concurrently (one
    * full CalIters loop EACH), wall-clock timed around the whole pack.
    * Why it exists: host_cal's single-threaded kernel catches the
    * CPU-frequency/steal class of host slowness but not multi-core
    * scheduler contention — load that only bites at local[32] and is
    * STEADY across reps, so neither host_cal nor rep_spread sees it
    * (BENCH_r14 sat +8–10% over same-HEAD quiet drives with both
    * fields quiet). Reading: on a quiet host with ≥ threads cores the
    * wall-clock ≈ the single-threaded host_cal reading (each thread
    * runs the same loop, perfectly parallel, no shared state); under
    * steady background load it stretches by the oversubscription
    * factor — so host_cal in band + host_cal_par elevated IS the
    * steady-contention signature, adjudicable from the artifact alone.
    * threads = the bench's SPARK_GRAFT_CPUS so the kernel contends at
    * exactly the parallelism the queries run at. Per-thread iteration
    * count is CalIters — FROZEN, same comparability contract as
    * host_cal. Returned hash = threads × the single kernel's final
    * state (wrapping add over identical per-thread results — order-
    * independent, pinned in BenchGuardSpec).
    */
  private[graft] def hostCalPar(threads: Int, iters: Long = CalIters): (Double, Long) = {
    require(threads >= 1, s"threads must be >= 1, got $threads")
    calRun(iters / 16) // JIT warm pass, untimed (shared compiled method)
    runPack(threads, () => calRun(iters))
  }

  /** Start/join/accumulate for [[hostCalPar]]'s thread pack, separated
    * so the dead-worker path is unit-testable without making the frozen
    * kernel injectable. A dead worker must be LOUD (ADVICE r15):
    * join() returns normally after an uncaught throw (OOM,
    * StackOverflow), so without the completion check a broken pack
    * would report a SHORTER wall-clock and a wrong hash — a failed
    * calibration silently reading as a fast quiet host — and the hash
    * pin only runs in tests, never at the bench call site.
    */
  private[graft] def runPack(threads: Int, body: () => Long): (Double, Long) = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val completed = new java.util.concurrent.atomic.AtomicInteger(0)
    val firstErr = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val pack = (0 until threads).map(_ => new Thread(() => {
      acc.getAndAdd(body()); completed.incrementAndGet(); ()
    }))
    pack.foreach(_.setUncaughtExceptionHandler((_, e) => {
      firstErr.compareAndSet(null, e); ()
    }))
    val t0 = System.nanoTime()
    pack.foreach(_.start())
    pack.foreach(_.join())
    if (completed.get() != threads)
      throw new IllegalStateException(
        s"host_cal_par: ${threads - completed.get()} of $threads kernel threads died" +
          Option(firstErr.get()).map(e => s" (first: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(120)})").getOrElse("") +
          " — calibration reading unusable")
    ((System.nanoTime() - t0) / 1e9, acc.get())
  }

  /** Whole-drive hypervisor-steal percentage (r19). The round's
    * external-load attribution rested on MANUALLY sampled /proc/stat
    * steal deltas — on this VM host, steal ≤0.1% on every
    * steal-sampled quiet window, while every steal-sampled inflated
    * drive showed 60 s windows of 0.57–3.36%, with loadavg and CPU
    * PSI clean throughout (SCALE.md round-19 drives 2/3/5/6/10).
    * This folds that probe into the
    * artifact: the aggregate "cpu " line is snapshotted at drive start
    * and end and the line prints 100·Δsteal/Δtotal as "steal_pct".
    * Attribution-only by design: Bands.classify does NOT read it — the
    * classifier adjudicates from workload evidence (kernels, ratios,
    * rep1, tail, total) and steal names the external CAUSE once a
    * non-quiet verdict prints, exactly the role the manual probes
    * played. Prints null where /proc/stat is unreadable (non-Linux
    * host — the field is a receipt, not a requirement) or the delta is
    * degenerate (counter wrap, zero elapsed). Coarser than the manual
    * 60 s windows (a whole-drive average dilutes a short burst ~3×ish
    * on a ~6-min drive), but one number that separates ≤0.1% from
    * ≥0.5% is what every adjudication this round actually consumed;
    * bench_detail-grade per-window timelines stay a manual drill. */
  private[graft] def stealPct(before: String, after: String): Option[Double] = {
    // Fields: user nice system idle iowait irq softirq steal [guest…].
    // Sum the first 8 (guest time is already folded into user on
    // Linux; the manual probes' all-field sums agree because guest=0
    // on this host). steal is field index 7.
    def parse(line: String): Option[IndexedSeq[Long]] = {
      val t = line.trim.split("\\s+").toIndexedSeq
      if (t.length >= 9 && t.head == "cpu" &&
          t.tail.forall(f => f.nonEmpty && f.forall(_.isDigit)))
        scala.util.Try(t.tail.map(_.toLong)).toOption
      else None
    }
    for {
      a <- parse(before)
      b <- parse(after)
      dTot = (0 until 8).map(i => b(i) - a(i)).sum
      dSteal = b(7) - a(7)
      if dTot > 0 && dSteal >= 0 && dSteal <= dTot
    } yield 100.0 * dSteal / dTot
  }

  /** First line of /proc/stat (the aggregate cpu counters), None on
    * any host where it is absent or unreadable. */
  private[graft] def readProcStat(): Option[String] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next() finally src.close()
    }.toOption.filter(_.startsWith("cpu "))

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
    memoPairs.foreach { case (producer, consumer) =>
      val between = headline.filter(n => n > producer && n < consumer)
      require(between.isEmpty,
        s"headline ${between.mkString(",")} sorts between memo producer $producer and " +
          s"consumer $consumer — its reps would clear the memo and $consumer would " +
          "silently time a full retrain instead of the contractual memo hit")
      // The strict between-filter misses the endpoints: promoting the
      // CONSUMER itself to headline is the same silent flip (its own
      // reps call isolate(dropMemos=true) before every timing), and
      // the producer is only safe because its post-reps memo-hit run
      // leaves the memo repopulated — assert both invariants rather
      // than rely on the reader remembering them.
      require(!headline.contains(consumer),
        s"memo consumer $consumer must not be headline: its own reps would drop " +
          s"the $producer memo and time full retrains")
      require(!headline.contains(producer) || memoizedQueries.contains(producer),
        s"headline memo producer $producer must be in memoizedQueries so its " +
          "post-reps memo-hit run leaves the memo populated for " + consumer)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // One validated parse of the caller-controlled env var (review
    // r15): a bare toInt at each use site would die in an unexplained
    // NumberFormatException before any descriptive require fires, and
    // the ≤ 999 bound is what lineBudgetOk's frame certifies for the
    // printed "threads" field.
    val nCpus = scala.util.Try(cpus.trim.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be an integer, got '$cpus'"))
    require(nCpus >= 1 && nCpus <= 999,
      s"SPARK_GRAFT_CPUS must be in [1, 999] (the printed line's certified width), got $nCpus")
    // Pre-drive host calibration: runs BEFORE the session exists so it
    // reads raw host CPU, not JVM-under-Spark contention. The parallel
    // kernel runs second (its own JIT warm is shared with the single
    // kernel's, so ordering costs nothing).
    // steal_pct's start snapshot sits OUTSIDE the kernels so the
    // printed window covers everything else the line reports.
    val stealBefore = readProcStat()
    val calPre = hostCal()._1
    val calParPre = hostCalPar(nCpus)._1
    val spark = SparkSession.builder()
      .master(s"local[$nCpus]")
      .config("spark.sql.shuffle.partitions", nCpus.toString)
      // same timezone contract as Verify: the events loader interprets
      // NTZ wall-clocks in the session zone, so a non-UTC host would
      // shift session/window boundaries and drift row counts between
      // rounds run on different machines
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec single-partition WARN suppressed for the same reason
    // as Verify: every unpartitioned window left in the catalog is
    // bound-pinned by BoundedWindowSpec, and the flood was most of the
    // stdout tail the driver captures around the printed line.
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    // Warm up JIT/codegen, shuffle, window, hash/regex expression, and
    // full-scan paths so the alphabetically-first timed query (dd01)
    // doesn't absorb session start-up — profiled at ~3 s of cold scan +
    // codegen otherwise (ProfileDedup), vs 0.7 s steady-state. Queries
    // run in sorted name order for round-over-round comparability.
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
        // Untimed best-effort warmup — a failure here is tolerable but
        // must not be invisible: an aborted warmup job's ERROR lines in
        // the driver log looked like a timed-query failure in r4/r5.
        System.err.println(s"[bench-warmup] prescan failed: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    // Sacrificial untimed run of the alphabetically-first timed query:
    // the xor-prescan warms scans/codegen generically, but across r7-r9
    // dd01 still reported 2.8/18.0/7.4 s against a ProfileQ isolated
    // steady-state of ~2 s — whatever JIT/compilation residue survives
    // the prescan lands entirely on whichever query is timed first.
    // Running that exact query once untimed (result discarded, cache
    // dropped after) moves the residue out of the measurement without
    // touching any query code.
    SparkEntry.queries.toSeq.sortBy(_._1).headOption.foreach { case (n, fn) =>
      try { fn(spark, sfDir).count(); () }
      catch { case e: Throwable =>
        System.err.println(s"[bench-warmup] sacrificial $n failed: ${e.getClass.getSimpleName}")
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
    // a 10.3 s judge replay). Between reps the session memos (IMDb
    // pipeline runs, the shared GBT model) are dropped so every rep
    // pays the real cost — without that, reps 2+ of the memoized trio
    // would time a TrieMap hit and the median would be fiction.
    final case class Outcome(seconds: Double, ok: Boolean, error: Option[String],
        reps: Seq[Double], memoizedSec: Option[Double])
    val HeadlineReps = 3
    // Red-test drill for the memo-drift tripwire: naming a MEMOIZED
    // headline query here makes its reps 2+ SKIP the memo clear AND
    // removes it from the declared set for the sweep — together that
    // simulates exactly the failure the tripwire exists to catch (an
    // UNLISTED query memoizing through a mechanism Catalog.clearMemos
    // doesn't cover). Drill-only — never set in a real round; verified
    // locally when the tripwire landed (r12):
    // SPARK_GRAFT_MEMO_DRILL=imdb_pipeline_demo turns memo_warn
    // non-empty while a normal drive keeps it [].
    val memoDrill = sys.env.get("SPARK_GRAFT_MEMO_DRILL")
    val declaredMemos = memoizedQueries -- memoDrill
    def isolate(dropMemos: Boolean): Unit = {
      // Untimed isolation between timings: drop SQL cache and nudge the
      // ContextCleaner (localCheckpoint/persist blocks are freed on GC)
      // so one run's leftover blocks don't tax the next one's timing.
      // Profiled: heavy queries ran 3-7x slower inside the sequential
      // bench than in isolation before this (r2: q21 6.8s vs 0.4s).
      try {
        if (dropMemos) queries.Catalog.clearMemos()
        spark.catalog.clearCache(); System.gc()
      } catch { case _: Throwable => () }
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): (Double, Option[String]) = {
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).count(); None }
          catch { case t: Throwable =>
            Some(s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(200)}")
          }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      val outcome = if (headline.contains(name)) {
        val reps = (0 until HeadlineReps).map { i =>
          isolate(dropMemos = !(memoDrill.contains(name) && i > 0)); once()
        }
        val times = reps.map(_._1)
        val errs = reps.flatMap(_._2)
        // Median over SUCCESSFUL reps only (ADVICE r11): a failing rep
        // fast-fails, and blending its duration into the median would
        // mix regimes. The round is already red via ok=false + exit 1;
        // if every rep failed, the all-rep median stands (the number is
        // diagnostic only at that point, and the reps array has it all).
        val good = reps.collect { case (t, None) => t }
        val medianOf = if (good.nonEmpty) good else times
        // One extra run WITHOUT clearing: the preceding rep left the
        // memo populated, so this times the steady (memo-hit) regime.
        val memoSec =
          if (memoizedQueries.contains(name) && errs.isEmpty) Some(once()._1) else None
        // LOWER median ((size-1)/2), not upper: identical for the odd
        // full-rep case (3 reps → index 1), but with exactly one failed
        // rep the two survivors would otherwise report their MAX —
        // systematically biasing the band comparison toward the worst
        // rep precisely when reps are scarcest.
        Outcome(medianOf.sorted.apply((medianOf.size - 1) / 2), errs.isEmpty, errs.headOption,
          times, memoSec)
      } else {
        // Single-shot for the long tail: these only feed the detail
        // file, and memos are deliberately NOT dropped — ml04 reusing
        // ml03's model is the catalog's documented sharing contract.
        isolate(dropMemos = false)
        val (dt, err) = once()
        Outcome(dt, err.isEmpty, err, Seq(dt), None)
      }
      name -> outcome
    }
    val failed = results.collect { case (k, o) if !o.ok => k }
    // Tripwire sweep (see memoDrift): only successful headline entries
    // can produce a trustworthy rep pattern worth flagging.
    val memoWarn = results.collect { case (k, o) if o.ok && memoDrift(k, o.reps, declaredMemos) => k }
    val total = r3(results.map(_._2.seconds).sum)
    val hs = results.filter { case (k, _) => headline.contains(k) }
    val qs = hs.map { case (k, o) => s"\"" + k + "\":" + r3q(o.seconds) }
      .mkString("{", ",", "}")
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => " "
                  case c if c < ' ' => " "; case c => c.toString }
    val detail = results.map { case (k, o) =>
      val err = o.error.map(e => s""","error":"${esc(e)}"""").getOrElse("")
      // reps = every fresh timing (median is what "seconds" reports);
      // memoized = the memo-hit steady-state where the query has one.
      val reps =
        if (o.reps.size > 1) s""","reps":[${o.reps.map(r3).mkString(",")}]""" else ""
      val memo = o.memoizedSec.map(m => s""","memoized":${r3(m)}""").getOrElse("")
      s"\"" + k + s"\":{\"seconds\":${r3(o.seconds)},\"ok\":${o.ok}$reps$memo$err}"
    }.mkString("{", ",", "}")
    try {
      val p = java.nio.file.Paths.get("target/bench_detail.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, detail.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // "warmup" tags the timing regime so round-over-round totals aren't
    // compared across different warmup regimes (ADVICE r2). v4 =
    // xor-prescan: the v3 sum() prescan ANSI-overflowed and silently
    // warmed nothing in r3-r5. v5 adds the sacrificial first-query run
    // (r10): dd01's timing was absorbing post-prescan JIT residue.
    // v6 (r11) times headline queries median-of-3 with memos dropped
    // between reps — a host-load spike now costs one rep, not the
    // round's reading.
    val failedJson = boundedNames(failed, MaxFailedNames)
    val memoWarnJson = boundedNames(memoWarn, MaxWarnNames)
    if (failed.size > MaxFailedNames)
      System.err.println(s"[bench] failed (full list): ${failed.mkString(",")}")
    if (memoWarn.size > MaxWarnNames)
      System.err.println(s"[bench] memo_warn (full list): ${memoWarn.mkString(",")}")
    // Post-drive calibration: same kernel after the last query (Spark
    // still up but idle). Reading the pair: both near the machine's
    // r13-established band → host fine, any query drift is code; both
    // proportionally high → slow host day, scale the totals mentally;
    // pre fine / post high → load arrived mid-drive (reps tables in
    // bench_detail.json say where).
    val calPost = hostCal()._1
    val calParPost = hostCalPar(nCpus)._1
    // Whole-drive steal average (scaladoc on stealPct): the external-
    // load receipt the round's manual /proc/stat probes supplied, now
    // carried by the artifact itself. null = no readable counters.
    val stealJson = (for {
      a <- stealBefore
      b <- readProcStat()
      p <- stealPct(a, b)
    } yield r2(p).toString).getOrElse("null")
    val hostCalJson = s"""{"pre":${r3s(calPre)},"post":${r3s(calPost)}}"""
    // Reading the parallel pair (VERDICT r14 #2): host_cal in band AND
    // host_cal_par ≈ host_cal → quiet; host_cal in band but
    // host_cal_par elevated → steady multi-core contention, the class
    // invisible to both host_cal and rep_spread — scale the totals.
    val hostCalParJson =
      s"""{"pre":${r3c(calParPre)},"post":${r3c(calParPost)},"threads":$nCpus}"""
    val repRatios = hs.map { case (k, o) => k -> repRatio(o.reps) }
    val repSpread = repSpreadJson(repRatios)
    // rep1_infl reads the same fresh-rep arrays rep_spread does, but
    // only the multi-second queries' rep-1 — the mid-drive-transient
    // signature both cal kernels and rep_spread's median miss
    val rep1Infl = rep1InflJson(hs.map(_._2.reps))
    // tail_s (VERDICT r18 #2): total minus the headline-35 sum — the
    // single-shot tail every other calibration field is blind to.
    // n_inflated reads headline MEDIANS only, so load that lands
    // between/after the headline reps prints n_inflated=0 and was
    // caught only by the unexplained-total fallback (r18 drives 8–10,
    // r19 drives 1–2: headline sums quiet-era while the tail floored
    // ~12 s high). Printing the tail itself lets the classifier name
    // the class from its own recorded quiet band (BANDS.json
    // tail_quiet_s). Width-capped like the per-query readings — the
    // certified frame allows an 8-char slot.
    val tailS = r3q(math.max(0.0, total - hs.map(_._2.seconds).sum))
    // Self-adjudication (VERDICT r17 #1): run the drive's own
    // calibration evidence through the BANDS.json read-order rules so
    // the artifact carries its verdict instead of requiring a human
    // to walk the band file. Derived strictly AFTER timing completes —
    // no timing-regime change. A missing/unreadable BANDS.json prints
    // "no-bands" and the drive remains a valid (unadjudicated)
    // measurement.
    val hostCalPair = Seq(Option(calPre), Option(calPost))
    // Missing vs corrupt band file are DIFFERENT verdicts (ADVICE
    // r18): a bad edit to the checked-in BANDS.json must be visible on
    // the drive itself ("bands-unreadable" + one stderr line), not
    // silently indistinguishable from bands-not-shipped.
    val bandsResult = Bands.loadResult()
    val bandsOpt = bandsResult match {
      case Bands.Loaded(b) => Some(b)
      case _ => None
    }
    val matchedProf = bandsOpt.flatMap(b => Bands.matchProfile(b, hostCalPair)
      .orElse(Bands.partialMatchAbove(b, hostCalPair)))
    val nInflated = matchedProf.filter(_.headlineQuietMedians.nonEmpty)
      .map(p => nInflatedCount(p.headlineQuietMedians,
        hs.map { case (k, o) => k -> o.seconds }))
    val (bandVerdict, bandProfile) = bandsResult match {
      case Bands.Loaded(b) => Bands.classify(b, Bands.Reading(
        hostCal = hostCalPair,
        parKernel = Seq(Option(calParPre), Option(calParPost)),
        parRatio = Seq(None, None),
        repSpreadMed = Some(lowerMed(repRatios.map(_._2))),
        rep1Med = Some(lowerMed(hs.map(_._2.reps).flatMap(rep1Ratio))),
        total = total, catalog = results.size, nInflated = nInflated,
        tailS = Some(tailS)))
      case Bands.Missing => ("no-bands", "unknown")
      case Bands.Unreadable(detail) =>
        System.err.println(s"[bench] BANDS.json present but unreadable — live " +
          s"adjudication degraded; fix the band file or re-run BenchGuardSpec ($detail)")
        ("bands-unreadable", "unknown")
    }
    val bandJson = s""""band_verdict":"$bandVerdict","band_profile":"${sanitizeProfileName(bandProfile)}","n_inflated":${nInflated.getOrElse(-1)}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","warmup":"v6-median3","cpus":$nCpus,"spark_par":${r3q(sparkParSec)},"host_cal":$hostCalJson,"host_cal_par":$hostCalParJson,"rep_spread":$repSpread,"rep1_infl":$rep1Infl,"tail_s":$tailS,"steal_pct":$stealJson,$bandJson,"n_failed":${failed.size},"failed":$failedJson,"memo_warn":$memoWarnJson,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
    // A bench with any failed query is not a measurement — make the
    // process exit status itself red so no downstream consumer can
    // mistake a contaminated run for a baseline.
    if (failed.nonEmpty) sys.exit(1)
  }
}
