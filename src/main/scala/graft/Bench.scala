package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Previous committed round's per-query times, parsed from the
    * bench_full.json the LAST round left in the repo (the driver runs
    * from the repo root, and the file is only overwritten at the END of
    * this run). Tolerant regex parse of the `"queries":{...}` object —
    * absent/corrupt file degrades to an empty map (no re-measures).
    */
  def parsePrevQueries(json: String): Map[String, Double] = {
    // whitespace-tolerant opener: hand-rolled artifacts and pretty-printed
    // trend seeds write `"queries": {` — the exact-string match silently
    // ignored a seeded trend file in the r16 debut run
    val opener = "\"queries\"\\s*:\\s*\\{".r
    val m0 = opener.findFirstMatchIn(json).getOrElse(return Map.empty)
    val body = json.substring(m0.end)
    val end = body.indexOf('}')
    if (end < 0) return Map.empty
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*([-0-9.Ee]+)".r.findAllMatchIn(body.take(end))
      .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
      .toMap
  }

  /** RELATIVE elevation gate (r16): an entry is elevated when it scored
    * more than 2× its reference value AND more than 0.2 s above it. The
    * r15 machinery carried a ≥1 s absolute floor on every detection path
    * and the floor sat ABOVE the only genuinely elevated entries in its
    * debut artifact — five untouched sub-second text-cleaning queries at
    * 5.5–8.4× (t_fineweb 0.103 → 0.867 s) went unmarked and unclassified.
    * The 0.2 s absolute delta keeps scheduling jitter (2× of 60 ms) out
    * without blinding the gate to sub-second regressions; zero/absent
    * references never trigger (no division storm, new queries have no
    * trend to violate).
    */
  def elevated(scored: Double, ref: Option[Double]): Boolean =
    ref.exists(p => p > 0 && scored > 2.0 * p && scored - p > 0.2)

  /** Stall-window detector (multi-tenant host): an elevated query earns
    * ONE out-of-order re-measure at the END of the run — a real
    * regression is slow every time, a host-stall window is contiguous in
    * run order and has usually passed by then. Pure alias of [[elevated]]
    * since r16 (the ≥1 s floor is gone; see there).
    */
  def needsRemeasure(scored: Double, prev: Option[Double]): Boolean =
    elevated(scored, prev)

  /** Warmup-shape detector: a query whose in-run samples are STRICTLY
    * decreasing with first/last ≥ 1.5× and ≥ 0.2 s apart is still riding
    * JIT / code-cache warmup when its scored sample lands (r13: p8_model
    * 3.52 → 2.16 → 1.83, scored 1.83 vs a 1.37 s trend — under the 2×
    * stall trigger, so it rode through). One extra end-of-run sample
    * captures the steady state; min scores it (monotone-decreasing means
    * LATER = truer, the opposite of the stall case's symmetric gate).
    * r16: the ≥1 s scored floor became the 0.2 s first/last delta — the
    * same relative-plus-small-delta shape as [[elevated]].
    */
  def warmupShaped(scored: Double, samples: List[Double]): Boolean =
    samples.length >= 2 &&
      samples.zip(samples.tail).forall { case (a, b) => a > b } &&
      samples.last > 0 && samples.head / samples.last >= 1.5 &&
      samples.head - samples.last > 0.2

  /** Per-query best-known committed scores — the gate's long-memory
    * reference. Comparing only against the PREVIOUS round's artifact has
    * a ratchet hole: once an environment-inflated number is committed
    * (the r15 driver run carried the t_* cleaning cluster at 0.52–0.87 s
    * where the same-HEAD builder run had 0.087–0.097 s), the next round's
    * prev-only gate sees "no elevation" whether the inflation persists or
    * not. The trend file (`bench_trend.json`) carries a bounded per-query
    * HISTORY (last [[TrendHistoryWindow]] run scores) whose min is
    * written as the `{"queries":{…}}` reference — same shape as the
    * artifact so one parser serves both. Bounded, not a permanent
    * ratchet: one anomalously fast sample (a cold run that skipped work,
    * an unusually idle host) would otherwise become the reference FOREVER
    * and flag every normal run elevated — with the window it ages out
    * after [[TrendHistoryWindow]] runs, while a reproducible speedup
    * keeps re-entering the window and persists.
    */
  val TrendHistoryWindow = 8

  /** Append this run's scores to the bounded per-query history (oldest
    * entries fall out past the window); queries absent from the run keep
    * their history unchanged (no aging without evidence).
    */
  def mergeHistory(old: Map[String, List[Double]],
                   run: Map[String, Double]): Map[String, List[Double]] =
    (old.keySet ++ run.keySet).map { k =>
      k -> (old.getOrElse(k, Nil) ++ run.get(k).toList)
        .takeRight(TrendHistoryWindow)
    }.toMap

  /** The `"history":{"q":[…],…}` object of a trend file — absent (a
    * pre-history trend or a hand-seeded file) degrades to empty, and the
    * caller seeds each query's window from the legacy `queries` min so
    * an accumulated best-known value keeps gating until it ages out.
    *
    * WRITER-FORMAT DEPENDENCY (r17 advice, documented): this first-'}'
    * parse is sound only because the values inside `history` are flat
    * ARRAYS (no nested objects) — which the writer below guarantees. A
    * hand-seeded trend file that nests an object inside `history` would
    * silently truncate the parse to its prefix (degrading per key to the
    * legacy queries-min seed, so the gate still has a reference). Keep
    * the writer emitting flat arrays, or anchor this parse on balanced
    * braces first.
    */
  def parseHistory(json: String): Map[String, List[Double]] = {
    val opener = "\"history\"\\s*:\\s*\\{".r
    val m0 = opener.findFirstMatchIn(json).getOrElse(return Map.empty)
    val body = json.substring(m0.end)
    val end = body.indexOf('}')
    if (end < 0) return Map.empty
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\[([^\\]]*)\\]".r
      .findAllMatchIn(body.take(end))
      .flatMap { m =>
        scala.util.Try(m.group(1) -> m.group(2).split(",")
          .filter(_.trim.nonEmpty).map(_.trim.toDouble).toList).toOption
      }.filter(_._2.nonEmpty).toMap
  }

  /** The `"best":{…}` all-time-best object of a trend file (ADVICE r17):
    * the bounded window's flip side is that a PERSISTENT slowdown becomes
    * its own baseline once the fast samples age out — so the trend file
    * also carries a never-decaying per-query minimum. It does NOT gate
    * (one anomalously fast sample would flag every later healthy run
    * forever — exactly why the window exists); it feeds a once-per-run
    * ADVISORY stderr diff of entries >2× their all-time best that the
    * window gate did not flag.
    */
  def parseBest(json: String): Map[String, Double] = {
    val opener = "\"best\"\\s*:\\s*\\{".r
    val m0 = opener.findFirstMatchIn(json).getOrElse(return Map.empty)
    val body = json.substring(m0.end)
    val end = body.indexOf('}')
    if (end < 0) return Map.empty
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*([-0-9.Ee]+)".r.findAllMatchIn(body.take(end))
      .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
      .toMap
  }

  /** Fold this run's (successful) scores into the all-time-best map —
    * min per key, keys union, never aged.
    */
  def mergeBest(old: Map[String, Double],
                run: Map[String, Double]): Map[String, Double] =
    (old.keySet ++ run.keySet).map { k =>
      k -> (old.get(k).toList ++ run.get(k).toList).min
    }.toMap

  /** Advisory-only drift detection: scored > 2× the all-time best AND
    * > 0.2 s above it (the [[elevated]] thresholds) — reported when the
    * window gate stayed quiet.
    */
  def driftedFromBest(scored: Double, best: Option[Double]): Boolean =
    best.exists(b => b > 0 && scored > 2.0 * b && scored - b > 0.2)

  /** The round-over-round watch list, parsed from the PREVIOUS committed
    * artifact's `stall_class` object instead of hardcoded names (r15
    * hardcoded two already-resolved entries while the actually-elevated
    * ones went unmarked): every entry that finished elevated last round
    * gets a calibration marker on EVERY sample this round, so its
    * resolution or persistence is classifiable from the artifact alone.
    */
  def parseWatchList(json: String): Set[String] = {
    // whitespace-tolerant like parsePrevQueries — same failure mode
    val opener = "\"stall_class\"\\s*:\\s*\\{".r
    val m0 = opener.findFirstMatchIn(json).getOrElse(return Set.empty)
    val body = json.substring(m0.end)
    val end = body.indexOf('}')
    if (end < 0) return Set.empty
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*\"".r.findAllMatchIn(body.take(end))
      .map(_.group(1)).toSet
  }

  /** The `"sf"` marker of a bench/trend JSON line, if any — trend scores
    * are only comparable at the SAME scale factor, so a trend file
    * stamped with a different sf is ignored rather than min-merged (one
    * sf0.001 smoke run would otherwise write 10–100× smaller references
    * and flag every query elevated at sf0.1 forever).
    */
  def parseSf(json: String): Option[String] =
    "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1))

  // --- host telemetry (mechanical stall-vs-regression attribution) ---
  // Three consecutive rounds re-litigated multi-tenant host windows
  // forensically (r12 stall episode, r13 d_sentence_dedup, r14's
  // 88.5-vs-68.9 s driver/builder split). A fixed CPU-bound calibration
  // workload plus /proc/loadavg markers adjacent to every >=1 s sample
  // make the attribution mechanical: the calibration runs NO engine code,
  // so its wall inflation is host contention by construction.

  @volatile private var calSink: Long = 0L
  /** Deterministic single-thread long-mix loop — the calibration
    * workload. The result lands in a volatile sink so the JIT cannot
    * elide the loop; the work is pure register arithmetic (no alloc, no
    * memory traffic), so wall inflation on it is CPU-steal / run-queue
    * pressure, never engine or GC behavior.
    */
  def calibrationWork(iters: Long): Unit = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) { h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= (h >>> 29); i += 1 }
    calSink = h
  }

  /** First field of a /proc/loadavg line ("0.52 0.60 0.70 1/234 987" →
    * 0.52); corrupt content degrades to 0.0 — telemetry must never fail
    * the bench.
    */
  def parseLoadavg(content: String): Double =
    content.trim.split("\\s+").headOption
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(0.0)

  /** Inflation factor of one calibration wall vs the quiet-host baseline
    * (1.0 = quiet; 2.0 = the host delivered half the CPU it did at
    * baseline). Degenerate baselines degrade to 1.0, not a division blowup.
    */
  def inflation(wall: Double, base: Double): Double =
    if (base > 0 && wall > 0) wall / base else 1.0

  /** Whole-run host-inflation index: the MEDIAN over every calibration
    * taken during the run (median, not mean — one stall window among many
    * quiet markers should read as "run mostly quiet", while a loaded host
    * lifts every marker and the median with it).
    */
  def runInflation(cals: Seq[Double]): Double =
    if (cals.isEmpty) 1.0 else { val s = cals.sorted; s(s.length / 2) }

  /** Index (first occurrence) of the sample the final score was copied
    * from — [[scoreSamples]] and both re-measure adjustments always copy
    * one of the recorded samples, so indexOf finds it exactly; -1 only if
    * a caller passes a score that is not from `samples`.
    */
  def scoredSampleIndex(score: Double, samples: List[Double]): Int =
    samples.indexOf(score)

  /** Classify a round-over-round >2× entry from the calibration marker
    * adjacent to its SCORED sample: an inflated calibration (≥1.5×) says
    * the host was stalled in exactly that window → "stall"; a quiet one
    * (<1.25×) says the elevation belongs to the query → "real"; between
    * the thresholds the artifact alone can't decide → "ambiguous";
    * no marker recorded → "unmarked".
    */
  def classifyElevated(calAtScored: Option[Double]): String = calAtScored match {
    case Some(c) if c >= 1.5 => "stall"
    case Some(c) if c < 1.25 => "real"
    case Some(_)             => "ambiguous"
    case None                => "unmarked"
  }

  /** Third-sample decision over CHECKED (wall, ranSuccessfully) samples:
    * failed runs don't count as evidence — a query needs a third run when
    * fewer than two samples succeeded, when it is sub-second (median-of-3
    * policy), or when the successful samples disagree badly.
    */
  def needsThirdSample(checked: List[(Double, Boolean)]): Boolean = {
    val ok = checked.collect { case (t, true) => t }
    ok.length < 2 || ok.min < 1.0 || ok.max / ok.min > 1.5
  }

  /** Score over CHECKED samples: a failed run's wall (often milliseconds
    * for an up-front throw) must never land as the score, so scoring runs
    * over the successful samples only — sub-second → median, ≥1 s → min,
    * the established policy. With EVERY sample failed the score is the
    * max of the failed walls: visibly elevated rather than a fake speedup
    * (failures are adjudicated by the correctness gate, not the bench).
    */
  def scoreSamples(checked: List[(Double, Boolean)]): Double = {
    val ok = checked.collect { case (t, true) => t }
    if (ok.isEmpty) checked.map(_._1).max
    else if (ok.min < 1.0) ok.sorted.apply(ok.length / 2)
    else ok.min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.tempWarehouse)
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (parquet reader, codegen, shuffle machinery) so the
    // first measured query isn't charged for JVM startup, and touch every
    // table at the measured SF so file-listing/footer costs don't land on
    // whichever query happens to run first
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    // steady-state warm-up: run every query once at the smallest SF so each
    // plan's codegen compiles and C2 JITs the hot kernels (md5/HOF folds)
    // before timing — first-execution JIT cost at sf0.1 was 2-4x on the
    // expression-heavy queries (measured with tools.QueryProbe), which is
    // startup noise, not engine throughput; at production scale it
    // amortizes to zero
    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    // drop blocks a query left behind (persists inside operators,
    // localCheckpoint state) so 100+ back-to-back queries don't accumulate
    // block-manager pressure and charge GC pauses to whichever query runs
    // next — between-query hygiene, not part of any query's cost
    def releaseBlocks(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    releaseBlocks()
    // --- host telemetry setup: tune the calibration loop to ~100 ms on
    // this host, then baseline on the min of 5 runs (min = the quietest
    // observed window = the denominator every inflation reads against)
    def loadavg(): Double =
      try parseLoadavg(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8"))
      catch { case _: Throwable => 0.0 }
    def calWall(): Double = {
      val t0 = System.nanoTime(); calibrationWork(calIters)
      (System.nanoTime() - t0) / 1e9
    }
    lazy val calIters: Long = {
      val probe = 8L * 1000 * 1000
      def probeWall(): Double = {
        val t0 = System.nanoTime(); calibrationWork(probe)
        (System.nanoTime() - t0) / 1e9
      }
      val w = (1 to 3).map(_ => probeWall()).min
      math.max(probe, (probe * (0.1 / math.max(w, 1e-4))).toLong)
    }
    val calBase = (1 to 5).map(_ => calWall()).min
    val loadavgPre = loadavg()
    // per-query calibration markers: (sampleIdx, inflation, loadavg) taken
    // immediately AFTER each >=1 s sample (and after every sample of the
    // explicit watch-list queries, which sit under the 1 s floor but are
    // on round-over-round watch) plus after every stall-sweep re-measure
    val calMarks = scala.collection.mutable.Map
      .empty[String, List[(Int, Double, Double)]]
    val allInfl = scala.collection.mutable.ArrayBuffer.empty[Double]
    def markCal(q: String, sampleIdx: Int): Unit = {
      val infl = inflation(calWall(), calBase)
      allInfl += infl
      calMarks(q) = calMarks.getOrElse(q, Nil) :+ ((sampleIdx, infl, loadavg()))
    }
    // previous committed artifact + long-memory trend, read BEFORE
    // measuring: the per-sample calibration trigger and the end-of-run
    // stall sweep both gate on elevation against the same reference
    def readAll(path: String): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
    // BOTH gate references are sf-guarded: scores are only comparable at
    // the same scale factor, and refOf takes the min of the two inputs —
    // an unguarded prev artifact from a smaller-sf smoke run would flag
    // every query elevated exactly like an unguarded trend would. A
    // missing sf field (hand-seeded file) is accepted.
    val prevArtifact: String = try {
      val raw = readAll(
        sys.env.getOrElse("SPARK_GRAFT_PREV_BENCH", "bench_full.json"))
      if (parseSf(raw).exists(_ != sfDir)) "" else raw
    } catch { case _: Throwable => "" }
    val prevQ: Map[String, Double] = parsePrevQueries(prevArtifact)
    val trendPath = sys.env.getOrElse("SPARK_GRAFT_TREND", "bench_trend.json")
    // foreign-sf trend: ignored as a reference AND left untouched at
    // write time — one sf0.001 smoke run must not destroy the primary
    // sf's accumulated best-known history (point another sf's runs at
    // their own file via SPARK_GRAFT_TREND)
    var trendForeign = false
    val trendRaw: String = try {
      val raw = readAll(trendPath)
      if (parseSf(raw).exists(_ != sfDir)) { trendForeign = true; "" } else raw
    } catch { case _: Throwable => "" }
    val trendIn: Map[String, Double] = parsePrevQueries(trendRaw)
    // the gate reference: best-known value — prev artifact AND trend file
    // (min): an entry committed while environment-inflated must not
    // become its own alibi next round (the r15→r16 t_* ratchet)
    def refOf(n: String): Option[Double] =
      (prevQ.get(n).toList ++ trendIn.get(n).toList) match {
        case Nil => None
        case vs  => Some(vs.min)
      }
    val watchList: Set[String] = parseWatchList(prevArtifact)
    // sorted order: per-query times comparable run-to-round and round-to-round
    // success flag alongside the time: a FAILED run returns fast (often
    // milliseconds), and a re-measure fold that blindly math.min's it in
    // would record a fake speedup — failed samples never replace a score
    def timeOneChecked(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val t = (System.nanoTime() - t0) / 1e9
      releaseBlocks()
      (t, ok)
    }
    // the box is multi-tenant: a host-side stall window lands on whichever
    // contiguous queries happen to run through it (measured round 9:
    // 0.1-0.2s-steady queries reporting 2-5x at a different alphabetical
    // position each run, wall 263s→698s with zero code change on the
    // affected queries). Single samples therefore cannot distinguish a
    // regression from interference: EVERY query is now measured twice and
    // scored by the min; when the two samples disagree badly the query is
    // measured a third time (a real regression is slow every time, a stall
    // is not). All samples are emitted under "samples" so the noise
    // rejection stays auditable rather than silent.
    // SCORING: sub-second queries always take a third sample and report
    // the MEDIAN — their totals are dominated by fixed scheduling costs
    // where a single lucky (or stalled) sample misleads in either
    // direction, and the round-over-round regression gate needs a stable
    // number (w_top_paths drifted 0.82→1.08 s on unchanged code under
    // min-of-2). Queries at 1 s and above keep the min — real work
    // dominates there, and min rejects multi-tenant interference — with
    // the third sample only on bad disagreement. Failed runs never count:
    // scoring and the third-sample decision see successful samples only
    // (scoreSamples/needsThirdSample — a transient throw returns in
    // milliseconds and min-of-2 would record it as a fake speedup).
    // queries whose EVERY sample failed: their score is the max of failed
    // walls (often milliseconds for an up-front throw) — visibly odd in
    // the artifact and adjudicated by the correctness gate, but it must
    // NEVER min-merge into the trend file as a best-known value (a 20 ms
    // fast-fail would flag every later healthy run elevated forever)
    val allFailed = scala.collection.mutable.Set.empty[String]
    def measure(name: String): (Double, List[Double]) = {
      val fn = SparkEntry.queries(name)
      // marker policy: every >=1 s sample (the original discipline), every
      // sample of a watch-listed entry, and — r16 — ANY sample that lands
      // elevated against the best-known reference regardless of magnitude
      // (the ≥1 s-only trigger left the five elevated sub-second t_*
      // entries of the r15 driver run without a single marker)
      def sample(idx: Int): (Double, Boolean) = {
        val s = timeOneChecked(fn)
        if (s._1 >= 1.0 || watchList(name) || elevated(s._1, refOf(name)))
          markCal(name, idx)
        s
      }
      var checked = List(sample(0), sample(1))
      if (needsThirdSample(checked)) checked = checked :+ sample(2)
      if (checked.forall(!_._2)) allFailed += name
      (scoreSamples(checked), checked.map(_._1))
    }
    val measured0 = SparkEntry.queries.keys.toSeq.sorted.map(n => (n, measure(n)))
    // end-of-run stall sweep: any ≥1 s query >2× its previous committed
    // round gets one re-measure NOW, out of run order — if the elevated
    // samples were a contiguous host-stall window it has passed and the
    // re-measure restores the trend value; a real regression stays slow
    // and keeps its number. Both measurements land in "samples" so the
    // audit trail is explicit. (Added after r12, where four untouched
    // queries reported 2-7× from one stall window and were
    // indistinguishable in-tree from real regressions.)
    val stallChecked = measured0.map { case (n, (t, ss)) =>
      val stall = elevated(t, refOf(n))
      val warm = warmupShaped(t, ss)
      if (!stall && !warm) (n, (t, ss))
      else {
        val (again, againOk) = timeOneChecked(SparkEntry.queries(n))
        // host state adjacent to the re-measure sample, so a re-measure
        // that itself ran through a stall window is classifiable from the
        // artifact rather than re-litigated forensically
        markCal(n, ss.length)
        if (!againOk) (n, (t, ss :+ again)) // failed sample: audit, never adopt
        else {
        // a stall-triggered re-measure may only pull the scored value DOWN
        // if it clears the 2×-previous gate itself: an intermittently slow
        // real regression (slow scored samples, one fast-ish-but-still-
        // elevated end-of-run sample) must keep its full scored magnitude,
        // not its best case. Warmup-triggered re-measures take the min
        // unconditionally — strictly-decreasing samples mean the last
        // sample IS the steady state. Every sample lands in "samples", so
        // the adjustment stays auditable either way.
        val t2 =
          if (warm) math.min(t, again)
          else if (stall && elevated(again, refOf(n))) t
          else math.min(t, again)
        (n, (t2, ss :+ again))
        }
      }
    }
    val measured = stallChecked
    val results = measured.map { case (n, (t, _)) => n -> t }
    val remeasured = measured
      .map { case (n, (_, ss)) => s"\"$n\":[${ss.mkString(",")}]" }
      .mkString("{", ",", "}")
    val resultMap = results.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // absolute throughput anchors BASELINE.md asks for (the reference
    // publishes none): docs/sec through topk-3gram, rows/sec through
    // keep-first dedup, phrase-count latency
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count().toDouble
    val derived = Seq(
      "topk3_docs_per_sec" -> resultMap.get("a6_topk_3gram").map(nDocs / _),
      "dedup_rows_per_sec" -> resultMap.get("j2_keep_first").map(nDocs / _),
      "phrase_count_sec" -> resultMap.get("a9_count_phrases"))
      .collect { case (k, Some(v)) => s"\"$k\":$v" }.mkString("{", ",", "}")
    // stage attribution for the composed lifecycle queries (their lambdas
    // mark eager build/stream/compact boundaries into StageTimer; the
    // values describe the LAST run of each query — attribution, not the
    // scored number; "finish" = the final lazy verify count, total minus
    // the marked stages, clamped at 0 when the scored sample is a
    // different (faster) run than the marked one)
    val stages = graft.queries.StageTimer.recorded
      .filter(resultMap.contains).map { q =>
        val ss = graft.queries.StageTimer.stages(q)
        val finish = math.max(0.0, resultMap(q) - ss.map(_._2).sum)
        val cells = (ss :+ ("finish" -> finish))
          .map { case (k, v) => s"\"$k\":$v" }.mkString(",")
        s"\"$q\":{$cells}"
      }.mkString("{", ",", "}")
    // host telemetry emission: the run-level inflation index, the raw
    // per-query markers, and a mechanical stall/real verdict for every
    // entry that FINISHED >2x its previous committed value — the exact
    // entries that previously took a forensic round-trip to adjudicate
    val loadavgPost = loadavg()
    val finalInfl = inflation(calWall(), calBase)
    allInfl += finalInfl
    // JVM compiler state at end of run: in local mode the bench JVM IS the
    // driver and every executor, so a full code cache (JIT stops
    // compiling → uniform multi-× slowdowns on whatever runs last) or an
    // outsized total-compile-time is visible here — the one alternative
    // cause the r15 t_* cluster couldn't rule out from calibration markers
    // alone (register-loop calibration never touches the code cache)
    val (ccUsedMb, ccMaxMb) = {
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(p => p.getName.contains("CodeHeap") ||
          p.getName.contains("Code Cache"))
      (pools.map(_.getUsage.getUsed).sum / 1e6,
        pools.map(p => math.max(p.getUsage.getMax, 0L)).sum / 1e6)
    }
    val jitMs = try
      java.lang.management.ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime
    catch { case _: Throwable => -1L }
    val host = s"""{"cal_iters":$calIters,"cal_base_sec":$calBase,""" +
      s""""loadavg_pre":$loadavgPre,"loadavg_post":$loadavgPost,""" +
      s""""inflation_run":${runInflation(allInfl.toSeq)},""" +
      s""""inflation_max":${if (allInfl.isEmpty) 1.0 else allInfl.max},""" +
      s""""n_calibrations":${allInfl.size},""" +
      s""""code_cache_used_mb":${math.round(ccUsedMb)},""" +
      s""""code_cache_max_mb":${math.round(ccMaxMb)},""" +
      s""""jit_compile_ms":$jitMs}"""
    val calJson = calMarks.toSeq.sortBy(_._1).map { case (q, ms) =>
      "\"" + q + "\":[" +
        ms.map { case (i, infl, l) => s"[$i,$infl,$l]" }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val stallClass = measured.collect { case (n, (t, ss))
        if elevated(t, refOf(n)) =>
      val idx = scoredSampleIndex(t, ss)
      val cal = calMarks.get(n).flatMap(_.collectFirst {
        case (i, infl, _) if i == idx => infl })
      "\"" + n + "\":\"" + classifyElevated(cal) + "\""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"derived":$derived,"samples":$remeasured,"stages":$stages,"host":$host,"calibration":$calJson,"stall_class":$stallClass,"sf":"$sfDir"}"""
    // r19 driver-contract fix: the driver keeps only a 2000-char tail of
    // stdout and parses the LAST JSON line in it — this ~6 KB full-detail
    // line printed to stdout pushed the compact line's head out of the tail
    // in r17 AND r18 (parsed: null both rounds, PERF empty). Full detail now
    // goes to stderr (log visibility) + the persisted file; stdout carries
    // exactly ONE machine-readable JSON line, emitted at the very end.
    System.err.println(line)
    // the driver's log capture keeps only a tail of stdout, which loses
    // most per-query times — persist the full line to a file as well
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    // both persisted artifacts commit through Swap.writeState: a crash
    // mid-write would otherwise leave a truncated file that
    // parsePrevQueries silently degrades to empty — for the trend file
    // that ERASES the accumulated best-known history the elevation gate
    // depends on. The raw local file system writes no .crc siblings.
    val localFs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).getRaw
    def local(path: String) =
      localFs.makeQualified(new org.apache.hadoop.fs.Path(path))
    try search.Swap.writeState(localFs, local(outPath), Seq(line))
    catch {
      // stdout already carries the line; losing the file copy must not
      // fail the bench, but it must not be silent either
      case e: java.io.IOException =>
        System.err.println(s"bench: failed to persist $outPath: $e")
    }
    // fold this run into the long-memory trend file: bounded per-query
    // history (last TrendHistoryWindow scores) + its min as the
    // `{"queries":{…}}` reference, same shape as the artifact so
    // parsePrevQueries serves both. A pre-history trend file seeds each
    // window from its legacy queries min (the best-known value keeps
    // gating until it ages out). All-samples-failed queries are
    // EXCLUDED: their score is the max of fast-fail walls (often
    // milliseconds — NOT visibly elevated), and adopting such a wall as
    // a best-known value would flag every later healthy run elevated.
    if (trendForeign)
      System.err.println(s"bench: $trendPath belongs to another sf — " +
        "left untouched (set SPARK_GRAFT_TREND for this sf's history)")
    else {
      // seed PER KEY, not all-or-nothing: a query whose history array was
      // individually corrupt (parseHistory skips it) must still forward
      // its legacy queries-min as a one-sample window — otherwise one
      // inflated run would overwrite its accumulated best-known value in
      // a single step instead of aging it out over the window
      val histIn0 = parseHistory(trendRaw)
      val histIn =
        trendIn.map { case (k, v) => k -> List(v) } ++ histIn0
      val okScores = resultMap.filter { case (k, _) => !allFailed(k) }
      val histOut = mergeHistory(histIn, okScores)
      val trendOut = histOut.collect { case (k, vs) if vs.nonEmpty => k -> vs.min }
      // slow-decay all-time best alongside the window (seeded from the
      // legacy queries min on first contact) + the once-per-run advisory
      // diff it exists for: entries far over their best-ever that the
      // window gate did NOT flag (a persistent regression whose fast
      // samples aged out). Advisory only — never a gate.
      val bestIn = mergeBest(parseBest(trendRaw), trendIn)
      val drifted = measured.collect { case (n, (t, _))
          if !elevated(t, refOf(n)) && driftedFromBest(t, bestIn.get(n)) =>
        f"$n $t%.3f vs best ${bestIn(n)}%.3f" }
      if (drifted.nonEmpty)
        System.err.println("bench ADVISORY (all-time-best drift, window " +
          "gate quiet): " + drifted.mkString("; "))
      val bestOut = mergeBest(bestIn, okScores)
      val trendJson = "{\"sf\":\"" + sfDir + "\",\"queries\":" +
        trendOut.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}") + ",\"history\":" +
        histOut.toSeq.sortBy(_._1)
          .map { case (k, vs) => "\"" + k + "\":" + vs.mkString("[", ",", "]") }
          .mkString("{", ",", "}") + ",\"best\":" +
        bestOut.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}") + "}"
      try search.Swap.writeState(localFs, local(trendPath), Seq(trendJson))
      catch {
        case e: java.io.IOException =>
          System.err.println(s"bench: failed to persist $trendPath: $e")
      }
    }
    // the driver keeps only a ~2000-char tail of stdout (measured: exactly
    // 2000 in BENCH_r18.json) and parses the last JSON line it finds there,
    // with sbt's ~75-char "[success] Total time" trailer also inside the
    // tail. The final stdout line must therefore stay under ~1900 chars.
    // r18's compact line overflowed anyway because the stall_class object is
    // UNBOUNDED (41 entries in a storm window ≈ +1400 chars) and the derived
    // doubles printed at full precision — both now live only in the
    // full-detail record (stderr + bench_full.json); stdout carries the
    // headline-query subset at 3 decimals with a hard length guard below.
    val headline = Seq(
      "q1_agg", "q3_join", "q5_nation_rev", "a1_stats", "a6_topk_3gram",
      "a7_botk_2gram", "a8_unique_ngrams", "a9_count_phrases",
      "a10_search_regex", "a12_contamination", "e1_count_all", "e2_get_docs",
      "e4_unigram_ttf", "j1_dup_hashes", "j2_keep_first", "j3_decontaminate",
      "j4_overlap_pairs", "j8_decontaminate_fuzzy", "d_minhash_lsh",
      "d_cc_clusters", "d_semantic_dedup", "d_dup_spans", "ann_topk_cosine",
      "ann_ivf_topk", "p6_lang_model", "p7_pii", "p8_model", "p9_sentence",
      "t_gopher_filter", "t_quality_clf", "t_ppl_buckets", "t_bpe_real",
      "t_dsir", "s12_pack_chunks", "s17_sliding_windows", "w_sessionize",
      "m_media_features", "e10_indexed_phrase", "e12_bm25_topk",
      "e13_indexed_slop", "ann_ivfpq_topk")
    // Locale.ROOT formatting: the f-interpolator uses the default locale,
    // and a comma-decimal locale would corrupt the driver-parsed JSON
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val compactTotal = f3(total)
    val hostCompact = s"""{"inflation_run":${f3(runInflation(allInfl.toSeq))},""" +
      s""""loadavg_pre":$loadavgPre,"loadavg_post":$loadavgPost}"""
    // derived at 3 decimals (full precision stays in the file record)
    val derivedCompact = Seq(
      "topk3_docs_per_sec" -> resultMap.get("a6_topk_3gram").map(nDocs / _),
      "dedup_rows_per_sec" -> resultMap.get("j2_keep_first").map(nDocs / _),
      "phrase_count_sec" -> resultMap.get("a9_count_phrases"))
      .collect { case (k, Some(v)) => s"\"$k\":${f3(v)}" }.mkString("{", ",", "}")
    def compactLine(names: Seq[String]): String = {
      val qsC = names.flatMap(k => resultMap.get(k).map(v =>
        "\"" + k + "\":" + f3(v))).mkString("{", ",", "}")
      s"""{"metric":"total","value":$compactTotal,"unit":"sec","n_queries":${results.size},"queries":$qsC,"derived":$derivedCompact,"host":$hostCompact,"full":"$outPath","sf":"$sfDir"}"""
    }
    // hard guard: the line MUST fit the driver's 2000-char stdout tail with
    // room for sbt's trailer — drop trailing headline entries (never the
    // envelope fields) until it does. With the current 41-name set the line
    // is ~1400 chars, so the guard is a backstop, not the normal path.
    val MaxStdoutLine = 1800
    val fitted = (headline.length to 0 by -1).iterator
      .map(n => compactLine(headline.take(n)))
      .find(_.length <= MaxStdoutLine)
      .getOrElse(compactLine(Nil))
    println(fitted)
    spark.stop()
  }
}
