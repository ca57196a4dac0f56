package graft
object Bench {

  /** Parse BASELINE_QUERIES.json's flat queries map (only when its sf
    * matches `sfDir` — baselines are only comparable at the same sf). */
  private def readBaselines(repoRoot: String,
      sfDir: String): Map[String, Double] = try {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$repoRoot/BASELINE_QUERIES.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val sfOk = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt)
      .exists(_.group(1) == sfDir)
    // scope entry matching to the flat "queries" object — top-level
    // numeric keys ("total", "round") must never read as baselines
    val queriesObj = """"queries"\s*:\s*\{([^}]*)\}""".r
      .findFirstMatchIn(txt).map(_.group(1))
    if (!sfOk || queriesObj.isEmpty) Map.empty
    else {
      // full JSON number shape incl. exponents: [0-9.]+ alone parses
      // 9.5e-05 as 9.5 — a silently 10^5-inflated baseline that disarms
      // the regression gate for that key
      val entry = """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)""".r
      entry.findAllMatchIn(queriesObj.get)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  } catch { case _: Throwable => Map.empty }

  /** The baseline record's free-text adjudication note (e.g. which
    * keys were reset and why, which flags were adjudicated noise),
    * surfaced into BENCH_SUMMARY.json so the round artifact carries
    * the protocol decision alongside the numbers it explains. */
  private def readBaselineNote(repoRoot: String): Option[String] =
    // a missing/unreadable record is an anticipated state (first run on
    // a fresh checkout) — degrade to None like readBaselines does, not
    // a NoSuchFileException after the whole suite has already run
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$repoRoot/BASELINE_QUERIES.json")),
      java.nio.charset.StandardCharsets.UTF_8))
      .toOption.flatMap(readBaselineNoteFrom)

  /** Extract the TOP-LEVEL "note" field: the nested "queries" object
    * (the only sub-object, and the only place an arbitrary key — e.g.
    * a query literally named note — could live) is stripped before
    * matching, and the value pattern steps over escaped characters so
    * an embedded \" doesn't truncate the note mid-sentence. Pure so
    * BenchGateSpec can pin both hazards. */
  private[graft] def readBaselineNoteFrom(txt: String): Option[String] = try {
    val topLevel = """"queries"\s*:\s*\{[^}]*\}""".r.replaceAllIn(txt, "")
    """"note"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(topLevel).map(
      _.group(1).replaceAll("""\\(["\\/])""", "$1")
        .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(600))
  } catch { case _: Throwable => None }

  /** Locale-pinned %.3f: the f-interpolator formats with the JVM
    * default locale, and a comma decimal ("1,003") corrupts both the
    * stdout summary and BENCH_SUMMARY.json into unparseable JSON. */
  private def num3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  /** The per-key regression predicate, pure so BenchGateSpec can pin
    * its arithmetic: the RATIO arm compares above-floor time (the
    * scheduling floor is a constant both sides carry — folded in, a
    * doubled 0.6 s kernel under a 0.12 s floor reads 1.8× and slips a
    * 2× gate), clamped so a baseline at-or-below the floor can't
    * divide by ~0; the ABSOLUTE arm (>0.5 s growth) keeps sub-second
    * jitter from ever flagging; `gateScale` is the re-pass contention
    * scale (≥1) so environment inflation that moves canaries and keys
    * alike reads as environment. */
  private[graft] def regressed(now: Double, base: Double, floor: Double,
      gateScale: Double): Boolean = {
    val adjBase = math.max(base - floor, 0.010)
    (now - floor) > adjBase * 2.0 * gateScale && now - base > 0.5
  }

  /** Floor-aware round-over-round comparison (pure so BenchGateSpec can
    * pin it): over the common keys whose BASELINE clears 2× its own
    * scheduling floor, the ratio of summed above-floor time now vs the
    * baseline record. Sub-floor keys are excluded because their records
    * are noise ratchet, not code (meta_history "2.37×" at 0.077 s), and
    * each side is differenced by ITS OWN floor — the record file
    * carries the floor of the run that merged it (merge_baselines.py),
    * so floor drift between rounds reads as environment, not a code
    * regression; `baseFloor` falls back to the current floor for
    * record files written before the field existed. Returns
    * (compared-key count, ratio) — ratio None when nothing
    * qualifies. */
  private[graft] def aboveFloorRatio(timed: collection.Map[String, Double],
      baselines: Map[String, Double], floor: Double,
      baseFloor: Option[Double] = None): (Int, Option[Double]) = {
    val bf = baseFloor.getOrElse(floor)
    val keys = timed.keys.filter(k =>
      baselines.get(k).exists(_ > bf * 2)).toSeq
    val baseAbove = keys.map(k => math.max(baselines(k) - bf, 0.0)).sum
    val nowAbove = keys.map(k => math.max(timed(k) - floor, 0.0)).sum
    (keys.size,
      if (baseAbove > 0) Some(nowAbove / baseAbove) else None)
  }

  /** The record file's own floor_sec (merge-run scheduling floor),
    * parsed with the same flat-shape discipline as [[readBaselines]]. */
  private def readBaselineFloor(repoRoot: String): Option[Double] =
    scala.util.Try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$repoRoot/BASELINE_QUERIES.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      val topLevel = """"queries"\s*:\s*\{[^}]*\}""".r
        .replaceAllIn(txt, "")
      """"floor_sec"\s*:\s*(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)""".r
        .findFirstMatchIn(topLevel).map(_.group(1).toDouble)
    }.toOption.flatten

  /** Median, NaN on empty — shared by the contention index and the
    * re-pass gate so the two can't diverge. */
  private[graft] def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores
    val spark = GraftSession(cpus)
    // untimed session warmup: exercises parquet reader, shuffle machinery
    // and whole-stage codegen once so the first timed query isn't charged
    // for JVM startup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // untimed one-time table builds: EVERY fingerprint-keyed shared
    // layout (Fixtures lists them all) is an ingest-time artifact, built
    // once per corpus lifetime like the reference's table creation —
    // reads against them are what the queries measure. Prewarming here
    // makes the timed loop cache-proof: a corpus regeneration (which
    // changes every sourceFingerprint) costs setup_sec, never query
    // time — in r10 the rebuilds landed inside the timed loop and
    // inflated the headline 1.66× on unchanged code.
    val setup0 = System.nanoTime()
    val prewarm = Fixtures.prewarm(spark, sfDir)
    val prewarmFailures = prewarm.failures
    val setupSec = (System.nanoTime() - setup0) / 1e9
    // repo root is overridable (SPARK_GRAFT_REPO) so the bench binary
    // isn't tied to one machine layout; default matches the driver's
    val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo")
    val baselines = readBaselines(repoRoot, sfDir)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // local-iteration filter (mirrors Verify's SPARK_GRAFT_ONLY): time
    // a subset in ISOLATION — e.g. to separate a query's own cost from
    // suite-level IO contention. Unset for the driver's full run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }
    def sample(name: String): Double = {
      // selected, not SparkEntry.queries: the latter is a def that
      // re-merges ~20 module maps per call, and sample runs ~500 times
      // per suite inside the timed window
      val fn = selected(name)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // --- spill accounting -------------------------------------------------
    // Task-level spill bytes accumulated by a listener and attributed to
    // the key running when they land (the bus is async, so attribution
    // is approximate at key boundaries — fine for the artifact's
    // purpose: proving memory-constrained runs SPILL instead of OOM,
    // and showing which keys carry the memory pressure).
    val spillAcc = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) spillAcc.addAndGet(
            m.diskBytesSpilled + m.memoryBytesSpilled)
        }
      })
    val spills = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // --- per-query scheduling floor --------------------------------------
    // Every key pays a fixed cost before touching data: plan build, one
    // scheduled job wave across the local[cpus] threads, count collection.
    // At ~0.1 s/key over 200+ keys that's tens of seconds of the suite
    // total, and it DILUTES the regression gate: a 0.05 s kernel that
    // regresses 4x still reads ~1.4x with the floor folded in. Measure
    // the floor with an empty-plan probe (1 row through a repartition —
    // the task-wave shape shuffle-bearing keys pay), and compute the
    // gate's RATIO on above-floor time. The absolute-delta arm
    // (now-base > 0.5 s) is untouched — the floor is a constant, so
    // deltas never contained it.
    def floorProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(1).repartition(cpus).count()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 3).foreach(_ => floorProbe()) // warm the probe's codegen
    val floorSec = median((1 to 7).map(_ => floorProbe()))
    // --- contention canaries -------------------------------------------
    // Three near-constant-cost keys re-timed at suite start/middle/end.
    // Their ratio to baseline is a pure measure of MACHINE state (another
    // process stealing the cores, IO saturation): the keys have no
    // layout to rebuild and no data dependence on round changes, so a
    // canary running 3× its baseline means the suite's numbers are
    // inflated by environment, not by code. The index makes the
    // "contended run or real regression?" call machine-readable instead
    // of re-litigated from prose every round (r11: 15 flags adjudicated
    // as noise; r12: 68 flags, 12/14 probed back to baseline).
    val canaryKeys = Seq("limit_n", "fn_math", "fn_rand_int")
      .filter(selected.contains)
    val canaryRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
    // ONE canary-probe spelling for both the contention index and the
    // re-pass gate — a protocol tweak applied to one copy can't
    // silently diverge the two
    def canaryProbe(): Seq[Double] = canaryKeys.flatMap { k =>
      baselines.get(k).filter(_ > 0).flatMap { base =>
        try Some(sample(k) / base) catch { case _: Throwable => None }
      }
    }
    def runCanaries(): Unit = canaryRatios ++= canaryProbe()
    // untimed canary warmup: the first execution of a key pays one-off
    // plan-build/codegen costs the baseline (min-of-2 in a warm suite)
    // never includes — without this the start-of-suite canary reads ~3×
    // on an idle machine and the index cries wolf
    canaryKeys.foreach(k => try sample(k) catch { case _: Throwable => () })
    val wall0 = System.nanoTime()
    runCanaries()
    val names = selected.keys.toSeq
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    names.zipWithIndex.foreach { case (name, i) =>
      if (i == names.size / 2) runCanaries()
      val spill0 = spillAcc.get()
      // two samples, report the min: a single sample is dominated by
      // machine-load noise for the slow tail (r6 verdict measured 4-6×
      // inflation on singly-sampled queries under load spikes)
      val t = try {
        val first = sample(name)
        // a transient failure on the RETRY must not discard a valid
        // measurement — degrade to the single sample instead
        try math.min(first, sample(name)) catch { case _: Throwable => first }
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(200)
          Double.NaN
      }
      results(name) = t
      val ds = spillAcc.get() - spill0
      if (ds > 0) spills(name) = ds
    }
    runCanaries()
    // median: robust to one canary landing on a load spike
    val contentionIndex = median(canaryRatios.toSeq)
    // failed queries live ONLY in the errors map — a 0.0 timing would
    // read as the suite's fastest query in a round-over-round diff
    val timed = scala.collection.mutable.LinkedHashMap(
      results.toSeq.filterNot { case (_, v) => v.isNaN }: _*)
    // --- regression re-pass --------------------------------------------
    // Per-query gate vs the committed warm-protocol baseline. A key the
    // main loop flags gets ONE more interleaved sample here, after the
    // suite's own IO storm has passed; the min of all samples is the
    // key's reported time. Only keys that STILL exceed the gate are
    // regressions — i.e. the artifact itself distinguishes "slow while
    // the suite thrashed" from "slow every time we look". Relative AND
    // absolute floors: a 0.1→0.4 s jitter is JVM/IO noise; a 0.1→8 s
    // rebuild-in-loop (the r10 artifact) is not. No minimum-baseline
    // floor — the fastest layout-backed queries (bucket_point_lookup
    // 0.07 s) are exactly the ones a forgotten prewarm inflates most.
    def flagged(m: collection.Map[String, Double],
        gateScale: Double = 1.0): Map[String, Double] =
      baselines.collect { case (name, base)
        if m.get(name).exists(regressed(_, base, floorSec, gateScale)) =>
        name -> base }
    val firstPassFlags = flagged(timed).keys.toSeq.sorted
    // re-pass gating: re-timing a flagged key while the machine is
    // STILL contended just reproduces the inflated number (r13: the
    // re-pass ran mid-storm — canaries 3.1-3.4× — and 6 false flags
    // survived it; a solo probe later cleared all 6). So first wait,
    // bounded, for a canary to read calm (<1.5× baseline); if the storm
    // outlasts the wait budget, scale the final gate by the canary
    // ratio observed AT re-pass time, so environment inflation that
    // affects canaries and flagged keys alike can't read as a code
    // regression. The wait budget (~45 s max) is small against the
    // suite wall and is spent only when keys were flagged at all.
    def repassCanaryRatio(): Double = median(canaryProbe())
    var repassRatio = Double.NaN
    var repassWaitSec = 0.0
    if (firstPassFlags.nonEmpty) {
      repassRatio = repassCanaryRatio()
      val waitLimit = 45.0
      while (!repassRatio.isNaN && repassRatio >= 1.5 &&
          repassWaitSec < waitLimit) {
        Thread.sleep(5000)
        repassWaitSec += 5.0
        repassRatio = repassCanaryRatio()
      }
      firstPassFlags.foreach { name =>
        try timed(name) = math.min(timed(name), sample(name))
        catch { case _: Throwable => () }
      }
    }
    val repassGateScale =
      if (repassRatio.isNaN) 1.0 else math.max(1.0, repassRatio)
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val regressions: Map[String, (Double, Double)] =
      flagged(timed, repassGateScale).map { case (name, base) =>
        name -> (base, timed(name)) }
    val qs = timed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, m) => s"\"$k\":\"$m\"" }
      .mkString("{", ",", "}")
    val total = if (timed.nonEmpty) timed.values.sum else 0.0
    // the suite's work beyond the per-query scheduling floor: at ~0.1 s
    // floor × ~220 keys the floor is tens of seconds of any total, so
    // round-over-round comparisons of CODE should difference this
    val totalAboveFloor = math.max(0.0, total - floorSec * timed.size)
    // floor-aware CODE comparison vs the record file (VERDICT r18 #8):
    // sub-floor keys excluded, each side differenced by its own floor
    val (nBaseCompared, vsBaseline) =
      aboveFloorRatio(timed, baselines, floorSec,
        readBaselineFloor(repoRoot))
    val vsBaselineJson = vsBaseline.map(num3).getOrElse("null")
    val regJson = regressions.map { case (k, (b, n)) =>
      s""""$k":{"baseline":$b,"now":$n}""" }.mkString("{", ",", "}")
    if (regressions.nonEmpty)
      System.err.println(s"[bench] ${regressions.size} queries regressed " +
        s">2x vs BASELINE_QUERIES.json after re-pass: " +
        regressions.keys.mkString(","))
    val ciJson = if (contentionIndex.isNaN) "null"
      else num3(contentionIndex)
    println(s"""{"metric":"total_detail","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir"}""")
    // short machine-readable summary LAST: the driver captures a bounded
    // stdout tail, and the 100+-entry line above overflows it (r1 had
    // parsed:null). A failed query is an error entry, never a fake timing.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"wall_sec":$wallSec,"contention_index":$ciJson,"floor_sec":${num3(floorSec)},"vs_baseline_above_floor":$vsBaselineJson,"n_flagged_first_pass":${firstPassFlags.size},"n_regressions":${regressions.size},"queries_file":"BENCH_SUMMARY.json","sf":"$sfDir"}""")
    // full per-query detail ALSO goes to a file: the driver's stdout tail
    // truncates the 100+-entry line, which left 48/108 timings
    // unrecoverable in r3 — BENCH_SUMMARY.json is the durable record
    val prewarmJson = prewarmFailures.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val flaggedJson = firstPassFlags.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val setupDetailJson = prewarm.buildSec
      .map { case (n, s) => s""""$n":${num3(s)}""" }.mkString("{", ",", "}")
    val repassJson = if (repassRatio.isNaN) "null" else num3(repassRatio)
    val spillJson = spills.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    val noteJson = readBaselineNote(repoRoot)
      .map(n => s""""$n"""").getOrElse("null")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$repoRoot/BENCH_SUMMARY.json"),
      s"""{"total":$total,"n_queries":${results.size},"cpus":"$cpus","setup_sec":$setupSec,"setup_detail":$setupDetailJson,"wall_sec":$wallSec,"samples_per_query":2,"floor_sec":${num3(floorSec)},"total_above_floor":${num3(totalAboveFloor)},"n_baseline_compared":$nBaseCompared,"vs_baseline_above_floor":$vsBaselineJson,"contention_index":$ciJson,"canary_ratios":${canaryRatios.map(num3).mkString("[", ",", "]")},"flagged_first_pass":$flaggedJson,"repass_canary_ratio":$repassJson,"repass_gate_scale":$repassGateScale,"repass_wait_sec":$repassWaitSec,"spill_bytes":$spillJson,"prewarm_failures":$prewarmJson,"errors":$errJson,"regressions":$regJson,"baseline_note":$noteJson,"queries":$qs,"sf":"$sfDir"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
